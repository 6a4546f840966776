package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaDecoder, FakeDecoder, MediaRecord}

/** Streaming perceptual media dedup — the ingestion-time face of
  * [[graft.operators.Multimodal.nearDupPairs]], closing the one dedup
  * family that had batch/index/delta routes (x162/x163) but no
  * `writeStream` sink while every text family has one
  * ([[StreamDedup]]/[[StreamNearDedup]]/[[StreamCdc]]). Per
  * micro-batch:
  *
  *  1. decode the batch ONCE map-side to its feature/chunk-key
  *     relation ([[Multimodal.nearDupIndex]]'s schema `(media_id, v,
  *     j, k1..k4)`) — payloads never shuffle, never persist;
  *  2. probe the accumulated feature index UNION the batch's own keys
  *     ([[Multimodal.nearDupIncrement]]): key-equality candidates,
  *     vector-free shuffle, one cosine per deduped pair — the batch
  *     route's pair kernel with the index as its corpus, so each pair
  *     is emitted exactly once, when its later member arrives;
  *  3. pairs append to the one-bucket `outDir/pairs` store, the
  *     batch's keys append to the feature index — both
  *     [[TieredIndex]] stores, so a replayed batch overwrites exactly
  *     its own contribution.
  *
  * The index is a [[TieredIndex]] — the [[StreamCdc]] layout verbatim
  * (feature rows are fixed-width like chunk keys): a recent tier of
  * per-batch dirs sub-partitioned by the store's feature bucket (its
  * key is the chunk key `(j, k1..k4)`), folded every `compactEvery`
  * batches into LSM size-tiered base epochs. Probes read only the
  * bucket partitions the batch's own keys hash to — partition
  * filters on every index scan — so per-batch cost is ∝ batch keys +
  * matching postings, and maintenance is bounded by the tiers it
  * merges, never O(corpus). Crash safety (torn-fold invisibility,
  * replay idempotence, restart across folds) is the [[TieredIndex]]
  * contract; `nBuckets` is immutable per outDir (enforced at start).
  *
  * After any prefix of batches, [[pairsView]] EQUALS batch
  * [[Multimodal.nearDupPairs]] over the union of those batches — no
  * cap proviso (the perceptual route has no boilerplate cap), so the
  * law is exact. Media ids must be globally unique across batches,
  * the same precondition as every delta route. Views are consistent
  * only between batches (two commits per batch — the [[StreamCdc]]
  * caveat). */
object StreamMediaDedup {

  private val keySchema = "media_id bigint, v array<float>, j int, " +
    "k1 float, k2 float, k3 float, k4 float"

  /** The feature index, bucketed by chunk key. */
  private[graft] def index(outDir: String, nBuckets: Int = 64) =
    new TieredIndex(outDir, keySchema, bucketKey = Some(hash(col("j"),
      col("k1"), col("k2"), col("k3"), col("k4"))), nBuckets = nBuckets)
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs", "media_a bigint, media_b bigint, cosine double")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String,
      nBuckets: Int = 64): Seq[TieredIndex] =
    Seq(index(outDir, nBuckets), pairStore(outDir))

  /** One micro-batch: emit perceptual near-dup pairs touching the
    * batch and grow the feature index ([[sink]] runs it per trigger,
    * then the stores' maintenance). */
  private[graft] def foldBatch(outDir: String,
      batch: Dataset[MediaRecord], batchId: Long, threshold: Double = 0.9,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val (idx, pairs) = (index(outDir, nBuckets), pairStore(outDir))
    // decode once; only fixed-width feature rows persist
    val keys = Multimodal.nearDupIndex(batch, decoder)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // strictly-older batches only: a replayed batch must not
      // see its own crashed partial write as "corpus"
      pairs.append(Multimodal.nearDupIncrement(keys,
        idx.probe(spark, keys, batchId), threshold), batchId)
      idx.append(keys, batchId)
    } finally { keys.unpersist(); () }
  }

  /** Start the sink: for each micro-batch of media, emit perceptual
    * near-dup pairs touching the batch (cosine ≥ `threshold`) and
    * grow the feature index. */
  def sink(media: Dataset[MediaRecord], outDir: String,
      checkpoint: String, threshold: Double = 0.9,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64,
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(threshold > 0 && threshold <= 1,
      s"StreamMediaDedup: threshold must be in (0, 1], got $threshold")
    media.writeStream
      .foreachBatch(TieredIndex.trigger[MediaRecord]("StreamMediaDedup",
        stores(outDir, nBuckets), compactEvery)(
        foldBatch(outDir, _, _, threshold, decoder, nBuckets)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** All near-dup pairs seen so far — equal to batch
    * [[Multimodal.nearDupPairs]] over the union of committed batches
    * (consistent only between batches). Empty (with the right schema)
    * before the first batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue)

  /** The accumulated feature index — the [[Multimodal.nearDupIndex]]
    * relation over every committed batch, directly consumable by the
    * batch delta route ([[Multimodal.nearDupDelta]]). Consistent only
    * between batches. */
  def featureIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, Long.MaxValue)
}
