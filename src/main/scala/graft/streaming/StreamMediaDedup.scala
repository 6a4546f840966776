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
  * per-batch dirs sub-partitioned by feature bucket
  * `pmod(hash(j, k1..k4), nBuckets)`, folded every `compactEvery`
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

  private def index(outDir: String) = new TieredIndex(outDir, keySchema)
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs", "media_a bigint, media_b bigint, cosine double")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String): Seq[TieredIndex] =
    Seq(index(outDir), pairStore(outDir))

  /** The corpus feature-key relation visible to batch `batchId`,
    * bucket-pruned to `buckets` — see [[TieredIndex.corpusKeys]]. */
  private[graft] def corpusKeys(spark: SparkSession, outDir: String,
      batchId: Long, buckets: Option[Seq[Int]]): DataFrame =
    index(outDir).corpusKeys(spark, batchId, buckets)

  /** One micro-batch: emit perceptual near-dup pairs touching the
    * batch and grow the feature index ([[sink]] runs it per trigger,
    * then the stores' maintenance). */
  private[graft] def foldBatch(outDir: String,
      batch: Dataset[MediaRecord], batchId: Long, threshold: Double = 0.9,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val (idx, pairs) = (index(outDir), pairStore(outDir))
    // decode once; only fixed-width feature rows persist
    val keys = Multimodal.nearDupIndex(batch, decoder)
      .withColumn("bucket",
        pmod(hash(col("j"), col("k1"), col("k2"), col("k3"),
          col("k4")), lit(nBuckets)).cast("int"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the batch's feature buckets (≤ nBuckets values — a bounded
      // collect) become partition filters on the index read
      val buckets = keys.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      // strictly-older batches only: a replayed batch must not
      // see its own crashed partial write as "corpus"
      val corpus = idx.corpusKeys(spark, batchId, Some(buckets))
      pairs.append(Multimodal.nearDupIncrement(keys.drop("bucket"),
          corpus, threshold)
        .withColumn("bucket", lit(0)), batchId)
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
    require(nBuckets >= 1,
      s"StreamMediaDedup: nBuckets must be >= 1, got $nBuckets")
    require(threshold > 0 && threshold <= 1,
      s"StreamMediaDedup: threshold must be in (0, 1], got $threshold")
    index(outDir).ensureNBuckets(media.sparkSession, nBuckets)
    pairStore(outDir).ensureNBuckets(media.sparkSession, 1)
    media.writeStream
      .foreachBatch(TieredIndex.trigger[MediaRecord]("StreamMediaDedup",
        stores(outDir), compactEvery)(
        foldBatch(outDir, _, _, threshold, decoder, nBuckets)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** All near-dup pairs seen so far — equal to batch
    * [[Multimodal.nearDupPairs]] over the union of committed batches
    * (consistent only between batches). Empty (with the right schema)
    * before the first batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue, None)

  /** The accumulated feature index — the [[Multimodal.nearDupIndex]]
    * relation over every committed batch, directly consumable by the
    * batch delta route ([[Multimodal.nearDupDelta]]). Consistent only
    * between batches. */
  def featureIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, batchId = Long.MaxValue,
      buckets = None)
}
