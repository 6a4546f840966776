package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaDecoder, FakeDecoder, MediaRecord}

/** Streaming frame-level media overlap — the ingestion-time face of
  * [[graft.operators.Multimodal.frameOverlapPairs]], completing the
  * frame family's batch/index/delta/stream square (the sub-file
  * reuse detector: re-cut and partially-reused footage surfaces as
  * media arrive, next to [[StreamMediaDedup]]'s whole-file pairs).
  * Per micro-batch:
  *
  *  1. decode the batch ONCE map-side to its frame-posting relation
  *     ([[Multimodal.frameIndex]]'s schema `(media_id, fk)`) —
  *     payloads never shuffle, never persist;
  *  2. probe the accumulated posting index UNION the batch's own
  *     postings ([[Multimodal.frameOverlapIncrement]], the batch
  *     route's pair kernel with the index as its corpus): boilerplate
  *     cap over the union frequency as of this batch, each pair
  *     emitted exactly once when its later member arrives;
  *  3. pairs append to the one-bucket `outDir/pairs` store, the
  *     batch's postings append to the index — both [[TieredIndex]]
  *     stores, so a replayed batch overwrites exactly its own
  *     contribution.
  *
  * The index is a [[TieredIndex]] (the [[StreamCdc]] /
  * [[StreamMediaDedup]] discipline): a recent tier of per-batch dirs
  * sub-partitioned by the store's key bucket (its key is the frame key
  * `fk`), folded every `compactEvery` batches into LSM size-tiered base
  * epochs.
  * Probes read only the bucket partitions the batch's own keys hash
  * to — partition filters on every index scan — so per-batch cost is
  * ∝ batch frames + matching postings, and maintenance is bounded by
  * the tiers it merges, never O(corpus). Crash safety (torn-fold
  * invisibility, replay idempotence, restarts across folds) is the
  * [[TieredIndex]] contract; `nBuckets` is immutable per outDir.
  *
  * '''Law''' ([[StreamCdc]]'s cap-crossing contract): after any
  * prefix of batches, [[pairsView]] EQUALS batch
  * [[Multimodal.frameOverlapPairs]] over the union of those batches,
  * PROVIDED no frame key crossed `maxMediaPerFrame` after a pair
  * sharing it was emitted — a crossing makes the deviation one-sided
  * (the stream may keep pairs / count keys the recompute drops,
  * never the reverse). Media ids must be globally unique across
  * batches. Views are consistent only between batches (two commits
  * per batch — the [[StreamCdc]] caveat). */
object StreamFrameOverlap {

  private val keySchema = "media_id bigint, fk array<float>"

  /** The posting index, bucketed by frame key. */
  private[graft] def index(outDir: String, nBuckets: Int = 64) =
    new TieredIndex(outDir, keySchema, bucketKey = Some(hash(col("fk"))),
      nBuckets = nBuckets)
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs", "media_a bigint, media_b bigint, shared_frames bigint")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String,
      nBuckets: Int = 64): Seq[TieredIndex] =
    Seq(index(outDir, nBuckets), pairStore(outDir))

  /** One micro-batch: emit frame-level overlap pairs touching the
    * batch and grow the posting index ([[sink]] runs it per trigger,
    * then the stores' maintenance). */
  private[graft] def foldBatch(outDir: String,
      batch: Dataset[MediaRecord], batchId: Long, stride: Int = 1,
      minSharedFrames: Int = 2, maxMediaPerFrame: Int = 64,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val (idx, pairs) = (index(outDir, nBuckets), pairStore(outDir))
    // decode once; only fixed-width (media_id, fk) postings persist
    val keys = Multimodal.frameIndex(batch, stride, decoder)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // strictly-older batches only: a replayed batch must not
      // see its own crashed partial write as "corpus"
      pairs.append(Multimodal.frameOverlapIncrement(keys,
        idx.probe(spark, keys, batchId), minSharedFrames,
        maxMediaPerFrame), batchId)
      idx.append(keys, batchId)
    } finally { keys.unpersist(); () }
  }

  /** Start the sink: for each micro-batch of media, emit frame-level
    * overlap pairs touching the batch (≥ `minSharedFrames` shared
    * near-identical frames) and grow the posting index. */
  def sink(media: Dataset[MediaRecord], outDir: String,
      checkpoint: String, stride: Int = 1, minSharedFrames: Int = 2,
      maxMediaPerFrame: Int = 64, decoder: MediaDecoder = FakeDecoder,
      nBuckets: Int = 64, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    media.writeStream
      .foreachBatch(TieredIndex.trigger[MediaRecord]("StreamFrameOverlap",
        stores(outDir, nBuckets), compactEvery)(foldBatch(outDir, _, _, stride,
          minSharedFrames, maxMediaPerFrame, decoder, nBuckets)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** All overlap pairs seen so far — equal to batch
    * [[Multimodal.frameOverlapPairs]] over the union of committed
    * batches under the cap proviso (see object doc; consistent only
    * between batches). Empty (with the right schema) before the first
    * batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue)

  /** The accumulated posting index — the [[Multimodal.frameIndex]]
    * relation over every committed batch, directly consumable by the
    * batch delta route ([[Multimodal.frameOverlapDelta]]). Consistent
    * only between batches. */
  def frameIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, Long.MaxValue)
}
