package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Streaming CDC sub-document deduplication — the ingestion-time
  * mirror of [[graft.operators.Dedup.cdcOverlapPairs]], built as the
  * incremental delta pass ([[graft.operators.Dedup.cdcOverlapDelta]]'s
  * shape) applied per micro-batch against a persisted chunk index
  * (the [[StreamNearDedup]] pattern applied to CDC):
  *
  *  1. one doc-local codegen byte-pass chunks the batch and reduces it
  *     to DISTINCT `(fp, len, doc_id)` chunk keys ≥ `minLen` bytes
  *     (the [[graft.operators.Dedup.cdcChunkIndex]] relation, computed
  *     on the batch);
  *  2. the batch probes the accumulated index UNION its own keys —
  *     the batch route's pair kernel
  *     ([[graft.operators.Dedup.postingPairs]] via
  *     [[graft.operators.Dedup.cdcOverlapIncrement]]) with the index as
  *     its corpus: candidates ∝ batch duplicate mass, never
  *     index×index;
  *  3. emitted pairs append to the one-bucket `outDir/pairs` store, the
  *     batch's chunk keys append to the chunk index — both
  *     [[TieredIndex]] stores, so a replayed batch overwrites exactly
  *     its own contribution and both fold every `compactEvery`
  *     batches.
  *
  * '''Index layout and maintenance''' live in [[TieredIndex]]: a
  * recent tier of per-batch dirs sub-partitioned by the store's
  * fingerprint bucket (its key is `fp`), folded every `compactEvery`
  * batches into LSM size-tiered base epochs (O(log n) live epochs; a fold
  * reads only the recent dirs it folds, a merge only the two epochs
  * it merges — the base is never rewritten wholesale except at its
  * own doubling point, so per-trigger maintenance cost is bounded by
  * similar-sized tiers instead of O(corpus)). Probes read
  * `liveEpochs(bucket ∈ batch's buckets)` ∪ `recent(upto < batch_id <
  * current, same buckets)` — the bucket predicates are PARTITION
  * filters, so the scan touches only directories that can contain a
  * matching fingerprint; with the key-restricted join inside
  * [[Dedup.cdcOverlapIncrement]], total per-batch cost is ∝ batch
  * keys + matching postings. Crash safety (torn-fold invisibility via
  * `_SUCCESS`-gated epoch selection, replay idempotence, restarts
  * across folds) is the [[TieredIndex]] contract; only
  * checkpoint-committed batches fold, so a replayed batch never meets
  * its own keys. Once batches are folded their per-batch identity is
  * gone, so re-running the stream over the same outDir with a FRESH
  * checkpoint is supported only before the first fold — wipe outDir
  * and checkpoint together.
  *
  * `nBuckets` is baked into the on-disk partition values, so it is
  * recorded once at `outDir/index_meta` and later sinks on the same
  * outDir must match (enforced at start, atomically; the pre-bucket
  * flat layout is rejected loudly — see [[TieredIndex.checkLayout]]).
  *
  * '''Consistency of the views''': the pairs and chunks writes of one
  * batch are two separate commits (plus maintenance deletes), atomic
  * only per-directory. [[pairsView]] and [[chunkIndexView]] are
  * therefore consistent BETWEEN batches — a reader concurrent with an
  * in-flight or replaying batch can observe that batch's partition
  * mid-overwrite. Readers needing a stable view should read while the
  * query is stopped or exclude the latest batch_id.
  *
  * After any prefix of batches, [[pairsView]] equals batch
  * [[graft.operators.Dedup.cdcOverlapPairs]] on the union of those
  * batches — a pair is emitted exactly once, when its later member
  * arrives — PROVIDED no chunk key's document frequency crosses
  * `maxDocsPerChunk` between a pair's emission and the end of the
  * prefix; the deviation is one-sided (the stream never misses a pair
  * the batch run keeps — see [[Dedup.cdcOverlapIncrement]]). Doc ids
  * must be globally unique across batches, the same precondition as
  * every delta route.
  *
  * Why a parquet chunk index and not state-store state: candidate
  * generation is a cross-batch JOIN on `(fp, len)` — not a point
  * lookup — and the probe relation IS what the batch delta operator
  * consumes, so batch and stream share one code path (the
  * [[StreamNearDedup]] argument, with a lighter per-row payload: chunk
  * keys are fixed-width, so the index costs O(chunks), not
  * O(shingle sets)). */
object StreamCdc {

  private val keySchema = "fp bigint, len int, doc_id bigint"

  /** The chunk index, bucketed by fingerprint. */
  private[graft] def index(outDir: String, nBuckets: Int = 64) =
    new TieredIndex(outDir, keySchema, bucketKey = Some(col("fp")),
      nBuckets = nBuckets)
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs",
    "doc_a bigint, doc_b bigint, shared_chunks bigint, shared_bytes bigint")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String,
      nBuckets: Int = 64): Seq[TieredIndex] =
    Seq(index(outDir, nBuckets), pairStore(outDir))

  /** One micro-batch: emit overlap pairs touching the batch and grow
    * the chunk index ([[sink]] runs it per trigger, then the stores'
    * maintenance). */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long, w: Int = 16, maskBits: Int = 6, minLen: Int = 24,
      minSharedBytes: Int = 48, maxDocsPerChunk: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      minChunk: Int = 1, maxChunk: Int = Int.MaxValue,
      nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val (idx, pairs) = (index(outDir, nBuckets), pairStore(outDir))
    val keys = Dedup.cdcChunkIndex(batch, idCol, textCol, w,
        maskBits, minLen, minChunk, maxChunk)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // strictly-older batches only: a replayed batch must not see
      // its own crashed partial write as "corpus"
      val corpus = idx.probe(spark, keys, batchId)
        .withColumnRenamed("doc_id", idCol)
      pairs.append(Dedup.cdcOverlapIncrement(
          keys.select(col("fp"), col("len"), col(idCol)), corpus,
          idCol, minSharedBytes, maxDocsPerChunk), batchId)
      idx.append(keys.select(col("fp"), col("len"),
        col(idCol).as("doc_id")), batchId)
    } finally { keys.unpersist(); () }
  }

  /** Start the sink: for each micro-batch of documents, emit overlap
    * pairs touching the batch and grow the chunk index. `docs` must
    * carry a long id column and a text column. `nBuckets` fixes the
    * fingerprint-bucket partitioning of the index (immutable per
    * outDir); `compactEvery` bounds the recent tier — when that many
    * committed batch dirs accumulate, they fold into a base epoch
    * (size-tiered merges keep the base at O(log n) epochs). */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      w: Int = 16, maskBits: Int = 6, minLen: Int = 24,
      minSharedBytes: Int = 48, maxDocsPerChunk: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      minChunk: Int = 1, maxChunk: Int = Int.MaxValue,
      nBuckets: Int = 64, compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("StreamCdc",
        stores(outDir, nBuckets), compactEvery)(foldBatch(outDir, _, _, w,
          maskBits, minLen, minSharedBytes, maxDocsPerChunk, idCol,
          textCol, minChunk, maxChunk, nBuckets)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** All overlap pairs seen so far — equal to batch
    * [[Dedup.cdcOverlapPairs]] over the union of committed batches
    * (cap proviso above; consistent only between batches — see the
    * object doc). Empty (with the right schema) before the first
    * batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue)

  /** The accumulated chunk index — the [[Dedup.cdcChunkIndex]]
    * relation over every committed batch (base ∪ recent tiers),
    * directly consumable by the batch delta route
    * ([[Dedup.cdcOverlapDelta]]). Consistent only between batches —
    * see the object doc. */
  def chunkIndexView(spark: SparkSession, outDir: String): DataFrame =
    index(outDir).corpusKeys(spark, Long.MaxValue)
}
