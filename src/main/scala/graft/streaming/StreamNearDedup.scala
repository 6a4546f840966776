package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Streaming MinHash-LSH near-deduplication — the ingestion-time mirror
  * of [[graft.operators.Dedup.minhashLsh]], built as the incremental
  * delta pass ([[graft.operators.Dedup.minhashLshDeltaSigs]]) applied
  * per micro-batch against a persisted signature index:
  *
  *  1. one doc-local projection computes the batch's signature table
  *     (minhash signature + sorted hashed-shingle set per doc);
  *  2. the batch probes the accumulated index — band-equality join,
  *     candidates ∝ batch size and match rate, never index×index;
  *  3. verified pairs append to the `outDir/pairs` store, the batch's
  *     signatures to the `outDir/sigs` store — both one-bucket
  *     [[TieredIndex]] stores, so a replayed batch overwrites exactly
  *     its own contribution, the probe reads only strictly-older
  *     batches, and the sink folds committed batches every 16
  *     triggers (O(log n) epochs, never one directory per batch
  *     forever; a fresh-checkpoint re-run over the same outDir is
  *     supported only before the first fold).
  *
  * After any prefix of batches, [[pairsView]] equals batch
  * [[graft.operators.Dedup.minhashLsh]] on the union of those batches
  * (a pair is emitted exactly once, when its later member arrives) —
  * the batch/stream equivalence contract [[StreamDedup]] establishes
  * for exact dedup, extended to near-dedup. Doc ids must be globally
  * unique across batches, the same precondition as the delta operator.
  *
  * Why the index is a parquet relation and not state-store state: the
  * per-doc payload (64-long signature + full hashed-shingle set) is
  * orders of magnitude heavier than a dedup state key, candidate
  * generation needs a cross-batch JOIN on band keys (not a point
  * lookup), and the verify step needs the historic shingle sets — a
  * keyed state store offers none of that, while the persisted relation
  * is exactly what the batch delta operator already consumes. A
  * band-key `dropDuplicates` state would also drop LSH *candidates*
  * unverified — false-positive drops that the exact-Jaccard verify
  * here rules out. */
object StreamNearDedup {

  private def sigStore(outDir: String) = new TieredIndex(
    s"$outDir/sigs", "id bigint, sig array<bigint>, ng array<bigint>")
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs", "doc_a bigint, doc_b bigint, jaccard double")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String): Seq[TieredIndex] =
    Seq(sigStore(outDir), pairStore(outDir))

  /** One micro-batch: emit verified near-dup pairs touching the batch
    * and append its signatures ([[sink]] runs it per trigger, then the
    * stores' maintenance). */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long, threshold: Double = 0.5, shingleLen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    val (sigs, pairs) = (sigStore(outDir), pairStore(outDir))
    val d = Dedup.signatureTable(batch, shingleLen, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      pairs.append(Dedup.minhashLshDeltaSigs(d,
        sigs.corpusKeys(spark, batchId), threshold), batchId)
      sigs.append(d, batchId)
    } finally { d.unpersist(); () }
  }

  /** Start the sink: for each micro-batch of documents, emit verified
    * near-dup pairs touching the batch and grow the signature index.
    * `docs` must carry a long id column and a text column. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      threshold: Double = 0.5, shingleLen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("StreamNearDedup",
        stores(outDir), compactEvery = 16)(
        foldBatch(outDir, _, _, threshold, shingleLen, idCol, textCol)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** All verified near-dup pairs seen so far — equal to batch
    * `minhashLsh` over the union of committed batches. Empty (with the
    * right schema) before the first batch commits. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue)

  /** Greedy keep-the-smallest-id dedup view over the indexed corpus:
    * every indexed doc id except those verified near-equal to a
    * smaller id (the canonical-by-min-id rule of [[Dedup.exact]]). */
  def keptIdsView(spark: SparkSession, outDir: String): DataFrame =
    sigStore(outDir).corpusKeys(spark, Long.MaxValue)
      .select(col("id"))
      .join(pairsView(spark, outDir).select(col("doc_b").as("id")),
        Seq("id"), "left_anti")
}
