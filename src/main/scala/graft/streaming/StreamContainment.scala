package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Materialize}

/** Streaming containment join — the x117 delta containment composed
  * online with the [[StreamCorpusLoop]] store protocol: one
  * `foreachBatch` sink that, per micro-batch,
  *
  *   1. reads the growing prefix index (per-doc (id, ng, sz, prefix)
  *      rows plus the corpus (gram, df) relation) from one-bucket
  *      [[TieredIndex]] stores, STRICTLY BELOW the batch;
  *   2. ranks the batch's gram sets ONCE under the FROZEN corpus df
  *      order (x87; [[Dedup.rankPrefixes]]) and materializes them;
  *   3. emits every ordered containment pair TOUCHING the batch — the
  *      x117 kernel ([[Dedup.containmentJoin]]) against the index:
  *      delta-contained-in-(corpus ∪ delta) and corpus-contained-in-
  *      delta, never corpus×corpus — appended to the `pairs` store as
  *      the batch's rows;
  *   4. appends those same ranked rows to the index and their
  *      (gram, count) df contributions to the df store.
  *
  * Exactly-once pair semantics: a qualifying ordered pair (a, b)
  * surfaces in precisely the batch where its LATER-arriving endpoint
  * is the delta (the earlier doc is then in the index; same-batch
  * pairs surface via the delta×delta route) — so the UNION of all
  * per-batch pair rows over a closed corpus equals batch
  * [[Dedup.containmentPairs]] over that corpus
  * (`StreamContainmentSpec` proves it, incl. restart and folds).
  *
  * Replay safety is the [[TieredIndex]] contract: reads see only
  * batches strictly below the batch id, writes overwrite the batch's
  * own directories. The sink folds committed batches every
  * `compactEvery` triggers — pairs and index rows by plain union, the
  * df store through its sum-by-gram fold/merge function, so every df
  * epoch holds one row per gram.
  *
  * Scale shape: per-batch cost ∝ delta size + match rate (the
  * containmentPairsDelta contract); store reads are column-pruned
  * parquet scans; nothing is ever rewritten except by the stores' LSM
  * folds and merges.
  */
object StreamContainment {

  private def indexStore(dir: String) = new TieredIndex(s"$dir/cindex",
    "id bigint, ng array<bigint>, sz int, prefix array<bigint>")
  private def gramStore(dir: String) = new TieredIndex(s"$dir/cgramdf",
    "gram bigint, df bigint", TieredIndex.summed("df"))
  private def pairStore(dir: String) = new TieredIndex(s"$dir/pairs",
    "doc_a bigint, doc_b bigint, containment double")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(dir: String): Seq[TieredIndex] =
    Seq(indexStore(dir), gramStore(dir), pairStore(dir))

  /** The corpus (gram, df) relation visible to batch `below`:
    * per-batch counts (and per-epoch sums) summed. */
  private def gramDfBelow(spark: SparkSession, dir: String,
      below: Long): DataFrame =
    gramStore(dir).corpusKeys(spark, below)
      .groupBy(col("gram")).agg(sum(col("df")).as("df"))

  /** Fold one micro-batch: emit its touching pairs, then append its
    * index rows and df contributions — all three from one ranked
    * relation (the testable core; [[sink]] adapts it to `foreachBatch`
    * and runs the stores' maintenance). Thresholds in (0, 1]. */
  def foldBatch(dir: String, batch: DataFrame, batchId: Long,
      threshold: Double = 0.9, n: Int = 12, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    Dedup.requireContainmentThreshold("StreamContainment", threshold)
    val spark = batch.sparkSession
    val (cindex, gramDf, pairs) =
      (indexStore(dir), gramStore(dir), pairStore(dir))
    val rows = Materialize.eager(Dedup.rankPrefixes(
      Dedup.gramSetRows(batch, n, idCol, textCol),
      Some(gramDfBelow(spark, dir, batchId)), Dedup.probingPrefix(threshold)))
    pairs.append(Dedup.containmentJoin(rows, rows,
      Some(cindex.corpusKeys(spark, batchId)), threshold), batchId)
    cindex.append(rows, batchId)
    gramDf.append(Dedup.docFrequencies(rows), batchId)
  }

  /** `foreachBatch` adapter; after folding batch N it runs each
    * store's [[TieredIndex.maintain]] (folds every `compactEvery`
    * committed batches) — safe inside the serialized callback, the
    * [[StreamCorpusLoop.sink]] contract; the threshold and the stores'
    * layout are checked once, when the function is built — before the
    * query starts. */
  def sink(dir: String, threshold: Double = 0.9, n: Int = 12,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Int = 16): (DataFrame, Long) => Unit = {
    Dedup.requireContainmentThreshold("StreamContainment", threshold)
    TieredIndex.trigger[Row]("StreamContainment", stores(dir),
      compactEvery)(foldBatch(dir, _, _, threshold, n, idCol, textCol))
  }

  /** Every containment pair emitted so far (the union of committed
    * per-batch outputs) — over a closed corpus, equal to batch
    * [[Dedup.containmentPairs]]. */
  def pairs(spark: SparkSession, dir: String): DataFrame =
    pairStore(dir).corpusKeys(spark, Long.MaxValue)

  /** The growing prefix-index relation (id, ng, sz, prefix). */
  def index(spark: SparkSession, dir: String): DataFrame =
    indexStore(dir).corpusKeys(spark, Long.MaxValue)

  /** The corpus (gram, df) relation (aggregated). */
  def gramDf(spark: SparkSession, dir: String): DataFrame =
    gramDfBelow(spark, dir, Long.MaxValue)
}
