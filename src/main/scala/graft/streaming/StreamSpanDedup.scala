package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SpanDedup

/** Streaming exact-substring span dedup — the ingestion-time mirror of
  * [[graft.operators.SpanDedup.excise]], built as the incremental delta
  * pass ([[graft.operators.SpanDedup.exciseDelta]]) applied per
  * micro-batch against a persisted window-fingerprint index:
  *
  *  1. the batch is rewritten against the accumulated index under
  *     FIRST-ARRIVAL semantics (a window seen in any earlier batch is
  *     canonical there; duplicated runs new to the batch keep their
  *     first (doc_id, pos) occurrence);
  *  2. the FULL rewritten batch appends to the `outDir/clean` store
  *     (unmodified docs pass through verbatim — the view IS the
  *     deduped corpus);
  *  3. the batch's new fingerprints (anti-joined against strictly-older
  *     batches, so the index stays fp-unique) append to the
  *     `outDir/fps` store.
  *
  * Both stores are one-bucket [[TieredIndex]] stores, so a replayed
  * batch overwrites exactly its own contribution, the probe reads only
  * strictly-older batches (a crashed partial write is never its own
  * corpus), and the sink folds committed batches every 16 triggers (a
  * fresh-checkpoint re-run over the same outDir is supported only
  * before the first fold). After any prefix of batches, [[cleanView]]
  * equals batch `excise` over those batches in arrival order. Doc ids
  * must be globally unique across batches, as for every delta
  * operator.
  *
  * Fingerprints index the AS-INGESTED text (the batch contract computes
  * windows over raw documents); the cleaned text is what ships, the raw
  * fingerprints are what future batches dedup against.
  */
object StreamSpanDedup {

  private def fpStore(outDir: String) =
    new TieredIndex(s"$outDir/fps", "fp bigint, doc_id bigint, pos int")
  private def cleanStore(outDir: String) = new TieredIndex(
    s"$outDir/clean",
    "doc_id bigint, n_tokens bigint, n_removed bigint, clean_text string")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String): Seq[TieredIndex] =
    Seq(fpStore(outDir), cleanStore(outDir))

  /** One micro-batch: rewrite it against everything seen before it and
    * grow the fingerprint index ([[sink]] runs it per trigger, then the
    * stores' maintenance). */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long, windowTokens: Int = 50, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    val (fps, cleanOut) = (fpStore(outDir), cleanStore(outDir))
    val b = batch.persist()
    try {
      val older = fps.corpusKeys(spark, batchId)
      val modified = SpanDedup.exciseDelta(b, older, windowTokens,
        idCol, textCol)
      // full rewritten batch: untouched docs pass through verbatim
      // (null-text docs are dropped, mirroring the batch operator)
      val clean = b
        .filter(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .join(modified.withColumnRenamed(idCol, "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"),
            size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("clean_text"), col("text")).as("clean_text"))
      cleanOut.append(clean, batchId)
      // append only fps NEW to this batch — the index stays
      // fp-unique, so delta probes never fan out span rows
      fps.append(SpanDedup.fpIndex(b, windowTokens, idCol, textCol)
        .join(older.select(col("fp")), Seq("fp"), "left_anti"), batchId)
    } finally { b.unpersist(); () }
  }

  /** Start the sink: rewrite each micro-batch against everything seen
    * before it and grow the fingerprint index. `docs` must carry a long
    * id column and a text column. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      windowTokens: Int = 50, idCol: String = "doc_id",
      textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("StreamSpanDedup",
        stores(outDir), compactEvery = 16)(
        foldBatch(outDir, _, _, windowTokens, idCol, textCol)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The deduped corpus so far: every ingested doc with its rewritten
    * text — equal to batch `excise` over the committed batches in
    * arrival order, with untouched docs passed through. */
  def cleanView(spark: SparkSession, outDir: String): DataFrame =
    cleanStore(outDir).corpusKeys(spark, Long.MaxValue)
}
