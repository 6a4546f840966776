package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.LogParsers

/** J1 — registration analytics over an unbounded line stream
  * (reference RegisterStreaming.scala:66-101, rebuilt on event time).
  *
  * The reference computes two aggregations off one cached DStream: a
  * 60s/6s processing-time sliding window and an unbounded cumulative
  * count. Here both are declarative streaming aggregations over the same
  * parsed stream; the state store replaces `updateStateByKey`'s full-state
  * scan with incremental per-key updates, and the watermark bounds window
  * state (the reference has no late-data story at all — SURVEY.md §2.8).
  * [[dualSink]] persists both aggregates as tagged counts in one
  * one-bucket [[TieredIndex]] store whose folds sum them.
  */
object RegisterStream {

  /** Parse a raw-line streaming DataFrame into typed register events. */
  def parse(lines: DataFrame): DataFrame = LogParsers.parseRegister(lines)

  /** Sliding-window per-platform counts (event-time, watermarked).
    * Append-mode compatible: windows finalize when the watermark passes. */
  def windowedCounts(registers: DataFrame, windowDur: String = "60 seconds",
      slideDur: String = "6 seconds",
      watermark: String = "30 seconds"): DataFrame =
    registers
      .withWatermark("createTime", watermark)
      .groupBy(window(col("createTime"), windowDur, slideDur),
        col("platform"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("platform"), col("n"))

  /** Cumulative per-platform totals since stream start (the
    * `updateStateByKey` equivalent): a running aggregate for
    * Update/Complete output mode. Keyspace = #platforms (tiny), so
    * Complete mode is safe here; for large keyspaces use
    * flatMapGroupsWithState with timeouts instead. */
  def cumulativeCounts(registers: DataFrame): DataFrame =
    registers.groupBy(col("platform")).agg(count(lit(1)).as("total"))

  /** Single-read dual aggregation (reference parity: one cached DStream
    * feeding both aggregations, RegisterStreaming.scala:88-101). Each
    * micro-batch is one scan of the batch, one exchange and one
    * [[TieredIndex]] append ([[foldBatch]]); both aggregates are
    * additive across batches (a window's count is the sum of each
    * batch's rows landing in it), so the read views just sum.
    * Idempotence: a replayed batch overwrites its own `batch_id=N` dir,
    * never double-counts (unlike the reference, SURVEY.md §2.8). Both
    * aggregates of a batch land in that one dir, so the two views
    * always describe the same batches. Committed batches fold every
    * 16 triggers into the store's base tier, summing by group. */
  def dualSink(parsed: DataFrame, outDir: String, checkpoint: String,
      windowDur: String = "60 seconds", slideDur: String = "6 seconds")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    parsed.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("RegisterStream.dualSink",
        Seq(store(outDir)), compactEvery = 16)(
        foldBatch(outDir, _, _, windowDur, slideDur)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** J1's one store: `(kind, window_start, window_end, platform, n)`
    * rows, `kind` = "window" for a sliding-window count and "total"
    * for a platform total (whose window columns are null). */
  private[graft] def store(outDir: String): TieredIndex =
    new TieredIndex(outDir, "kind string, window_start timestamp, " +
      "window_end timestamp, platform string, n bigint",
      TieredIndex.summed("n"))

  /** One micro-batch's counts of both aggregates as tagged rows, in one
    * pass: each event expands into its sliding windows, and exactly
    * one of them — the latest, whose start lies in (t − slide, t] —
    * also carries its platform-total copy. Rows without a parseable
    * timestamp would be dropped by the window expansion but counted by
    * the totals, so both aggregates exclude them and describe the same
    * event set. */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long, windowDur: String = "60 seconds",
      slideDur: String = "6 seconds"): Unit = {
    val win = batch.filter(col("createTime").isNotNull)
      .select(window(col("createTime"), windowDur, slideDur).as("w"),
        col("createTime"), col("platform"))
    val latest =
      col("createTime") < col("w.start") + expr(s"INTERVAL $slideDur")
    val kind = explode(when(latest, array(lit("window"), lit("total")))
      .otherwise(array(lit("window"))))
    def ifWindow(c: String) = when(col("kind") === "window", col(s"w.$c"))
    store(outDir).append(win
      .select(kind.as("kind"), col("w"), col("platform"))
      .groupBy(col("kind"), ifWindow("start").as("window_start"),
        ifWindow("end").as("window_end"), col("platform"))
      .agg(count(lit(1)).as("n")), batchId)
  }

  private def rowsOfKind(spark: SparkSession, outDir: String,
      kind: String): DataFrame =
    store(outDir).corpusKeys(spark, Long.MaxValue)
      .filter(col("kind") === kind)

  /** Read view over [[dualSink]]'s windowed counts. Empty (with the
    * right schema) before the first batch commits. */
  def windowedView(spark: SparkSession, outDir: String): DataFrame =
    rowsOfKind(spark, outDir, "window")
      .groupBy(col("window_start"), col("window_end"), col("platform"))
      .agg(sum(col("n")).as("n"))

  /** Read view over [[dualSink]]'s cumulative counts. Empty (with the
    * right schema) before the first batch commits. */
  def totalsView(spark: SparkSession, outDir: String): DataFrame =
    rowsOfKind(spark, outDir, "total")
      .groupBy(col("platform")).agg(sum(col("n")).as("total"))
}
