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
  * [[dualSink]] persists both aggregates as one set of per-slide counts
  * in a one-bucket [[TieredIndex]] store whose folds sum them.
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

  // J1's geometry is the reference's fixed one:
  // reduceByKeyAndWindow(_ + _, Seconds(60), Seconds(6))
  // (RegisterStreaming.scala:91, SURVEY.md §2.3)
  private val WindowDur = "60 seconds"
  private val SlideDur = "6 seconds"

  /** Single-read dual aggregation (reference parity: one cached DStream
    * feeding both aggregations, RegisterStreaming.scala:88-101). Each
    * micro-batch is one scan of the batch, one exchange and one
    * [[TieredIndex]] append ([[foldBatch]]) of per-slide counts: one
    * `(tumble_start, platform, n)` row per 6-second tumble and platform
    * the batch has events in — what the reference's
    * `reduceByKeyAndWindow` reduces once per slide before it combines
    * the slides. The counts are additive across batches, so the store
    * sums them when it folds and the read views expand and sum them.
    * Idempotence: a replayed batch overwrites its own `batch_id=N` dir,
    * never double-counts (unlike the reference, SURVEY.md §2.8). Both
    * aggregates are read from the same rows, so the two views always
    * describe the same batches. Committed batches fold every 16
    * triggers into the store's base tier, summing by group. */
  def dualSink(parsed: DataFrame, outDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    parsed.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("RegisterStream.dualSink",
        Seq(store(outDir)), compactEvery = 16)(foldBatch(outDir, _, _)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** J1's one store: `(tumble_start, platform, n)` — `n` events of
    * `platform` in the 6-second tumble starting at `tumble_start`. */
  private[graft] def store(outDir: String): TieredIndex =
    new TieredIndex(outDir, "tumble_start timestamp, platform string, " +
      "n bigint", TieredIndex.summed("n"))

  /** One micro-batch's per-slide counts: its events grouped by their
    * 6-second tumble and platform — a tumbling window, so the plan is a
    * projection and one aggregate, with no per-window expansion. Rows
    * without a timestamp fall in no tumble; they are left out of both
    * aggregates, which then describe the same event set. */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long): Unit =
    store(outDir).append(batch.filter(col("createTime").isNotNull)
      .groupBy(window(col("createTime"), SlideDur)("start")
        .as("tumble_start"), col("platform"))
      .agg(count(lit(1)).as("n")), batchId)

  private def tumbles(spark: SparkSession, outDir: String): DataFrame =
    store(outDir).corpusKeys(spark, Long.MaxValue)

  /** Read view over [[dualSink]]'s windowed counts: each stored tumble
    * expands into the 60s/6s windows that contain its start, and the
    * windows sum their tumbles. Exact: a tumble starts on a multiple of
    * the slide and is one slide long, so it lies wholly inside every
    * window containing its start and outside every other — its events
    * fall in exactly those windows. Empty (with the right schema)
    * before the first batch commits. */
  def windowedView(spark: SparkSession, outDir: String): DataFrame =
    tumbles(spark, outDir)
      .groupBy(window(col("tumble_start"), WindowDur, SlideDur).as("w"),
        col("platform"))
      .agg(sum(col("n")).as("n"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("platform"), col("n"))

  /** Read view over [[dualSink]]'s cumulative counts. Empty (with the
    * right schema) before the first batch commits. */
  def totalsView(spark: SparkSession, outDir: String): DataFrame =
    tumbles(spark, outDir)
      .groupBy(col("platform")).agg(sum(col("n")).as("total"))
}
