package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.LogParsers
import graft.streaming.{KeyedUpsertSink, PageStream, QzMasteryStream, RawArchive, RegisterStream}

/** One of the engine's four streaming jobs: how to write its log lines,
  * how to start it on a line stream, and how to compare its final sink
  * state with the batch recompute over exactly the lines it was fed. */
trait Pipeline {
  def name: String
  def line(r: SplittableRandom, eventTime: String): String
  /** A line the job's parser must reject (or, for the archive, file
    * under `dt=unknown`). */
  def malformed(r: SplittableRandom, eventTime: String): String
  def start(spark: SparkSession, lines: DataFrame, dir: String): StreamingQuery
  /** (sink state, batch recompute) as comparable relations; the first
    * one's sink state also counts the parsed events (`parsedRows`). */
  def compare(spark: SparkSession, dir: String, lines: DataFrame)
      : Seq[(String, DataFrame, DataFrame)]
  /** Rows that reached the sink as parsed events, from the collected
    * sink state of the first comparison. */
  def parsedRows(state: Seq[Row]): Long
}

object Pipelines {
  private def pick(r: SplittableRandom, n: Int) = r.nextInt(n)

  /** J1 — registrations: TSV, dual sink (windowed + cumulative). */
  object J1 extends Pipeline {
    val name = "j1"
    def line(r: SplittableRandom, t: String) =
      s"${pick(r, 100000)}\t${1 + pick(r, 3)}\t$t"
    def malformed(r: SplittableRandom, t: String) = pick(r, 3) match {
      case 0 => s"${pick(r, 100000)}\t1"
      case 1 => s"u${pick(r, 1000)}\t2\t$t"
      case _ => s"${pick(r, 100000)}\t1\t2019-13-45 99:99:99"
    }
    def start(spark: SparkSession, lines: DataFrame, dir: String) =
      RegisterStream.dualSink(RegisterStream.parse(lines), s"$dir/out",
        s"$dir/ckpt")
    def compare(spark: SparkSession, dir: String, lines: DataFrame) = {
      val parsed = RegisterStream.parse(lines)
      Seq(
        ("totals", RegisterStream.totalsView(spark, s"$dir/out"),
          parsed.groupBy(col("platform")).agg(count(lit(1)).as("total"))),
        ("windows", RegisterStream.windowedView(spark, s"$dir/out").select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("platform").as("key"), col("n")),
          graft.analytics.RegisterAnalytics.slidingCounts(parsed,
            col("createTime"), col("platform"), "60 seconds", "6 seconds")))
    }
    def parsedRows(state: Seq[Row]) =
      state.map(_.getAs[Long]("total")).sum
  }

  /** J2 — quiz mastery: TSV, keyed state, keyed-upsert sink. The keys
    * are the fixture domain: 50 users × 4 courses × 5 points, 30
    * questions per point. */
  object J2 extends Pipeline {
    val name = "j2"
    private val cols = Seq("uid", "courseid", "pointid", "questionids",
      "qz_sum", "qz_count", "qz_istrue", "createtime", "correct_rate",
      "qz_detail_rate", "mastery_rate")
    def line(r: SplittableRandom, t: String) =
      s"${pick(r, 50)}\t${pick(r, 4)}\t${pick(r, 5)}\t${pick(r, 30)}\t" +
        s"${pick(r, 2)}\t$t"
    def malformed(r: SplittableRandom, t: String) = pick(r, 2) match {
      case 0 => s"${pick(r, 50)}\t${pick(r, 4)}\t${pick(r, 5)}\t1\t$t"
      case _ => s"x${pick(r, 50)}\t${pick(r, 4)}\t${pick(r, 5)}\t1\t1\t$t"
    }
    def start(spark: SparkSession, lines: DataFrame, dir: String) = {
      import spark.implicits._
      QzMasteryStream.startDetailSink(
        LogParsers.parseQz(lines).as[graft.sources.Models.QzEvent],
        s"$dir/table", s"$dir/ckpt")
    }
    def compare(spark: SparkSession, dir: String, lines: DataFrame) = Seq(
      ("detail", KeyedUpsertSink.read(spark, s"$dir/table")
        .select(cols.map(col): _*),
        graft.analytics.QzMastery.mastery(LogParsers.parseQz(lines))
          .select(cols.map(col): _*)))
    def parsedRows(state: Seq[Row]) =
      state.map(_.getAs[Long]("qz_sum")).sum
  }

  /** J3 — page views: JSON, running jump counts per navigation triple. */
  object J3 extends Pipeline {
    val name = "j3"
    def line(r: SplittableRandom, t: String) = {
      val uid = pick(r, 5000)
      s"""{"uid":"$uid","app_id":"${1 + pick(r, 3)}","device_id":"d-${pick(r, 500)}","ip":"10.0.${pick(r, 256)}.${pick(r, 256)}","last_page_id":"${pick(r, 20)}","page_id":"${pick(r, 20)}","next_page_id":"${pick(r, 20)}"}"""
    }
    def malformed(r: SplittableRandom, t: String) = pick(r, 2) match {
      case 0 => s"""{"uid":"${pick(r, 5000)}","page_id":"""
      case _ => s"page ${pick(r, 20)} at $t"
    }
    def table(dir: String) =
      "perfbench_j3_" + Integer.toHexString(dir.hashCode)
    def start(spark: SparkSession, lines: DataFrame, dir: String) =
      PageStream.jumpCounts(PageStream.parse(lines)).writeStream
        .format("memory").queryName(table(dir)).outputMode("complete")
        .option("checkpointLocation", s"$dir/ckpt").start()
    def compare(spark: SparkSession, dir: String, lines: DataFrame) = Seq(
      ("jumps", spark.table(table(dir)),
        graft.analytics.PageAnalytics.pageJumps(PageStream.parse(lines))))
    def parsedRows(state: Seq[Row]) =
      state.map(_.getAs[Long]("jumps")).sum
  }

  /** J4 — raw archive: register lines filed by event-time day. */
  object J4 extends Pipeline {
    val name = "j4"
    def line(r: SplittableRandom, t: String) = J1.line(r, t)
    def malformed(r: SplittableRandom, t: String) =
      s"${pick(r, 100000)}\t${1 + pick(r, 3)}\t" +
        (if (pick(r, 2) == 0) "n/a" else "2019-02-30 25:61:00")
    private def records(lines: DataFrame) = lines.withColumn("ts",
      try_to_timestamp(substring_index(col("value"), "\t", -1),
        lit("yyyy-MM-dd HH:mm:ss")))
    def start(spark: SparkSession, lines: DataFrame, dir: String) =
      RawArchive.start(records(lines), s"$dir/out", s"$dir/ckpt",
        Trigger.ProcessingTime(0))
    def compare(spark: SparkSession, dir: String, lines: DataFrame) = Seq(
      ("days", spark.read.parquet(s"$dir/out")
        .groupBy(col("dt").cast("string").as("dt")).count(),
        RawArchive.withDayBucket(records(lines)).groupBy(col("dt")).count()))
    /** Rows filed under a real day; the rest went to `dt=unknown`. */
    def parsedRows(state: Seq[Row]) =
      state.filter(_.getAs[String]("dt") != "unknown")
        .map(_.getAs[Long]("count")).sum
  }

  val all: Seq[Pipeline] = Seq(J1, J2, J3, J4)
}

/** Progress events of the running streaming queries. */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  /** Each progress with its trigger's start on the tracer's clock. */
  val events = new ConcurrentLinkedQueue[(StreamingQueryProgress, Double)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.timestamp != null) events.add((e.progress, tracer.fromWall(
      java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble)))
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  private def endOffset(pr: StreamingQueryProgress): Long =
    pr.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim)
      .filter(_.matches("-?\\d+")).map(_.toLong).getOrElse(-1L)

  /** Whether the batch that consumed `offset` has reported its progress. */
  def covers(offset: Long): Boolean =
    events.asScala.exists(pr => endOffset(pr._1) >= offset)

  /** (progress, start ms, commit ms, end offset) of every non-empty batch,
    * in batch order. */
  def batches(): Seq[(StreamingQueryProgress, Double, Double, Long)] =
    events.asScala.toSeq
      .filter { case (pr, _) => pr.numInputRows > 0 &&
        pr.durationMs.containsKey("triggerExecution") }
      .map { case (pr, start) =>
        (pr, start, start + pr.durationMs.get("triggerExecution"),
          endOffset(pr))
      }
      .sortBy(_._1.batchId)
}

/** `stream_ingest`: each pipeline runs alone in its own phase — a
  * closed-loop priming batch (set-up), then measured micro-batches of
  * `BatchLines` lines each (one second of input at the reference's
  * per-job ceiling of 1,000 lines/s), fed closed-loop from the main
  * thread until the phase's share of `--seconds` has passed (at least
  * one), then the output check. A batch's latency runs from adding its
  * lines to the commit of the micro-batch that holds them: the delay a
  * line sees when a trigger fires as it arrives. The memory source
  * spreads each micro-batch over one partition per core. */
object StreamWorkload {
  val PrimeLines = 500
  val BatchLines = 1000
  val MalformedShare = 0.02

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val log = new ProgressLog(tr)
    spark.streams.addListener(log)
    val measureMs = ctx.seconds * 1e3 / Pipelines.all.size
    var setupS = ctx.sinceProcessStart
    val medians = mutable.ArrayBuffer.empty[Double]

    for ((p, idx) <- Pipelines.all.zipWithIndex) tr.span(p.name, "phase") {
        phase =>
      val dir = s"${ctx.work}/${p.name}"
      val rnd = new SplittableRandom(ctx.seed * 1000003L + idx)
      // virtual event time: a seeded walk, about ten seconds per line
      var eventSec = 1563235200L + rnd.nextInt(86400)
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      val sent = mutable.ArrayBuffer.empty[String]
      var injected = 0L
      def nextLines(n: Int): Seq[String] = (0 until n).map { _ =>
        eventSec += rnd.nextInt(21)
        val t = fmt.format(java.time.Instant.ofEpochSecond(eventSec))
        val l = if (rnd.nextDouble() < MalformedShare) {
          injected += 1; p.malformed(rnd, t)
        } else p.line(rnd, t)
        sent += l
        l
      }

      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val cores = Runtime.getRuntime.availableProcessors
      val input = MemoryStream[String](cores)
      // (end offset, add time, commit time) of each measured batch
      val measured = mutable.ArrayBuffer.empty[(Long, Double, Double)]
      val ok = try {
        val t0 = tr.nowMs
        val q = p.start(spark, input.toDF(), dir)
        tr.span("prime", "prime") { _ =>
          input.addData(nextLines(PrimeLines))
          q.processAllAvailable()
        }
        setupS += (tr.nowMs - t0) / 1e3

        tr.span("load", "load") { _ =>
          val start = tr.nowMs
          while (measured.isEmpty || tr.nowMs - start < measureMs) {
            val lines = nextLines(BatchLines)
            val added = tr.nowMs
            val off = input.addData(lines)
            q.processAllAvailable()
            measured += ((off.json.toLong, added, tr.nowMs))
          }
        }
        q.stop()
        // progress events reach the listener bus after the commit
        val deadline = tr.nowMs + 5000
        while (!log.covers(measured.last._1) && tr.nowMs < deadline)
          Thread.sleep(20)
        q.exception.isEmpty
      } catch { case e: Throwable =>
        ctx.fail(s"${p.name} run", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      ctx.op(ok)

      val batches = log.batches().filter(_._2 >= phase.start)
      log.events.clear()
      batches.foreach { case (pr, s, e, _) =>
        tr.add(phase.id, s"batch ${pr.batchId}", "batch", s, e,
          "rows" -> pr.numInputRows.toDouble)
      }

      val lat = measured.map { case (_, a, c) => c - a }.toSeq
      medians += Stats.median(lat)
      ctx.metric(s"${p.name}.lat_p50_ms", medians.last, "ms")
      val firstOff = measured.headOption.map(_._1).getOrElse(0L)
      val inWindow = batches.filter(_._4 >= firstOff)
      def p50(key: String) = Stats.median(inWindow.map(b =>
        Option(b._1.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)))
      ctx.metric(s"${p.name}.batches", inWindow.size.toDouble, "count")
      ctx.metric(s"${p.name}.batch_ms_p50", p50("triggerExecution"), "ms")
      ctx.metric(s"${p.name}.add_batch_ms_p50", p50("addBatch"), "ms")
      ctx.metric(s"${p.name}.planning_ms_p50", p50("queryPlanning"), "ms")
      ctx.metric(s"${p.name}.wal_commit_ms_p50", p50("walCommit"), "ms")
      ctx.metric(s"${p.name}.commit_offsets_ms_p50", p50("commitOffsets"),
        "ms")
      val lastState = batches.lastOption.map(_._1.stateOperators.toSeq)
        .getOrElse(Nil)
      ctx.metric(s"${p.name}.state_rows",
        lastState.map(_.numRowsTotal).sum.toDouble, "count")
      ctx.metric(s"${p.name}.state_mem_mb",
        lastState.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0), "MB")

      // outputs: the final sink state equals the batch recompute over the
      // lines sent, and the parser dropped exactly the injected lines
      tr.span("check", "check") { _ =>
        val lines = sent.toSeq.toDF("value")
        ctx.metric(s"${p.name}.rows_in", sent.size.toDouble, "count")
        try {
          val states = for ((what, got, want) <- p.compare(spark, dir, lines))
              yield {
            val state = got.collect().toSeq
            val (extra, missing) = Stats.multisetDiff(state,
              want.collect().toSeq.drop(if (ctx.wrongExpected) 1 else 0))
            ctx.check(s"${p.name} $what", extra == 0 && missing == 0,
              s"$extra unexpected rows, $missing missing rows")
            state
          }
          val parsed = p.parsedRows(states.head)
          ctx.metric(s"${p.name}.rows_parsed", parsed.toDouble, "count")
          ctx.metric(s"${p.name}.rows_dropped", (sent.size - parsed).toDouble,
            "count")
          ctx.check(s"${p.name} dropped", sent.size - parsed == injected,
            s"dropped ${sent.size - parsed}, injected $injected")
        } catch { case e: Throwable =>
          ctx.fail(s"${p.name} check",
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    ctx.metric("setup_s", setupS, "s")
    // end to end: one measured micro-batch of each pipeline in turn, and
    // the typical batch latency with each pipeline weighing the same
    // (geometric mean), so a pipeline's relative change moves it by the
    // same share whichever pipeline it is
    ctx.metric("pass_s", medians.sum / 1e3, "s")
    ctx.metric("lat_p50_ms", Stats.geomean(medians.toSeq), "ms")
  }
}
