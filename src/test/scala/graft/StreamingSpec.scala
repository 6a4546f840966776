package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.{PageStream, RawArchive, RegisterStream}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def registerLines(n: Int, platformCode: String, t0: String) =
    (0 until n).map(i => s"${1000 + i}\t$platformCode\t$t0")

  test("register stream: windowed counts over event time") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = RegisterStream.parse(input.toDF())
    val q = RegisterStream
      .windowedCounts(parsed, "60 seconds", "6 seconds", "0 seconds")
      .writeStream.format("memory").queryName("reg_win")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(registerLines(3, "1", "2019-07-16 16:01:55"))
      input.addData(registerLines(2, "2", "2019-07-16 16:01:58"))
      q.processAllAvailable()
      // push watermark far ahead so earlier windows finalize
      input.addData(registerLines(1, "1", "2019-07-16 17:00:00"))
      q.processAllAvailable()
      val rows = spark.table("reg_win")
      // 60s/6s sliding: each event lands in 10 windows
      assert(rows.filter($"platform" === "PC" && $"n" === 3).count() === 10)
      assert(rows.filter($"platform" === "APP" && $"n" === 2).count() === 10)
    } finally q.stop()
  }

  test("register stream: cumulative totals across batches") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val q = RegisterStream.cumulativeCounts(RegisterStream.parse(input.toDF()))
      .writeStream.format("memory").queryName("reg_total")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(registerLines(3, "1", "2019-07-16 16:01:55"))
      q.processAllAvailable()
      input.addData(registerLines(4, "1", "2019-07-16 16:02:55") ++
        registerLines(2, "9", "2019-07-16 16:02:56"))
      q.processAllAvailable()
      val totals = spark.table("reg_total").as[(String, Long)].collect().toMap
      assert(totals === Map("PC" -> 7L, "Other" -> 2L))
    } finally q.stop()
  }

  test("page stream: jump counts and conversion rates") {
    implicit val sql = spark.sqlContext
    def view(last: String, page: String, next: String) =
      s"""{"uid":"u1","app_id":"a","device_id":"d","ip":"1.2.3.4",""" +
        s""""last_page_id":"$last","page_id":"$page","next_page_id":"$next"}"""
    val input = MemoryStream[String]
    val q = PageStream.jumpCounts(PageStream.parse(input.toDF()))
      .writeStream.format("memory").queryName("page_jumps")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(Seq(view("0", "1", "2"), view("0", "1", "2"), "not json"))
      q.processAllAvailable()
      input.addData(Seq(view("0", "1", "3"), """{"page_id":"9"}"""))
      q.processAllAvailable()
      val jumps = spark.table("page_jumps")
      assert(jumps.filter($"page_id" === "1" && $"next_page_id" === "2")
        .select($"jumps").as[Long].head() === 2L)
      // absent JSON keys default to "", malformed lines are dropped
      assert(jumps.filter($"page_id" === "9" && $"last_page_id" === "")
        .count() === 1)

      val rates = PageStream.conversionRates(jumps)
        .filter($"page_id" === "1").collect()
      val to2 = rates.find(_.getAs[String]("next_page_id") == "2").get
      assert(to2.getAs[Long]("page_total") === 3L)
      assert(math.abs(to2.getAs[Double]("conversion_rate") - 2.0 / 3) < 1e-9)
    } finally q.stop()
  }

  test("throughput: register pipeline sustains the reference ingest " +
    "ceiling (1000 rec/s at a 3 s trigger — BASELINE.md)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[String]
    val q = RegisterStream.cumulativeCounts(RegisterStream.parse(input.toDF()))
      .writeStream.format("memory").queryName("tp_reg")
      .outputMode(OutputMode.Complete()).start()
    try {
      // warm the pipeline, then time 30k records (= 10 reference batches)
      input.addData(registerLines(100, "1", "2019-07-16 16:00:00"))
      q.processAllAvailable()
      val n = 30000
      val t0 = System.nanoTime()
      input.addData((0 until n).map(i =>
        s"${i}\t${i % 3}\t2019-07-16 16:01:55"))
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val recPerSec = n / secs
      info(f"streaming throughput: $recPerSec%.0f rec/s")
      assert(recPerSec > 1000.0,
        f"pipeline must beat the reference's 1000 rec/s ceiling, " +
          f"got $recPerSec%.0f")
    } finally q.stop()
  }

  test("dual-sink: one stream read feeds both register aggregations") {
    implicit val sql = spark.sqlContext
    val out = tempDir("graft_dual_")
    val ckpt = tempDir("graft_dual_ckpt_")

    // views are empty (not failing) before the first batch commits
    assert(RegisterStream.totalsView(spark, out).count() === 0)

    val input = MemoryStream[String]
    val q = RegisterStream.dualSink(
      RegisterStream.parse(input.toDF()), out, ckpt)
    try {
      input.addData(registerLines(3, "1", "2019-07-16 16:01:55"))
      q.processAllAvailable()
      input.addData(registerLines(2, "1", "2019-07-16 16:01:58") ++
        registerLines(4, "2", "2019-07-16 16:02:10"))
      q.processAllAvailable()

      val totals = RegisterStream.totalsView(spark, out)
        .as[(String, Long)].collect().toMap
      assert(totals === Map("PC" -> 5L, "APP" -> 4L))

      // windows spanning both batches sum their per-batch contributions:
      // 16:01:55 and 16:01:58 share windows; each event is in 10 windows
      val win = RegisterStream.windowedView(spark, out)
      assert(win.filter($"platform" === "PC" && $"n" === 5).count() > 0)
      assert(win.filter($"platform" === "APP").agg(max($"n"))
        .as[Long].head() === 4L)
    } finally q.stop()

    // replay: a fresh checkpoint re-delivers the same batches with the
    // same ids — dynamic partition overwrite must not double-count
    val ckpt2 = tempDir("graft_dual_ckpt2_")
    val replay = MemoryStream[String]
    val q2 = RegisterStream.dualSink(
      RegisterStream.parse(replay.toDF()), out, ckpt2)
    try {
      replay.addData(registerLines(3, "1", "2019-07-16 16:01:55"))
      q2.processAllAvailable()
      replay.addData(registerLines(2, "1", "2019-07-16 16:01:58") ++
        registerLines(4, "2", "2019-07-16 16:02:10"))
      q2.processAllAvailable()
      val totals2 = RegisterStream.totalsView(spark, out)
        .as[(String, Long)].collect().toMap
      assert(totals2 === Map("PC" -> 5L, "APP" -> 4L)) // unchanged
    } finally q2.stop()
  }

  test("dual-sink compaction: views identical before and after; retired " +
    "partitions garbage-collected; idempotent") {
    implicit val sql = spark.sqlContext
    val out = tempDir("graft_compact_")
    val ckpt = tempDir("graft_compact_ckpt_")
    val input = MemoryStream[String]
    val q = RegisterStream.dualSink(
      RegisterStream.parse(input.toDF()), out, ckpt)
    // a batch of unparseable lines adds no counts, but its trigger
    // still runs the sink's maintenance
    def countless(): Unit = {
      input.addData(Seq("not a register line")); q.processAllAvailable()
    }
    try {
      // batches 0..15: the sink folds every 16 committed batches, so
      // none is folded yet
      for (b <- 0 until 16) {
        input.addData(registerLines(2 + b % 4, ((b % 3) + 1).toString,
          f"2019-07-16 16:$b%02d:10"))
        q.processAllAvailable()
      }
      def totals = RegisterStream.totalsView(spark, out)
        .as[(String, Long)].collect().toMap
      def windowed = RegisterStream.windowedView(spark, out)
        .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)]
        .collect().toSet
      val (t0, w0) = (totals, windowed)
      val store = RegisterStream.store(out)
      assert(store.liveEpochs(spark).isEmpty)
      assert(store.recentIds(spark).size === 16)

      // batch 16's trigger folds batches 0..15 into one epoch
      countless()
      assert(totals === t0)
      assert(windowed === w0)
      // the folded batch dirs are gone; the countless batch wrote none
      assert(store.liveEpochs(spark).map(e => (e.from, e.upto)) ===
        Seq((0L, 15L)))
      assert(store.recentIds(spark).isEmpty, store.recentIds(spark))

      // idempotent: a later trigger folds nothing and changes nothing
      countless()
      assert(totals === t0)
      assert(windowed === w0)
      assert(store.epochDirs(spark).size === 1)

      // the stream keeps appending after compaction
      input.addData(registerLines(5, "1", "2019-07-16 16:30:10"))
      q.processAllAvailable()
      assert(totals("PC") === t0("PC") + 5)
    } finally q.stop()
  }

  test("dual-sink: a micro-batch runs at most 2 jobs and compiles no new code") {
    implicit val sql = spark.sqlContext
    val out = tempDir("graft_dual_jobs_")
    val ckpt = tempDir("graft_dual_jobs_ckpt_")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan.toString + qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the query runs its batches in a clone of the session, which takes
    // the listeners registered before it starts
    spark.listenerManager.register(listener)
    val input = MemoryStream[String]
    val q = RegisterStream.dualSink(
      RegisterStream.parse(input.toDF()), out, ckpt)
    def batch(b: Int): Unit = {
      input.addData(registerLines(20, "1", f"2019-07-16 16:0$b%d:10") ++
        registerLines(10, "2", f"2019-07-16 16:0$b%d:40"))
      q.processAllAvailable()
    }
    // listener events arrive asynchronously
    def awaitPlans(): Unit = {
      var waited = 0
      while (plans.isEmpty && waited < 5000) { Thread.sleep(50); waited += 50 }
    }
    try {
      // the first two batches compile the per-batch plan's code
      batch(0)
      batch(1)
      awaitPlans()
      plans.clear()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jobs = queryJobsOf(q)(batch(2))
      // the exchange's map stage and the write: no cache
      // materialization, no second aggregate, no second write
      assert(jobs.nonEmpty && jobs.size <= 2, s"jobs (id, tasks): $jobs")
      // the batch id is in the write's directory, not a literal in its
      // plan, so the third batch runs the second one's code
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
      awaitPlans()
      assert(!plans.isEmpty)
      plans.forEach(p => assert(!p.contains("InMemory"), p))
      // the batch aggregates per 6-second tumble: no sliding-window
      // expansion before the exchange
      plans.forEach(p => assert(!p.contains("Expand"), p))
      assert(RegisterStream.totalsView(spark, out).as[(String, Long)]
        .collect().toMap === Map("PC" -> 60L, "APP" -> 30L))
    } finally {
      spark.listenerManager.unregister(listener)
      q.stop()
    }
  }

  test("dual-sink: over 18 micro-batches (a fold included) the views " +
    "equal the batch sliding counts and per-platform totals, events on " +
    "and 1 µs before a slide boundary included") {
    implicit val sql = spark.sqlContext
    val out = tempDir("graft_dual_eq_")
    val ckpt = tempDir("graft_dual_eq_ckpt_")
    // `platform \t time` lines with microsecond times; an unparseable
    // time reads as null and reaches the sink, which must skip it
    def parse(lines: DataFrame): DataFrame = {
      val f = split(col("value"), "\t")
      lines.select(f(0).as("platform"),
        f(1).try_cast("timestamp").as("createTime"))
    }
    val t0 = java.time.LocalDateTime.parse("2019-07-16T16:00:00")
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def at(platform: String, us: Long) =
      s"$platform\t${t0.plusNanos(us * 1000).format(fmt)}"
    val slideUs = 6000000L
    // each batch: an event on a slide boundary, one 1 µs before the
    // next, one mid-slide whose windows overlap earlier batches', and
    // every third batch a line with an unparseable time
    val batches = (0 until 18).map { b =>
      Seq(at("PC", (2 * b + 1) * slideUs),
        at("APP", (2 * b + 2) * slideUs - 1),
        at(Seq("PC", "APP", "Other")(b % 3), b * slideUs / 2 + 3000000L)) ++
        (if (b % 3 == 0) Seq("PC\t2019-07-16 99:99:99") else Nil)
    }
    val input = MemoryStream[String]
    val q = RegisterStream.dualSink(parse(input.toDF()), out, ckpt)
    try batches.foreach { lines =>
      input.addData(lines); q.processAllAvailable()
    } finally q.stop()
    assert(RegisterStream.store(out).liveEpochs(spark).nonEmpty)

    val events = parse(batches.flatten.toDF("value"))
      .filter($"createTime".isNotNull)
    val windowed = RegisterStream.windowedView(spark, out)
      .select(date_format($"window_start", "yyyy-MM-dd HH:mm:ss"),
        $"platform", $"n").as[(String, String, Long)].collect()
    val batchWindowed = graft.analytics.RegisterAnalytics.slidingCounts(
        events, $"createTime", $"platform", "60 seconds", "6 seconds")
      .as[(String, String, Long)].collect()
    assert(windowed.length === batchWindowed.length)
    assert(windowed.toSet === batchWindowed.toSet)
    // slidingCounts also goes through tumbles; the one-level expansion
    // of every raw event into its windows is the independent oracle
    val expanded = events
      .groupBy(window($"createTime", "60 seconds", "6 seconds").as("w"),
        $"platform").count()
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss"), $"platform",
        $"count").as[(String, String, Long)].collect()
    assert(windowed.toSet === expanded.toSet)
    assert(RegisterStream.totalsView(spark, out).as[(String, Long)]
      .collect().toMap === events.groupBy($"platform").count()
      .as[(String, Long)].collect().toMap)
  }

  test("non-text stream source: the generic transport branch drives a " +
    "full pipeline off the rate source") {
    import graft.sources.StreamSources
    // the `rate` source goes through the generic `case other` branch —
    // format string + options resolved via the DataSource registry, the
    // same seam a kafka connector would use — and its values are shaped
    // into register lines feeding the real parser + aggregation
    val lines = StreamSources.lines(spark,
      StreamSources.SourceConfig("rate",
        Map("rowsPerSecond" -> "500", "numPartitions" -> "2")))
    val shaped = lines.select(
      concat($"value", lit("\t1\t2019-07-16 16:01:55")).as("value"))
    val q = RegisterStream.cumulativeCounts(RegisterStream.parse(shaped))
      .writeStream.format("memory").queryName("rate_seam")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def total(): Long = spark.table("rate_seam")
        .as[(String, Long)].collect().toMap.getOrElse("PC", 0L)
      var t = total()
      while (t == 0 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        q.processAllAvailable()
        t = total()
      }
      assert(t > 0, "no rate-source rows flowed through the pipeline")
    } finally q.stop()
  }

  test("custom DataSource V2 connector resolves through the transport " +
    "seam by class name (the path a kafka connector jar takes)") {
    import graft.sources.StreamSources
    val lines = StreamSources.lines(spark,
      StreamSources.SourceConfig("graft.FakeLinesSource",
        Map("lines" -> (registerLines(3, "1", "2019-07-16 16:01:55") ++
          registerLines(2, "2", "2019-07-16 16:01:58")).mkString("\n"))))
    val q = RegisterStream.cumulativeCounts(RegisterStream.parse(lines))
      .writeStream.format("memory").queryName("dsv2_seam")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val totals = spark.table("dsv2_seam")
        .as[(String, Long)].collect().toMap
      assert(totals === Map("PC" -> 3L, "APP" -> 2L))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates dropped across micro-batches; " +
    "watermark mode evicts state and matches within the horizon") {
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamDedup

    // global mode: dedup across batches, state keyed by content hash
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamDedup.dedupForever(in1.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("dedup_forever")
      .outputMode("append").start()
    try {
      in1.addData((1L, "alpha"), (2L, "ALPHA  "), (3L, "beta"))
      q1.processAllAvailable()
      in1.addData((4L, "beta"), (5L, "gamma")) // beta seen in batch 1
      q1.processAllAvailable()
      val kept = spark.table("dedup_forever")
        .select("id").as[Long].collect().toSet
      // normalization folds case/trim: ALPHA duplicates alpha
      assert(kept === Set(1L, 3L, 5L))
    } finally q1.stop()

    // watermark mode: a duplicate inside the horizon is dropped; the
    // query runs with event-time state that CAN be evicted (behavioral
    // equivalence inside the horizon is what we assert — eviction
    // timing is the engine's)
    val in2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q2 = StreamDedup.dedupWithinWatermark(
      in2.toDF().toDF("id", "ts", "text"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      in2.addData((1L, t("2024-01-01 10:00:00"), "doc-a"),
        (2L, t("2024-01-01 10:01:00"), "doc-a"),
        (3L, t("2024-01-01 10:02:00"), "doc-b"))
      q2.processAllAvailable()
      val kept2 = spark.table("dedup_wm")
        .select("id").as[Long].collect().toSet
      assert(kept2 === Set(1L, 3L))
    } finally q2.stop()
  }

  test("streaming near-dedup: pairs across micro-batches equal batch " +
    "minhashLsh on the union; kept view drops the larger-id twin") {
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamNearDedup
    import graft.operators.Dedup

    val baseA = "the quick brown fox jumps over the lazy dog " * 8
    val baseB = "pack my box with five dozen liquor jugs now " * 8
    val other = "совершенно другой текст не похожий ни на что " * 8
    val batches = Seq(
      Seq((1L, baseA), (2L, baseA + "tail edit")),            // within-batch
      Seq((3L, baseA + "other tail"), (4L, baseB)),           // cross-batch
      Seq((5L, baseB + "tail edit"), (6L, other)))            // cross-batch
    val out = tempDir("near_dedup_out")
    val ckpt = tempDir("near_dedup_ckpt")

    val input = MemoryStream[(Long, String)]
    val q = StreamNearDedup.sink(input.toDF().toDF("doc_id", "text"),
      out, ckpt, threshold = 0.5)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    def key(r: (Long, Long, Double)) = (r._1, r._2, math.round(r._3 * 1e9))
    val streamed = StreamNearDedup.pairsView(spark, out)
      .as[(Long, Long, Double)].collect().map(key).toSet
    val batch = Dedup.minhashLsh(batches.flatten.toDF("doc_id", "text"),
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // pairs within AND across batches were found
    assert(streamed.exists { case (a, b, _) => a == 1L && b == 2L })
    assert(streamed.exists { case (a, b, _) => a == 4L && b == 5L })

    val kept = StreamNearDedup.keptIdsView(spark, out)
      .as[Long].collect().toSet
    val dupIds = streamed.map(_._2)
    assert(kept === (1L to 6L).toSet -- dupIds)
  }

  test("fixture producers: generated logs parse cleanly end-to-end") {
    import graft.sources.{FixtureProducers, LogParsers}
    val dir = tempDir("graft_prod_")
    FixtureProducers.produce(
      FixtureProducers.registerLines(spark, 300, partitions = 3), dir)
    val parsed = LogParsers.parseRegister(spark.read.text(dir).toDF("value"))
    assert(parsed.count() === 300)
    val platforms = parsed.groupBy($"platform").count()
      .as[(String, Long)].collect().toMap
    assert(platforms === Map("PC" -> 100L, "APP" -> 100L, "Other" -> 100L))

    val qz = LogParsers.parseQz(
      FixtureProducers.qzLines(spark, 120).toDF("value"))
    assert(qz.count() === 120)
    val pages = LogParsers.parsePage(
      FixtureProducers.pageLines(spark, 60).toDF("value"))
    assert(pages.count() === 60)
    assert(pages.filter($"page_id" === "1").count() === 3)
  }

  test("end-to-end: file-source stream equals batch over the same logs") {
    val dir = tempDir("graft_logs_")
    val lines = registerLines(5, "1", "2019-07-16 10:00:00") ++
      registerLines(3, "2", "2019-07-16 11:30:00") ++
      Seq("malformed line") ++
      registerLines(2, "9", "2019-07-16 12:00:00")
    Files.write(java.nio.file.Paths.get(dir, "register.log"),
      String.join("\n", lines: _*).getBytes)

    val src = graft.sources.StreamSources.lines(spark,
      graft.sources.StreamSources.SourceConfig("text",
        Map("path" -> dir, "maxFilesPerTrigger" -> "1")))
    assert(src.isStreaming)
    val q = RegisterStream.cumulativeCounts(RegisterStream.parse(src))
      .writeStream.format("memory").queryName("e2e_reg")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("e2e_reg")
        .as[(String, Long)].collect().toMap
      // batch over the same file through the same parser
      val batch = RegisterStream
        .parse(spark.read.text(dir).toDF("value"))
        .groupBy($"platform").count()
        .as[(String, Long)].collect().toMap
      assert(streamed === batch)
      assert(streamed === Map("PC" -> 5L, "APP" -> 3L, "Other" -> 2L))
    } finally q.stop()
  }

  test("raw archive: day-partitioned exactly-once file sink") {
    implicit val sql = spark.sqlContext
    val out = tempDir("graft_archive_")
    val ckpt = tempDir("graft_ckpt_")
    val input = MemoryStream[(String, String)]
    val records = input.toDF().toDF("key", "value")
      .withColumn("ts", try_to_timestamp(col("key")))

    val q1 = RawArchive.start(records, out, ckpt)
    input.addData(("2019-07-16 23:59:59", "a"), ("2019-07-17 00:00:01", "b"))
    q1.processAllAvailable(); q1.stop()

    // restart from checkpoint: previously-committed data must not duplicate
    val q2 = RawArchive.start(records, out, ckpt)
    input.addData(("2019-07-17 08:00:00", "c"))
    q2.processAllAvailable(); q2.stop()

    val written = spark.read.parquet(out)
    assert(written.count() === 3)
    // event-time day bucketing: the 23:59:59 record lands in the earlier day
    assert(written.filter($"dt" === "20190716").count() === 1)
    assert(written.filter($"dt" === "20190717").count() === 2)

    // a record with no parseable timestamp archives under an explicit
    // partition (never the invisible __HIVE_DEFAULT_PARTITION__)
    val q3 = RawArchive.start(records, out, ckpt)
    input.addData(("not a timestamp", "d"))
    q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(out).filter($"dt" === "unknown")
      .select($"value").as[String].collect().toSeq === Seq("d"))
  }

  test("hash-based mix/split projections run unchanged on a stream " +
    "and agree with the batch pass row-for-row") {
    implicit val sql = spark.sqlContext
    import graft.operators.Corpus

    val rows = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else "b"))
    def mixed(df: org.apache.spark.sql.DataFrame) =
      Corpus.mixBySource(df, col("doc_id"), col("source"),
          Map("a" -> 0.5, "b" -> 0.2))
        .withColumn("split", Corpus.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.2)))

    val input = MemoryStream[(Long, String)]
    val q = mixed(input.toDF().toDF("doc_id", "source"))
      .writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(100)); q.processAllAvailable()
      input.addData(rows.drop(100)); q.processAllAvailable()
      val streamed = spark.table("mix_stream")
        .as[(Long, String, String)].collect().toSet
      val batch = mixed(rows.toDF("doc_id", "source"))
        .as[(Long, String, String)].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("decontamination runs as a stream-static join: streamed docs " +
    "against a static benchmark equal the batch pass") {
    implicit val sql = spark.sqlContext
    import graft.operators.Dedup

    val benchText = "the secret benchmark passage that must not leak " * 4
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "clean document with entirely original content here"),
      (2L, "prefix " + benchText + " suffix"),   // contaminated
      (3L, "another clean unrelated body of text"))

    val input = MemoryStream[(Long, String)]
    val q = Dedup.decontaminate(input.toDF().toDF("doc_id", "text"),
        bench, minSharedGrams = 20)
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2)); q.processAllAvailable()
      input.addData(docs.drop(2)); q.processAllAvailable()
      val streamed = spark.table("decon_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("contaminated")))
        .toMap
      val batch = Dedup.decontaminate(docs.toDF("doc_id", "text"),
        bench, minSharedGrams = 20).collect()
        .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("contaminated")))
        .toMap
      assert(streamed === batch)
      assert(streamed(2L) === true && streamed(1L) === false)
    } finally q.stop()
  }

  test("streaming sessionization: sealed sessions equal the batch " +
    "rollup, including the exact-gap boundary") {
    implicit val sql = spark.sqlContext
    import graft.streaming.SessionizeStream
    import graft.analytics.Sessionize

    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // user A: one session of 3 (the 10:00:30 event is EXACTLY gapSec
    // after 10:00:00 — same session under the batch > rule), then a
    // clear break; user B: singleton sessions
    val rows = Seq(
      ("a", t("2024-01-01 10:00:00")), ("a", t("2024-01-01 10:00:30")),
      ("a", t("2024-01-01 10:00:45")), ("b", t("2024-01-01 10:00:10")),
      ("b", t("2024-01-01 10:02:00")), ("a", t("2024-01-01 10:05:00")))
    // late watermark flush event: pushes the watermark far past every
    // session so all of them seal and emit in append mode
    val flush = ("zz", t("2024-01-02 00:00:00"))

    val input = MemoryStream[(String, java.sql.Timestamp)]
    val q = SessionizeStream.sessions(input.toDF().toDF("u", "ts"),
        col("u"), col("ts"), gapSec = 30L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // batches split on event time: with a zero watermark delay an
      // event older than a previous batch's max would be dropped late
      input.addData(rows.take(4)); q.processAllAvailable()
      input.addData(rows.drop(4)); q.processAllAvailable()
      input.addData(flush); q.processAllAvailable()
      val streamed = spark.table("sess_stream")
        .filter($"user_id" =!= "zz")
        .select("user_id", "n_events", "start_ts", "end_ts")
        .as[(String, Long, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().toSet
      val batch = Sessionize.sessions(
        rows.toDF("u", "ts"), col("u"), col("ts"), gapSec = 30L)
        .select("user_id", "n_events", "start_ts", "end_ts")
        .as[(String, Long, java.sql.Timestamp, java.sql.Timestamp)]
        .collect().toSet
      assert(streamed === batch)
      assert(batch.exists { case (u, n, _, _) => u == "a" && n == 3L },
        "the exact-gap event must stay in user a's first session")
    } finally q.stop()
  }

  test("stream-stream interval join: multi-batch inner join equals the " +
    "batch join; left_outer emits null-padded rows once the watermark " +
    "closes the interval") {
    implicit val sql = spark.sqlContext
    import graft.streaming.StreamJoins

    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // impressions and clicks; ad 1 clicked in-window (+30s), ad 2
    // clicked OUT of window (+120s), ad 3 never clicked, ad 4's click
    // arrives a batch later than its impression (cross-batch state)
    val imps = Seq(
      (1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:00:00")),
      (3L, t("2024-01-01 10:00:10")), (4L, t("2024-01-01 10:00:20")))
    val clicks = Seq(
      (1L, t("2024-01-01 10:00:30")), (2L, t("2024-01-01 10:02:00")),
      (4L, t("2024-01-01 10:01:15")))
    val flushImp = (99L, t("2024-01-02 00:00:00"))
    val flushClick = (98L, t("2024-01-02 00:00:00"))

    def run(joinType: String): Set[(Long, Option[Long])] = {
      val impIn = MemoryStream[(Long, java.sql.Timestamp)]
      val clkIn = MemoryStream[(Long, java.sql.Timestamp)]
      val joined = StreamJoins.intervalJoin(
        impIn.toDF().toDF("ad", "imp_ts"),
        clkIn.toDF().toDF("cad", "click_ts"),
        "ad", "cad", "imp_ts", "click_ts",
        "0 seconds", "0 seconds", lowerSec = 0L, upperSec = 60L,
        joinType = joinType)
      val q = joined.writeStream.format("memory")
        .queryName(s"ssj_$joinType").outputMode("append").start()
      try {
        impIn.addData(imps.take(3)); clkIn.addData(clicks.take(2))
        q.processAllAvailable()
        impIn.addData(imps.drop(3)); clkIn.addData(clicks.drop(2))
        q.processAllAvailable()
        impIn.addData(flushImp); clkIn.addData(flushClick)
        q.processAllAvailable()
        spark.table(s"ssj_$joinType")
          .filter($"ad" < 90L || $"ad".isNull)
          .select($"ad", $"cad")
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      } finally q.stop()
    }

    val inner = run("inner")
    // stream result equals the batch interval join on the closed input
    val batchInner = StreamJoins.intervalJoin(
      imps.toDF("ad", "imp_ts"), clicks.toDF("cad", "click_ts"),
      "ad", "cad", "imp_ts", "click_ts", "0 seconds", "0 seconds",
      lowerSec = 0L, upperSec = 60L)
      .select($"ad", $"cad")
      .collect().map(r => (r.getLong(0), Some(r.getLong(1)))).toSet
    assert(inner === batchInner)
    assert(inner === Set((1L, Some(1L)), (4L, Some(4L))))

    // left_outer: the in-window matches plus null-padded 2 and 3 (their
    // 60s interval expired under the advanced watermark)
    val outer = run("left_outer")
    assert(outer === Set((1L, Some(1L)), (4L, Some(4L)),
      (2L, None), (3L, None)))
  }

  test("streaming HLL: the sketch aggregated over micro-batches is " +
    "byte-identical to the batch sketch over the same rows") {
    implicit val sql = spark.sqlContext
    import graft.functions.HllExprs
    val rnd = new scala.util.Random(41)
    val keys = Seq.fill(5000)(rnd.nextLong()).distinct
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("h")
      .agg(HllExprs.hllSketch(col("h")).as("sk"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      keys.grouped(1700).foreach { batch =>
        input.addData(batch); q.processAllAvailable()
      }
      val streamed = spark.table("hll_stream").as[Array[Byte]].head()
      val batch = keys.toDF("h")
        .agg(HllExprs.hllSketch(col("h"))).as[Array[Byte]].head()
      assert(java.util.Arrays.equals(streamed, batch))
    } finally q.stop()
  }

  test("intervalJoin rejects overlapping schemas, unknown columns, " +
    "empty intervals, unsupported types") {
    import graft.streaming.StreamJoins
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val a = Seq((1L, t("2024-01-01 00:00:00"))).toDF("k", "ts")
    val b = Seq((1L, t("2024-01-01 00:00:00"))).toDF("k2", "ts2")
    intercept[IllegalArgumentException] {
      StreamJoins.intervalJoin(a, a, "k", "k", "ts", "ts",
        "0 seconds", "0 seconds", 0L, 60L)
    }
    intercept[IllegalArgumentException] {
      StreamJoins.intervalJoin(a, b, "nope", "k2", "ts", "ts2",
        "0 seconds", "0 seconds", 0L, 60L)
    }
    intercept[IllegalArgumentException] {
      StreamJoins.intervalJoin(a, b, "k", "k2", "ts", "ts2",
        "0 seconds", "0 seconds", 10L, -20L)
    }
    intercept[IllegalArgumentException] {
      StreamJoins.intervalJoin(a, b, "k", "k2", "ts", "ts2",
        "0 seconds", "0 seconds", 0L, 60L, joinType = "cross")
    }
  }
}
