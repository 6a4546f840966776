package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.analytics.QzMastery
import graft.sources.Models.QzEvent
import graft.streaming.QzMasteryStream

class QzMasterySpec extends SparkTestBase {
  import spark.implicits._

  private val events = Seq(
    QzEvent(1, 10, 5, "1", "1", "2019-09-12 11:17:48"),
    QzEvent(1, 10, 5, "1", "0", "2019-09-12 11:18:00"),
    QzEvent(1, 10, 5, "2", "1", "2019-09-12 11:19:00"),
    QzEvent(2, 10, 5, "3", "0", "2019-09-12 11:20:00"))

  test("batch mastery arithmetic matches the reference formula") {
    val got = QzMastery.mastery(events.toDF())
      .filter($"uid" === 1).head()
    assert(got.getAs[String]("questionids") === "1,2")
    assert(got.getAs[Long]("qz_sum") === 3L)
    assert(got.getAs[Long]("qz_count") === 2L)
    assert(got.getAs[Long]("qz_istrue") === 2L)
    assert(got.getAs[String]("createtime") === "2019-09-12 11:17:48")
    assert(got.getAs[Double]("correct_rate") === 2.0 / 3.0)
    assert(got.getAs[Double]("qz_detail_rate") === 2.0 / 30.0)
    assert(got.getAs[Double]("mastery_rate") === (2.0 / 30.0) * (2.0 / 3.0))
  }

  test("approx mastery tracks exact at small cardinality") {
    val approx = QzMastery.masteryApprox(events.toDF())
      .filter($"uid" === 1).head()
    // HLL++ is exact at tiny cardinalities; the contract is bounded error
    assert(approx.getAs[Long]("qz_count") === 2L)
    assert(approx.getAs[Long]("qz_sum") === 3L)
    assert(approx.getAs[Double]("qz_detail_rate") <= 1.0)
  }

  test("streaming state merge across batches equals batch-over-all result") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[QzEvent]
    val q = QzMasteryStream.mastery(input.toDS())
      .writeStream.format("memory").queryName("mastery_out")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(events.take(2)) // batch 1
      q.processAllAvailable()
      input.addData(events.drop(2)) // batch 2 -> history merge
      q.processAllAvailable()
      val rows = spark.table("mastery_out")
      // last update per key must equal the batch result over all events
      val latest = rows.filter($"uid" === 1 && $"qz_sum" === 3).head()
      assert(latest.getAs[String]("questionids") === "1,2")
      assert(latest.getAs[Long]("qz_istrue") === 2L)
      assert(latest.getAs[Double]("mastery_rate") === (2.0 / 30.0) * (2.0 / 3.0))
      assert(latest.getAs[String]("createtime") === "2019-09-12 11:17:48")
      val k2 = rows.filter($"uid" === 2).head()
      assert(k2.getAs[Long]("qz_sum") === 1L)
      assert(k2.getAs[Double]("correct_rate") === 0.0)
    } finally q.stop()
  }

  test("state TTL evicts idle keys (bounded-state mode)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import QzMasteryStream.{MasteryState, QzKey}
    val key = QzKey(1, 1, 1)
    val ttl = Some("200 milliseconds")

    // data batch: state updated and a timeout registered
    val live = TestGroupState.create[MasteryState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty(), hasTimedOut = false)
    val out = QzMasteryStream.update(ttl)(key,
      Iterator(QzEvent(1, 1, 1, "1", "1", "2019-09-12 10:00:00")), live)
    assert(out.toSeq.map(_.qz_sum) === Seq(1L))
    assert(live.exists && live.getTimeoutTimestampMs.get === 1200L)

    // timeout batch: state evicted, nothing emitted
    val timedOut = TestGroupState.create[MasteryState](
      Optional.of(live.get), GroupStateTimeout.ProcessingTimeTimeout,
      2000L, Optional.empty(), hasTimedOut = true)
    val evicted = QzMasteryStream.update(ttl)(key, Iterator.empty, timedOut)
    assert(evicted.isEmpty)
    assert(timedOut.isRemoved)

    // the key re-appears later: history starts fresh
    val fresh = TestGroupState.create[MasteryState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      3000L, Optional.empty(), hasTimedOut = false)
    val again = QzMasteryStream.update(ttl)(key,
      Iterator(QzEvent(1, 1, 1, "2", "1", "2019-09-12 10:00:05")), fresh)
      .toSeq
    assert(again.map(_.qz_sum) === Seq(1L)) // not 2: history was evicted
    assert(again.head.questionids === "2")
  }

  test("keyed-upsert detail sink: on-duplicate-key-update semantics") {
    implicit val sql = spark.sqlContext
    val table = tempDir("graft_detail_") + "/detail"
    val ckpt = tempDir("graft_detail_ckpt_")
    val input = MemoryStream[QzEvent]
    val q = QzMasteryStream.startDetailSink(input.toDS(), table, ckpt)
    try {
      input.addData(QzEvent(1, 1, 1, "1", "1", "2019-09-12 10:00:00"),
        QzEvent(2, 1, 1, "5", "0", "2019-09-12 10:00:01"))
      q.processAllAvailable()
      input.addData(QzEvent(1, 1, 1, "2", "0", "2019-09-12 10:00:02"))
      q.processAllAvailable()
      val detail = graft.streaming.KeyedUpsertSink.read(spark, table)
      assert(detail.count() === 2) // one row per key, updated in place
      val k1 = detail.filter($"uid" === 1).head()
      assert(k1.getAs[Long]("qz_sum") === 2L) // merged across batches
      assert(k1.getAs[String]("questionids") === "1,2")
      val k2 = detail.filter($"uid" === 2).head()
      assert(k2.getAs[Long]("qz_sum") === 1L) // untouched key preserved
    } finally q.stop()
  }

  test("keyed-upsert sink: an upsert writes only its own batch dir") {
    import graft.streaming.KeyedUpsertSink
    val table = tempDir("graft_upsert_") + "/detail"
    val batch0 = (1 to 32).map(i => (i, i * 10L)).toDF("uid", "v")
    val store = KeyedUpsertSink.open(spark, table, batch0.schema, Seq("uid"))
    store.append(batch0, 0L)
    val before = tableBytes(table)

    // 8 replaced keys and 4 new ones
    val batch1 = ((1 to 8).map(i => (i, -i.toLong)) ++
      (33 to 36).map(i => (i, i * 10L))).toDF("uid", "v")
    store.append(batch1, 1L)
    val after = tableBytes(table)
    // every earlier file is untouched, bit for bit; the batch only
    // added files under its own dir
    for ((path, bytes) <- before) assert(after.get(path).contains(bytes), path)
    assert((after.keySet -- before.keySet).nonEmpty)
    assert((after.keySet -- before.keySet)
      .forall(_.startsWith("chunks/batch_id=1/")), after.keySet)

    val want = ((1 to 36).map(i => i -> i * 10L) ++
      (1 to 8).map(i => i -> -i.toLong)).toMap
    def contents = KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect()
    assert(contents.length === want.size) // one row per key
    assert(contents.toMap === want)
    // a replayed batch overwrites its own dir: same table
    store.append(batch1, 1L)
    assert(contents.toMap === want)
    assert(contents.length === want.size)
  }

  private def tableBytes(table: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(table)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
    } finally s.close()
  }

  test("keyed-upsert sink: a micro-batch runs one job and compiles no new code") {
    implicit val sql = spark.sqlContext
    import graft.streaming.KeyedUpsertSink
    val table = tempDir("graft_jobs_") + "/detail"
    val ckpt = tempDir("graft_jobs_ckpt_")
    val input = MemoryStream[QzEvent]
    val q = QzMasteryStream.startDetailSink(input.toDS(), table, ckpt)
    def batch(b: Int): Unit = {
      input.addData((0 until 60).map(i => QzEvent(i % 20, 1, i % 3,
        s"${(i + b) % 30}", s"${i % 2}", f"2019-09-12 10:$b%02d:00")))
      q.processAllAvailable()
    }
    try {
      // the first two batches compile the per-batch plan's code (the
      // second one reads the state the first wrote)
      batch(0)
      batch(1)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jobs = queryJobsOf(q)(batch(2))
      // the stateful update and the append are one job: no persist, no
      // touched-bucket collect, no read-merge-rewrite
      assert(jobs.size === 1, s"jobs (id, tasks): $jobs")
      // the batch id is in the write's directory, not a literal in its
      // plan, so the third batch runs the second one's code
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === compiles)
    } finally q.stop()
    // 20 users × 3 points, one row each, merged over the three batches
    val detail = KeyedUpsertSink.read(spark, table)
    assert(detail.count() === 60)
    assert(detail.filter($"qz_sum" =!= 3).count() === 0)
  }

  test("keyed-upsert sink: an empty micro-batch runs one job and writes " +
    "nothing") {
    import graft.streaming.KeyedUpsertSink
    val base = tempDir("graft_empty_")
    val table = base + "/detail"
    val empty = Seq.empty[(Int, Long)].toDF("uid", "v")
    val hook = KeyedUpsertSink.foreachBatchUpsert(spark, table,
      empty.schema, Seq("uid"))

    // fresh table (sink start wrote only its meta): no batch dir
    val started = tableBytes(table)
    assert(jobsOf("upsert-empty-fresh")(hook(empty, 0L))._2.size === 1)
    assert(tableBytes(table) === started)
    assert(!new java.io.File(table, "chunks/batch_id=0").exists())

    // existing table: every file stays byte-identical
    hook(Seq((1, 10L), (2, 20L)).toDF("uid", "v"), 1L)
    val before = tableBytes(table)
    assert(jobsOf("upsert-empty-existing")(hook(empty, 2L))._2.size === 1)
    assert(tableBytes(table) === before)
    assert(!new java.io.File(table, "chunks/batch_id=2").exists())
    assert(new java.io.File(base).list().toSet === Set("detail"))
  }

  test("merge is batch-split invariant") {
    val all = QzMasteryStream.merge(
      QzMasteryStream.MasteryState(Set.empty, 0, 0, ""), events)
    val split = QzMasteryStream.merge(
      QzMasteryStream.merge(
        QzMasteryStream.MasteryState(Set.empty, 0, 0, ""), events.take(1)),
      events.drop(1))
    assert(all === split)
  }
}
