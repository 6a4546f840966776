package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{hash, lit, pmod}
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
    val table = java.nio.file.Files
      .createTempDirectory("graft_detail_").toString + "/detail"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_detail_ckpt_").toString
    val input = MemoryStream[QzEvent]
    val q = QzMasteryStream.startDetailSink(input.toDS(), table, ckpt)
    try {
      input.addData(QzEvent(1, 1, 1, "1", "1", "2019-09-12 10:00:00"),
        QzEvent(2, 1, 1, "5", "0", "2019-09-12 10:00:01"))
      q.processAllAvailable()
      input.addData(QzEvent(1, 1, 1, "2", "0", "2019-09-12 10:00:02"))
      q.processAllAvailable()
      val detail = spark.read.parquet(table)
      assert(detail.count() === 2) // one row per key, updated in place
      val k1 = detail.filter($"uid" === 1).head()
      assert(k1.getAs[Long]("qz_sum") === 2L) // merged across batches
      assert(k1.getAs[String]("questionids") === "1,2")
      val k2 = detail.filter($"uid" === 2).head()
      assert(k2.getAs[Long]("qz_sum") === 1L) // untouched key preserved
    } finally q.stop()
  }

  private def bucketOf(uid: Int, n: Int): Int =
    Seq(uid).toDF("uid")
      .select(pmod(hash($"uid"), lit(n))).head.getInt(0)

  test("keyed-upsert sink: bucket-level crash windows lose no keys") {
    import org.apache.hadoop.fs.Path
    import graft.streaming.KeyedUpsertSink
    val base = java.nio.file.Files
      .createTempDirectory("graft_crash_").toString
    val table = base + "/detail"
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val N = 4

    val batch1 = Seq((1, 10L), (2, 20L)).toDF("uid", "v")
    KeyedUpsertSink.upsert(batch1, table, Seq("uid"), nBuckets = N)

    // crash window 1: key 2's bucket retired, swap never ran, and the
    // crashed attempt's .tmp is incomplete (no _SUCCESS) — recovery
    // must roll BACK (restore the retired generation) before merging
    val b2 = s"bucket=${bucketOf(2, N)}"
    fs.mkdirs(new Path(table + ".retired"))
    assert(fs.rename(new Path(table, b2),
      new Path(table + ".retired/" + b2)))
    fs.mkdirs(new Path(table + ".tmp"))
    val batch2 = Seq((2, 21L)).toDF("uid", "v") // replayed partial batch
    KeyedUpsertSink.upsert(batch2, table, Seq("uid"))
    val after = KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect().toMap
    assert(after === Map(1 -> 10L, 2 -> 21L)) // both keys survived

    // crash window 2: .tmp committed (_SUCCESS present), key 3's new
    // generation still in .tmp, live bucket already retired away —
    // recovery must roll FORWARD (the committed generation wins)
    val batch3 = Seq((3, 30L)).toDF("uid", "v")
    KeyedUpsertSink.upsert(batch3, table, Seq("uid"))
    val b3 = s"bucket=${bucketOf(3, N)}"
    fs.mkdirs(new Path(table + ".tmp"))
    assert(fs.rename(new Path(table, b3), new Path(table + ".tmp/" + b3)))
    fs.create(new Path(table + ".tmp/_SUCCESS"), true).close()
    KeyedUpsertSink.upsert(batch3, table, Seq("uid")) // replay
    val fin = KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect().toMap
    assert(fin === Map(1 -> 10L, 2 -> 21L, 3 -> 30L))
  }

  test("bucketed upsert migrates a pre-bucketing flat-layout table in " +
    "place (no keys dropped, legacy files removed)") {
    import graft.streaming.KeyedUpsertSink
    val base = java.nio.file.Files
      .createTempDirectory("graft_migrate_").toString
    val table = base + "/detail"
    // a table written by the old (flat, whole-table-swap) protocol:
    // parquet part files at the root, no bucket dirs, no meta
    Seq((1, 10L), (2, 20L), (3, 30L)).toDF("uid", "v")
      .write.mode("overwrite").parquet(table)

    KeyedUpsertSink.upsert(Seq((2, 21L), (4, 40L)).toDF("uid", "v"),
      table, Seq("uid"), nBuckets = 4)
    val got = KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect().toMap
    assert(got === Map(1 -> 10L, 2 -> 21L, 3 -> 30L, 4 -> 40L))
    // flat files gone, bucketed layout in place
    val rootFiles = new java.io.File(table).listFiles().map(_.getName)
    assert(!rootFiles.exists(f => f.endsWith(".parquet")), rootFiles.toSeq)
    assert(rootFiles.exists(_.startsWith("bucket=")), rootFiles.toSeq)
    // subsequent upserts take the steady-state bucketed path
    KeyedUpsertSink.upsert(Seq((1, 11L)).toDF("uid", "v"),
      table, Seq("uid"))
    assert(KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect().toMap ===
      Map(1 -> 11L, 2 -> 21L, 3 -> 30L, 4 -> 40L))

    // crashed-migration replay: a leftover legacy file holding a STALE
    // value for a key that already lives in the buckets must NOT
    // resurrect it (bucketed rows take precedence over legacy rows)
    Seq((1, 999L)).toDF("uid", "v")
      .write.mode("append").parquet(table) // stale flat file reappears
    KeyedUpsertSink.upsert(Seq((5, 50L)).toDF("uid", "v"),
      table, Seq("uid"))
    assert(KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect().toMap ===
      Map(1 -> 11L, 2 -> 21L, 3 -> 30L, 4 -> 40L, 5 -> 50L))
  }

  test("bucketed upsert leaves untouched-bucket files byte-identical " +
    "(upsert I/O is O(batch), not O(table))") {
    import graft.streaming.KeyedUpsertSink
    val base = java.nio.file.Files
      .createTempDirectory("graft_bucketio_").toString
    val table = base + "/detail"
    val N = 8
    val batch1 = (1 to 32).map(i => (i, i * 10L)).toDF("uid", "v")
    KeyedUpsertSink.upsert(batch1, table, Seq("uid"), nBuckets = N)

    def snapshot(): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(table)
      val s = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .filterNot(_.getFileName.toString.endsWith(".crc"))
          .map(p => root.relativize(p).toString ->
            java.nio.file.Files.readAllBytes(p).toSeq)
          .toMap
      } finally s.close()
    }

    val before = snapshot()
    KeyedUpsertSink.upsert(Seq((7, 777L)).toDF("uid", "v"),
      table, Seq("uid"))
    val after = snapshot()

    val touched = s"bucket=${bucketOf(7, N)}/"
    // every file outside key 7's bucket is untouched, bit for bit —
    // same paths, same bytes
    assert(before.keys.filterNot(_.startsWith(touched)).toSet ===
      after.keys.filterNot(_.startsWith(touched)).toSet)
    for ((path, bytes) <- before if !path.startsWith(touched))
      assert(after(path) === bytes, path)
    // and the touched bucket did change (new file set or new bytes)
    val sameFiles = before.keys.filter(_.startsWith(touched)).toSet ==
      after.keys.filter(_.startsWith(touched)).toSet
    val sameBytes = before.forall { case (p, b) =>
      !p.startsWith(touched) || after.get(p).contains(b) }
    assert(!(sameFiles && sameBytes))

    // table contents: key 7 replaced, all others intact
    val contents = KeyedUpsertSink.read(spark, table)
      .as[(Int, Long)].collect().toMap
    assert(contents === (1 to 32).map(i =>
      i -> (if (i == 7) 777L else i * 10L)).toMap)
  }

  private def dataFiles(dir: java.io.File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(f => f.startsWith("_") || f.startsWith(".") ||
        f.endsWith(".crc"))

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

  test("keyed-upsert sink: a batch into an existing table runs at most " +
    "3 jobs, none wider than its inputs' splits, and leaves one file " +
    "per touched bucket") {
    import graft.streaming.KeyedUpsertSink
    val table = java.nio.file.Files
      .createTempDirectory("graft_jobs_").toString + "/detail"
    val N = 16
    KeyedUpsertSink.upsert((1 to 200).map(i => (i, i * 10L))
      .toDF("uid", "v"), table, Seq("uid"), nBuckets = N)

    // 40 replaced keys and 20 new ones
    val batch = ((1 to 80 by 2).map(i => (i, -i.toLong)) ++
      (201 to 220).map(i => (i, i * 10L))).toDF("uid", "v")
    val (_, jobs) = jobsOf("upsert-jobcount") {
      KeyedUpsertSink.upsert(batch, table, Seq("uid"))
    }
    // touched-bucket collect, bucket exchange, write — no isEmpty
    // probe, no second evaluation of the batch, no listing or
    // schema-inference job
    assert(jobs.size <= 3, s"jobs (id, tasks): $jobs")
    // no job grows with the bucket or file count (a parallel listing
    // runs one task per directory): the widest job is the exchange's
    // map stage, one task per batch partition plus the touched files
    // packed into at most one split per core
    val widest = batch.rdd.getNumPartitions +
      spark.sparkContext.defaultParallelism
    assert(jobs.forall(_._2 <= widest), s"jobs (id, tasks): $jobs")

    val touched = batch.select(pmod(hash($"uid"), lit(N))).as[Int]
      .collect().toSet
    for (b <- touched) {
      val files = dataFiles(new java.io.File(table, s"bucket=$b"))
      assert(files.size === 1, s"bucket=$b holds $files")
    }
    assert(KeyedUpsertSink.read(spark, table).as[(Int, Long)].collect()
      .toMap === ((1 to 200).map(i => i -> i * 10L) ++
        (1 to 80 by 2).map(i => i -> -i.toLong) ++
        (201 to 220).map(i => i -> i * 10L)).toMap)
  }

  test("keyed-upsert sink: an empty micro-batch runs one job and writes " +
    "nothing") {
    import graft.streaming.KeyedUpsertSink
    val base = java.nio.file.Files
      .createTempDirectory("graft_empty_").toString
    val table = base + "/detail"
    val hook = KeyedUpsertSink.foreachBatchUpsert(table, Seq("uid"))
    val empty = Seq.empty[(Int, Long)].toDF("uid", "v")

    // fresh path: no table directory, no bucket-count file
    assert(jobsOf("upsert-empty-fresh")(hook(empty, 0L))._2.size === 1)
    assert(!new java.io.File(table).exists())
    assert(!new java.io.File(table, "_graft_nbuckets").exists())

    // existing table: every file stays byte-identical
    hook(Seq((1, 10L), (2, 20L)).toDF("uid", "v"), 1L)
    val before = tableBytes(table)
    assert(jobsOf("upsert-empty-existing")(hook(empty, 2L))._2.size === 1)
    assert(tableBytes(table) === before)
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
