package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{RegisterStream, TieredIndex}

/** Job-count and pruning laws of [[TieredIndex.probe]], the read every
  * bucketed streaming route makes per micro-batch: the store computes
  * the batch's buckets itself, so what a probe costs is the store's
  * contract, not each route's. Then the laws of the layout check every
  * sink start makes: no job, and a store of another row schema or of
  * an older build's meta fails. */
class TieredIndexSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val schema = "fp bigint, doc_id bigint"
  // fp i lands in bucket i % 8 of an 8-bucket store keyed by fp
  private val rows = (0L until 64L).map(i => (i, 1000L + i))
  private def part(b: Int) =
    rows.filter(_._1 % 3 == b).toDF("fp", "doc_id")
  // the batch's keys fall in buckets 3 and 5 only
  private val batch = Seq((3L, 1L), (11L, 2L), (5L, 3L)).toDF("fp", "doc_id")

  /** A store holding `rows` in both tiers: batches 0 and 1 folded into
    * one base epoch, batch 2 in the recent tier. */
  private def filled(name: String, idx: String => TieredIndex)
      : (String, TieredIndex) = {
    val dir = tempDir(name)
    val s = idx(dir)
    s.checkLayout(spark)
    s.append(part(0), 0L)
    s.append(part(1), 1L)
    s.maintain(spark, 2L, compactEvery = 2)
    s.append(part(2), 2L)
    assert(s.liveEpochs(spark).size === 1 && s.recentIds(spark) === Seq(2L))
    (dir, s)
  }

  test("probe: a one-bucket store runs no job and reads the whole " +
    "store; a bucketed store runs one job and scans only the files of " +
    "the buckets the batch's keys fall in") {
    val (_, one) = filled("tiered_one", new TieredIndex(_, schema))
    val (probedOne, jobsOne) = jobsOf("probe-one-bucket")(
      one.probe(spark, batch, 3L))
    assert(jobsOne.isEmpty, s"jobs (id, tasks): $jobsOne")
    assert(probedOne.as[(Long, Long)].collect().toSet === rows.toSet)

    val (dir, bucketed) = filled("tiered_bucketed", new TieredIndex(_,
      schema, bucketKey = Some(col("fp")), nBuckets = 8))
    val (probed, jobs) = jobsOf("probe-bucketed")(
      bucketed.probe(spark, batch, 3L))
    assert(jobs.size === 1, s"jobs (id, tasks): $jobs")
    // collected through `probed` itself, so its plan carries the metrics
    assert(probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      rows.filter(r => Set(3L, 5L)(r._1 % 8)).toSet)
    // the scans read exactly the data files under the two buckets' dirs
    // of both tiers
    val scanned = collect(probed.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }
    assert(scanned.size === 2, probed.queryExecution.executedPlan)
    val want = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.count(p => p.toString.endsWith(".parquet") &&
          Set("bucket=3", "bucket=5")(p.getParent.getFileName.toString))
      } finally w.close()
    }
    assert(want >= 4 && scanned.sum === want, s"$scanned vs $want")
  }

  test("checkLayout runs no job, on a fresh store and on an existing one") {
    val dir = tempDir("tiered_meta")
    def store = new TieredIndex(dir, schema, bucketKey = Some(col("fp")),
      nBuckets = 8)
    val (_, fresh) = jobsOf("layout-fresh")(store.checkLayout(spark))
    assert(fresh.isEmpty, s"jobs (id, tasks): $fresh")
    store.append(part(0), 0L)
    val (_, existing) = jobsOf("layout-existing")(store.checkLayout(spark))
    assert(existing.isEmpty, s"jobs (id, tasks): $existing")
  }

  test("checkLayout: a store built with another row schema fails and " +
    "asks for a rebuild") {
    val dir = tempDir("tiered_schema")
    new TieredIndex(dir, schema).checkLayout(spark)
    val err = intercept[IllegalArgumentException](
      new TieredIndex(dir, "fp bigint, doc_id string").checkLayout(spark))
    assert(err.getMessage.contains("row schema") &&
      err.getMessage.contains("Rebuild the store"), err.getMessage)
  }

  test("a J1 store in the older tagged-row layout, with its parquet " +
    "meta, fails at dual-sink start instead of reading its rows as " +
    "per-slide counts") {
    implicit val sql = spark.sqlContext
    val out = tempDir("tiered_j1_tagged")
    val ckpt = tempDir("tiered_j1_tagged_ckpt")
    // what the older build wrote: a parquet meta dir and one batch of
    // (kind, window_start, window_end, platform, n) rows
    Seq(1).toDF("n_buckets").coalesce(1).write.parquet(s"$out/index_meta")
    val ts = java.sql.Timestamp.valueOf("2019-07-16 16:01:00")
    Seq(("window", Some(ts), Some(ts), "PC", 3L, 0),
        ("total", None, None, "PC", 3L, 0))
      .toDF("kind", "window_start", "window_end", "platform", "n", "bucket")
      .write.partitionBy("bucket").parquet(s"$out/chunks/batch_id=0")
    val input = MemoryStream[String]
    val err = intercept[IllegalStateException](RegisterStream.dualSink(
      RegisterStream.parse(input.toDF()), out, ckpt))
    assert(err.getMessage.contains("Rebuild the store"), err.getMessage)
  }
}
