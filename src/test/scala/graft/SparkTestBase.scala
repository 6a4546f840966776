package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{KMeans, Similarity}

/** One shared local session per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.shared

  /** `body`'s result and the Spark jobs it ran, as (job id, tasks run). */
  def jobsOf[T](group: String)(body: => T): (T, Seq[(Int, Int)]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val result = try body finally sc.clearJobGroup()
    (result, settledJobs(group))
  }

  /** The jobs a running streaming query ran during `body`, as in
    * [[jobsOf]]: its micro-batches run in the query's own job group,
    * its run id. */
  def queryJobsOf(q: StreamingQuery)(body: => Unit): Seq[(Int, Int)] = {
    val group = q.runId.toString
    val before = settledJobs(group).map(_._1).toSet
    body
    settledJobs(group).filterNot(j => before(j._1))
  }

  /** The jobs of `group` as (job id, tasks run), once stable. */
  private def settledJobs(group: String): Seq[(Int, Int)] = {
    val sc = spark.sparkContext
    // the status store is fed asynchronously — poll until stable
    def snapshot(): Seq[(Int, Int)] =
      sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted.map { j =>
        j -> sc.statusTracker.getJobInfo(j).toSeq
          .flatMap(_.stageIds.toSeq)
          .flatMap(sc.statusTracker.getStageInfo(_))
          .map(_.numCompletedTasks).sum
      }
    var prev = Seq.empty[(Int, Int)]
    var cur = snapshot()
    var waited = 0
    while (cur != prev && waited < 5000) {
      prev = cur; Thread.sleep(250); waited += 250; cur = snapshot()
    }
    cur
  }

  def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteDir)
    f.delete(): Unit
  }

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A fresh temp dir named `prefix…`, deleted when the running test
    * ends, however it ends. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d)
    d.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally
      while (!tempDirs.isEmpty) Option(tempDirs.poll()).foreach(deleteDir)

  /** The frozen-quantizer reference of the IVF laws: the quantizer in
    * `centroids` (a [[Similarity.ivfCentroids]] relation) assigns
    * `corpus` inline, and the shared search kernel probes it — what
    * an index built with that quantizer must return, row for row. */
  def frozenIvfTopK(centroids: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val centers = KMeans.collectCentroids(centroids)
      .map(_.map(_ / KMeans.Scale).toArray).toArray
    val lists = Similarity.assign(
      Similarity.vectors(corpus, "vec_id", "embedding"), centers, None,
      "frozenIvfTopK")
    Similarity.probeTopK(queries, centers, None, _ => lists, Array.empty,
      k, nProbe, nProbeMax = 0, probeMass = 0.0, rerank = 0, "vec_id",
      "embedding", "frozenIvfTopK")
  }
}

object SparkTestBase {
  lazy val shared: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // run all streaming specs against the production state store
      // (RocksDB with changelog commits, as Engine.session) — not the
      // default in-memory HDFSBackedStateStore that masks
      // native-lib/serialization issues
      .config(Engine.stateStore)
      // and against the production local filesystem
      .config(Engine.localFs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
