package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.shared

  /** `body`'s result and the Spark jobs it ran, as (job id, tasks run). */
  def jobsOf[T](group: String)(body: => T): (T, Seq[(Int, Int)]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val result = try body finally sc.clearJobGroup()
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
    (result, cur)
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
      // (RocksDB, same as Engine.session) — not the default in-memory
      // HDFSBackedStateStore that masks native-lib/serialization issues
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
