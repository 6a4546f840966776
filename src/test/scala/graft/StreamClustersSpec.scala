package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.streaming.StreamClusters

/** Streaming cluster maintenance: per-batch near-dup pairs fold into a
  * persisted labels relation; after any prefix of batches the relation
  * equals batch connectedComponents over every pair seen. */
class StreamClustersSpec extends SparkTestBase {
  import spark.implicits._

  test("labels after each batch equal batch CC over the closed pair " +
    "set; replayed batches are idempotent; incomplete generations are " +
    "invisible") {
    implicit val sql = spark.sqlContext
    val dir = tempDir("stream-clusters-")

    val b1 = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val b2 = Seq((11L, 20L), (30L, 31L)) // merges 10s and 20, new 30s
    val b3 = Seq((3L, 30L))              // merges the 1s and 30s

    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("doc_a", "doc_b")
      .writeStream.foreachBatch(StreamClusters.sink(dir))
      .option("checkpointLocation",
        tempDir("stream-clusters-ckpt-"))
      .start()
    try {
      def check(closed: Seq[(Long, Long)]): Unit = {
        val got = StreamClusters.labels(spark, dir)
          .as[(Long, Long)].collect().toSet
        val want = Graph.connectedComponents(closed.toDF("doc_a", "doc_b"))
          .as[(Long, Long)].collect().toSet
        assert(got === want)
      }
      in.addData(b1); q.processAllAvailable(); check(b1)
      in.addData(b2); q.processAllAvailable(); check(b1 ++ b2)
      in.addData(b3); q.processAllAvailable(); check(b1 ++ b2 ++ b3)
      assert(StreamClusters.labels(spark, dir)
        .filter($"node" === 31L).select($"component")
        .as[Long].collect().toSeq === Seq(1L)) // fully merged chain

      // replay: re-fold the LAST batch (reversed row order) — labels
      // must come out identical because the fold rebuilds from the
      // generation strictly below the batch id
      val before = StreamClusters.labels(spark, dir)
        .as[(Long, Long)].collect().toSet
      StreamClusters.foldBatch(dir,
        b3.reverse.toDF("doc_a", "doc_b"), batchId = 2L)
      val after = StreamClusters.labels(spark, dir)
        .as[(Long, Long)].collect().toSet
      assert(after === before)

      // an incomplete generation (no _SUCCESS) is invisible to readers
      val stale = new java.io.File(s"$dir/gen=99")
      stale.mkdirs()
      assert(StreamClusters.labels(spark, dir)
        .as[(Long, Long)].collect().toSet === before)
    } finally q.stop()
  }

  test("old generations prune themselves: after 10 batches at most two " +
    "generations remain, and replaying the last batch is a no-op") {
    implicit val sql = spark.sqlContext
    val dir = tempDir("stream-clusters-prune-")
    // a chain 0-1-2-…-20 grown two edges per batch
    val batches = (0 until 10).map(i =>
      Seq((2L * i, 2L * i + 1), (2L * i + 1, 2L * i + 2)))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamClusters.foldBatch(dir, b.toDF("doc_a", "doc_b"), i.toLong)
    }
    def genDirs: Seq[String] = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName).toSeq.sorted
    assert(genDirs === Seq("gen=8", "gen=9"), genDirs)
    val before = StreamClusters.labels(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(before === (0L to 20L).map(_ -> 0L).toSet)
    StreamClusters.foldBatch(dir,
      batches.last.reverse.toDF("doc_a", "doc_b"), batchId = 9L)
    assert(StreamClusters.labels(spark, dir)
      .as[(Long, Long)].collect().toSet === before)
    assert(genDirs.size <= 2, genDirs)
  }

  test("empty store reads as an empty labels relation with the right " +
    "schema") {
    val dir = tempDir("stream-clusters-empty-")
    val l = StreamClusters.labels(spark, s"$dir/nope")
    assert(l.columns.toSeq === Seq("node", "component"))
    assert(l.count() === 0)
  }
}
