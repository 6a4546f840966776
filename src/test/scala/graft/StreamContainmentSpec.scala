package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamContainment

/** Streaming containment: micro-batches through the delta-store sink
  * accumulate EXACTLY the batch containment join's pairs — each pair
  * surfaces once, in the batch of its later-arriving endpoint — and
  * the stores inherit replay/compaction safety from TieredIndex. */
class StreamContainmentSpec extends SparkTestBase {
  import spark.implicits._

  private val threshold = 0.9
  private val n = 12

  private def batchWant(docs: DataFrame,
      t: Double = threshold): Set[(Long, Long, Double)] =
    Dedup.containmentPairs(docs, threshold = t, n = n)
      .as[(Long, Long, Double)].collect().toSet

  test("N micro-batches equal batch containmentPairs after every " +
    "prefix; replay and compaction are no-ops; loop continues after") {
    implicit val sql = spark.sqlContext
    val dir = tempDir("stream-containment-")

    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val maxId = all.agg(max($"doc_id")).as[Long].head()
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    def rows(d: DataFrame): Seq[(Long, String)] =
      d.as[(Long, String)].collect().toSeq
    val batches = Seq(
      rows(all.filter($"doc_id" <= cut1)),
      rows(all.filter($"doc_id" > cut1 && $"doc_id" <= cut2)),
      rows(all.filter($"doc_id" > cut2)))

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamContainment.sink(dir, threshold, n))
      .option("checkpointLocation",
        tempDir("stream-containment-ckpt-"))
      .start()
    try {
      var closed: Option[DataFrame] = None
      for (batch <- batches) {
        in.addData(batch); q.processAllAvailable()
        closed = Some(closed
          .map(_.unionByName(batch.toDF("doc_id", "text")))
          .getOrElse(batch.toDF("doc_id", "text")))
        val got = StreamContainment.pairs(spark, dir)
          .as[(Long, Long, Double)].collect()
        // exactly-once: the union carries no duplicate pair rows
        assert(got.length === got.distinct.length, "duplicate pairs")
        assert(got.toSet === batchWant(closed.get),
          "pairs after prefix")
      }

      def snapshot(): Set[(Long, Long, Double)] =
        StreamContainment.pairs(spark, dir)
          .as[(Long, Long, Double)].collect().toSet
      val before = snapshot()
      assert(before.nonEmpty, "fixture must produce containment pairs")

      // restart safety: replay the last batch (reversed row order)
      StreamContainment.foldBatch(dir,
        batches.last.reverse.toDF("doc_id", "text"), batchId = 2L,
        threshold = threshold, n = n)
      assert(snapshot() === before, "replay must be a no-op")

      // a foreign directory in a store is skipped, not fatal — even a
      // _SUCCESS-marked one with a non-numeric suffix (batch_id=3.bak)
      new java.io.File(s"$dir/cindex/chunks/batch_id=tmp").mkdirs()
      new java.io.File(s"$dir/pairs/chunks/batch_id=3.bak").mkdirs()
      assert(new java.io.File(s"$dir/pairs/chunks/batch_id=3.bak/_SUCCESS")
        .createNewFile())
      assert(snapshot() === before, "foreign dirs must be ignored")

      // sink-driven fold behind the committed watermark: the frontier
      // batch replays through a compactEvery = 2 sink, whose
      // maintenance folds batches 0 and 1
      val dfBefore = StreamContainment.gramDf(spark, dir)
        .as[(Long, Long)].collect().toSet
      val compactingSink =
        StreamContainment.sink(dir, threshold, n, compactEvery = 2)
      compactingSink(batches.last.reverse.toDF("doc_id", "text"), 2L)
      assert(snapshot() === before, "compaction must not change reads")
      // the aggregated df store survives compaction exactly, and its
      // folded epoch holds one row per gram
      val dfAfter = StreamContainment.gramDf(spark, dir)
        .as[(Long, Long)].collect().toSet
      assert(dfAfter === dfBefore)
      val dfEpochs = new java.io.File(s"$dir/cgramdf/chunks_base")
        .listFiles().filter(_.isDirectory).toSeq
      assert(dfEpochs.size === 1, dfEpochs)
      assert(spark.read.parquet(dfEpochs.head.toString)
        .groupBy("gram").count().filter(col("count") > 1).count() === 0L,
        "a folded df epoch is aggregated")
      compactingSink(batches.last.reverse.toDF("doc_id", "text"), 2L)
      assert(StreamContainment.gramDf(spark, dir)
        .as[(Long, Long)].collect().toSet === dfAfter) // idempotent

      // post-compaction replay of the frontier batch is still a no-op
      StreamContainment.foldBatch(dir,
        batches.last.reverse.toDF("doc_id", "text"), batchId = 2L,
        threshold = threshold, n = n)
      assert(snapshot() === before, "post-compaction replay is a no-op")

      // the loop continues on the compacted store: one more batch of
      // re-keyed docs (guaranteed containment hits vs their originals)
      val extra = all.filter($"doc_id" <= cut1 / 2)
        .withColumn("doc_id", $"doc_id" + 1000000L)
        .as[(Long, String)].collect().toSeq
      StreamContainment.foldBatch(dir, extra.toDF("doc_id", "text"),
        batchId = 3L, threshold = threshold, n = n)
      val closedAll = closed.get
        .unionByName(extra.toDF("doc_id", "text"))
      assert(snapshot() === batchWant(closedAll),
        "post-compaction fold equals the closed-corpus batch join")
    } finally q.stop()
  }

  test("at threshold 1.0 the stream equals containmentPairs at 1.0 " +
    "(exact containment: one-gram probing prefixes)") {
    implicit val sql = spark.sqlContext
    val dir = tempDir("stream-containment-t1-")
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (first, second) = all.splitAt(all.size / 2)
    // re-keyed copies of first-batch docs contain their originals
    // exactly, so the fixture always holds containment-1.0 pairs
    val batches = Seq(first,
      second ++ first.take(20).map { case (id, t) => (id + 1000000L, t) })
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamContainment.sink(dir, 1.0, n))
      .option("checkpointLocation",
        tempDir("stream-containment-t1-ckpt-"))
      .start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      val got = StreamContainment.pairs(spark, dir)
        .as[(Long, Long, Double)].collect().toSet
      assert(got.nonEmpty, "fixture must produce containment-1.0 pairs")
      assert(got === batchWant(batches.flatten.toDF("doc_id", "text"), 1.0))
    } finally q.stop()
  }

  test("a threshold outside (0, 1] is rejected when the sink is built, " +
    "before any query starts") {
    val dir = tempDir("stream-containment-bad-")
    for (t <- Seq(0.0, 1.5))
      intercept[IllegalArgumentException] {
        StreamContainment.sink(dir, threshold = t, n = n)
      }
  }
}
