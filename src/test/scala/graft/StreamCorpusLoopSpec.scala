package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}
import graft.streaming.StreamCorpusLoop

/** The incremental corpus loop as ONE foreachBatch stream: micro-batches
  * maintain the content-hash index, the fingerprint relation, and the
  * cluster labels; after every prefix each artifact equals its batch
  * recompute over the closed corpus (the streaming composition of
  * IncrementalLoopSpec), and replaying a batch changes nothing.
  */
class StreamCorpusLoopSpec extends SparkTestBase {
  import spark.implicits._

  test("N micro-batches through the loop equal the batch recompute " +
    "after every prefix; replayed batches are idempotent") {
    implicit val sql = spark.sqlContext
    val dir = tempDir("stream-corpus-loop-")

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
      .writeStream.foreachBatch(StreamCorpusLoop.sink(dir))
      .option("checkpointLocation",
        tempDir("stream-corpus-loop-ckpt-"))
      .start()
    try {
      var closed: Option[DataFrame] = None
      for (batch <- batches) {
        in.addData(batch); q.processAllAvailable()
        closed = Some(closed
          .map(_.unionByName(batch.toDF("doc_id", "text")))
          .getOrElse(batch.toDF("doc_id", "text")))
        val c = closed.get.persist()

        // 1. accepted ids ≡ batch exact-dedup survivors
        val got = StreamCorpusLoop.acceptedIds(spark, dir)
          .as[Long].collect().toSet
        val want = Dedup.exact(c).select($"keep_id")
          .as[Long].collect().toSet
        assert(got === want, "accepted ids")

        // hash index ≡ distinct content hashes of the closed corpus
        assert(StreamCorpusLoop.hashIndex(spark, dir).count() ===
          Dedup.hashIndex(c).count(), "hash index")

        // 2. fingerprint relation ≡ batch simhash over the closed corpus
        val gotFps = StreamCorpusLoop.fps(spark, dir)
          .as[(Long, Long)].collect().toSet
        val wantFps = Dedup.simhash(c, poly = true)
          .as[(Long, Long)].collect().toSet
        assert(gotFps === wantFps, "fingerprints")

        // 3. labels ≡ batch CC over the closed pair set
        val gotLbl = StreamCorpusLoop.labels(spark, dir)
          .as[(Long, Long)].collect().toSet
        val wantLbl = Graph.connectedComponents(
          Dedup.simhashPairs(c, maxHamming = 3, poly = true))
          .as[(Long, Long)].collect().toSet
        assert(gotLbl === wantLbl, "labels")
        c.unpersist()
      }

      // restart safety: replay the LAST batch (reversed row order) —
      // every store rebuilds from bases strictly below the batch id and
      // overwrites its own delta, so nothing changes
      def snapshot(): (Set[Long], Set[(Long, Long)], Set[(Long, Long)]) = (
        StreamCorpusLoop.acceptedIds(spark, dir).as[Long].collect().toSet,
        StreamCorpusLoop.fps(spark, dir)
          .as[(Long, Long)].collect().toSet,
        StreamCorpusLoop.labels(spark, dir)
          .as[(Long, Long)].collect().toSet)
      val before = snapshot()
      StreamCorpusLoop.foldBatch(dir,
        batches.last.reverse.toDF("doc_id", "text"), batchId = 2L)
      assert(snapshot() === before, "replay must be a no-op")

      // a half-written fold (epoch dir, no _SUCCESS) is invisible to
      // readers
      new java.io.File(s"$dir/hash/chunks_base/e99_from0_upto99").mkdirs()
      new java.io.File(s"$dir/accepted/chunks_base/e99_from0_upto99")
        .mkdirs()
      assert(snapshot() === before, "incomplete folds must be invisible")

      // sink-driven fold behind the committed watermark (last committed
      // = 2): the frontier batch replays through a compactEvery = 2
      // sink, whose maintenance folds batches 0 and 1 — readers see
      // identical content, the folded batch dirs are gone
      val compactingSink = StreamCorpusLoop.sink(dir, compactEvery = 2)
      compactingSink(batches.last.reverse.toDF("doc_id", "text"), 2L)
      assert(snapshot() === before, "compaction must not change reads")
      def deltaIds(sub: String): Set[Long] = {
        val d = new java.io.File(s"$dir/$sub/chunks")
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("batch_id="))
          .map(_.getName.stripPrefix("batch_id=").toLong).toSet
      }
      assert(deltaIds("hash").filter(_ < 2L).isEmpty, "deltas pruned")
      assert(deltaIds("fps").filter(_ < 2L).isEmpty)
      // a replay of the frontier batch reads the folded epoch + nothing
      // and rebuilds identically
      StreamCorpusLoop.foldBatch(dir,
        batches.last.reverse.toDF("doc_id", "text"), batchId = 2L)
      assert(snapshot() === before, "post-compaction replay is a no-op")
      // compaction is idempotent
      compactingSink(batches.last.reverse.toDF("doc_id", "text"), 2L)
      assert(snapshot() === before)

      // the loop continues on the compacted store: one more batch,
      // still ≡ the closed-corpus batch recompute
      val extra = all.filter($"doc_id" <= cut1 / 2)
        .withColumn("doc_id", $"doc_id" + 1000000L)
        .as[(Long, String)].collect().toSeq
      StreamCorpusLoop.foldBatch(dir, extra.toDF("doc_id", "text"),
        batchId = 3L)
      val closedAll = closed.get.unionByName(extra.toDF("doc_id", "text"))
        .persist()
      assert(StreamCorpusLoop.acceptedIds(spark, dir)
        .as[Long].collect().toSet ===
        Dedup.exact(closedAll).select($"keep_id").as[Long].collect().toSet,
        "post-compaction fold: accepted")
      assert(StreamCorpusLoop.labels(spark, dir)
        .as[(Long, Long)].collect().toSet ===
        Graph.connectedComponents(
          Dedup.simhashPairs(closedAll, maxHamming = 3, poly = true))
          .as[(Long, Long)].collect().toSet,
        "post-compaction fold: labels")
      closedAll.unpersist()

      assert(before._1.nonEmpty && before._3.nonEmpty,
        "fixture must exercise dedup and clustering paths")
    } finally q.stop()
  }

  test("automatic compaction cadence: ~30 micro-batches with " +
    "compactEvery=5 keep the store's directory count bounded and the " +
    "artifacts equal to the batch recompute") {
    implicit val sql = spark.sqlContext
    val dir = tempDir("stream-corpus-auto-")
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val nBatches = 30
    val slices = all.grouped(
      math.max(1, (all.size + nBatches - 1) / nBatches)).toSeq

    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamCorpusLoop.sink(dir, compactEvery = 5))
      .option("checkpointLocation",
        tempDir("stream-corpus-auto-ckpt-"))
      .start()
    try {
      for (s <- slices) { in.addData(s); q.processAllAvailable() }
      def dirCount(sub: String): Int = Seq("chunks", "chunks_base")
        .map(t => Option(new java.io.File(s"$dir/$sub/$t").listFiles())
          .getOrElse(Array.empty).count(_.isDirectory)).sum
      // compaction fired mid-stream: per-store directory count stays
      // bounded by the recent batch dirs since the last fold plus the
      // live epochs, never ~30 (one per batch)
      for (sub <- Seq("hash", "fps", "accepted")) {
        assert(dirCount(sub) <= 7,
          s"$sub: ${dirCount(sub)} dirs — compaction cadence not firing")
      }
      // and the compacted loop is still CORRECT: artifacts equal the
      // closed-corpus batch recompute
      val closed = all.toDF("doc_id", "text").persist()
      assert(StreamCorpusLoop.acceptedIds(spark, dir)
        .as[Long].collect().toSet ===
        Dedup.exact(closed).select($"keep_id").as[Long].collect().toSet)
      assert(StreamCorpusLoop.fps(spark, dir)
        .as[(Long, Long)].collect().toSet ===
        Dedup.simhash(closed, poly = true)
          .as[(Long, Long)].collect().toSet)
      assert(StreamCorpusLoop.labels(spark, dir)
        .as[(Long, Long)].collect().toSet ===
        Graph.connectedComponents(
          Dedup.simhashPairs(closed, maxHamming = 3, poly = true))
          .as[(Long, Long)].collect().toSet)
      closed.unpersist()
    } finally q.stop()
  }
}
