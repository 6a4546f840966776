package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord
import graft.streaming.StreamMediaDedup

/** Streaming perceptual media dedup mirrors batch
  * [[Multimodal.nearDupPairs]]: after any prefix of micro-batches,
  * [[StreamMediaDedup.pairsView]] EQUALS the batch pass over the
  * union (within- and cross-batch pairs, each emitted exactly once —
  * no cap proviso, the law is exact), replays are idempotent,
  * restarts resume against the folded index, and every index probe
  * is bucket partition-pruned. */
class StreamMediaDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def payload(seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(400)(r.nextInt(256).toByte)
  }
  private def rec(id: Long, seed: Int): MediaRecord =
    MediaRecord(id, "image/fake", payload(seed), 32, 32, 0L)

  private type Pair = (Long, Long, Double)

  private def batchPairs(media: Seq[MediaRecord]): Set[Pair] =
    Multimodal.nearDupPairs(media.toDS(), threshold = 0.999)
      .as[Pair].collect().toSet

  test("pairsView across micro-batches (with folds) equals batch " +
    "nearDupPairs on the union — within- and cross-batch pairs, each " +
    "exactly once") {
    implicit val sql = spark.sqlContext
    // seeds reused across batches create cross-batch dups; 6 batches
    // with compactEvery=2 exercise fold + size-tiered merge mid-run
    val batches = Seq(
      Seq(rec(1L, 10), rec(2L, 10), rec(3L, 30)), // within-batch (1,2)
      Seq(rec(4L, 30), rec(5L, 50)),              // cross-batch (3,4)
      Seq(rec(6L, 60), rec(7L, 61)),
      Seq(rec(8L, 10)),                           // cross to batch 0
      Seq(rec(9L, 90)),
      Seq(rec(10L, 50)))                          // cross to batch 1
    val out = tempDir("media_stream_out")
    val ckpt = tempDir("media_stream_ckpt")

    val input = MemoryStream[MediaRecord]
    val q = StreamMediaDedup.sink(input.toDS(), out, ckpt,
      threshold = 0.999, nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = StreamMediaDedup.pairsView(spark, out)
      .as[Pair].collect().toSet
    assert(streamed === batchPairs(batches.flatten))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L)) // within
    assert(streamed.exists(p => p._1 == 3L && p._2 == 4L)) // cross
    assert(streamed.exists(p => p._2 == 8L))  // cross over a fold
    assert(streamed.exists(p => p._2 == 10L)) // cross over a merge
    // no pair emitted twice across batch partitions
    assert(StreamMediaDedup.pairsView(spark, out)
      .groupBy("media_a", "media_b").count()
      .filter(col("count") > 1).count() === 0L)
    // the base tier folded (bounded small-files curve)
    assert(new java.io.File(s"$out/chunks_base").isDirectory)
  }

  test("replayed batches overwrite their own contribution " +
    "(idempotent): a second run over the same data changes nothing") {
    implicit val sql = spark.sqlContext
    val b1 = Seq(rec(1L, 10), rec(2L, 10))
    val b2 = Seq(rec(3L, 10), rec(4L, 40))
    val out = tempDir("media_replay_out")

    def run(): Unit = {
      val ckpt = tempDir("media_replay_ckpt")
      val in = MemoryStream[MediaRecord]
      val q = StreamMediaDedup.sink(in.toDS(), out, ckpt,
        threshold = 0.999, nBuckets = 8)
      try {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      } finally q.stop()
    }
    run()
    val before = StreamMediaDedup.pairsView(spark, out)
      .as[Pair].collect().toSet
    val idxBefore = StreamMediaDedup.featureIndexView(spark, out)
      .select("media_id", "j").as[(Long, Int)].collect().toSet
    run() // fresh checkpoint, same batches, same outDir
    assert(StreamMediaDedup.pairsView(spark, out)
      .as[Pair].collect().toSet === before)
    assert(StreamMediaDedup.featureIndexView(spark, out)
      .select("media_id", "j").as[(Long, Int)].collect().toSet ===
      idxBefore)
    assert(before === batchPairs(b1 ++ b2))
    assert(before.exists(p => p._1 == 1L && p._2 == 3L)) // cross
  }

  test("restart from checkpoint AFTER a fold: the resumed query " +
    "probes the folded base tier; the view still equals the batch " +
    "law, and the index view is the batch nearDupIndex relation " +
    "(consumable by nearDupDelta)") {
    implicit val sql = spark.sqlContext
    val pre = (0 until 4).map(i => Seq(rec(i.toLong, 10 + i)))
    val post = Seq(rec(100L, 10)) // dups batch-0's payload
    val out = tempDir("media_restart_out")
    val ckpt = tempDir("media_restart_ckpt")
    val input = MemoryStream[MediaRecord]
    val q1 = StreamMediaDedup.sink(input.toDS(), out, ckpt,
      threshold = 0.999, nBuckets = 8, compactEvery = 2)
    pre.foreach { b => input.addData(b); q1.processAllAvailable() }
    q1.stop()
    assert(new java.io.File(s"$out/chunks_base").isDirectory)

    val q2 = StreamMediaDedup.sink(input.toDS(), out, ckpt,
      threshold = 0.999, nBuckets = 8, compactEvery = 2)
    input.addData(post)
    q2.processAllAvailable(); q2.stop()

    val union = pre.flatten ++ post
    assert(StreamMediaDedup.pairsView(spark, out)
      .as[Pair].collect().toSet === batchPairs(union))
    assert(StreamMediaDedup.pairsView(spark, out).as[Pair].collect()
      .exists(p => p._1 == 0L && p._2 == 100L)) // post-restart pair
    // the index view IS the batch relation — the delta route consumes
    // the stream-built index unchanged
    val streamIdx = StreamMediaDedup.featureIndexView(spark, out)
    val batchIdx = Multimodal.nearDupIndex(union.toDS())
    assert(streamIdx.select("media_id", "j", "k1")
      .as[(Long, Int, Float)].collect().toSet ===
      batchIdx.select("media_id", "j", "k1")
        .as[(Long, Int, Float)].collect().toSet)
    val delta = Seq(rec(200L, 11)).toDS() // dups batch-1's payload
    val viaStream = Multimodal.nearDupDelta(delta, streamIdx,
      threshold = 0.999).as[Pair].collect().toSet
    val viaBatch = Multimodal.nearDupDelta(delta, batchIdx,
      threshold = 0.999).as[Pair].collect().toSet
    assert(viaStream === viaBatch)
    assert(viaStream.exists(p => p._1 == 200L && p._2 == 1L))
  }

  test("the per-batch probe is PARTITION-PRUNED: both index tiers are " +
    "read through bucket PartitionFilters") {
    implicit val sql = spark.sqlContext
    val batches = (0 until 4).map(i =>
      Seq(rec(2L * i, 10 + i), rec(2L * i + 1, 40 + i)))
    val out = tempDir("media_prune_out")
    val ckpt = tempDir("media_prune_ckpt")
    val input = MemoryStream[MediaRecord]
    val q = StreamMediaDedup.sink(input.toDS(), out, ckpt,
      threshold = 0.999, nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val index = StreamMediaDedup.index(out, nBuckets = 8)
    val probe = index.corpusKeys(spark, batchId = 100L,
      buckets = Some(Seq(3)))
    val p = probe.queryExecution.executedPlan.toString
    val scans = p.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty, p)
    assert(scans.forall(l =>
      l.substring(l.indexOf("PartitionFilters:")).takeWhile(_ != ']')
        .contains("bucket")), p)
    // and the pruned probe agrees with the unpruned view on that bucket
    val full = index.corpusKeys(spark, batchId = 100L,
        buckets = None)
      .filter(pmod(hash(col("j"), col("k1"), col("k2"), col("k3"),
        col("k4")), lit(8)).cast("int") === 3)
    assert(probe.select("media_id", "j").as[(Long, Int)]
      .collect().toSet ===
      full.select("media_id", "j").as[(Long, Int)].collect().toSet)
  }
}
