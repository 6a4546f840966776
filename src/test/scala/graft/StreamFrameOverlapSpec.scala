package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRecord
import graft.streaming.StreamFrameOverlap

/** Streaming frame-level overlap mirrors batch
  * [[Multimodal.frameOverlapPairs]]: after any prefix of
  * micro-batches, [[StreamFrameOverlap.pairsView]] EQUALS the batch
  * pass over the union PROVIDED no frame key crossed the boilerplate
  * cap after a pair sharing it was emitted; a crossing deviates
  * one-sided only (the stream never misses a pair the batch run
  * keeps). Replays are idempotent and every index probe is bucket
  * partition-pruned. */
class StreamFrameOverlapSpec extends SparkTestBase {
  import spark.implicits._

  /** One deterministic 256-byte frame block per seed. */
  private def block(seed: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(Multimodal.FrameBytes)(r.nextInt(256).toByte)
  }
  /** Media whose footage is the given frame blocks, concatenated. */
  private def rec(id: Long, seeds: Int*): MediaRecord =
    MediaRecord(id, "video/fake", seeds.toArray.flatMap(block),
      32, 32, 0L)

  private type Pair = (Long, Long, Long)

  private def batchPairs(media: Seq[MediaRecord],
      cap: Int = 64): Set[Pair] =
    Multimodal.frameOverlapPairs(media.toDS(), minSharedFrames = 2,
        maxMediaPerFrame = cap)
      .as[Pair].collect().toSet

  test("pairsView across micro-batches (with folds) equals batch " +
    "frameOverlapPairs on the union — within- and cross-batch pairs, " +
    "each exactly once, shared frames counted distinct-once") {
    implicit val sql = spark.sqlContext
    // media sharing >= 2 frame blocks pair; 6 batches with
    // compactEvery=2 exercise fold + size-tiered merge mid-run
    val batches = Seq(
      Seq(rec(1L, 10, 11, 12), rec(2L, 10, 11, 90), rec(3L, 30, 31)),
      Seq(rec(4L, 30, 31, 40)),             // cross-batch (3,4)
      Seq(rec(5L, 50, 51), rec(6L, 60, 61)),
      Seq(rec(7L, 10, 11)),                 // cross to batch 0
      Seq(rec(8L, 80, 81)),
      Seq(rec(9L, 50, 51, 50)))             // cross; repeated block
    val out = tempDir("frame_stream_out")
    val ckpt = tempDir("frame_stream_ckpt")

    val input = MemoryStream[MediaRecord]
    val q = StreamFrameOverlap.sink(input.toDS(), out, ckpt,
      nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = StreamFrameOverlap.pairsView(spark, out)
      .as[Pair].collect().toSet
    assert(streamed === batchPairs(batches.flatten))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L)) // within
    assert(streamed.exists(p => p._1 == 3L && p._2 == 4L)) // cross
    assert(streamed.exists(p => p._2 == 7L))  // cross over a fold
    // media 9 repeats block 50 — counts once toward (5, 9)
    assert(streamed.contains((5L, 9L, 2L)))
    // no pair emitted twice across batch partitions
    assert(StreamFrameOverlap.pairsView(spark, out)
      .groupBy("media_a", "media_b").count()
      .filter(col("count") > 1).count() === 0L)
    // the base tier folded (bounded small-files curve)
    assert(new java.io.File(s"$out/chunks_base").isDirectory)
  }

  test("cap-crossing is ONE-SIDED: a frame key crossing " +
    "maxMediaPerFrame after emission leaves already-emitted pairs in " +
    "place (batch recompute drops them), and the stream never misses " +
    "a pair the batch run keeps") {
    implicit val sql = spark.sqlContext
    // batch 0: media 1,2 share blocks {10,11} (each key at freq 2 =
    // cap) -> pair (1,2) emitted. batch 1: media 3 repeats the same
    // blocks -> union freq 3 > cap=2, so a full recompute drops both
    // keys and ALL pairs; the stream keeps (1,2) and emits nothing new
    val b0 = Seq(rec(1L, 10, 11), rec(2L, 10, 11))
    val b1 = Seq(rec(3L, 10, 11))
    val out = tempDir("frame_cap_out")
    val ckpt = tempDir("frame_cap_ckpt")
    val input = MemoryStream[MediaRecord]
    val q = StreamFrameOverlap.sink(input.toDS(), out, ckpt,
      maxMediaPerFrame = 2, nBuckets = 8)
    try {
      input.addData(b0); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamFrameOverlap.pairsView(spark, out)
      .as[Pair].collect().toSet
    val recompute = batchPairs(b0 ++ b1, cap = 2)
    assert(recompute === Set.empty[Pair]) // the keys crossed the cap
    assert(streamed === Set((1L, 2L, 2L))) // one-sided: kept, not lost
    assert(recompute.subsetOf(streamed))
  }

  test("replayed batches overwrite their own contribution " +
    "(idempotent), and the index view feeds the batch delta route " +
    "unchanged") {
    implicit val sql = spark.sqlContext
    val b1 = Seq(rec(1L, 10, 11), rec(2L, 10, 11, 20))
    val b2 = Seq(rec(3L, 10, 11), rec(4L, 40, 41))
    val out = tempDir("frame_replay_out")

    def run(): Unit = {
      val ckpt = tempDir("frame_replay_ckpt")
      val in = MemoryStream[MediaRecord]
      val q = StreamFrameOverlap.sink(in.toDS(), out, ckpt, nBuckets = 8)
      try {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      } finally q.stop()
    }
    run()
    val before = StreamFrameOverlap.pairsView(spark, out)
      .as[Pair].collect().toSet
    run() // fresh checkpoint, same batches, same outDir
    assert(StreamFrameOverlap.pairsView(spark, out)
      .as[Pair].collect().toSet === before)
    assert(before === batchPairs(b1 ++ b2))
    assert(before.exists(p => p._1 == 1L && p._2 == 3L)) // cross

    // the stream-built index IS the batch frameIndex relation, so
    // frameOverlapDelta consumes it unchanged
    val streamIdx = StreamFrameOverlap.frameIndexView(spark, out)
    val batchIdx = Multimodal.frameIndex((b1 ++ b2).toDS())
    assert(streamIdx.select(col("media_id"), hash(col("fk")))
      .as[(Long, Int)].collect().toSet ===
      batchIdx.select(col("media_id"), hash(col("fk")))
        .as[(Long, Int)].collect().toSet)
    val delta = Seq(rec(200L, 40, 41)).toDS()
    assert(Multimodal.frameOverlapDelta(delta, streamIdx)
      .as[Pair].collect().toSet ===
      Multimodal.frameOverlapDelta(delta, batchIdx)
        .as[Pair].collect().toSet)
  }

  test("the per-batch probe is PARTITION-PRUNED: both index tiers are " +
    "read through bucket PartitionFilters") {
    implicit val sql = spark.sqlContext
    val batches = (0 until 4).map(i =>
      Seq(rec(2L * i, 10 + i, 20 + i), rec(2L * i + 1, 40 + i, 50 + i)))
    val out = tempDir("frame_prune_out")
    val ckpt = tempDir("frame_prune_ckpt")
    val input = MemoryStream[MediaRecord]
    val q = StreamFrameOverlap.sink(input.toDS(), out, ckpt,
      nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val index = StreamFrameOverlap.index(out, nBuckets = 8)
    val probe = index.corpusKeys(spark,
      batchId = 100L, buckets = Some(Seq(3)))
    val p = probe.queryExecution.executedPlan.toString
    val scans = p.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty, p)
    assert(scans.forall(l =>
      l.substring(l.indexOf("PartitionFilters:")).takeWhile(_ != ']')
        .contains("bucket")), p)
    // and the pruned probe agrees with the unpruned view on that bucket
    val full = index.corpusKeys(spark,
        batchId = 100L, buckets = None)
      .filter(pmod(hash(col("fk")), lit(8)).cast("int") === 3)
    assert(probe.select(col("media_id"), hash(col("fk")))
      .as[(Long, Int)].collect().toSet ===
      full.select(col("media_id"), hash(col("fk")))
        .as[(Long, Int)].collect().toSet)
  }
}
