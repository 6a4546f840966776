package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.StreamCrossModal

/** Streaming cross-modal clustering mirrors batch
  * [[Multimodal.crossModalComponents]]: after any prefix of
  * micro-batches, [[StreamCrossModal.labelsView]] EQUALS the batch
  * pass over the union PROVIDED no paragraph key crossed the df cap
  * after its edges were emitted; a crossing deviates one-sided only
  * (the stream's clusters can be coarser, never finer). Replays are
  * idempotent and both index probes are bucket partition-pruned. */
class StreamCrossModalSpec extends SparkTestBase {
  import spark.implicits._

  /** Group text: 40-char paragraph + " the " + 56-char paragraph,
    * 'a'-cycle rotated by `seed` — the bridging-test generator. */
  private val N = 101
  private val sampledOf = (n: Int) =>
    (0 until 16).map(j => (j * 31) % n).toSet
  private def groupText(seed: Int): String = {
    val a = Array.tabulate(N)(i => ('a' + ((i + seed) % 26)).toChar)
    " the ".zipWithIndex.foreach { case (c, i) => a(40 + i) = c }
    new String(a)
  }
  /** A media near-dup of `t`: one char flipped in EACH paragraph at
    * an unsampled offset — no shared normalized paragraph, identical
    * feature vector (cosine 1). */
  private def mediaTwin(t: String): String = {
    val s = sampledOf(t.length)
    val a = t.toCharArray
    val f1 = (0 until 40).find(i => !s.contains(i)).get
    val f2 = (45 until t.length).find(i => !s.contains(i)).get
    a(f1) = 'Z'; a(f2) = 'Z'
    new String(a)
  }
  /** A text companion of `t`: shares t's FIRST paragraph, carries a
    * unique digit tail (never a media candidate — every feature chunk
    * samples the differing tail). */
  private def textTwin(t: String, tail: String): String =
    t.substring(0, 40) + " the " + tail

  private type Lbl = (Long, Long)

  private def batchLabels(docs: Seq[(Long, String)],
      maxParaDf: Int = 16): Set[Lbl] =
    Multimodal.crossModalComponents(docs.toDF("doc_id", "text"),
        maxParaDf = maxParaDf)
      .as[Lbl].collect().toSet

  test("labelsView across micro-batches (with folds) equals batch " +
    "crossModalComponents on the union — text and media edges, " +
    "within- and cross-batch, bridged into shared clusters") {
    implicit val sql = spark.sqlContext
    val t1 = groupText(0)
    val t4 = groupText(7)
    val batches = Seq(
      Seq((1L, t1), (2L, textTwin(t1, "0123456789" * 3))),
      Seq((3L, mediaTwin(t1))),            // media cross to batch 0
      Seq((4L, t4)),
      Seq((5L, textTwin(t4, "9876543210" * 3))), // text cross
      Seq((6L, mediaTwin(t4))),            // media cross over a fold
      Seq((7L, groupText(13))))            // singleton — never labeled
    val out = tempDir("xmodal_stream_out")
    val ckpt = tempDir("xmodal_stream_ckpt")

    val input = MemoryStream[(Long, String)]
    val q = StreamCrossModal.sink(input.toDF().toDF("doc_id", "text"),
      out, ckpt, nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = StreamCrossModal.labelsView(spark, out)
      .as[Lbl].collect().toSet
    assert(streamed === batchLabels(batches.flatten))
    assert(streamed === Set((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)))
    // both modalities genuinely contribute edges
    val modalities = StreamCrossModal.pairsView(spark, out)
      .select("modality").distinct().as[String].collect().toSet
    assert(modalities === Set("text", "media"))
    // the text index folded (bounded small-files curve)
    assert(new java.io.File(s"$out/text/chunks_base").isDirectory)
  }

  test("df-cap crossing is ONE-SIDED: a paragraph key crossing " +
    "maxParaDf after its edges were emitted leaves the cluster in " +
    "place (batch recompute drops it), never the reverse") {
    implicit val sql = spark.sqlContext
    val t = groupText(3)
    // three docs sharing t's first paragraph, digit tails of distinct
    // lengths (no media candidates anywhere)
    val d1 = (1L, textTwin(t, "0" * 21))
    val d2 = (2L, textTwin(t, "1" * 23))
    val d3 = (3L, textTwin(t, "2" * 25))
    val out = tempDir("xmodal_cap_out")
    val ckpt = tempDir("xmodal_cap_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCrossModal.sink(input.toDF().toDF("doc_id", "text"),
      out, ckpt, maxParaDf = 2, nBuckets = 8)
    try {
      input.addData(Seq(d1, d2)); q.processAllAvailable()
      input.addData(Seq(d3)); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamCrossModal.labelsView(spark, out)
      .as[Lbl].collect().toSet
    val recompute = batchLabels(Seq(d1, d2, d3), maxParaDf = 2)
    assert(recompute === Set.empty[Lbl]) // df 3 > cap 2: all dropped
    assert(streamed === Set((1L, 1L), (2L, 1L))) // kept, not lost
  }

  test("replayed batches overwrite their own contribution " +
    "(idempotent): a second run over the same data changes nothing") {
    implicit val sql = spark.sqlContext
    val t = groupText(5)
    val b1 = Seq((1L, t), (2L, textTwin(t, "3" * 25)))
    val b2 = Seq((3L, mediaTwin(t)))
    val out = tempDir("xmodal_replay_out")

    def run(): Unit = {
      val ckpt = tempDir("xmodal_replay_ck")
      val in = MemoryStream[(Long, String)]
      val q = StreamCrossModal.sink(in.toDF().toDF("doc_id", "text"),
        out, ckpt, nBuckets = 8)
      try {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      } finally q.stop()
    }
    run()
    val before = StreamCrossModal.labelsView(spark, out)
      .as[Lbl].collect().toSet
    run() // fresh checkpoint, same batches, same outDir
    assert(StreamCrossModal.labelsView(spark, out)
      .as[Lbl].collect().toSet === before)
    assert(before === batchLabels(b1 ++ b2))
    assert(before === Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("both per-batch index probes are PARTITION-PRUNED through " +
    "bucket PartitionFilters") {
    implicit val sql = spark.sqlContext
    val batches = (0 until 4).map { i =>
      val t = groupText(17 + i)
      Seq((2L * i + 1, t), (2L * i + 2, mediaTwin(t)))
    }
    val out = tempDir("xmodal_prune_out")
    val ckpt = tempDir("xmodal_prune_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCrossModal.sink(input.toDF().toDF("doc_id", "text"),
      out, ckpt, nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    // each index with its own key: the paragraph hash, the chunk key
    Seq(
      (StreamCrossModal.textIndex(out, nBuckets = 8),
        pmod(col("h"), lit(8)).cast("int"), Seq("doc_id", "h")),
      (StreamCrossModal.mediaIndex(out, nBuckets = 8),
        pmod(hash(col("j"), col("k1"), col("k2"), col("k3"), col("k4")),
          lit(8)).cast("int"), Seq("media_id", "j"))).foreach {
      case (index, bucket, ids) =>
      val probe = index.corpusKeys(spark, batchId = 100L,
        buckets = Some(Seq(3)))
      val p = probe.queryExecution.executedPlan.toString
      val scans = p.linesIterator
        .filter(_.contains("FileScan parquet")).toSeq
      assert(scans.nonEmpty, p)
      assert(scans.forall(l =>
        l.substring(l.indexOf("PartitionFilters:")).takeWhile(_ != ']')
          .contains("bucket")), p)
      // and the pruned probe agrees with the unpruned view on that
      // bucket, recomputed here from the key
      val full = index.corpusKeys(spark, batchId = 100L, buckets = None)
        .filter(bucket === 3)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(ids.map(col): _*).collect().map(_.toSeq).toSet
      assert(rows(full).nonEmpty, ids)
      assert(rows(probe) === rows(full), ids)
    }
  }
}
