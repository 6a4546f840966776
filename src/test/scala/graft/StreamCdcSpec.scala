package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamCdc

/** Streaming CDC overlap mirrors batch [[Dedup.cdcOverlapPairs]]:
  * after any prefix of micro-batches, [[StreamCdc.pairsView]] equals
  * the batch pass over the union of those batches (within- and
  * cross-batch pairs, each emitted exactly once), replays are
  * idempotent, the boilerplate cap's streaming deviation is one-sided
  * exactly as documented, and the accumulated chunk index is the
  * relation the batch delta route consumes. */
class StreamCdcSpec extends SparkTestBase {
  import spark.implicits._

  // APERIODIC shared spans long enough to carry whole CDC chunks: a
  // periodic span has ~period distinct windows and may legitimately
  // produce no interior boundary (the CdcSpec fixture discipline)
  private val sharedA = (0 until 60).map(k => s"shared$k").mkString(" ")
  private val sharedB = (0 until 60).map(k => s"other$k").mkString(" ")
  private def noise(seed: String, n: Int): String =
    (0 until n).map(i => seed + i).mkString(" ")

  private type Pair = (Long, Long, Long, Long)

  private def batchPairs(docs: Seq[(Long, String)]): Set[Pair] =
    Dedup.cdcOverlapPairs(docs.toDF("doc_id", "text"))
      .as[Pair].collect().toSet

  test("pairsView across micro-batches equals batch cdcOverlapPairs " +
    "on the union — within- and cross-batch pairs, each exactly once") {
    implicit val sql = spark.sqlContext
    val batches = Seq(
      Seq((1L, noise("alpha", 20) + " " + sharedA + " " + noise("omega", 20)),
        (2L, noise("gamma", 33) + " " + sharedA + " " + noise("delta", 11))),
      Seq((3L, noise("beta", 8) + " " + sharedA + " " + noise("kappa", 15)),
        (4L, sharedB + " " + noise("mu", 5))),
      Seq((5L, noise("nu", 7) + " " + sharedB),
        (6L, noise("unrelated", 25))))
    val out = tempDir("cdc_stream_out")
    val ckpt = tempDir("cdc_stream_ckpt")

    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out, ckpt)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = StreamCdc.pairsView(spark, out)
      .as[Pair].collect().toSet
    val batch = batchPairs(batches.flatten)
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // pairs within AND across batches were found
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 3L))
    assert(streamed.exists(p => p._1 == 4L && p._2 == 5L))
    // and no pair was emitted twice across batch partitions
    val raw = StreamCdc.pairsView(spark, out)
      .groupBy("doc_a", "doc_b").count()
      .filter(col("count") > 1).count()
    assert(raw === 0L)
  }

  test("replayed batches overwrite their own contribution " +
    "(idempotent): a second run over the same data changes nothing") {
    implicit val sql = spark.sqlContext
    val b1 = Seq((1L, noise("a", 10) + " " + sharedA),
      (2L, sharedA + " " + noise("b", 10)))
    val b2 = Seq((3L, noise("c", 6) + " " + sharedA + " " + noise("d", 6)))
    val out = tempDir("cdc_replay_out")

    def run(): Unit = {
      val ckpt = tempDir("cdc_replay_ckpt")
      val in = MemoryStream[(Long, String)]
      val q = StreamCdc.sink(in.toDF().toDF("doc_id", "text"), out, ckpt)
      try {
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable()
      } finally q.stop()
    }
    run()
    val before = StreamCdc.pairsView(spark, out).as[Pair].collect().toSet
    val idxBefore = StreamCdc.chunkIndexView(spark, out)
      .as[(Long, Int, Long)].collect().toSet
    run() // fresh checkpoint, same batches, same outDir
    assert(StreamCdc.pairsView(spark, out)
      .as[Pair].collect().toSet === before)
    assert(StreamCdc.chunkIndexView(spark, out)
      .as[(Long, Int, Long)].collect().toSet === idxBefore)
    assert(before === batchPairs(b1 ++ b2))
    assert(before.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("restart from checkpoint: a resumed query continues the batch " +
    "sequence without duplicating committed work, and the final views " +
    "still equal the batch law on the union") {
    implicit val sql = spark.sqlContext
    val b1 = Seq((1L, noise("e", 9) + " " + sharedA),
      (2L, sharedA + " " + noise("f", 9)))
    val b2 = Seq((3L, noise("g", 5) + " " + sharedA + " " + noise("h", 5)),
      (4L, noise("solo", 30)))
    val out = tempDir("cdc_restart_out")
    val ckpt = tempDir("cdc_restart_ckpt")

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q1 = StreamCdc.sink(docs, out, ckpt)
    input.addData(b1)
    q1.processAllAvailable(); q1.stop()

    // resume from the SAME checkpoint: committed batch 0 must not
    // re-emit; the new batch probes the index built before the stop
    val q2 = StreamCdc.sink(docs, out, ckpt)
    input.addData(b2)
    q2.processAllAvailable(); q2.stop()

    val streamed = StreamCdc.pairsView(spark, out)
      .as[Pair].collect().toSet
    assert(streamed === batchPairs(b1 ++ b2))
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L)) // pre-stop
    assert(streamed.exists(p => p._1 == 1L && p._2 == 3L)) // post-resume
    // no pair emitted twice across batch partitions
    assert(StreamCdc.pairsView(spark, out)
      .groupBy("doc_a", "doc_b").count()
      .filter(col("count") > 1).count() === 0L)
    // the chunk index carries each doc's keys exactly once
    assert(spark.read.parquet(s"$out/chunks")
      .groupBy("fp", "len", "doc_id").count()
      .filter(col("count") > 1).count() === 0L)
  }

  test("boilerplate cap at emission time is ONE-SIDED vs the batch " +
    "run: a chunk under the cap when its pair was emitted may cross " +
    "it later (stream keeps, batch drops), and an over-cap chunk " +
    "never pairs in the stream") {
    implicit val sql = spark.sqlContext
    val docs1 = Seq((1L, noise("p", 5) + " " + sharedA),
      (2L, sharedA + " " + noise("q", 5)))
    val docs2 = Seq((3L, noise("r", 5) + " " + sharedA + " " +
      noise("s", 5)))
    val out = tempDir("cdc_cap_out")
    val ckpt = tempDir("cdc_cap_ckpt")

    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out,
      ckpt, maxDocsPerChunk = 2)
    try {
      input.addData(docs1); q.processAllAvailable()
      input.addData(docs2); q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamCdc.pairsView(spark, out)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // at batch 1, sharedA chunks sit at frequency 2 == cap: (1,2) emits;
    // at batch 2, frequency 3 > cap: nothing touching doc 3 emits
    assert(streamed === Set((1L, 2L)))
    // the final batch run sees frequency 3 everywhere and drops ALL
    // sharedA pairs — stream ⊇ batch, never the reverse
    val batch = Dedup.cdcOverlapPairs(
        (docs1 ++ docs2).toDF("doc_id", "text"), maxDocsPerChunk = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(batch === Set.empty[(Long, Long)])
  }

  test("chunkIndexView IS the batch cdcChunkIndex relation: the batch " +
    "delta route probes the stream-built index unchanged") {
    implicit val sql = spark.sqlContext
    val corpus = Seq((1L, noise("a", 12) + " " + sharedA),
      (2L, sharedB + " " + noise("b", 12)))
    val out = tempDir("cdc_idx_out")
    val ckpt = tempDir("cdc_idx_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out, ckpt)
    try {
      input.addData(corpus); q.processAllAvailable()
    } finally q.stop()

    val streamIdx = StreamCdc.chunkIndexView(spark, out)
    val batchIdx = Dedup.cdcChunkIndex(corpus.toDF("doc_id", "text"))
    assert(streamIdx.as[(Long, Int, Long)].collect().toSet ===
      batchIdx.as[(Long, Int, Long)].collect().toSet)

    val delta = Seq((10L, noise("z", 4) + " " + sharedA + " " +
      noise("y", 4))).toDF("doc_id", "text")
    val viaStream = Dedup.cdcOverlapDelta(delta, streamIdx)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaBatch = Dedup.cdcOverlapDelta(delta, batchIdx)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaStream === viaBatch)
    assert(viaStream.exists(p => p._1 == 10L && p._2 == 1L))
  }

  test("compaction folds recent batch dirs into size-tiered base " +
    "epochs WITHOUT changing either view: pairsView still equals the " +
    "batch law across MULTI-epoch folds, chunkIndexView still equals " +
    "batch cdcChunkIndex, folded batch_id dirs are gone, and the live " +
    "epochs partition the folded range disjointly") {
    implicit val sql = spark.sqlContext
    val batches = (0 until 8).map { i =>
      Seq((2L * i + 1, noise(s"a$i", 10) + " " + sharedA),
        (2L * i + 2, sharedB + " " + noise(s"b$i", 10)))
    }
    val out = tempDir("cdc_compact_out")
    val ckpt = tempDir("cdc_compact_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out,
      ckpt, nBuckets = 4, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val all = batches.flatten
    assert(StreamCdc.pairsView(spark, out).as[Pair].collect().toSet ===
      batchPairs(all))
    assert(StreamCdc.chunkIndexView(spark, out)
      .as[(Long, Int, Long)].collect().toSet ===
      Dedup.cdcChunkIndex(all.toDF("doc_id", "text"))
        .as[(Long, Int, Long)].collect().toSet)
    // the base tier is size-tiered: with compactEvery=2 over 8
    // batches, folds at b2/b4/b6 and merges leave [0,3] (merged at
    // b4) and [4,5] (folded at b6, too small to merge into [0,3]) —
    // TWO live epochs whose ranges are disjoint and contiguous, so
    // the multi-epoch probe path is exercised, and the small-files
    // curve is bounded
    val Dir = """e\d+_from(\d+)_upto(\d+)""".r
    val baseDirs = new java.io.File(s"$out/chunks_base").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(baseDirs.forall(_.matches("e\\d+_from\\d+_upto\\d+")),
      baseDirs)
    val ranges = baseDirs.collect { case Dir(m, n) =>
      (m.toLong, n.toLong) }.sorted
    assert(ranges === Seq((0L, 3L), (4L, 5L)), baseDirs)
    val upto = ranges.map(_._2).max
    val recentDirs = new java.io.File(s"$out/chunks").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong).toSeq
    assert(recentDirs.forall(_ > upto), s"$recentDirs vs upto=$upto")
    assert(recentDirs.size < 8, recentDirs)
  }

  test("LSM discipline: a fold reads only the recent dirs it folds " +
    "and a merge only the two epochs it merges — the big base epoch " +
    "is NEVER rewritten until its own doubling point") {
    import graft.streaming.TieredIndex
    val out = tempDir("cdc_lsm_out")
    val idx = new TieredIndex(out, "fp bigint, len int, doc_id bigint",
      bucketKey = Some(col("fp")), nBuckets = 4)
    idx.checkLayout(spark)
    def append(b: Long): Unit =
      idx.append(Seq((b * 10 + 1, 30, b), (b * 10 + 2, 40, b))
        .toDF("fp", "len", "doc_id"), b)
    def baseNames = new java.io.File(s"$out/chunks_base").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    def keysVisible = idx.corpusKeys(spark, Long.MaxValue, None)
      .as[(Long, Int, Long)].collect().toSet

    // batches 0..3 with compactEvery=2: fold [0,1], fold [2,3],
    // merge -> one epoch [0,3]
    (0L to 3L).foreach { b => append(b); idx.maintain(spark, b, 2) }
    append(4L); idx.maintain(spark, 4L, 2) // fold of {2,3} + merge ran
    val afterMerge = baseNames
    val big = afterMerge.find(_.endsWith("_from0_upto3"))
    assert(big.isDefined, afterMerge)

    // two more batches -> fold [4,5]; merge condition size 2 >= 4 is
    // FALSE, so the [0,3] epoch dir must be byte-identical (same
    // name, never rewritten) — the fold read only the dirs it folded
    append(5L); idx.maintain(spark, 5L, 2)
    append(6L); idx.maintain(spark, 6L, 2)
    assert(baseNames.contains(big.get), baseNames)
    assert(baseNames.exists(_.endsWith("_from4_upto5")), baseNames)
    // nothing lost across the multi-tier layout
    assert(keysVisible ===
      (0L to 6L).flatMap(b => Seq((b * 10 + 1, 30, b),
        (b * 10 + 2, 40, b))).toSet)

    // two more -> fold [6,7]; merge [4,5]+[6,7] -> [4,7]; the [0,3]
    // epoch is STILL untouched (the merge read only the tiers it
    // merged); one more maintenance call then reaches the doubling
    // point and merges [0,3]+[4,7] -> [0,7]
    append(7L); idx.maintain(spark, 7L, 2)
    append(8L); idx.maintain(spark, 8L, 2)
    assert(baseNames.contains(big.get), baseNames)
    assert(baseNames.exists(_.endsWith("_from4_upto7")), baseNames)
    idx.maintain(spark, 8L, 2)
    assert(baseNames.exists(_.endsWith("_from0_upto7")), baseNames)
    assert(!baseNames.contains(big.get), baseNames)
    assert(keysVisible ===
      (0L to 8L).flatMap(b => Seq((b * 10 + 1, 30, b),
        (b * 10 + 2, 40, b))).toSet)
  }

  test("the legacy FLAT layout (batch dirs without bucket= children, " +
    "no meta) is rejected loudly at sink start instead of silently " +
    "dropping every legacy posting from pruned probes") {
    implicit val sql = spark.sqlContext
    val out = tempDir("cdc_flat_out")
    // plant a flat-layout index: batch_id partitions, no bucket dirs,
    // no meta — what the pre-bucket StreamCdc wrote
    Seq((1L, 30, 1L, 0L)).toDF("fp", "len", "doc_id", "batch_id")
      .write.partitionBy("batch_id").parquet(s"$out/chunks")
    val ckpt = tempDir("cdc_flat_ckpt")
    val in = MemoryStream[(Long, String)]
    val err = intercept[IllegalStateException] {
      StreamCdc.sink(in.toDF().toDF("doc_id", "text"), out, ckpt)
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(m => m.contains("legacy") ||
        m.contains("FLAT")) || mentions(t.getCause))
    assert(mentions(err), err)
  }

  test("a torn bucket-count meta (unreadable dir) fails with a clear " +
    "corruption error, not a schema-inference mystery") {
    import graft.streaming.TieredIndex
    val out = tempDir("cdc_meta_out")
    // an older build wrote the meta as a parquet dir; a crash between
    // its creation and the parquet commit left it empty
    assert(new java.io.File(s"$out/index_meta").mkdirs())
    val idx = new TieredIndex(out, "fp bigint, len int, doc_id bigint",
      bucketKey = Some(col("fp")), nBuckets = 8)
    val err = intercept[IllegalStateException] {
      idx.checkLayout(spark)
    }
    assert(err.getMessage.contains("older build") &&
      err.getMessage.contains("Rebuild the store"), err.getMessage)
  }

  test("restart from checkpoint AFTER a compaction: the resumed query " +
    "probes the folded base tier and the views still equal the batch " +
    "law on the union") {
    implicit val sql = spark.sqlContext
    val pre = (0 until 4).map { i =>
      Seq((2L * i + 1, noise(s"c$i", 9) + " " + sharedA),
        (2L * i + 2, sharedB + " " + noise(s"d$i", 9)))
    }
    val post = Seq((100L, noise("z", 4) + " " + sharedA + " " +
      noise("y", 4)))
    val out = tempDir("cdc_compres_out")
    val ckpt = tempDir("cdc_compres_ckpt")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q1 = StreamCdc.sink(docs, out, ckpt, nBuckets = 4,
      compactEvery = 2)
    pre.foreach { b => input.addData(b); q1.processAllAvailable() }
    q1.stop()
    assert(new java.io.File(s"$out/chunks_base").isDirectory)

    val q2 = StreamCdc.sink(docs, out, ckpt, nBuckets = 4,
      compactEvery = 2)
    input.addData(post)
    q2.processAllAvailable(); q2.stop()

    val union = pre.flatten ++ post
    assert(StreamCdc.pairsView(spark, out).as[Pair].collect().toSet ===
      batchPairs(union))
    // the post-restart doc paired against pre-compaction corpus docs
    assert(StreamCdc.pairsView(spark, out).as[Pair].collect()
      .exists(p => p._2 == 100L))
  }

  test("the per-batch probe is PARTITION-PRUNED: both index tiers are " +
    "read through bucket PartitionFilters, so only directories that " +
    "can hold a matching fingerprint are scanned") {
    implicit val sql = spark.sqlContext
    val batches = (0 until 4).map { i =>
      Seq((2L * i + 1, noise(s"e$i", 10) + " " + sharedA),
        (2L * i + 2, sharedB + " " + noise(s"f$i", 10)))
    }
    val out = tempDir("cdc_prune_out")
    val ckpt = tempDir("cdc_prune_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out,
      ckpt, nBuckets = 8, compactEvery = 2)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    // the probe relation a later batch would read, pruned to one bucket
    val index = StreamCdc.index(out, nBuckets = 8)
    val probe = index.corpusKeys(spark, batchId = 100L,
      buckets = Some(Seq(3)))
    val p = probe.queryExecution.executedPlan.toString
    val scans = p.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    assert(scans.nonEmpty, p)
    // every index scan prunes on the bucket partition column
    assert(scans.forall(l =>
      l.substring(l.indexOf("PartitionFilters:")).takeWhile(_ != ']')
        .contains("bucket")), p)
    // and the pruned probe agrees with the unpruned view on that bucket
    val full = index.corpusKeys(spark, batchId = 100L,
        buckets = None)
      .filter(pmod(col("fp"), lit(8)).cast("int") === 3)
    assert(probe.as[(Long, Int, Long)].collect().toSet ===
      full.as[(Long, Int, Long)].collect().toSet)
  }

  test("the bucket modulus is immutable per outDir: a sink with a " +
    "different nBuckets fails loudly instead of silently mis-pruning") {
    implicit val sql = spark.sqlContext
    val docs = Seq((1L, noise("i", 10) + " " + sharedA))
    val out = tempDir("cdc_nb_out")
    val ck1 = tempDir("cdc_nb_ck1")
    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out, ck1,
      nBuckets = 8)
    try { input.addData(docs); q.processAllAvailable() } finally q.stop()

    val ck2 = tempDir("cdc_nb_ck2")
    val in2 = MemoryStream[(Long, String)]
    val err = intercept[IllegalArgumentException] {
      StreamCdc.sink(in2.toDF().toDF("doc_id", "text"), out, ck2,
        nBuckets = 16)
    }
    assert(err.getMessage.contains("nBuckets") ||
      Option(err.getCause).exists(_.getMessage.contains("nBuckets")), err)
  }

  test("a torn compaction write (no _SUCCESS) is invisible: readers " +
    "pick the highest COMMITTED epoch only") {
    implicit val sql = spark.sqlContext
    val docs = Seq((1L, noise("g", 10) + " " + sharedA),
      (2L, sharedA + " " + noise("h", 10)))
    val out = tempDir("cdc_torn_out")
    val ckpt = tempDir("cdc_torn_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out, ckpt)
    try { input.addData(docs); q.processAllAvailable() } finally q.stop()
    val before = StreamCdc.chunkIndexView(spark, out)
      .as[(Long, Int, Long)].collect().toSet

    // plant a torn epoch: parquet data, _SUCCESS removed
    spark.range(1).select(lit(99L).as("fp"), lit(1).as("len"),
        lit(999L).as("doc_id"), lit(0).as("bucket"))
      .write.partitionBy("bucket")
      .parquet(s"$out/chunks_base/e7_from0_upto0")
    assert(new java.io.File(s"$out/chunks_base/e7_from0_upto0/_SUCCESS")
      .delete())

    assert(StreamCdc.chunkIndexView(spark, out)
      .as[(Long, Int, Long)].collect().toSet === before)
  }

  test("cap crossing mid-stream, batch-nonempty case: pairs the batch " +
    "run KEEPS are never missed by the stream; the stream's extras " +
    "are exactly pairs whose chunk crossed the cap after emission") {
    implicit val sql = spark.sqlContext
    // sharedA crosses cap=2 at batch 3; sharedB never does
    val b1 = Seq((1L, noise("p", 5) + " " + sharedA),
      (2L, sharedA + " " + noise("q", 5)))
    val b2 = Seq((3L, noise("r", 5) + " " + sharedB),
      (4L, sharedB + " " + noise("s", 5)))
    val b3 = Seq((5L, noise("t", 5) + " " + sharedA + " " + noise("u", 5)))
    val out = tempDir("cdc_cross_out")
    val ckpt = tempDir("cdc_cross_ckpt")
    val input = MemoryStream[(Long, String)]
    val q = StreamCdc.sink(input.toDF().toDF("doc_id", "text"), out,
      ckpt, maxDocsPerChunk = 2)
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = StreamCdc.pairsView(spark, out)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val batch = Dedup.cdcOverlapPairs(
        (b1 ++ b2 ++ b3).toDF("doc_id", "text"), maxDocsPerChunk = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the batch run keeps (3,4) — sharedB stays under the cap — and
    // drops every sharedA pair (frequency 3 > 2 at the end)
    assert(batch === Set((3L, 4L)))
    // one-sided: stream ⊇ batch, and the extras are only the sharedA
    // pair emitted while its chunks were still under the cap
    assert(streamed === Set((1L, 2L), (3L, 4L)))
    assert(batch.subsetOf(streamed))
  }
}
