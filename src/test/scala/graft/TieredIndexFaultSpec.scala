package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IvfIndex
import graft.operators.Multimodal.MediaRecord
import graft.sources.Models.QzEvent
import graft.streaming._

/** Fault injection over every streaming route that persists through
  * [[TieredIndex]]: each route's trigger (its `foldBatch`, then every
  * store's `maintain`) is crashed at the three points of the store's
  * commit protocol, the crashed trigger is replayed the way
  * Structured Streaming replays an uncommitted batch, and the route's
  * views must equal a run with no crash:
  *
  *  1. after the batch's store writes, before the checkpoint commit —
  *     the whole trigger runs again;
  *  2. during a fold — the epoch directory is written but its
  *     `_SUCCESS` never lands;
  *  3. after a fold and a merge commit, before cleanup — superseded
  *     epochs and folded recent directories are still on disk.
  *
  * The replayed trigger must sweep every leftover. The routes are the
  * eight delta routes, J1's dual sink, J2's keyed upsert and the IVF
  * index's stream ingest, whose seed index is built before trigger 0
  * and whose stream batch b is store batch b + 1. A second
  * table-driven case runs each real sink for 3 × compactEvery
  * triggers and checks every store stays bounded: at most
  * compactEvery recent batch directories and O(log n) live epochs.
  * The last cases pin the rejection of the layouts older stores left
  * behind. */
class TieredIndexFaultSpec extends SparkTestBase {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  // ---- fixtures ---------------------------------------------------

  private def noise(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")
  // aperiodic passages long enough to carry whole CDC chunks, shared
  // within a batch and with the batch three later; " the " splits a
  // document into paragraphs for the cross-modal route
  private val passages =
    (0 until 3).map(p => (0 until 40).map(k => s"p${p}w$k").mkString(" "))
  private def textBatch(b: Int): Seq[(Long, String)] = {
    val p = passages(b % 3)
    Seq((10L * b + 1, s"${noise(s"a${b}x", 8)} the $p"),
      (10L * b + 2, s"$p the ${noise(s"c${b}x", 8)}"),
      (10L * b + 3, p))
  }
  private def bytes(seed: Int, n: Int): Array[Byte] = {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(256).toByte)
  }
  // whole-file twins within a batch and with the batch three later
  private def mediaBatch(b: Int): Seq[MediaRecord] = Seq(
    MediaRecord(10L * b + 1, "image/fake", bytes(1000 + b, 400), 32, 32, 0L),
    MediaRecord(10L * b + 2, "image/fake", bytes(1000 + b, 400), 32, 32, 0L),
    MediaRecord(10L * b + 3, "image/fake", bytes(b % 3, 400), 32, 32, 0L))
  // footage sharing two frame blocks within a batch and across batches
  private def frames(seeds: Int*): Array[Byte] =
    seeds.toArray.flatMap(s => bytes(s, graft.operators.Multimodal.FrameBytes))
  private def frameBatch(b: Int): Seq[MediaRecord] = Seq(
    MediaRecord(10L * b + 1, "video/fake", frames(500 + b, 600 + b, 700 + b),
      32, 32, 0L),
    MediaRecord(10L * b + 2, "video/fake", frames(500 + b, 600 + b),
      32, 32, 0L),
    MediaRecord(10L * b + 3, "video/fake", frames(b % 3, 10 + b % 3),
      32, 32, 0L))

  private def textDf(b: Int): DataFrame = textBatch(b).toDF("doc_id", "text")

  // ANN: 8-dim vectors around four axis-aligned centres; a 40-vector
  // seed index, four vectors per batch, three fixed queries
  private def vec(id: Long): (Long, Array[Float]) = {
    val r = new scala.util.Random(id)
    (id, Array.tabulate(8)(d =>
      (if (d % 4 == id % 4) 4f else 0f) + r.nextFloat()))
  }
  private def vecBatch(b: Int): Seq[(Long, Array[Float])] =
    (0 until 4).map(i => vec(1000L + 10 * b + i))
  private def vecDf(vs: Seq[(Long, Array[Float])]): DataFrame =
    vs.toDF("vec_id", "embedding")

  // J1: register lines whose windows overlap the next batch's, over
  // all three platforms
  private def registerBatch(b: Int): Seq[String] = (0 until 6).map(i =>
    s"${100 * b + i}\t${1 + (b + i) % 3}\t" +
      f"2019-07-16 16:${b / 2}%02d:${(b % 2) * 30 + i * 4}%02d")
  private def registerDf(b: Int): DataFrame =
    RegisterStream.parse(registerBatch(b).toDF("value"))
  // J2: full-state rows; keys 0..2 recur every third batch, and every
  // batch adds one key of its own
  private def keyedDf(b: Int): DataFrame =
    Seq((b % 3, 10L * b), (b % 3 + 3, 10L * b + 1), (10 + b, 1L))
      .toDF("uid", "v")
  private def qzBatch(b: Int): Seq[QzEvent] = (0 until 6).map(i =>
    QzEvent((b + i) % 4, 1, i % 2, s"${(b * 7 + i) % 30}", s"${i % 2}",
      f"2019-09-12 10:$b%02d:$i%02d"))

  private def runText(n: Int)(start: DataFrame => StreamingQuery): Unit = {
    val in = MemoryStream[(Long, String)]
    val q = start(in.toDF().toDF("doc_id", "text"))
    try (0 until n).foreach { b =>
      in.addData(textBatch(b)); q.processAllAvailable()
    } finally q.stop()
  }
  private def runStream[A: org.apache.spark.sql.Encoder](n: Int,
      batch: Int => Seq[A])(start: Dataset[A] => StreamingQuery): Unit = {
    val in = MemoryStream[A]
    val q = start(in.toDS())
    try (0 until n).foreach { b =>
      in.addData(batch(b)); q.processAllAvailable()
    } finally q.stop()
  }
  private def foreachBatch(docs: DataFrame, ckpt: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    docs.writeStream.foreachBatch(f)
      .option("checkpointLocation", ckpt).start()

  /** One route: its trigger body without maintenance, its stores, its
    * views, and its real sink run for `n` triggers (`compactEvery` is
    * passed to sinks that take it). */
  private case class Route(name: String,
      fold: (String, Long) => Unit,
      stores: String => Seq[TieredIndex],
      views: String => Seq[DataFrame],
      runSink: (String, String, Int, Int) => Unit,
      sinkCompactEvery: Option[Int],
      seed: String => Unit = _ => ())

  private val routes = Seq(
    Route("StreamCorpusLoop",
      (out, b) => StreamCorpusLoop.foldBatch(out, textDf(b.toInt), b),
      StreamCorpusLoop.stores(_),
      out => Seq(StreamCorpusLoop.acceptedIds(spark, out),
        StreamCorpusLoop.hashIndex(spark, out),
        StreamCorpusLoop.fps(spark, out),
        StreamCorpusLoop.labels(spark, out)),
      (out, ckpt, n, ce) => runText(n)(foreachBatch(_, ckpt)(
        StreamCorpusLoop.sink(out, compactEvery = ce))),
      None),
    Route("StreamContainment",
      (out, b) => StreamContainment.foldBatch(out, textDf(b.toInt), b),
      StreamContainment.stores(_),
      out => Seq(StreamContainment.pairs(spark, out),
        StreamContainment.index(spark, out),
        StreamContainment.gramDf(spark, out)),
      (out, ckpt, n, ce) => runText(n)(foreachBatch(_, ckpt)(
        StreamContainment.sink(out, compactEvery = ce))),
      None),
    Route("StreamNearDedup",
      (out, b) => StreamNearDedup.foldBatch(out, textDf(b.toInt), b),
      StreamNearDedup.stores(_),
      out => Seq(StreamNearDedup.pairsView(spark, out),
        StreamNearDedup.keptIdsView(spark, out)),
      (out, ckpt, n, _) => runText(n)(StreamNearDedup.sink(_, out, ckpt)),
      Some(16)),
    Route("StreamSpanDedup",
      (out, b) => StreamSpanDedup.foldBatch(out, textDf(b.toInt), b,
        windowTokens = 8),
      StreamSpanDedup.stores(_),
      out => Seq(StreamSpanDedup.cleanView(spark, out)),
      (out, ckpt, n, _) => runText(n)(StreamSpanDedup.sink(_, out, ckpt,
        windowTokens = 8)),
      Some(16)),
    Route("StreamCdc",
      (out, b) => StreamCdc.foldBatch(out, textDf(b.toInt), b, nBuckets = 4),
      StreamCdc.stores(_, nBuckets = 4),
      out => Seq(StreamCdc.pairsView(spark, out),
        StreamCdc.chunkIndexView(spark, out)),
      (out, ckpt, n, ce) => runText(n)(StreamCdc.sink(_, out, ckpt,
        nBuckets = 4, compactEvery = ce)),
      None),
    Route("StreamMediaDedup",
      (out, b) => StreamMediaDedup.foldBatch(out,
        mediaBatch(b.toInt).toDS(), b, threshold = 0.999, nBuckets = 4),
      StreamMediaDedup.stores(_, nBuckets = 4),
      out => Seq(StreamMediaDedup.pairsView(spark, out),
        StreamMediaDedup.featureIndexView(spark, out)),
      (out, ckpt, n, ce) => runStream(n, mediaBatch)(StreamMediaDedup.sink(_,
        out, ckpt, threshold = 0.999, nBuckets = 4, compactEvery = ce)),
      None),
    Route("StreamFrameOverlap",
      (out, b) => StreamFrameOverlap.foldBatch(out,
        frameBatch(b.toInt).toDS(), b, nBuckets = 4),
      StreamFrameOverlap.stores(_, nBuckets = 4),
      out => Seq(StreamFrameOverlap.pairsView(spark, out),
        StreamFrameOverlap.frameIndexView(spark, out)),
      (out, ckpt, n, ce) => runStream(n, frameBatch)(StreamFrameOverlap.sink(
        _, out, ckpt, nBuckets = 4, compactEvery = ce)),
      None),
    Route("StreamCrossModal",
      (out, b) => StreamCrossModal.foldBatch(out, textDf(b.toInt), b,
        nBuckets = 4),
      StreamCrossModal.stores(_, nBuckets = 4),
      out => Seq(StreamCrossModal.pairsView(spark, out),
        StreamCrossModal.labelsView(spark, out)),
      (out, ckpt, n, ce) => runText(n)(StreamCrossModal.sink(_, out, ckpt,
        nBuckets = 4, compactEvery = ce)),
      None),
    Route("RegisterStream",
      (out, b) => RegisterStream.foldBatch(out, registerDf(b.toInt), b),
      out => Seq(RegisterStream.store(out)),
      out => Seq(RegisterStream.windowedView(spark, out),
        RegisterStream.totalsView(spark, out)),
      (out, ckpt, n, _) => runStream(n, registerBatch)(lines =>
        RegisterStream.dualSink(RegisterStream.parse(lines.toDF()), out,
          ckpt)),
      Some(16)),
    Route("KeyedUpsertSink",
      (out, b) => {
        val rows = keyedDf(b.toInt)
        KeyedUpsertSink.open(spark, out, rows.schema, Seq("uid"))
          .append(rows, b)
      },
      KeyedUpsertSink.stores(spark, _),
      out => Seq(KeyedUpsertSink.read(spark, out)),
      (out, ckpt, n, _) => runStream(n, qzBatch)(
        QzMasteryStream.startDetailSink(_, out, ckpt)),
      Some(16)),
    Route("StreamAnnIngest",
      (out, b) =>
        IvfIndex.append(spark, out, vecDf(vecBatch(b.toInt)), b + 1),
      IvfIndex.open(spark, _).stores,
      out => Seq(IvfIndex.search(spark, out,
          vecDf(Seq(5000L, 5001L, 5002L).map(vec)), k = 5, nProbe = 2),
        IvfIndex.open(spark, out).cellMasses(spark).toSeq.zipWithIndex
          .toDF("n", "cell")),
      (out, ckpt, n, _) => runStream(n, vecBatch)(vs =>
        StreamAnnIngest.sink(vs.toDF("vec_id", "embedding"), out, ckpt)),
      Some(16),
      out => IvfIndex.build(vecDf((0L until 40L).map(vec)), out, nLists = 4)))

  // ---- helpers ----------------------------------------------------

  /** A view as a sorted multiset of JSON rows (duplicates count). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)))
      .as[String].collect().toSeq.sorted

  private val CompactEvery = 2

  private def foldDue(s: TieredIndex, batchId: Long): Boolean = {
    val upto = s.maxUpto(spark)
    s.recentIds(spark).count(b => b > upto && b < batchId) >= CompactEvery
  }

  private def trigger(r: Route, out: String, b: Long): Unit = {
    r.fold(out, b)
    r.stores(out).foreach(_.maintain(spark, b, CompactEvery))
  }

  /** Nothing unreadable is left: every epoch dir is committed and live,
    * and every recent dir lies above the folded range. */
  private def assertSwept(r: Route, out: String, when: String): Unit =
    r.stores(out).foreach { s =>
      val live = s.liveEpochs(spark).map(_.path).toSet
      val leftover = s.epochDirs(spark)
        .filterNot { case (_, _, _, p, committed) => committed && live(p) }
      assert(leftover.isEmpty, s"${r.name} $when: epoch leftovers $leftover")
      val upto = s.maxUpto(spark)
      assert(s.recentIds(spark).forall(_ > upto),
        s"${r.name} $when: recent dirs ${s.recentIds(spark)} ≤ $upto")
    }

  // ---- the cases --------------------------------------------------

  test("every TieredIndex route: a crash after the store writes, during " +
    "a fold, or after a fold/merge commits but before cleanup replays " +
    "to the views of a run with no crash, and the replayed trigger " +
    "sweeps every leftover") {
    val nBatches = 5
    for (r <- routes) {
      // the no-crash reference; the crash run starts from a copy of its
      // first two triggers
      val ref = tempDir(s"fault-ref-${r.name}-")
      r.seed(ref)
      trigger(r, ref, 0L)
      trigger(r, ref, 1L)
      val out = tempDir(s"fault-${r.name}-")
      FileUtils.copyDirectory(new java.io.File(ref), new java.io.File(out))
      (2 until nBatches).foreach(b => trigger(r, ref, b.toLong))
      val want = r.views(ref).map(rowsOf)
      assert(want.exists(_.nonEmpty), s"${r.name}: fixture yields no rows")

      // crash 2, during a fold: the epoch is written, its _SUCCESS is
      // not; Structured Streaming then replays the uncommitted trigger
      r.fold(out, 2L)
      val due2 = r.stores(out).filter(foldDue(_, 2L))
      assert(due2.nonEmpty, s"${r.name}: no fold due at trigger 2")
      due2.foreach { s =>
        s.fold(spark, upTo = 1L)
        val torn = s.epochDirs(spark).maxBy(_._1)._4
        assert(new java.io.File(new java.net.URI(torn).getPath, "_SUCCESS")
          .delete(), s"${r.name}: no _SUCCESS in $torn")
      }
      trigger(r, out, 2L)
      assertSwept(r, out, "after the torn-fold replay")

      // crash 1, after the store writes and maintenance, before the
      // checkpoint commit: the whole trigger replays
      trigger(r, out, 3L)
      trigger(r, out, 3L)
      assertSwept(r, out, "after the trigger replay")

      // crash 3, after a fold and a merge commit, before cleanup:
      // superseded epochs and folded recent dirs are still on disk
      r.fold(out, 4L)
      val due4 = r.stores(out).filter(foldDue(_, 4L))
      assert(due4.nonEmpty, s"${r.name}: no fold due at trigger 4")
      due4.foreach { s =>
        s.fold(spark, upTo = 3L)
        s.mergeOnce(spark)
      }
      assert(due4.exists(s => s.epochDirs(spark).size >
        s.liveEpochs(spark).size), s"${r.name}: no merge committed")
      trigger(r, out, 4L)
      assertSwept(r, out, "after the pre-cleanup replay")
      assert(r.views(out).map(rowsOf) === want, r.name)
    }
  }

  test("every TieredIndex route stays bounded: after 3 × compactEvery " +
    "triggers each store keeps at most compactEvery recent batch dirs " +
    "and O(log n) live epochs, with nothing outside the store layout") {
    for (r <- routes) {
      val ce = r.sinkCompactEvery.getOrElse(CompactEvery)
      val n = 3 * ce
      val out = tempDir(s"bounded-${r.name}-")
      val ckpt = tempDir(s"bounded-ckpt-${r.name}-")
      r.seed(out)
      r.runSink(out, ckpt, n, ce)
      r.stores(out).foreach { s =>
        val recent = s.recentIds(spark)
        val live = s.liveEpochs(spark)
        assert(recent.size <= ce, s"${r.name}: ${recent.size} recent dirs")
        // three folds' worth of batches: a binary counter of ≤ 2 epochs
        assert(live.nonEmpty && live.size <= 2,
          s"${r.name}: ${live.size} live epochs")
        assert(s.epochDirs(spark).size === live.size,
          s"${r.name}: epoch leftovers")
      }
    }
  }

  private def startFails(f: => Unit): Throwable = {
    val e = intercept[Throwable](f)
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("Rebuild the store")), e)
    e
  }

  test("a store root holding delta=/base= children (the old corpus-loop " +
    "layout) fails loudly at sink start and asks for a rebuild") {
    val dir = tempDir("legacy-delta-")
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$dir/accepted/delta=0")
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$dir/accepted/base=1")
    val ckpt = tempDir("legacy-delta-ckpt-")
    startFails(runText(1)(foreachBatch(_, ckpt)(StreamCorpusLoop.sink(dir))))
  }

  test("a store root holding batch_id= children directly (the old " +
    "near-dedup and pairs layout) fails loudly at sink start and asks " +
    "for a rebuild") {
    val out = tempDir("legacy-batchid-")
    Seq((1L, 2L, 0.9, 0L)).toDF("doc_a", "doc_b", "jaccard", "batch_id")
      .write.partitionBy("batch_id").parquet(s"$out/pairs")
    val ckpt = tempDir("legacy-batchid-ckpt-")
    startFails(runText(1)(StreamNearDedup.sink(_, out, ckpt)))
  }

  test("a J1 output dir holding windowed/totals contribution stores (the " +
    "old dual-sink layout) fails loudly at sink start and asks for a " +
    "rebuild") {
    val out = tempDir("legacy-dual-")
    Seq(("PC", 1L, 0L)).toDF("platform", "n", "batch_id")
      .write.partitionBy("batch_id").parquet(s"$out/totals")
    val ckpt = tempDir("legacy-dual-ckpt-")
    startFails(runStream(1, registerBatch)(lines => RegisterStream
      .dualSink(RegisterStream.parse(lines.toDF()), out, ckpt)))
  }

  test("a J2 table holding bucket= children (the old swap-protocol " +
    "layout) fails loudly at sink start and asks for a rebuild") {
    val table = tempDir("legacy-swap-") + "/t"
    Seq((1, 10L, 0)).toDF("uid", "v", "bucket")
      .write.partitionBy("bucket").parquet(table)
    val ckpt = tempDir("legacy-swap-ckpt-")
    startFails(runStream(1, qzBatch)(
      QzMasteryStream.startDetailSink(_, table, ckpt)))
  }
}
