package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, Multimodal}
import graft.operators.Multimodal.MediaRecord

/** The batch ≡ union-of-increments law of the five key-banded pair
  * families (SimHash, MinHash LSH, CDC overlap, media near-dup, frame
  * overlap), which all run [[Dedup.postingPairs]]: on a seeded corpus
  * split into three batches, the batch route over the whole corpus
  * equals the union of each batch's increment against the batches
  * before it, and the kernel emits no (pair, key) row twice — its
  * increments' rows are, as a multiset, the batch kernel's rows.
  *
  * The two capped families get a boilerplate key held by more than
  * the cap already inside the first batch, and every other shared key
  * stays within the cap over the whole corpus: no key's count crosses
  * the cap between batches, the one case where an increment may keep a
  * pair the batch route drops (see [[Dedup.cdcOverlapIncrement]]). */
class PostingPairsSpec extends SparkTestBase {
  import spark.implicits._

  private val Cap = 4

  // ---- text fixture: 45 docs, batches of 15 ----------------------

  private val textDocs: Seq[(Long, String)] = {
    val r = new Random(7)
    def words(n: Int, tag: String) =
      Seq.fill(n)(s"$tag${r.nextInt(5000)}").mkString(" ")
    val base = (1 to 45).map(i => i.toLong -> words(30, "w")).toMap
    val boiler = words(40, "b")
    val passages = (0 until 6).map(k => words(40, s"p$k"))
    // passage k's documents: each shared key stays ≤ Cap over the corpus
    val holders = Seq(Seq(6, 20), Seq(7, 8), Seq(21, 36), Seq(9, 22, 37),
      Seq(35, 40), Seq(10, 23, 38, 41))
    // boilerplate: over the cap inside the first batch already
    val boilerDocs = Set(1, 2, 3, 4, 5, 33, 34)
    // (original, copy) pairs within and across batches: one-word edits
    // and exact copies
    val edits = Map(13 -> 12, 24 -> 14, 39 -> 25, 42 -> 26, 44 -> 43,
      45 -> 15)
    val copies = Map(27 -> 16, 29 -> 28)
    (1 to 45).map { i =>
      val id = i.toLong
      val own = edits.get(i).map { o =>
        val ws = base(o.toLong).split(" "); ws(9) = "edited"
        ws.mkString(" ")
      }.orElse(copies.get(i).map(o => base(o.toLong))).getOrElse(base(id))
      val extra = holders.zipWithIndex.collect {
        case (ds, k) if ds.contains(i) => passages(k)
      } ++ (if (boilerDocs(i)) Seq(boiler) else Nil)
      id -> (own +: extra).mkString(" ")
    }
  }

  // ---- media fixture: 30 three-frame media, batches of 10 ---------

  private val media: Seq[MediaRecord] = {
    def frame(seed: Int): Array[Byte] = {
      val r = new Random(seed)
      Array.fill(Multimodal.FrameBytes)(r.nextInt(256).toByte)
    }
    val shared = Map(1 -> 0, 12 -> 0, 2 -> 1, 3 -> 1, 13 -> 2, 24 -> 2,
      4 -> 3, 14 -> 3, 25 -> 3)
    val boilerMedia = Set(5, 6, 7, 8, 9, 26, 27)
    val twins = Map(19 -> 10, 16 -> 15, 30 -> 20)
    def payload(i: Int): Array[Byte] =
      twins.get(i).map(payload).getOrElse(
        frame(1000 + 10 * i) ++
          shared.get(i).map(k => frame(500 + k)).getOrElse(frame(1001 + 10 * i)) ++
          (if (boilerMedia(i)) frame(999) else frame(1002 + 10 * i)))
    (1 to 30).map(i =>
      MediaRecord(i.toLong, "video/fake", payload(i), 32, 32, 0L))
  }

  // ---- the families -----------------------------------------------

  /** A family: its batch inputs, the per-batch index relation its
    * increment takes, the batch route and the increment, and the
    * kernel arguments over postings derived from the index. */
  private case class Family(name: String, batches: Seq[DataFrame],
      index: DataFrame => DataFrame,
      route: DataFrame => DataFrame,
      increment: (DataFrame, DataFrame) => DataFrame,
      postings: DataFrame => DataFrame, id: String, keys: Seq[String],
      carried: Seq[String] = Nil, cap: Option[Int] = None)

  private def textBatches: Seq[DataFrame] = textDocs.grouped(15).toSeq
    .map(_.toDF("doc_id", "text"))
  private def mediaBatches: Seq[DataFrame] = media.grouped(10).toSeq
    .map(_.toDF())
  private def asMedia(df: DataFrame) = df.as[MediaRecord]

  private val families = Seq(
    Family("simhash", textBatches, Dedup.simhash(_),
      Dedup.simhashPairs(_, maxHamming = 3),
      Dedup.simhashPairsDeltaFps(_, _, maxHamming = 3),
      Dedup.toChunks(_, 4, 3, "PostingPairsSpec"), "id",
      Seq("chunk", "ck"), carried = Seq("simhash")),
    Family("minhash", textBatches, Dedup.signatureTable(_),
      Dedup.minhashLsh(_, threshold = 0.5),
      Dedup.minhashLshDeltaSigs(_, _, threshold = 0.5),
      Dedup.bandRows, "id", Seq("band", "bh")),
    Family("cdc", textBatches, Dedup.cdcChunkIndex(_),
      Dedup.cdcOverlapPairs(_, maxDocsPerChunk = Cap),
      Dedup.cdcOverlapIncrement(_, _, maxDocsPerChunk = Cap),
      identity, "doc_id", Seq("fp", "len"), cap = Some(Cap)),
    Family("nearDup", mediaBatches,
      df => Multimodal.nearDupIndex(asMedia(df)),
      df => Multimodal.nearDupPairs(asMedia(df), threshold = 0.999),
      Multimodal.nearDupIncrement(_, _, threshold = 0.999),
      _.drop("v"), "media_id", Seq("j", "k1", "k2", "k3", "k4")),
    Family("frame", mediaBatches,
      df => Multimodal.frameIndex(asMedia(df)),
      df => Multimodal.frameOverlapPairs(asMedia(df), minSharedFrames = 1,
        maxMediaPerFrame = Cap),
      Multimodal.frameOverlapIncrement(_, _, minSharedFrames = 1,
        maxMediaPerFrame = Cap),
      identity, "media_id", Seq("fk"), cap = Some(Cap)))

  /** Rows as sorted JSON strings (duplicates kept). */
  private def rowsOf(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  test("each key-banded family: the batch route over the corpus equals " +
    "the union of its increments over three batches, and the kernel " +
    "emits each (pair, key) once") {
    for (f <- families) {
      val idx = f.batches.map(b => f.index(b).cache())
      val before = idx.indices.map(i =>
        idx.take(i).reduceOption(_ unionByName _).getOrElse(idx.head.limit(0)))

      val want = rowsOf(f.route(f.batches.reduce(_ unionByName _)))
      assert(want.nonEmpty, s"${f.name}: the fixture plants no pairs")
      val got = idx.indices.flatMap(i => rowsOf(f.increment(idx(i), before(i))))
      assert(got.sorted === want, s"${f.name}: union of increments")

      def kernel(probe: DataFrame, corpus: Option[DataFrame]) =
        rowsOf(Dedup.postingPairs(f.postings(probe), corpus.map(f.postings),
          f.id, f.keys, f.carried, f.cap))
      val perBatch = idx.indices.map(i => kernel(idx(i), Some(before(i))))
      perBatch.zipWithIndex.foreach { case (rows, i) =>
        assert(rows.distinct.size === rows.size,
          s"${f.name}: batch $i emits a (pair, key) row twice")
      }
      assert(perBatch.flatten.sorted ===
        kernel(idx.reduce(_ unionByName _), None),
        s"${f.name}: kernel rows of the increments vs the batch kernel")
      idx.foreach(_.unpersist())
    }
  }
}
