package graft

import org.apache.spark.sql.functions._

import graft.functions.{MisraGriesTokens, TextAnalysis}
import graft.operators.Vocab

class VocabSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenizer routes agree on whitespace edges") {
    val docs = Seq("foo\n", "  a  b ", "", "   ", "x", null)
      .toDF("text")
    val exploded = Vocab.tokens(docs, col("text")).count()
    val counted = docs.agg(
      sum(TextAnalysis.tokenCount(col("text")))).as[Long].head()
    assert(exploded === counted)
    assert(exploded === 4L) // foo, a, b, x
  }

  test("bigrams: doc-local adjacency, short docs emit nothing, " +
    "counts match a driver-side reference") {
    val docs = Seq("a b c a b", "b c", "solo", "", "  ", null)
      .toDF("text").repartition(3)
    val got = Vocab.bigramCounts(docs, col("text"))
      .as[(String, String, Long)].collect().toSet
    // reference: per-doc sliding pairs
    val want = Seq("a b c a b", "b c").flatMap { t =>
      t.split("\\s+").filter(_.nonEmpty).sliding(2).map(p => (p(0), p(1)))
    }.groupBy(identity).view.mapValues(_.size.toLong)
      .map { case ((a, b), n) => (a, b, n) }.toSet
    assert(got === want)
    // cross-document adjacency never forms: ("b","solo") etc. absent
    assert(!got.exists(_._2 == "solo"))
    // top-k prefix is the deterministic (n desc, t1, t2) order
    val top = Vocab.topBigrams(docs, col("text"), 2)
      .as[(String, String, Long)].collect().toSeq
    assert(top === Seq(("a", "b", 2L), ("b", "c", 2L)))
  }

  test("bigramCoverage: occurrence-weighted known fraction, minDf " +
    "counts distinct docs, short docs get null coverage") {
    val docs = Seq(
      (1L, "a b c"),       // bigrams: (a,b) df2, (b,c) df1 → 1/2 known
      (2L, "a b a b"),     // (a,b)×2 df2, (b,a) df1 → 2/3 known
      (3L, "solo"),        // no bigrams → null coverage
      (4L, "x y")          // (x,y) df1 → 0/1 known
    ).toDF("doc_id", "text")
    val got = Vocab.bigramCoverage(docs, col("text"), minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((3L, 2L, 2.0 / 3.0)))
    assert(got(3L) === ((0L, 0L, null)))
    assert(got(4L) === ((1L, 0L, 0.0)))
    // minDf honours DISTINCT docs: (a,b) twice within doc 2 alone
    // would not qualify at minDf = 2 without doc 1
    val solo = Vocab.bigramCoverage(
      Seq((2L, "a b a b")).toDF("doc_id", "text"), col("text"), minDf = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(solo === ((3L, 0L)))
  }

  test("bigramLift: lift is observed/expected under independence; " +
    "minCount gates; deterministic order") {
    // corpus: "a b" ×4, "a c" ×1, filler "z z" ×5
    // tokens: a=5, b=4, c=1, z=10 → N=20
    // lift(a,b) = 4·20/(5·4) = 4.0; (z,z) = 5·20/100 = 1.0
    val docs = (Seq.fill(4)("a b") ++ Seq("a c") ++ Seq.fill(5)("z z"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Vocab.bigramLift(docs, col("text"), minCount = 2, k = 10)
      .as[(String, String, Long, Double)].collect().toList
    assert(got === List(("a", "b", 4L, 4.0), ("z", "z", 5L, 1.0)))
    // minCount = 5 removes (a,b)
    val gated = Vocab.bigramLift(docs, col("text"), minCount = 5, k = 10)
      .as[(String, String, Long, Double)].collect().toList
    assert(gated === List(("z", "z", 5L, 1.0)))
  }

  private def refMergeGreedy(s: Vector[String], l: String, r: String,
      sep: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var j = 0
    while (j < s.length) {
      if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
        b += (l + sep + r); j += 2
      } else { b += s(j); j += 1 }
    }
    b.result()
  }

  /** Independent single-machine BPE trainer: overlapping pair counts,
    * argmax by (count desc, left, right), greedy-leftmost merge. */
  private def refBpe(texts: Seq[String], n: Int, minCount: Long,
      sep: String): Seq[(Long, String, String, Long)] = {
    var seqs = texts.filter(_ != null)
      .map(_.split("\\s+").filter(_.nonEmpty).toVector)
      .filter(_.length >= 2)
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var i = 0
    var stop = false
    while (i < n && !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for (s <- seqs; j <- 0 until s.length - 1)
        counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + 1
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minCount) stop = true
        else {
          out += ((i.toLong, l, r, c))
          seqs = seqs.map(refMergeGreedy(_, l, r, sep))
          i += 1
        }
      }
    }
    out.result()
  }

  test("bpeMerges: overlapping counts, lexicographic tie-break, " +
    "greedy-leftmost application") {
    // "a a a": pair (a,a) counts 2 (overlapping); after the merge the
    // doc is ["a a", "a"], so round 2's top pair is ("a a", "a")
    val docs = Seq((1L, "a a a"), (2L, "x y x y")).toDF("doc_id", "text")
    val got = Vocab.bpeMerges(docs, col("text"), nMerges = 2,
      minCount = 2L)
      .as[(Long, String, String, Long)].collect().toList
    assert(got.head === ((0L, "a", "a", 2L)))
    assert(got === refBpe(Seq("a a a", "x y x y"), 2, 2L, " ").toList)
  }

  test("bpeMerges equals the independent reference on the sf0.001 " +
    "corpus (8 merges)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = docs.select($"text").as[String].collect().toSeq
    val got = Vocab.bpeMerges(docs, col("text"), nMerges = 8)
      .as[(Long, String, String, Long)].collect().toList
    val want = refBpe(texts, 8, 2L, " ").toList
    assert(got === want)
    assert(got.length === 8) // the corpus supports at least 8 merges
  }

  test("bpeMerges sampleFraction: 1.0 is identical to the default, and " +
    "f < 1 equals pre-composing Corpus.sampleByHash (composition law)") {
    import graft.operators.Corpus
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = Vocab.bpeMerges(docs, col("text"), nMerges = 4)
      .as[(Long, String, String, Long)].collect().toList
    val one = Vocab.bpeMerges(docs, col("text"), nMerges = 4,
      sampleFraction = 1.0)
      .as[(Long, String, String, Long)].collect().toList
    assert(one === full)
    val f = 0.5
    val knob = Vocab.bpeMerges(docs, col("text"), nMerges = 4,
      sampleFraction = f)
      .as[(Long, String, String, Long)].collect().toList
    val pre = Vocab.bpeMerges(
      Corpus.sampleByHash(docs, col("text"), f), col("text"), nMerges = 4)
      .as[(Long, String, String, Long)].collect().toList
    assert(knob === pre)
    assert(knob.nonEmpty) // half the fixture corpus still trains merges
    intercept[IllegalArgumentException] {
      Vocab.bpeMerges(docs, col("text"), nMerges = 1, sampleFraction = 0.0)
    }
  }

  test("bpeMerges batching guards: shared symbols, count ties with " +
    "creation-bound interplay, and batchCap=1 all equal the reference") {
    // shared symbol: (h,e) and (t,h) tie at 10, share h — batch must
    // stop after (h,e); round 2's winner (t, "h e") only exists after
    // the merge is applied
    val theDocs = Seq.fill(10)("t h e").toDF("text")
    assert(Vocab.bpeMerges(theDocs, col("text"), nMerges = 3)
      .as[(Long, String, String, Long)].collect().toList ===
      refBpe(Seq.fill(10)("t h e"), 3, 2L, " ").toList)
    // prefix stop: the batch walks CONSECUTIVE ranks, so the shared-
    // symbol pair (c,a) at rank 2 ends the batch before the disjoint
    // (d,e) is ever considered — and sequentially the created
    // (c, "a b") ties (d,e) at 8 and wins on lex, so committing (d,e)
    // in the batch would have been wrong
    val texts2 = Seq.fill(8)("c a b") ++ Seq.fill(2)("a b") ++
      Seq.fill(8)("d e")
    assert(Vocab.bpeMerges(texts2.toDF("text"), col("text"), nMerges = 3)
      .as[(Long, String, String, Long)].collect().toList ===
      refBpe(texts2, 3, 2L, " ").toList)
    // creation bound binding: disjoint (x,y) at rank 2 ties the
    // creation bound from accepted (a,b) (context pair (z,a) at 8),
    // so the batch rejects it; it would in fact still win on lex —
    // the conservative deferral lands on the same table one round on
    val texts3 = Seq.fill(8)("z a b") ++ Seq.fill(2)("a b") ++
      Seq.fill(8)("x y")
    assert(Vocab.bpeMerges(texts3.toDF("text"), col("text"), nMerges = 3)
      .as[(Long, String, String, Long)].collect().toList ===
      refBpe(texts3, 3, 2L, " ").toList)
    // batchCap=1 degrades to the sequential loop, same table
    assert(Vocab.bpeMerges(texts2.toDF("text"), col("text"), nMerges = 3,
      batchCap = 1).as[(Long, String, String, Long)].collect().toList ===
      refBpe(texts2, 3, 2L, " ").toList)
  }

  test("bpeMerges batching: Spark job count grows sublinearly in " +
    "nMerges when the ranked pairs are disjoint") {
    // 60 mutually disjoint pairs with strictly decreasing counts —
    // every symbol appears in exactly one pair context, so creation
    // bounds are 0 and full batches commit
    val rows = (0 until 60).flatMap { k =>
      Seq.fill(200 - k)(s"a$k b$k")
    }
    val docs = rows.toDF("text")
    def jobsFor(n: Int): (Int, List[(Long, String, String, Long)]) = {
      val (table, jobs) = jobsOf(s"bpe-jobcount-$n") {
        Vocab.bpeMerges(docs, col("text"), nMerges = n)
          .as[(Long, String, String, Long)].collect().toList
      }
      (jobs.size, table)
    }
    val (jobs8, got8) = jobsFor(8)
    val (jobs48, got48) = jobsFor(48)
    assert(got8 === refBpe(rows, 8, 2L, " ").toList)
    assert(got48 === refBpe(rows, 48, 2L, " ").toList)
    // sequential = ≥ 1 job per merge; batched = ~constant jobs per
    // 32-merge round. 6× the merges must cost far less than 6× the
    // jobs — and far less than one job per merge.
    assert(jobs48 < 48,
      s"job count must be sublinear in nMerges: $jobs48 jobs for 48 merges")
    assert(jobs48 <= jobs8 + 8,
      s"extra 40 merges must amortize into ~1 extra batch: " +
        s"jobs(8)=$jobs8, jobs(48)=$jobs48")
  }

  test("bpeEncodeIds: ids are 1-based ranks of the sorted symbol " +
    "universe; id arrays decode back to the bpe encoding") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Vocab.bpeMerges(docs, col("text"), nMerges = 3,
      minCount = 2)
    val enc = Vocab.bpeEncode(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe").as[(Long, Seq[String])].collect().toMap
    val ids = Vocab.bpeEncodeIds(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"ids").as[(Long, Seq[Int])].collect().toMap
    // JVM String order equals the engine's UTF8 binary order on the
    // fixture's ASCII corpus
    val vocab = enc.values.flatten.toSeq.distinct.sorted
    val tokOf = vocab.zipWithIndex.map { case (t, i) => (i + 1) -> t }.toMap
    assert(ids.keySet === enc.keySet)
    for ((d, arr) <- ids) {
      assert(arr.forall(_ >= 1))
      assert(arr.map(tokOf) === enc(d))
    }
  }

  /** Code-point characters of a word, `eow` suffixed on the last. */
  private def charInitRef(w: String, eow: String): Vector[String] = {
    val cps = w.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp)))
    if (cps.isEmpty) Vector.empty
    else cps.init :+ (cps.last + eow)
  }

  /** UTF-8 bytes of a word as uppercase hex pairs, `eow` on the last. */
  private def byteInitRef(w: String, eow: String): Vector[String] = {
    val bs = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toVector.map(b => f"${b & 0xff}%02X")
    if (bs.isEmpty) Vector.empty
    else bs.init :+ (bs.last + eow)
  }

  /** Independent single-machine CHAR-LEVEL BPE trainer over the word
    * frequency dictionary (Sennrich): weighted overlapping pair
    * counts, argmax by (count desc, left, right), greedy-leftmost
    * merge with sep = "". `init` swaps the symbol alphabet (char vs
    * byte level — the loop is symbol-agnostic, like the operator's). */
  private def refBpeChar(texts: Seq[String], n: Int, minCount: Long,
      eow: String,
      init: (String, String) => Vector[String] = charInitRef)
      : Seq[(Long, String, String, Long)] = {
    val dict0 = texts.filter(_ != null)
      .flatMap(_.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var seqs = dict0.toSeq
      .map { case (w, c) => (init(w, eow), c) }
      .filter(_._1.length >= 2)
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var i = 0
    var stop = false
    while (i < n && !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((s, c) <- seqs; j <- 0 until s.length - 1)
        counts((s(j), s(j + 1))) =
          counts.getOrElse((s(j), s(j + 1)), 0L) + c
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minCount) stop = true
        else {
          out += ((i.toLong, l, r, c))
          seqs = seqs.map { case (s, w) => (refMergeGreedy(s, l, r, ""), w) }
          i += 1
        }
      }
    }
    out.result()
  }

  test("bpeMergesChar: Sennrich char symbols, weighted dictionary " +
    "counts, hand-checked example") {
    // dict: low×3, lowest×2 → chars l,o,w(+</w> suffix on finals)
    // pair counts: (l,o)=5, (o,w)=3 ["low" finals are w</w>], (o,w e s t-chain)...
    val docs = Seq((1L, "low low lowest"), (2L, "low lowest"))
      .toDF("doc_id", "text")
    val texts = Seq("low low lowest", "low lowest")
    val got = Vocab.bpeMergesChar(docs, col("text"), nMerges = 4,
      minCount = 2L)
      .as[(Long, String, String, Long)].collect().toList
    val want = refBpeChar(texts, 4, 2L, "</w>").toList
    assert(got === want)
    // first merge is (l,o) with weighted count 5 — the dictionary
    // weighting is live (unweighted distinct words would give 2)
    assert(got.head._2 === "l" && got.head._3 === "o" && got.head._4 === 5L)
    // merged symbols are plain concatenations (no separator)
    assert(got.exists(m => (m._2 + m._3).contains("lo")))
  }

  test("bpeMergesChar equals the char reference on the sf0.001 corpus " +
    "(12 merges), batched ≡ batchCap=1 ≡ sequential reference") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = docs.select($"text").as[String].collect().toSeq
    val want = refBpeChar(texts, 12, 2L, "</w>").toList
    val got = Vocab.bpeMergesChar(docs, col("text"), nMerges = 12)
      .as[(Long, String, String, Long)].collect().toList
    assert(got === want)
    assert(got.length === 12)
    val seq1 = Vocab.bpeMergesChar(docs, col("text"), nMerges = 12,
      batchCap = 1)
      .as[(Long, String, String, Long)].collect().toList
    assert(seq1 === want)
    // char-level merges are subword units, not phrases: no merged
    // symbol contains a space
    assert(got.forall(m => !(m._2 + m._3).contains(" ")))
  }

  test("bpeEncodeChar: per-word application reproduces the trainer's " +
    "dictionary state and round-trips to the marked text") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().filter(_._2 != null)
    val nMerges = 8
    val merges = Vocab.bpeMergesChar(docs, col("text"), nMerges = nMerges)
    val mlist = refBpeChar(texts.map(_._2).toSeq, nMerges, 2L, "</w>")
    val got = Vocab.bpeEncodeChar(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe").as[(Long, Seq[String])].collect().toMap
    for ((id, text) <- texts) {
      val words = text.split("\\s+").filter(_.nonEmpty).toVector
      val want = words.flatMap { w =>
        var s = charInitRef(w, "</w>")
        for ((_, l, r, _) <- mlist) s = refMergeGreedy(s, l, r, "")
        s
      }
      assert(got(id) === want, s"doc $id")
      // round-trip: strip markers, concat = marked word stream
      assert(got(id).mkString("") === words.map(_ + "</w>").mkString(""))
    }
  }

  test("bpeMergesByte equals the byte-level reference on the sf0.001 " +
    "corpus (12 merges), batched ≡ batchCap=1; symbols are hex runs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = docs.select($"text").as[String].collect().toSeq
    val want = refBpeChar(texts, 12, 2L, "</w>", byteInitRef).toList
    val got = Vocab.bpeMergesByte(docs, col("text"), nMerges = 12)
      .as[(Long, String, String, Long)].collect().toList
    assert(got === want)
    assert(got.length === 12)
    val seq1 = Vocab.bpeMergesByte(docs, col("text"), nMerges = 12,
      batchCap = 1)
      .as[(Long, String, String, Long)].collect().toList
    assert(seq1 === want)
    // every merge participant is a run of uppercase hex pairs with an
    // optional single trailing marker — the byte alphabet is closed
    val sym = "^(?:[0-9A-F]{2})+(?:</w>)?$".r
    assert(got.forall(m => sym.matches(m._2) && sym.matches(m._3)))
  }

  test("bpeEncodeByte: reproduces the byte trainer's dictionary state " +
    "and unhex round-trips multibyte and astral-plane text") {
    // multibyte (2-, 3-byte UTF-8) + astral plane (surrogate pair →
    // 4 bytes) + ASCII: no character is out-of-alphabet at byte level
    val rows = Seq(
      (1L, "héllo héllo €uro"),
      (2L, "héllo a😀b a😀b ascii"),
      (3L, "€uro ascii ascii"))
    val docs = rows.toDF("doc_id", "text")
    val texts = rows.map(_._2)
    val nMerges = 6
    val merges = Vocab.bpeMergesByte(docs, col("text"),
      nMerges = nMerges, minCount = 2L)
    val mlist = refBpeChar(texts, nMerges, 2L, "</w>", byteInitRef)
    assert(merges.count() === mlist.length)
    val got = Vocab.bpeEncodeByte(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe").as[(Long, Seq[String])].collect().toMap
    for ((id, text) <- rows) {
      val words = text.split("\\s+").filter(_.nonEmpty).toVector
      val want = words.flatMap { w =>
        var s = byteInitRef(w, "</w>")
        for ((_, l, r, _) <- mlist) s = refMergeGreedy(s, l, r, "")
        s
      }
      assert(got(id) === want, s"doc $id")
      // byte round-trip: strip markers, unhex = the word byte stream
      val hexStream = got(id).mkString("").replace("</w>", "")
      val bytes = hexStream.grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
      assert(new String(bytes,
        java.nio.charset.StandardCharsets.UTF_8) === words.mkString(""))
    }
  }

  test("bpeEncodeIdsChar: ids are 1-based sorted-universe ranks that " +
    "decode back to the char encoding; no persisted relation leaks") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Vocab.bpeMergesChar(docs, col("text"), nMerges = 4)
    val enc = Vocab.bpeEncodeChar(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe").as[(Long, Seq[String])].collect().toMap
    // cache-lifecycle discipline: the ids operator (vocab collect +
    // output materialization) must not add any persisted relation
    // that it does not release (the trainer's own localCheckpoint
    // relations predate this snapshot and are excluded)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ids = Vocab.bpeEncodeIdsChar(docs, col("doc_id"), col("text"),
      merges)
      .select($"id", $"ids").as[(Long, Seq[Int])].collect().toMap
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"bpeEncodeIdsChar left new persisted RDDs: $leaked")
    val vocab = enc.values.flatten.toSeq.distinct.sorted
    val tokOf = vocab.zipWithIndex.map { case (t, i) => (i + 1) -> t }.toMap
    assert(ids.keySet === enc.keySet)
    for ((d, arr) <- ids) assert(arr.map(tokOf) === enc(d))
    // decode ∘ encode = identity (the bpeDecodeIds round-trip law);
    // out-of-range ids (UNK −1) decode to null
    val dec = Vocab.bpeEncodeIdsChar(docs, col("doc_id"), col("text"),
        merges)
      .select($"id",
        Vocab.bpeDecodeIds($"ids", typedlit(vocab)).as("dec"))
      .as[(Long, Seq[String])].collect().toMap
    for ((d, syms) <- enc) assert(dec(d) === syms, s"round-trip doc $d")
    val unk = Seq(Tuple1(Seq(-1, 1, 999999999)))
      .toDF("ids")
      .select(Vocab.bpeDecodeIds($"ids", typedlit(vocab)).as("d"))
      .collect().head.getSeq[String](0)
    assert(unk.head == null && unk(1) == vocab.head && unk(2) == null)
  }

  test("bpeEncodeIdsByte: the byte-level id contract — sorted-universe " +
    "ranks over hex symbols, multibyte text, no persisted leaks") {
    val docs = Seq((1L, "héllo héllo €uro"), (2L, "héllo a😀b a😀b"),
      (3L, "€uro plain plain")).toDF("doc_id", "text")
    val merges = Vocab.bpeMergesByte(docs, col("text"), nMerges = 5)
    val enc = Vocab.bpeEncodeByte(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe").as[(Long, Seq[String])].collect().toMap
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ids = Vocab.bpeEncodeIdsByte(docs, col("doc_id"), col("text"),
      merges)
      .select($"id", $"ids").as[(Long, Seq[Int])].collect().toMap
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"bpeEncodeIdsByte left new persisted RDDs: $leaked")
    // hex symbols are ASCII, so JVM string sort = the engine's binary
    // sort — ids must be exactly the 1-based ranks
    val vocab = enc.values.flatten.toSeq.distinct.sorted
    val tokOf = vocab.zipWithIndex.map { case (t, i) => (i + 1) -> t }.toMap
    assert(ids.keySet === enc.keySet)
    for ((d, arr) <- ids) {
      assert(arr.forall(_ >= 1))
      assert(arr.map(tokOf) === enc(d))
    }
  }

  test("MG summary retains every token above N/(capacity+1), never overcounts") {
    val rnd = new scala.util.Random(7L)
    // 2000 filler tokens from a 400-word tail + two heavy tokens
    val words =
      Seq.fill(300)("hh1") ++ Seq.fill(200)("hh2") ++
        Seq.fill(2000)(s"w${rnd.nextInt(400)}")
    val docs = rnd.shuffle(words).grouped(25).map(_.mkString(" ")).toSeq
      .toDF("text").repartition(11)
    val n = words.size.toLong
    val capacity = 20
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = docs.agg(MisraGriesTokens.summary(col("text"), capacity))
      .as[Seq[(String, Long)]].head().toMap
    assert(got.size <= capacity)
    val floor = n / (capacity + 1).toLong
    truth.filter(_._2 > floor).keys.foreach { t =>
      assert(got.contains(t), s"dropped heavy token $t (count ${truth(t)})")
    }
    got.foreach { case (t, est) =>
      assert(est <= truth(t), s"$t overcounted: $est > ${truth(t)}")
      assert(est >= truth(t) - floor, s"$t undercounted past the bound")
    }
  }

  test("heavyHitters output is exactly the true > phi*N set, with exact counts") {
    val rnd = new scala.util.Random(99L)
    // Zipf-ish: token wi with weight ~ 1/(i+1)
    val words = (1 to 5000).map { _ =>
      val i = math.min((1.0 / (rnd.nextDouble() + 1e-9)).toInt, 200)
      s"w$i"
    }
    val docs = words.grouped(40).map(_.mkString(" ")).toSeq
      .toDF("text").repartition(7)
    val n = words.size.toLong
    val phi = 0.02
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 > phi * n).toMap
    val got = Vocab.heavyHitters(docs, col("text"), phi, capacity = 64)
      .as[(String, Long)].collect().toMap
    assert(got === truth)
  }

  test("heavyHitters rejects a capacity below the MG retention floor") {
    intercept[IllegalArgumentException] {
      Vocab.heavyHitters(Seq("a").toDF("text"), col("text"),
        phi = 0.01, capacity = 50)
    }
  }

  test("topTokens: exact counts, deterministic tie-break") {
    val docs = Seq("b a a", "c b", "d").toDF("text")
    val got = Vocab.topTokens(docs, col("text"), 3)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
  }

  test("empty and null-only corpora yield empty heavy hitters") {
    val docs = Seq[Option[String]](None, Some(""), Some("   "))
      .toDF("text")
    assert(Vocab.heavyHitters(docs, col("text"), 0.5, 2).isEmpty)
    assert(Vocab.heavyHitters(spark.emptyDataset[String].toDF("text"),
      col("text"), 0.5, 2).isEmpty)
  }

  test("bpeEncode: trained merges applied in rank order, greedy " +
    "leftmost; hand-checked example") {
    val docs = Seq((1L, "a b c a b"), (2L, "a b"), (3L, "a a a"))
      .toDF("doc_id", "text")
    // pair counts: (a,b)=3, (a,a)=2, (b,c)=1, (c,a)=1 -> merge 0 =
    // (a,b); round 2 has no pair with count >= 2 left except... after
    // merging, ("a b","c")=1, ("c","a b")=1, (a,a)=2 -> merge 1 = (a,a)
    val merges = Vocab.bpeMerges(docs, col("text"), nMerges = 2,
      minCount = 2L)
    val got = Vocab.bpeEncode(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe", $"n_tokens")
      .as[(Long, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((Seq("a b", "c", "a b"), 3L)))
    assert(got(2L) === ((Seq("a b"), 1L)))
    assert(got(3L) === ((Seq("a a", "a"), 2L))) // greedy leftmost
  }

  test("bpeEncode: rank order matters — a later merge consumes an " +
    "earlier merge's output symbol") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val merges = Seq((0L, "b", "c", 9L), (1L, "a", "b c", 9L))
      .toDF("merge_idx", "left", "right", "n_occurrences")
    val got = Vocab.bpeEncode(docs, col("doc_id"), col("text"), merges)
      .select($"bpe").as[Seq[String]].head()
    assert(got === Seq("a b c"))
  }

  test("bpeEncode on the sf0.001 corpus: matches the reference encode " +
    "and round-trips to the whitespace-normalized text") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().filter(_._2 != null)
    val nMerges = 6
    val merges = Vocab.bpeMerges(docs, col("text"), nMerges = nMerges)
    val mlist = refBpe(texts.map(_._2).toSeq, nMerges, 2L, " ")
    val got = Vocab.bpeEncode(docs, col("doc_id"), col("text"), merges)
      .select($"id", $"bpe").as[(Long, Seq[String])].collect().toMap
    for ((id, text) <- texts) {
      var s = text.split("\\s+").filter(_.nonEmpty).toVector
      for ((_, l, r, _) <- mlist) s = refMergeGreedy(s, l, r, " ")
      assert(got(id) === s, s"doc $id")
      assert(got(id).mkString(" ") ===
        text.split("\\s+").filter(_.nonEmpty).mkString(" "))
    }
  }
  test("tokenizer artifact: save/load round-trip — loaded char and byte " +
    "tables encode byte-identically to the trained ones, the streaming " +
    "path consumes a loaded artifact, and corrupt artifacts fail loudly") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files
      .createTempDirectory("bpe-artifact-").toString

    for ((level, train, encIds) <- Seq(
        ("char",
          () => Vocab.bpeMergesChar(docs, col("text"), nMerges = 6),
          (m: org.apache.spark.sql.DataFrame) =>
            Vocab.bpeEncodeIdsChar(docs, col("doc_id"), col("text"), m)),
        ("byte",
          () => Vocab.bpeMergesByte(docs, col("text"), nMerges = 6),
          (m: org.apache.spark.sql.DataFrame) =>
            Vocab.bpeEncodeIdsByte(docs, col("doc_id"), col("text"), m)))) {
      val trained = train()
      Vocab.saveBpeTokenizer(trained, s"$dir/$level", level, "</w>")
      val loaded = Vocab.loadBpeTokenizer(spark, s"$dir/$level")
      assert(loaded.level === level)
      assert(loaded.marker === "</w>")
      // the TABLE round-trips exactly (rank order included)
      assert(loaded.merges.orderBy(col("merge_idx"))
        .as[(Long, String, String, Long)].collect().toSeq ===
        trained.orderBy(col("merge_idx"))
          .as[(Long, String, String, Long)].collect().toSeq,
        s"$level merge table")
      // the load-path equality gate: ids from the loaded table equal
      // ids from the trained one, row for row
      def idRows(m: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
        encIds(m).select(col("id"),
          concat_ws(",", transform(col("ids"), _.cast("string")))
            .as("ids")).as[(Long, String)].collect().toSet
      assert(idRows(loaded.merges) === idRows(trained),
        s"$level load-path ids equality")
    }

    // word-level artifact round-trips through bpeEncodeIds too
    val wordTrained = Vocab.bpeMerges(docs, col("text"), nMerges = 3)
    Vocab.saveBpeTokenizer(wordTrained, s"$dir/word", "word", " ")
    val wordLoaded = Vocab.loadBpeTokenizer(spark, s"$dir/word")
    def wordIds(m: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      Vocab.bpeEncodeIds(docs, col("doc_id"), col("text"), m,
        sep = wordLoaded.marker)
        .select(col("id"), concat_ws(",",
          transform(col("ids"), _.cast("string"))).as("ids"))
        .as[(Long, String)].collect().toSet
    assert(wordIds(wordLoaded.merges) === wordIds(wordTrained))

    // guards: bad level at save, version/stamp tamper at load
    intercept[IllegalArgumentException] {
      Vocab.saveBpeTokenizer(wordTrained, s"$dir/bad", "subword", "</w>")
    }
    import spark.implicits._
    Seq((99, "char", "</w>", 6L))
      .toDF("version", "level", "marker", "n_merges")
      .write.mode("overwrite").parquet(s"$dir/char/meta")
    intercept[IllegalArgumentException] {
      Vocab.loadBpeTokenizer(spark, s"$dir/char")
    }
  }
}
