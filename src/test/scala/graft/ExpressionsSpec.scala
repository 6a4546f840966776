package graft

import org.apache.spark.sql.functions._

import graft.functions.{SetExprs, ShingleExprs, ShingleOps, VectorExprs}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression kernels: interpreted eval vs codegen agreement,
  * null semantics, edge cases. Each test evaluates through a DataFrame
  * (whole-stage codegen path) and, where cheap, against a hand-computed
  * expected value (the interpreted path is exercised by expression-tree
  * contexts such as filters over non-codegen plans). */
class ExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("DotProduct: values, nulls, length mismatch") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)), // 32
      (2L, Seq(1.5f, -2.0f), Seq(2.0f, 0.5f)) // 2
    ).toDF("id", "a", "b")
    val got = df.select($"id", VectorExprs.dot($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 32.0) < 1e-12)
    assert(math.abs(got(2L) - 2.0) < 1e-12)

    // length mismatch -> null
    val mismatch = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(VectorExprs.dot($"a", $"b").as("d"))
      .collect()(0)
    assert(mismatch.isNullAt(0))

    // null array -> null; mixed float/double element types work
    val mixed = Seq((Seq(2.0f), Seq(3.5))).toDF("a", "b")
      .select(VectorExprs.dot($"a", $"b").as("d"))
      .as[Double].head()
    assert(math.abs(mixed - 7.0) < 1e-12)
  }

  test("DotProduct compiles under codegen with NON-nullable array " +
    "children (fallback disabled)") {
    // pre-fix: DotProduct inherited nullable from its children, so
    // non-nullable inputs made nullSafeCodeGen drop the isNull
    // declaration that the result code assigns — the generated class
    // failed to compile and the stage fell back to interpreted execution
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d = spark.range(3)
        .select(VectorExprs.dot(
          array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d"))
        .as[Double].collect()
      assert(d.toSeq === Seq(11.0, 11.0, 11.0))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("SortedIntersectSize: merge semantics on sorted sets") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 9L), 2), // {3,5}
      (Seq(1L, 2L), Seq(3L, 4L), 0),
      (Seq[Long](), Seq(1L), 0),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3)
    ).toDF("a", "b", "expected")
    val rows = df.select(
      SetExprs.sortedIntersectSize($"a", $"b").as("got"), $"expected")
      .as[(Int, Int)].collect()
    rows.foreach { case (got, expected) => assert(got === expected) }

    // string arrays (x4's exact verification path)
    val s = Seq((Seq("ab", "cd", "ef"), Seq("cd", "zz")))
      .toDF("a", "b")
      .select(SetExprs.sortedIntersectSize($"a", $"b").as("n"))
      .as[Int].head()
    assert(s === 1)
  }

  test("SortedContainsCount: multiplicity-aware membership count") {
    val df = Seq(
      (Seq(1L, 1L, 3L, 5L, 5L, 5L), Seq(1L, 5L), 5),  // dups recount
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 9L), 2),  // set case = intersect
      (Seq(1L, 2L), Seq(3L, 4L), 0),
      (Seq[Long](), Seq(1L), 0),
      (Seq(2L, 2L), Seq[Long](), 0)
    ).toDF("a", "b", "expected")
    val rows = df.select(
      SetExprs.sortedContainsCount($"a", $"b").as("got"), $"expected")
      .as[(Int, Int)].collect()
    rows.foreach { case (got, expected) => assert(got === expected) }

    // strings, duplicates on the left (the OOV token-occurrence path)
    val s = Seq((Seq("a", "the", "the", "zz"), Seq("a", "the")))
      .toDF("a", "b")
      .select(SetExprs.sortedContainsCount($"a", $"b").as("n"))
      .as[Int].head()
    assert(s === 3)

    // interpreted eval agrees with the dataframe (codegen) result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def alit(xs: Seq[Long]) =
      Literal.create(new GenericArrayData(xs.toArray),
        ArrayType(LongType, containsNull = false))
    def ev(a: Seq[Long], b: Seq[Long]): Any =
      graft.functions.SortedContainsCount(alit(a), alit(b))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(ev(Seq(1L, 1L, 3L, 5L, 5L, 5L), Seq(1L, 5L)) === 5)
    assert(ev(Seq(1L, 3L, 5L, 7L), Seq(3L, 4L, 5L, 9L)) === 2)
    assert(ev(Seq(), Seq(1L)) === 0)
  }

  test("SortedLookupIds: binary-search ranks, -1 for unknown, dups " +
    "allowed on the left") {
    val df = Seq(
      (Seq("b", "zz", "a", "b"), Seq("a", "b", "c"), Seq(2, -1, 1, 2)),
      (Seq[String](), Seq("a"), Seq[Int]()),
      (Seq("x"), Seq[String](), Seq(-1))
    ).toDF("a", "b", "expected")
    val rows = df.select(
      SetExprs.sortedLookupIds($"a", $"b").as("got"), $"expected")
      .as[(Seq[Int], Seq[Int])].collect()
    rows.foreach { case (got, expected) => assert(got === expected) }

    // interpreted eval agrees with the dataframe (codegen) result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def alit2(xs: Seq[Long]) =
      Literal.create(new GenericArrayData(xs.toArray),
        ArrayType(LongType, containsNull = false))
    val got = graft.functions.SortedLookupIds(
      alit2(Seq(5L, 1L, 9L)), alit2(Seq(1L, 5L, 7L)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq
    assert(got === Seq(2, 1, -1))
  }

  test("JaccardGE: fused threshold test — value at/above, null below, " +
    "null on empty union") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),  // J = 2/4 = 0.5
      (Seq(1L, 2L), Seq(3L, 4L)),          // J = 0
      (Seq[Long](), Seq[Long]()),          // empty union
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))   // J = 1
    ).toDF("a", "b")
    val got = df.select(SetExprs.jaccardGE($"a", $"b", 0.5).as("j"))
      .as[Option[Double]].collect().toSeq
    assert(got === Seq(Some(0.5), None, None, Some(1.0)))
  }

  test("shingleSetChars: code-point windows on multibyte text; null " +
    "below k chars") {
    // 6 chars, 12 bytes — byte windows would split code points
    val text = "абвгаб"
    val k = 3
    val expected = (0 to text.length - k)
      .map { i =>
        val sub = UTF8String.fromString(text.substring(i, i + k))
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          sub.getBaseObject, sub.getBaseOffset, sub.numBytes, 42L)
      }.distinct.sorted
    val df = Seq((1L, text), (2L, "аб"), (3L, "xyz")).toDF("doc_id", "text")
    val got = df.select($"doc_id",
      ShingleExprs.shingleSetChars($"text", k).as("s"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(got(1L).get === expected)
    assert(got(2L).isEmpty)        // 2 chars < k -> null
    // ASCII: char windows == byte windows
    val ascii = df.filter($"doc_id" === 3)
      .select(ShingleExprs.shingleSet($"text", k).as("a"),
        ShingleExprs.shingleSetChars($"text", k).as("b")).head()
    assert(ascii.getSeq[Long](0) === ascii.getSeq[Long](1))
  }

  test("shingle kernels: doc-local results match reference computation") {
    val text = "abcdefgabcdefg"
    // shingleSet = sorted distinct xxhash64(k-byte windows)
    val k = 5
    val expectedSet = (0 to text.length - k)
      .map { i =>
        val sub = UTF8String.fromString(text.substring(i, i + k))
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          sub.getBaseObject, sub.getBaseOffset, sub.numBytes, 42L)
      }.distinct.sorted
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val gotSet = df.select(ShingleExprs.shingleSet($"text", k).as("s"))
      .as[Seq[Long]].head()
    assert(gotSet === expectedSet)

    // minhash signature: 64 mins over the same window hashes
    val sig = df.select(ShingleExprs.minhashSignature($"text", k).as("s"))
      .as[Seq[Long]].head()
    assert(sig.length === 64)
    val hs = (0 to text.length - k).map { i =>
      val sub = UTF8String.fromString(text.substring(i, i + k))
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes2(
        sub.getBaseObject, sub.getBaseOffset, sub.numBytes, 42) & 0xffffffffL
    }
    import graft.functions.MinHashSig.{A, B}
    val expSig = (0 until 64).map(p => hs.map(h => (h * A(p) + B(p)) >>> 32).min)
    assert(sig === expSig)

    // short text -> null signature / null set
    val shortRow = Seq((1L, "abc")).toDF("doc_id", "text")
      .select(ShingleExprs.minhashSignature($"text", k).as("sig"),
        ShingleExprs.shingleSet($"text", k).as("s"))
      .collect()(0)
    assert(shortRow.isNullAt(0) && shortRow.isNullAt(1))
  }

  test("simhash64: bit-majority over token hashes; identical docs agree") {
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),
      (3L, "a completely different document")).toDF("id", "text")
    val fps = df.select($"id", ShingleExprs.simhash64($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))

    // single token: fingerprint equals the token hash's bit pattern
    val one = Seq(Tuple1("token")).toDF("text")
      .select(ShingleExprs.simhash64($"text").as("fp")).as[Long].head()
    val s = UTF8String.fromString("token")
    val expected = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
    assert(one === expected)
  }

  test("MinHashSig aggregate agrees with the document-local kernel") {
    import graft.functions.MinHashSig
    val text = "the quick brown fox jumps over the lazy dog"
    // aggregate path: explode this doc's window hashes as rows
    val u = UTF8String.fromString(text)
    val hashes = (0 to u.numBytes - 5).map { i =>
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes2(
        u.getBaseObject, u.getBaseOffset + i, 5, 42) & 0xffffffffL
    }
    val aggSig = hashes.toDF("h")
      .agg(MinHashSig.signature($"h").as("sig"))
      .as[Seq[Long]].head()
    // kernel path: one doc-local pass
    val kernelSig = graft.functions.ShingleOps.minhashSig(u, 5).toSeq
    assert(aggSig === kernelSig)
  }

  test("CharStats: counts, distincts, squared sums; codegen and " +
    "interpreted agree; null and empty semantics") {
    import graft.functions.{CharStatsExpr, CharStatsExprs}
    val df = Seq(
      (1L, "aab"),        // n=3, distinct=2, sumSq=4+1=5, max=2
      (2L, ""),           // all zeros
      (3L, "aaaa"),       // n=4, distinct=1, sumSq=16, max=4
      (4L, "héllo"),      // multibyte é: n=5, distinct=4 (h é l l o)
      (5L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select($"id", CharStatsExprs.charStats($"t").as("cs"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got(1L) === Seq(3L, 2L, 5L, 2L))
    assert(got(2L) === Seq(0L, 0L, 0L, 0L))
    assert(got(3L) === Seq(4L, 1L, 16L, 4L))
    assert(got(4L) === Seq(5L, 4L, 7L, 2L))
    assert(got(5L) === null)

    // interpreted eval agrees with the dataframe (codegen) result
    import org.apache.spark.sql.catalyst.expressions.Literal
    def ev(s: String): Seq[Long] =
      CharStatsExpr(Literal(s))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
    assert(ev("aab") === Seq(3L, 2L, 5L, 2L))
    assert(ev("héllo") === Seq(5L, 4L, 7L, 2L))
    assert(ev("") === Seq(0L, 0L, 0L, 0L))
  }

  test("JaccardGE interpreted eval agrees with the codegen results") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Seq[Long]) =
      Literal.create(new GenericArrayData(xs.toArray),
        ArrayType(LongType, containsNull = false))
    def ev(a: Seq[Long], b: Seq[Long], t: Double): Any =
      graft.functions.JaccardGE(lit(a), lit(b), t)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(ev(Seq(1L, 2L, 3L), Seq(2L, 3L, 4L), 0.5) === 0.5)
    assert(ev(Seq(1L, 2L), Seq(3L, 4L), 0.5) === null)
    assert(ev(Seq(), Seq(), 0.5) === null)   // empty union
    assert(ev(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 1.0) === 1.0)
  }

  test("JaccardGE rejects thresholds outside [0,1] (NaN/Infinity would " +
    "break codegen; negatives would leak the -1.0 sentinel)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val a = Literal.create(new GenericArrayData(Array(1L)),
      ArrayType(LongType, containsNull = false))
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, -0.5, 1.5))
      intercept[IllegalArgumentException] {
        graft.functions.JaccardGE(a, a, bad)
      }
  }

  test("RankedPrefixGrams: rare-first order, exact prefix bound, " +
    "interpreted eval matches the dataframe (codegen) result") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def lit(xs: Seq[Long]) =
      Literal.create(new GenericArrayData(xs.toArray),
        ArrayType(LongType, containsNull = false))
    // dictionary: gram -> df, grams ascending
    val dictG = Seq(10L, 20L, 30L, 40L, 50L)
    val dictD = Seq(3L, 1L, 2L, 1L, 5L)
    // doc grams (sorted set); rare-first rank: (1,20),(1,40),(2,30),(3,10),(5,50)
    val ng = Seq(10L, 20L, 30L, 40L, 50L)
    def run(frac: String): Seq[Long] =
      graft.functions.RankedPrefixGrams(lit(ng), lit(dictG), lit(dictD), frac)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
    // sz=5, t=0.5: prefix len 5-ceil(2.5)+1 = 3 -> first 3 by (df, gram)
    assert(run("0.5") === Seq(20L, 40L, 30L))
    // t=0.8: 5-4+1 = 2
    assert(run("0.8") === Seq(20L, 40L))
    // t=1: single gram; t=0: whole set in rank order
    assert(run("1") === Seq(20L))
    assert(run("0") === Seq(20L, 40L, 30L, 10L, 50L))
    // FP-inexact bound: 0.8*5 must ceil to exactly 4, not 5 (the double
    // 0.8 is 0.8000...4 — decimal arithmetic keeps the pair; see
    // Dedup.ngramJaccardBlocked)
    assert(run("0.799999999999") === Seq(20L, 40L))

    // dataframe (codegen) path agrees with direct interpreted eval
    import spark.implicits._
    val df = Seq((ng, dictG, dictD)).toDF("ng", "dg", "dd")
    val viaDf = df.select(graft.functions.PrefixExprs.rankedPrefixGrams(
        col("ng"), col("dg"), col("dd"), BigDecimal("0.5")).as("p"))
      .as[Seq[Long]].collect().head
    assert(viaDf === run("0.5"))
    // a gram missing from the dictionary fails loudly
    val bad = graft.functions.RankedPrefixGrams(
      lit(Seq(99L)), lit(dictG), lit(dictD), "0.5")
    intercept[IllegalStateException] {
      bad.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
  }

  test("polynomial fingerprint kernels: reference values, code-point " +
    "folds on multibyte text, null/short-text semantics") {
    // independent reference folds (string-indexed, vs the kernel's
    // UTF-8 byte walk)
    def fold(s: String, b: Long, p: Long): Long =
      s.codePoints().toArray.foldLeft(0L)((h, cp) => (h * b + cp) % p)
    def fp(s: String): Long = fold(s, 131L, 1000000007L)
    assert(ShingleOps.polyFingerprint(UTF8String.fromString("abcdefghij"))
      === 784214924L) // cross-checked against the DuckDB list_reduce oracle
    assert(ShingleOps.rollingPolyMin(UTF8String.fromString("abcdefghij"), 8)
      === 221032441L)
    assert(ShingleOps.rollingPolyMin(UTF8String.fromString("abc"), 8) === null)
    assert(ShingleOps.polyFingerprint(UTF8String.fromString("")) === 0L)
    // multibyte: code points, not bytes (é = U+00E9, 中 = U+4E2D)
    for (s <- Seq("héllo", "中文 test", "naïve café")) {
      assert(ShingleOps.polyFingerprint(UTF8String.fromString(s)) === fp(s), s)
      val cps = s.codePoints().toArray
      val wantRoll =
        if (cps.length < 8) null
        else (0 to cps.length - 8).map(i =>
          cps.slice(i, i + 8).foldLeft(0L)((h, cp) =>
            (h * 131L + cp) % 1000000007L)).min
      assert(ShingleOps.rollingPolyMin(UTF8String.fromString(s), 8)
        === wantRoll, s)
    }
    // poly simhash: bit-majority over the packed 61-bit token hashes
    def tokenHash(t: String): Long =
      fold(t, 131L, 2147483647L) * 1073741824L + fold(t, 137L, 1000000007L)
    def refSimhash(tokens: Seq[String]): Long = {
      val counts = new Array[Int](61)
      for (t <- tokens; b <- 0 until 61)
        counts(b) += (if (((tokenHash(t) >>> b) & 1L) == 1L) 1 else -1)
      (0 until 61).map(b => if (counts(b) > 0) 1L << b else 0L).sum
    }
    assert(tokenHash("hello") === 850559823661254640L) // DuckDB cross-check
    assert(ShingleOps.polySimhash(
      UTF8String.fromString("hello world  foo"), new Array[Int](61))
      === refSimhash(Seq("hello", "world", "foo")))
    assert(ShingleOps.polySimhash(
      UTF8String.fromString("  \t\n"), new Array[Int](61)) === 0L)

    // dataframe (codegen) path agrees with the direct kernel calls
    import spark.implicits._
    val df = Seq("abcdefghij", "héllo", "hello world  foo", "ab")
      .toDF("text")
      .select(
        graft.functions.ShingleExprs.polyFingerprint(col("text")).as("f"),
        graft.functions.ShingleExprs.rollingPolyMin(col("text"), 8).as("r"),
        graft.functions.ShingleExprs.polySimhash(col("text")).as("s"))
      .as[(Long, Option[Long], Long)].collect()
    assert(df(0) === ((784214924L, Some(221032441L),
      ShingleOps.polySimhash(UTF8String.fromString("abcdefghij"),
        new Array[Int](61)))))
    assert(df(1)._2 === None) // 5 code points < 8
    assert(df(2)._3 === refSimhash(Seq("hello", "world", "foo")))
    assert(df(3) === ((fp("ab"), None,
      ShingleOps.polySimhash(UTF8String.fromString("ab"),
        new Array[Int](61)))))
  }

  test("winnowSet: reference window minima, short-text degeneration, " +
    "guarantee holds, codegen path agrees") {
    def refWinnow(s: String, k: Int, w: Int): Option[Seq[Long]] = {
      val cps = s.codePoints().toArray
      if (cps.length < k) return None
      val hs = (0 to cps.length - k).map(i =>
        cps.slice(i, i + k).foldLeft(0L)((h, cp) =>
          (h * 131L + cp) % 1000000007L))
      val ww = math.min(w, hs.length)
      Some((0 to hs.length - ww).map(p =>
        hs.slice(p, p + ww).min).distinct.sorted)
    }
    for (s <- Seq("abcdefghijklmnop", "sharing a phrase here", "héllo wörld",
        "short", "abc")) {
      val got = Option(ShingleOps.winnowSet(UTF8String.fromString(s), 4, 5))
        .map(_.toSeq)
      assert(got === refWinnow(s, 4, 5), s)
    }
    assert(ShingleOps.winnowSet(UTF8String.fromString("abc"), 4, 5) === null)
    // the MOSS guarantee: docs sharing a >= w+k-1 cp substring share a
    // fingerprint
    val shared = "THISRUNISSHAREDACROSS" // 21 >= 4+5-1
    val a = ShingleOps.winnowSet(
      UTF8String.fromString("prefix one " + shared + " tail A"), 4, 5).toSet
    val b = ShingleOps.winnowSet(
      UTF8String.fromString("другой текст " + shared + " hvost B"), 4, 5).toSet
    assert(a.intersect(b).nonEmpty)
    // codegen path agrees with the kernel
    import spark.implicits._
    val viaDf = Seq("abcdefghijklmnop", "abc")
      .toDF("text")
      .select(graft.functions.ShingleExprs.winnowSet(col("text"), 4, 5)
        .as("fps"))
      .as[Option[Seq[Long]]].collect()
    assert(viaDf(0) === refWinnow("abcdefghijklmnop", 4, 5))
    assert(viaDf(1) === None)
  }

  test("winnowSet property: the shared-substring guarantee holds for " +
    "random texts and planted runs at several (k, w)") {
    val rng = new scala.util.Random(13)
    def randText(n: Int): String =
      Array.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    for (_ <- 1 to 40; (k, w) <- Seq((4, 5), (8, 8), (5, 12))) {
      val shared = randText(w + k - 1) // exactly the guarantee threshold
      val a = randText(rng.nextInt(40)) + shared + randText(rng.nextInt(40))
      val b = randText(rng.nextInt(40)) + shared + randText(rng.nextInt(40))
      val fa = ShingleOps.winnowSet(UTF8String.fromString(a), k, w).toSet
      val fb = ShingleOps.winnowSet(UTF8String.fromString(b), k, w).toSet
      assert(fa.intersect(fb).nonEmpty,
        s"k=$k w=$w shared='$shared' a='$a' b='$b'")
    }
  }

  test("ShingleOps kernels agree between eval and direct call") {
    val s = UTF8String.fromString("abcdefghij")
    assert(ShingleOps.shingleSet(s, 3).toSeq ===
      ShingleOps.shingleSet(UTF8String.fromString("abcdefghij"), 3).toSeq)
  }

  test("Bloom filter: no false negatives, retain preserves order, " +
    "distributed build merges partials") {
    import graft.functions.BloomExprs
    val rng = new scala.util.Random(99)
    val keys = Seq.fill(500)(rng.nextLong()).distinct
    // many partitions force aggregate partial merge
    val built = keys.toDF("g").repartition(7)
      .agg(BloomExprs.bloomBuild($"g", numBits = 8192, numHashes = 7))
      .as[Array[Byte]].head()
    assert(built.length === 4 + 8192 / 8)
    // zero false negatives — every inserted key answers true
    for (k <- keys) assert(BloomExprs.mightContain(built, k), s"key $k")
    // fp sanity at ~16 bits/key with k=7: far below 1%
    val probes = Seq.fill(2000)(rng.nextLong()).filterNot(keys.contains)
    val fp = probes.count(BloomExprs.mightContain(built, _))
    assert(fp < 20, s"false-positive count $fp out of ${probes.size}")

    // retain: subset + order preservation, through the codegen path
    val some = keys.take(5).sorted
    val absent = probes.take(5).sorted
    val mixed = (some ++ absent).sorted
    val retained = Seq((built, mixed)).toDF("bloom", "grams")
      .select(BloomExprs.bloomRetain($"bloom", $"grams").as("r"))
      .as[Seq[Long]].head()
    assert(retained === retained.sorted, "order not preserved")
    assert(some.toSet.subsetOf(retained.toSet), "false negative in retain")
    assert(retained.toSet.subsetOf(mixed.toSet))

    // interpreted eval agrees with the dataframe (codegen) result
    val expr = graft.functions.BloomRetain(
      org.apache.spark.sql.catalyst.expressions.Literal(built),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        mixed, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false)))
    val interp = expr.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    assert(interp.toSeq === retained)
  }

  test("TopKPairs: merged partial heaps equal the window-sort result, " +
    "ties break to smaller id, nulls skipped") {
    import graft.functions.TopKPairs
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map { i =>
      (i % 7, java.lang.Double.valueOf(
        if (i % 19 == 0) 5.0 else rnd.nextDouble() * 10), i.toLong)
    } ++ Seq((0, null.asInstanceOf[java.lang.Double], 9999L)) // skipped
    // many partitions force partial-heap merges through serde
    val df = rows.toDF("g", "s", "id").repartition(13)
    val got = df.groupBy($"g")
      .agg(TopKPairs.topK($"s", $"id", 4).as("t"))
      .select($"g", posexplode($"t"))
      .select($"g", $"pos", $"col.id", $"col.score")
      .as[(Int, Int, Long, Double)].collect().toSet
    val want = rows.filter(_._2 != null)
      .groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy(r => (-r._2.doubleValue(), r._3)).take(4).zipWithIndex
          .map { case (r, i) => (g, i, r._3, r._2.doubleValue()) }
      }.toSet
    assert(got === want)
    // k larger than the group: whole group, still best-first
    val tiny = Seq((1, 2.0, 10L), (1, 2.0, 3L)).toDF("g", "s", "id")
      .groupBy($"g").agg(TopKPairs.topK($"s", $"id", 5).as("t"))
      .select(explode($"t")).select($"col.id").as[Long].collect().toSeq
    assert(tiny === Seq(3L, 10L)) // equal scores -> smaller id first
  }

  test("sketch aggregates carry analysis-time input types: DECIMAL " +
    "score / INT id are implicitly cast (correct values, no execution " +
    "ClassCastException); a frame-shaped input fails at analysis") {
    import graft.functions.{TopKPairs, HllExprs, BloomExprs}
    // DECIMAL(12,2) score + INT id — the realistic TPCH shape the raw
    // eval cast would have crashed on
    val df = Seq((1, BigDecimal("3.50"), 7), (1, BigDecimal("9.25"), 3),
      (1, BigDecimal("9.25"), 5)).toDF("g", "s", "id")
    val got = df.groupBy($"g")
      .agg(TopKPairs.topK($"s", $"id", 2).as("t"))
      .select(explode($"t")).select($"col.id", $"col.score")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((3L, 9.25), (5L, 9.25)))
    // INT keys into the hash sketches: implicit widening executes (the
    // estimate is only meaningful on pre-hashed input — xxhash64 below —
    // so here just prove no execution-time ClassCastException)
    val ints = Seq(1, 2, 3, 2).toDF("k")
    val est = ints.agg(
      HllExprs.hllEstimate(HllExprs.hllSketch($"k")).as("e"))
      .as[Double].head()
    assert(est > 0.0)
    val hashed = ints.agg(HllExprs.hllEstimate(
      HllExprs.hllSketch(xxhash64($"k"))).as("e")).as[Double].head()
    assert(hashed > 2.0 && hashed < 4.5)
    val bloom = ints.agg(
      BloomExprs.bloomBuild($"k", 256L, 4).as("b")).as[Array[Byte]].head()
    assert(bloom.nonEmpty)
    // an incompatible (struct) column dies at ANALYSIS, not execution
    val bad = Seq((1, (1, 2))).toDF("g", "p")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.groupBy($"g").agg(TopKPairs.topK($"p", $"g", 2)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.agg(HllExprs.hllSketch($"p")).collect()
    }
  }

  test("ZOrder: known interleavings, 32-bit mask, dominance monotonicity, " +
    "codegen equals kernel, null propagation") {
    import graft.functions.{ZOrderExprs, ZOrderOps}
    assert(ZOrderOps.interleave(0L, 0L) === 0L)
    assert(ZOrderOps.interleave(3L, 1L) === 7L) // a→bits 0,2; b→bit 1
    assert(ZOrderOps.interleave(0L, 3L) === 10L) // b→bits 1,3
    assert(ZOrderOps.interleave(0xffffffffL, 0xffffffffL) === -1L)
    // only the low 32 bits participate
    assert(ZOrderOps.interleave((1L << 32) + 5L, 9L) ===
      ZOrderOps.interleave(5L, 9L))
    // dominance monotone: growing both coordinates never shrinks z
    // (unsigned compare — bit 63 is b's bit 31, not a sign)
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 200) {
      val (a, b) = (rnd.nextLong(1L << 32), rnd.nextLong(1L << 32))
      val (da, db) = (rnd.nextLong(1L << 8), rnd.nextLong(1L << 8))
      val z1 = ZOrderOps.interleave(a, b)
      val z2 = ZOrderOps.interleave(math.min(a + da, (1L << 32) - 1),
        math.min(b + db, (1L << 32) - 1))
      assert(java.lang.Long.compareUnsigned(z1, z2) <= 0, s"($a,$b)+($da,$db)")
    }
    // codegen path through a DataFrame equals the static kernel; nulls null
    val rows = Seq((1L, 2L), (12345L, 67890L), (0L, 0L))
    val got = rows.toDF("a", "b")
      .select(ZOrderExprs.zorder($"a", $"b")).as[Long].collect().toSeq
    assert(got === rows.map(r => ZOrderOps.interleave(r._1, r._2)))
    val n = Seq((Some(1L), Option.empty[Long])).toDF("a", "b")
      .select(ZOrderExprs.zorder($"a", $"b")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("HLL: estimates inside the error bound, disjoint merge equals " +
    "whole-corpus sketch byte-for-byte, partitioning-independent") {
    import graft.functions.{HllExprs, HllOps}
    val rnd = new scala.util.Random(17)
    val keys = Seq.fill(12000)(rnd.nextLong()).distinct
    def sketchOf(ks: Seq[Long], parts: Int): Array[Byte] =
      ks.toDF("h").repartition(parts)
        .agg(HllExprs.hllSketch($"h")).as[Array[Byte]].head()
    val whole = sketchOf(keys, 7)
    // build is partitioning-independent (register max is commutative)
    assert(java.util.Arrays.equals(whole, sketchOf(keys, 1)))
    val est = HllOps.estimate(whole)
    assert(math.abs(est - keys.size) / keys.size < 0.05, s"est $est")
    // merge of disjoint half-sketches IS the whole sketch
    val (h1, h2) = keys.splitAt(keys.size / 2)
    val merged = Seq(sketchOf(h1, 3), sketchOf(h2, 3)).toDF("sk")
      .agg(HllExprs.hllMerge($"sk")).as[Array[Byte]].head()
    assert(java.util.Arrays.equals(merged, whole))
    // small range: linear counting keeps tiny cardinalities near-exact
    val small = sketchOf(keys.take(20), 2)
    assert(math.abs(HllOps.estimate(small) - 20.0) < 1.0)
    // nulls contribute nothing
    val withNull = (keys.take(20).map(java.lang.Long.valueOf)
      :+ null.asInstanceOf[java.lang.Long]).toDF("h")
      .agg(HllExprs.hllSketch($"h")).as[Array[Byte]].head()
    assert(java.util.Arrays.equals(withNull, small))
    // estimate through the expression path agrees with the kernel
    val viaExpr = Seq(whole).toDF("sk")
      .select(HllExprs.hllEstimate($"sk")).as[Double].head()
    assert(viaExpr === est)
  }

  test("HLL aggregates reject precision out of range") {
    import graft.functions.{HllMergeAgg, HllSketchAgg}
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] { HllSketchAgg(Literal(1L), p = 3) }
    intercept[IllegalArgumentException] { HllMergeAgg(Literal(1L), p = 17) }
  }

  test("TopKPairs rejects invalid k") {
    import graft.functions.TopKPairs
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] {
      TopKPairs(Literal(1.0), Literal(1L), k = 0)
    }
  }

  test("BloomBuildAgg rejects invalid shapes") {
    import graft.functions.BloomBuildAgg
    import org.apache.spark.sql.catalyst.expressions.Literal
    intercept[IllegalArgumentException] {
      BloomBuildAgg(Literal(1L), numBits = 63, numHashes = 7)
    }
    intercept[IllegalArgumentException] {
      BloomBuildAgg(Literal(1L), numBits = 128, numHashes = 0)
    }
  }

  test("TokenWindowFps: window equality iff token-window equality; " +
    "split(text, ' ') position alignment; interpreted ≡ codegen") {
    import graft.functions.{TokenWindowExprs, TokenWindowOps}
    // equal 3-token windows collide, every other pair distinct
    val fpsA = TokenWindowOps.tokenWindowFps(
      UTF8String.fromString("x a b c y"), 3) // windows at tok 1..3
    val fpsB = TokenWindowOps.tokenWindowFps(
      UTF8String.fromString("z z a b c"), 3)
    assert(fpsA.length === 3 && fpsB.length === 3)
    assert(fpsA(1) === fpsB(2)) // both are (a b c)
    assert((fpsA.toSet ++ fpsB.toSet).size === 5) // only that collision

    // token boundaries matter: ("ab","c") never equals ("a","bc")
    val s1 = TokenWindowOps.tokenWindowFps(UTF8String.fromString("ab c"), 2)
    val s2 = TokenWindowOps.tokenWindowFps(UTF8String.fromString("a bc"), 2)
    assert(s1.length === 1 && s2.length === 1 && s1(0) != s2(0))

    // trailing-empty-token semantics match split(text, " ") (limit -1):
    // "a b " has 3 tokens (last empty) -> two 2-windows
    assert(TokenWindowOps.tokenWindowFps(
      UTF8String.fromString("a b "), 2).length === 2)
    // short docs: empty array, not null
    assert(TokenWindowOps.tokenWindowFps(
      UTF8String.fromString("a b"), 3).length === 0)

    // DataFrame (codegen) path agrees with the direct kernel call, and
    // posexplode positions align with split() token indexing
    val df = Seq((1L, "x a b c y"), (2L, null: String))
      .toDF("id", "text")
      .select($"id",
        TokenWindowExprs.tokenWindowFps($"text", 3).as("fps"))
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getSeq[Long](1) === fpsA.toSeq)
    assert(rows(2L).isNullAt(1))
  }

  test("UnigramSoftCountsExpr: interpreted eval agrees with the " +
    "dataframe (codegen) result bit for bit, and null word yields null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val ps = Seq("a", "ab", "b")
    val fs = Seq(3L, 2L, 5L)
    val viaDf = Seq(Tuple1("abab")).toDF("w")
      .select(graft.functions.UnigramExprs.softCounts(
        col("w"), typedlit(ps), typedlit(fs)).as("c"))
      .selectExpr("explode(c) AS pc").selectExpr("pc.piece", "pc.e")
      .as[(String, Double)].collect().toMap
    val plit = Literal.create(
      new GenericArrayData(ps.map(UTF8String.fromString).toArray),
      ArrayType(StringType, containsNull = false))
    val flit = Literal.create(new GenericArrayData(fs.toArray),
      ArrayType(LongType, containsNull = false))
    val viaEval = graft.functions.UnigramSoftCountsExpr(
      Literal.create(UTF8String.fromString("abab"), StringType),
      plit, flit)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val evalMap = (0 until viaEval.numElements()).map { k =>
      val r = viaEval.getStruct(k, 2)
      r.getUTF8String(0).toString -> r.getDouble(1)
    }.toMap
    assert(evalMap === viaDf) // exact double equality — bit-for-bit
    assert(viaDf.keySet === Set("a", "ab", "b"))
    // expectations of a word's arcs total the expected token count:
    // for "abab" every segmentation has >= 2 pieces, <= 4
    val tot = viaDf.values.sum
    assert(tot >= 2.0 - 1e-9 && tot <= 4.0 + 1e-9)
    val nullOut = graft.functions.UnigramSoftCountsExpr(
      Literal.create(null, StringType), plit, flit)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(nullOut == null)
  }
}
