package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Document-local fingerprint/signature kernels.
  *
  * MinHash signatures, shingle sets, SimHash, and rolling fingerprints
  * are all per-document computations. Expressing them as explode →
  * shuffle → aggregate amplifies the data ~15× (one row per shingle)
  * through a shuffle — at corpus scale that is the difference between an
  * embarrassingly-parallel projection pass and shuffling multiples of
  * the corpus. These expressions do the whole computation in a tight
  * byte-level loop per row: zero shuffle, zero intermediate arrays
  * beyond the output.
  *
  * All kernels hash raw UTF-8 *bytes* (shingle windows are byte windows;
  * identical to character windows on ASCII text). Hash functions and
  * seeds match Spark's built-ins: murmur3/seed 42 (`hash()`),
  * xxhash64/seed 42 (`xxhash64()`).
  */
object ShingleOps {
  final val Seed = 42

  /** Unsigned-32-bit murmur3 hashes of every k-byte window (with
    * duplicates). Caller guarantees numBytes >= k. */
  private def windowHashes(s: UTF8String, k: Int): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      out(i) = Murmur3_x86_32.hashUnsafeBytes2(base, off + i, k, Seed) & 0xffffffffL
      i += 1
    }
    out
  }

  /** MinHash signature: the [[MinHashSig.NumPerms]] permutation minima
    * over the k-byte-window hashes. Caller guarantees numBytes >= k. */
  def minhashSig(s: UTF8String, k: Int): Array[Long] = {
    import MinHashSig.{A, B, NumPerms}
    val sig = Array.fill(NumPerms)(java.lang.Long.MAX_VALUE)
    val hs = windowHashes(s, k)
    var j = 0
    while (j < hs.length) {
      val h = hs(j)
      var i = 0
      while (i < NumPerms) {
        val x = (h * A(i) + B(i)) >>> 32
        if (x < sig(i)) sig(i) = x
        i += 1
      }
      j += 1
    }
    sig
  }

  /** Sorted distinct k-byte-window hashes (the shingle set, ready for
    * merge-intersection). xxhash64 — Jaccard over these equals true
    * shingle-set Jaccard up to ~|union|²/2⁶⁴ collision probability,
    * versus 2³² for the signature-path hashes (which must stay 32-bit
    * for the permutation arithmetic). Caller guarantees numBytes >= k. */
  def shingleSet(s: UTF8String, k: Int): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val hs = new Array[Long](n - k + 1)
    var j = 0
    while (j <= n - k) {
      hs(j) = XXH64.hashUnsafeBytes(base, off + j, k, Seed)
      j += 1
    }
    sortedDistinct(hs)
  }

  /** Sort in place, drop adjacent duplicates, truncate. */
  private def sortedDistinct(hs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(hs, w)
  }

  /** Sorted distinct k-CHAR-window hashes: gram boundaries follow UTF-8
    * code points (the `substr(text, i, k)` gram semantics), each gram
    * hashed over its underlying bytes. Identical to [[shingleSet]] on
    * single-byte text, and the boundary scan is a single pass either
    * way. Returns null for texts shorter than k chars. */
  def shingleSetChars(s: UTF8String, k: Int): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    // byte offset of each char start, plus the end sentinel
    val starts = new Array[Int](n + 1)
    var i = 0
    var c = 0
    while (i < n) {
      starts(c) = i
      c += 1
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
    }
    starts(c) = n
    if (c < k) return null
    val hs = new Array[Long](c - k + 1)
    var j = 0
    while (j <= c - k) {
      hs(j) = XXH64.hashUnsafeBytes(
        base, off + starts(j), starts(j + k) - starts(j), Seed)
      j += 1
    }
    sortedDistinct(hs)
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0b || b == '\f'

  // ---- oracle-replayable polynomial hashes ------------------------------
  //
  // xxhash64/murmur3 have no SQL equivalent, so results built on them can
  // only be checked by unit tests. The kernels below use code-point-wise
  // polynomial folds (h ← (h·B + cp) mod P) whose exact values any SQL
  // engine can recompute with integer arithmetic — the correctness gate
  // can then hash-compare fingerprints and simhashes against an
  // independent DuckDB evaluation. All arithmetic stays far inside a
  // signed 64-bit long (P < 2³¹, cp < 2²¹).

  final val PolyB1 = 131L
  final val PolyP1 = 2147483647L   // 2³¹ − 1
  final val PolyB2 = 137L
  final val PolyP2 = 1000000007L

  /** Code point starting at byte offset i (w = width from
    * numBytesForFirstByte). */
  private def codePointAt(s: UTF8String, i: Int, w: Int): Int = {
    val b0 = s.getByte(i)
    w match {
      case 1 => b0 & 0x7f
      case 2 => ((b0 & 0x1f) << 6) | (s.getByte(i + 1) & 0x3f)
      case 3 => ((b0 & 0x0f) << 12) | ((s.getByte(i + 1) & 0x3f) << 6) |
        (s.getByte(i + 2) & 0x3f)
      case _ => ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3f) << 12) |
        ((s.getByte(i + 2) & 0x3f) << 6) | (s.getByte(i + 3) & 0x3f)
    }
  }

  /** Whole-text content fingerprint: fold (B₂, P₂) over code points.
    * Empty text → 0. */
  def polyFingerprint(s: UTF8String): Long = {
    var h = 0L
    var i = 0
    val n = s.numBytes
    while (i < n) {
      val w = UTF8String.numBytesForFirstByte(s.getByte(i))
      h = (h * PolyB1 + codePointAt(s, i, w)) % PolyP2
      i += w
    }
    h
  }

  /** Winnowing-style rolling fingerprint on the oracle-replayable hash:
    * minimum over all k-code-point windows of the (B₁ mod P₂) fold.
    * Null (boxed) for texts shorter than k code points. */
  def rollingPolyMin(s: UTF8String, k: Int): java.lang.Long = {
    val n = s.numBytes
    val cps = new Array[Int](n) // upper bound: one cp per byte
    var i = 0
    var c = 0
    while (i < n) {
      val w = UTF8String.numBytesForFirstByte(s.getByte(i))
      cps(c) = codePointAt(s, i, w)
      c += 1
      i += w
    }
    if (c < k) return null
    var min = Long.MaxValue
    var start = 0
    while (start <= c - k) {
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * PolyB1 + cps(start + j)) % PolyP2
        j += 1
      }
      if (h < min) min = h
      start += 1
    }
    min
  }

  /** Winnowing fingerprint set (the MOSS selection rule — Schleimer,
    * Wilkerson & Aiken, SIGMOD'03) on the oracle-replayable poly hash:
    * hash every k-code-point gram with the (B₁ mod P₂) fold, slide a
    * w-gram window, keep each window's MINIMUM, return the sorted
    * distinct minima. Guarantee: two texts sharing any substring of at
    * least w + k − 1 code points share at least one fingerprint —
    * min-by-value makes tie handling engine-portable by construction.
    * Texts with 1 ≤ g < w grams degrade to their single global min
    * (short docs still fingerprint); null when no full gram fits.
    * O(g·w) scan: w is small (≤ a few dozen) and doc-local. */
  def winnowSet(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val n = s.numBytes
    val cps = new Array[Int](n) // upper bound: one cp per byte
    var i = 0
    var c = 0
    while (i < n) {
      val wd = UTF8String.numBytesForFirstByte(s.getByte(i))
      cps(c) = codePointAt(s, i, wd)
      c += 1
      i += wd
    }
    val g = c - k + 1
    if (g <= 0) return null
    val hs = new Array[Long](g)
    var p = 0
    while (p < g) {
      var h = 0L
      var j = 0
      while (j < k) {
        h = (h * PolyB1 + cps(p + j)) % PolyP2
        j += 1
      }
      hs(p) = h
      p += 1
    }
    val ww = if (g < w) g else w
    val mins = new Array[Long](g - ww + 1)
    var q = 0
    while (q <= g - ww) {
      var m = Long.MaxValue
      var j = 0
      while (j < ww) {
        if (hs(q + j) < m) m = hs(q + j)
        j += 1
      }
      mins(q) = m
      q += 1
    }
    sortedDistinct(mins)
  }

  /** 61-bit SimHash over whitespace-delimited tokens with the
    * oracle-replayable token hash h = fold(B₁ mod P₁)·2³⁰ + fold(B₂ mod
    * P₂) (bits 30..60 and 0..29 respectively). Same bit-majority rule as
    * [[simhash]]; token occurrences (not distinct tokens) are counted. */
  def polySimhash(s: UTF8String, counts: Array[Int]): Long = {
    java.util.Arrays.fill(counts, 0)
    val n = s.numBytes
    var i = 0
    while (i < n) {
      while (i < n && isSpace(s.getByte(i))) i += 1
      if (i < n) {
        var h1 = 0L
        var h2 = 0L
        while (i < n && !isSpace(s.getByte(i))) {
          val w = UTF8String.numBytesForFirstByte(s.getByte(i))
          val cp = codePointAt(s, i, w)
          h1 = (h1 * PolyB1 + cp) % PolyP1
          h2 = (h2 * PolyB2 + cp) % PolyP2
          i += w
        }
        val h = h1 * 1073741824L + h2 // h1·2³⁰ | h2 (h2 < 2³⁰)
        var b = 0
        while (b < 61) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var fp = 0L
    var b = 0
    while (b < 61) {
      if (counts(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  /** 64-bit SimHash over whitespace-delimited byte tokens: per token one
    * xxhash64; bit b of the result is set when more tokens have bit b
    * set than clear. */
  def simhash(s: UTF8String, counts: Array[Int]): Long = {
    java.util.Arrays.fill(counts, 0)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = 0
    while (i < n) {
      while (i < n && isSpace(s.getByte(i))) i += 1
      val start = i
      while (i < n && !isSpace(s.getByte(i))) i += 1
      if (i > start) {
        val h = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}

private[functions] abstract class ShingleKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.sql}")
  /** Static call target in [[ShingleOps]] (Scala object forwarder). */
  protected def opsCall(input: String): String
  protected def minBytes: Int

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => opsCall(c))
}

/** MinHash signature column (array<long> of 64 permutation minima);
  * null for texts shorter than k bytes. */
case class MinHashSigExpr(child: Expression, k: Int) extends ShingleKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig_of"
  override protected def minBytes: Int = k
  override protected def opsCall(input: String): String =
    s"graft.functions.ShingleOps.minhashSig($input, $k)"

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    if (s.numBytes < k) null
    else new GenericArrayData(ShingleOps.minhashSig(s, k))
  }
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |if ($c.numBytes() < $k) { ${ev.isNull} = true; }
      |else { ${ev.value} =
      |  new org.apache.spark.sql.catalyst.util.GenericArrayData(${opsCall(c)}); }
    """.stripMargin)
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** Sorted distinct shingle-hash set column (array<long>); null for texts
  * shorter than k bytes. Ready for [[SortedIntersectSize]]. */
case class ShingleSetExpr(child: Expression, k: Int) extends ShingleKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_set"
  override protected def minBytes: Int = k
  override protected def opsCall(input: String): String =
    s"graft.functions.ShingleOps.shingleSet($input, $k)"

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    if (s.numBytes < k) null
    else new GenericArrayData(ShingleOps.shingleSet(s, k))
  }
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |if ($c.numBytes() < $k) { ${ev.isNull} = true; }
      |else { ${ev.value} =
      |  new org.apache.spark.sql.catalyst.util.GenericArrayData(${opsCall(c)}); }
    """.stripMargin)
  override protected def withNewChildInternal(c: Expression): ShingleSetExpr =
    copy(child = c)
}

/** Sorted distinct CHAR-shingle-hash set column (array<long>); null for
  * texts shorter than k chars. Gram boundaries follow code points, so
  * Jaccard over these matches `substr`-gram Jaccard on any text (up to
  * xxhash64 collisions), not just ASCII. */
case class ShingleSetCharsExpr(child: Expression, k: Int)
    extends ShingleKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_set_chars"
  override protected def minBytes: Int = k
  override protected def opsCall(input: String): String =
    s"graft.functions.ShingleOps.shingleSetChars($input, $k)"

  override def nullSafeEval(v: Any): Any = {
    val a = ShingleOps.shingleSetChars(v.asInstanceOf[UTF8String], k)
    if (a == null) null else new GenericArrayData(a)
  }
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val tmp = ctx.freshName("grams")
      s"""
      |long[] $tmp = ${opsCall(c)};
      |if ($tmp == null) { ${ev.isNull} = true; }
      |else { ${ev.value} =
      |  new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
      """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): ShingleSetCharsExpr =
    copy(child = c)
}

/** 64-bit SimHash column over whitespace-delimited tokens. */
case class SimHash64(child: Expression) extends ShingleKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"
  override protected def minBytes: Int = 0
  override protected def opsCall(input: String): String = "" // unused

  // scratch buffer is allocated per call: a bound expression instance can
  // be evaluated from multiple threads on the interpreted path, so a
  // shared per-instance array would race (codegen allocates per-plan
  // mutable state, which is single-threaded by construction)
  override def nullSafeEval(v: Any): Any =
    ShingleOps.simhash(v.asInstanceOf[UTF8String], new Array[Int](64))
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val buf = ctx.addMutableState("int[]", "simhashCounts",
      n => s"$n = new int[64];")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleOps.simhash($c, $buf);")
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** Whole-text polynomial content fingerprint (oracle-replayable; see
  * [[ShingleOps.polyFingerprint]]). Empty text → 0, null text → null. */
case class PolyFingerprint(child: Expression) extends ShingleKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_fingerprint"
  override protected def minBytes: Int = 0
  override protected def opsCall(input: String): String =
    s"graft.functions.ShingleOps.polyFingerprint($input)"
  override def nullSafeEval(v: Any): Any =
    ShingleOps.polyFingerprint(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): PolyFingerprint =
    copy(child = c)
}

/** Rolling polynomial fingerprint: min fold over k-code-point windows
  * (oracle-replayable; see [[ShingleOps.rollingPolyMin]]). Null for
  * texts shorter than k code points. */
case class RollingPolyMin(child: Expression, k: Int) extends ShingleKernel {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_rolling_poly_min"
  override protected def minBytes: Int = k
  override protected def opsCall(input: String): String =
    s"graft.functions.ShingleOps.rollingPolyMin($input, $k)"

  override def nullSafeEval(v: Any): Any =
    ShingleOps.rollingPolyMin(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val tmp = ctx.freshName("rpm")
      s"""
      |java.lang.Long $tmp = ${opsCall(c)};
      |if ($tmp == null) { ${ev.isNull} = true; }
      |else { ${ev.value} = $tmp.longValue(); }
      """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): RollingPolyMin =
    copy(child = c)
}

/** Winnowing fingerprint set column (sorted distinct w-window minima of
  * k-gram poly hashes; see [[ShingleOps.winnowSet]]). Null when no full
  * k-code-point gram fits. */
case class WinnowSetExpr(child: Expression, k: Int, w: Int)
    extends ShingleKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow_set"
  override protected def minBytes: Int = k
  override protected def opsCall(input: String): String =
    s"graft.functions.ShingleOps.winnowSet($input, $k, $w)"

  override def nullSafeEval(v: Any): Any = {
    val out = ShingleOps.winnowSet(v.asInstanceOf[UTF8String], k, w)
    if (out == null) null else new GenericArrayData(out)
  }
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val tmp = ctx.freshName("wns")
      s"""
      |long[] $tmp = ${opsCall(c)};
      |if ($tmp == null) { ${ev.isNull} = true; }
      |else { ${ev.value} =
      |  new org.apache.spark.sql.catalyst.util.GenericArrayData($tmp); }
      """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): WinnowSetExpr =
    copy(child = c)
}

/** 61-bit SimHash on the oracle-replayable token hash (see
  * [[ShingleOps.polySimhash]]). */
case class PolySimHash(child: Expression) extends ShingleKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_poly_simhash"
  override protected def minBytes: Int = 0
  override protected def opsCall(input: String): String = "" // unused

  // per-call scratch on the interpreted path (thread safety), per-plan
  // mutable state under codegen — same reasoning as [[SimHash64]]
  override def nullSafeEval(v: Any): Any =
    ShingleOps.polySimhash(v.asInstanceOf[UTF8String], new Array[Int](61))
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val buf = ctx.addMutableState("int[]", "polySimhashCounts",
      n => s"$n = new int[61];")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleOps.polySimhash($c, $buf);")
  }
  override protected def withNewChildInternal(c: Expression): PolySimHash =
    copy(child = c)
}

/** Column API for the document-local kernels. */
object ShingleExprs {
  private def expr(c: Column) = GraftColumnBridge.expression(c)
  private def col(e: Expression) = GraftColumnBridge.column(e)

  def minhashSignature(text: Column, k: Int): Column =
    col(MinHashSigExpr(expr(text), k))
  def shingleSet(text: Column, k: Int): Column =
    col(ShingleSetExpr(expr(text), k))
  def shingleSetChars(text: Column, k: Int): Column =
    col(ShingleSetCharsExpr(expr(text), k))
  def simhash64(text: Column): Column = col(SimHash64(expr(text)))
  def polyFingerprint(text: Column): Column = col(PolyFingerprint(expr(text)))
  def rollingPolyMin(text: Column, k: Int): Column =
    col(RollingPolyMin(expr(text), k))
  def polySimhash(text: Column): Column = col(PolySimHash(expr(text)))
  def winnowSet(text: Column, k: Int, w: Int): Column =
    col(WinnowSetExpr(expr(text), k, w))
}
