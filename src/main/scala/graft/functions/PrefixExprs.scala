package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Doc-local prefix ranking for the prefix-filtering set-similarity join
  * (PPJoin, Xiao et al. 2008).
  *
  * The alternative — joining per-gram document frequencies onto the
  * exploded token table and ranking with a `row_number` window
  * partitioned by doc — shuffles the full token stream once for the df
  * join and once more (plus a sort) for the window. But ranking is a
  * per-document decision: given the block's gram→df dictionary, each
  * document can sort its own (df, gram) pairs and truncate to its prefix
  * locally. This kernel does exactly that against a broadcast dictionary
  * (two aligned sorted arrays), reducing the rank stage from two
  * token-table shuffles to zero.
  *
  * The dictionary is bounded by the gram universe (≤ charset^n for
  * character n-grams), which is what makes broadcasting it sound; every
  * caller ranks character n-grams, so none keeps a window plan.
  */
object PrefixOps {

  /** Binary search over an `ArrayData` of ascending longs without
    * copying it out (the dictionary is a broadcast-side row referenced
    * by every document of the block — `toLongArray` here would copy the
    * whole dictionary once per document). */
  private def indexOf(arr: ArrayData, n: Int, key: Long): Int = {
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = arr.getLong(mid)
      if (v < key) lo = mid + 1
      else if (v > key) hi = mid - 1
      else return mid
    }
    -1
  }

  /** In-place quicksort of parallel arrays by (df asc, gram asc).
    * Grams are distinct within a document, so the order is total. */
  private def sortPairs(d: Array[Long], g: Array[Long],
      lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    if (lo >= hi) return
    val mid = (lo + hi) >>> 1
    val pd = d(mid)
    val pg = g(mid)
    while (lo <= hi) {
      while (d(lo) < pd || (d(lo) == pd && g(lo) < pg)) lo += 1
      while (d(hi) > pd || (d(hi) == pd && g(hi) > pg)) hi -= 1
      if (lo <= hi) {
        val td = d(lo); d(lo) = d(hi); d(hi) = td
        val tg = g(lo); g(lo) = g(hi); g(hi) = tg
        lo += 1; hi -= 1
      }
    }
    sortPairs(d, g, lo0, hi)
    sortPairs(d, g, lo, hi0)
  }

  /** Rank the doc's grams rare-first by (block df, gram) and return the
    * probing prefix (the first `sz − ⌈frac·sz⌉ + 1` grams, exact decimal
    * arithmetic — the same bound the window plan computes with Spark's
    * decimal multiply + ceil). `grams`/`dfs` are the block dictionary:
    * aligned arrays, `grams` ascending. */
  def rankedPrefix(ng: ArrayData, grams: ArrayData, dfs: ArrayData,
      frac: String): ArrayData = {
    val m = ng.numElements()
    val dictN = grams.numElements()
    val g = ng.toLongArray()
    val d = new Array[Long](m)
    var i = 0
    while (i < m) {
      val idx = indexOf(grams, dictN, g(i))
      if (idx < 0) throw new IllegalStateException(
        s"rankedPrefix: gram ${g(i)} missing from the block dictionary " +
          "(dictionary must be built from the same relation)")
      d(i) = dfs.getLong(idx)
      i += 1
    }
    sortPairs(d, g, 0, m - 1)
    val f = new java.math.BigDecimal(frac)
    // prefix length sz − ⌈f·sz⌉ + 1, clamped to [0, sz]; BigDecimal
    // multiply is exact, matching the window plan's decimal arithmetic
    val pl0 = m - f.multiply(java.math.BigDecimal.valueOf(m))
      .setScale(0, java.math.RoundingMode.CEILING).longValueExact() + 1
    val pl = math.max(0L, math.min(m.toLong, pl0)).toInt
    new GenericArrayData(java.util.Arrays.copyOf(g, pl))
  }

  /** Fixed-length variant of [[rankedPrefix]]: the first min(sz, k)
    * grams in (df asc, gram asc) order — the Ed-Join prefix, whose
    * length (q·maxDist + 1) is a constant of the edit-distance bound
    * rather than a fraction of the document's gram count. */
  def rankedPrefixK(ng: ArrayData, grams: ArrayData, dfs: ArrayData,
      k: Int): ArrayData = {
    val m = ng.numElements()
    val dictN = grams.numElements()
    val g = ng.toLongArray()
    val d = new Array[Long](m)
    var i = 0
    while (i < m) {
      val idx = indexOf(grams, dictN, g(i))
      if (idx < 0) throw new IllegalStateException(
        s"rankedPrefixK: gram ${g(i)} missing from the dictionary " +
          "(dictionary must be built from the same relation)")
      d(i) = dfs.getLong(idx)
      i += 1
    }
    sortPairs(d, g, 0, m - 1)
    new GenericArrayData(java.util.Arrays.copyOf(g, math.min(m, k)))
  }
}

/** Prefix grams of a document in rare-first rank order (see
  * [[PrefixOps.rankedPrefix]]): rank i of the output array is prefix
  * rank i+1 — `posexplode` recovers the rank without any window. */
case class RankedPrefixGrams(ng: Expression, dictGrams: Expression,
    dictDfs: Expression, probeFrac: String) extends TernaryExpression {

  override def first: Expression = ng
  override def second: Expression = dictGrams
  override def third: Expression = dictDfs

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ranked_prefix"

  // the fraction must parse as an exact decimal (it is interpolated into
  // generated Java as a string literal)
  new java.math.BigDecimal(probeFrac)

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires three array<bigint> inputs, got " +
        children.map(_.dataType.sql).mkString(", "))
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    PrefixOps.rankedPrefix(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], probeFrac)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"""graft.functions.PrefixOps.rankedPrefix($a, $b, $c, "$probeFrac")""")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RankedPrefixGrams =
    copy(ng = f, dictGrams = s, dictDfs = t)
}

/** Fixed-length rare-first prefix (see [[PrefixOps.rankedPrefixK]]). */
case class RankedPrefixGramsK(ng: Expression, dictGrams: Expression,
    dictDfs: Expression, k: Int) extends TernaryExpression {
  require(k >= 1, s"RankedPrefixGramsK: k must be >= 1, got $k")

  override def first: Expression = ng
  override def second: Expression = dictGrams
  override def third: Expression = dictDfs

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ranked_prefix_k"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires three array<bigint> inputs, got " +
        children.map(_.dataType.sql).mkString(", "))
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    PrefixOps.rankedPrefixK(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], k)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) =>
      s"graft.functions.PrefixOps.rankedPrefixK($a, $b, $c, $k)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RankedPrefixGramsK =
    copy(ng = f, dictGrams = s, dictDfs = t)
}

object PrefixExprs {
  /** Column API for [[RankedPrefixGrams]]. `probeFrac` as an exact
    * decimal string (e.g. `"0.499999999999"`). */
  def rankedPrefixGrams(ng: Column, dictGrams: Column, dictDfs: Column,
      probeFrac: BigDecimal): Column =
    GraftColumnBridge.column(RankedPrefixGrams(
      GraftColumnBridge.expression(ng),
      GraftColumnBridge.expression(dictGrams),
      GraftColumnBridge.expression(dictDfs),
      probeFrac.underlying.toPlainString))

  /** Column API for [[RankedPrefixGramsK]]. */
  def rankedPrefixGramsK(ng: Column, dictGrams: Column, dictDfs: Column,
      k: Int): Column =
    GraftColumnBridge.column(RankedPrefixGramsK(
      GraftColumnBridge.expression(ng),
      GraftColumnBridge.expression(dictGrams),
      GraftColumnBridge.expression(dictDfs), k))
}
