package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PrefixExprs, ShingleExprs}

/** Edit-distance (Levenshtein) similarity self-join.
  *
  * Reference scope: the reference engine has no string-similarity join at
  * all; this extends the dedup family (exact / MinHash / SimHash /
  * n-gram Jaccard) with the bounded-edit-distance pair search a curation
  * pipeline uses for near-identical variant detection (OCR noise,
  * template drift, single-field edits).
  *
  * Plan shape (Ed-Join-style q-gram prefix filter):
  *
  *  1. Per doc, one codegen projection computes the sorted distinct
  *     q-gram hash set ([[graft.functions.ShingleSetCharsExpr]] — no
  *     explode, no shuffle).
  *  2. Pigeonhole: one edit destroys at most `q` gram occurrences, so
  *     docs within distance `maxDist` share all but ≤ q·maxDist distinct
  *     grams. By the prefix-filter theorem the first `q·maxDist + 1`
  *     grams — in ANY total order both docs share — of the two docs
  *     must intersect whenever at least one side has more than
  *     q·maxDist grams. The order used is RARE-FIRST (document
  *     frequency asc, gram asc), the Ed-Join order: a frequent gram
  *     enters a prefix only when a document has almost nothing rarer,
  *     so prefix buckets stay near-singleton and candidates ∝ output.
  *     (Hash order is equally sound but measured 400× more candidates
  *     on templated text: one hot gram with a small hash lands in a
  *     third of all prefixes.) The df dictionary rides a one-row
  *     broadcast — bounded by the corpus's q-gram vocabulary, the same
  *     contract as the x4 PPJoin dictionary — and the per-doc ranking
  *     runs in a doc-local kernel ([[graft.functions.RankedPrefixGramsK]]),
  *     so no token-table window shuffle exists anywhere. Candidates =
  *     equality join on exploded prefix grams, with the
  *     |len(a) − len(b)| ≤ maxDist length filter fused into the join
  *     condition — never a cartesian.
  *  3. Short-string pool: docs with ≤ q·maxDist grams (or shorter than
  *     q chars) get no prefix guarantee among THEMSELVES, so they also
  *     pair within a length-granule bucket join (width maxDist+1, probe
  *     +1) — key-equality, bounded by the pool's length band. Pairs of
  *     one short and one long doc are already covered by the prefix
  *     route (slice keeps all grams of the short side).
  *  4. Verify, cheap filter first: the q-gram COUNT filter — distance
  *     ≤ maxDist forces |grams(a) ∩ grams(b)| ≥ max(|a|,|b|) − q·maxDist
  *     (each edit kills ≤ q distinct grams) — runs as a codegen
  *     sorted-merge over the already-computed gram sets
  *     ([[graft.functions.SortedIntersectSize]], ~2·|grams| long
  *     compares), and only its survivors pay the banded
  *     `levenshtein(a, b, maxDist)` (O(len·maxDist) cells, ~50× the
  *     merge's cost). Measured at sf0.1: 1M candidates → 242k after the
  *     count filter → 256 true pairs.
  *
  * 100 TB: every join is key-equality (gram hash / length bucket);
  * candidates ∝ near-duplicate pairs under the rare-first order. The
  * dictionary broadcast is bounded by the q-gram vocabulary (not the
  * corpus). The short pool degenerates toward banded
  * all-pairs only when maxDist is large relative to the string
  * length — a regime where "within maxDist edits" is itself
  * near-vacuous.
  */
object EditSimilarity {

  /** All unordered pairs with Levenshtein distance ≤ `maxDist`.
    * Output: (a_id, b_id, dist) with a_id < b_id, dist ≤ maxDist.
    * Prefixes rank under the docs' own df order ([[Dedup.rankPrefixes]]),
    * whose one-row dictionary is bounded by the q-gram vocabulary. The
    * per-doc gram relation is [[Materialize]]d, so no CacheManager
    * entry outlives the returned plan. */
  def editDistancePairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDist: Int = 20,
      q: Int = 4): DataFrame = {
    require(maxDist >= 0, s"editDistancePairs: maxDist must be >= 0, got $maxDist")
    require(q >= 2, s"editDistancePairs: q must be >= 2, got $q")

    // checkpoint-style materialization, not persist: g rides into the
    // returned plan, so a cache entry would be caller-unreleasable
    val g = Materialize.eager(gramRelation(docs, idCol, textCol, q))

    // route 1: prefix-gram equality join (sound for every pair where at
    // least one side has > q·maxDist grams), prefixes ranked under the
    // docs' own df order
    val pre = Dedup.rankPrefixes(g.filter(col("ng").isNotNull), None,
        edJoinPrefix(q, maxDist))
      .select(col("id"), col("len"), Dedup.prefixGrams.as("gram"))
    val prefixCands = pre.as("a").join(pre.as("b"),
      col("a.gram") === col("b.gram") &&
        col("a.id") < col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))

    // route 2: both-short pairs via length-granule buckets (width
    // maxDist+1 ⇒ |len diff| ≤ maxDist implies bucket diff ≤ 1; the
    // +1 probe key on one side covers the off-by-one bucket)
    val short = g.filter(col("ng").isNull || col("n_grams") <= q * maxDist)
      .select(col("id"), col("len"),
        (col("len").cast("long") / (maxDist + 1)).cast("long").as("bkt"))
    val probe = short.select(col("id"), col("len"),
      explode(array(col("bkt"), col("bkt") + 1)).as("k"))
    val shortCands = probe.as("a").join(short.as("b"),
      col("a.k") === col("b.bkt") &&
        col("a.id") =!= col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("a_id"),
        greatest(col("a.id"), col("b.id")).as("b_id"))

    // distinct candidate pairs → count filter → banded levenshtein
    val cands = prefixCands.union(shortCands).distinct()
    val txt = g.select(col("id"), col("t"), col("ng"), col("n_grams"))
    val bound = greatest(col("na"), col("nb")) - lit(q * maxDist)
    cands
      .join(txt.select(col("id").as("a_id"), col("t").as("ta"),
        col("ng").as("nga"), col("n_grams").as("na")), "a_id")
      .join(txt.select(col("id").as("b_id"), col("t").as("tb"),
        col("ng").as("ngb"), col("n_grams").as("nb")), "b_id")
      .filter(bound <= 0 ||
        (col("nga").isNotNull && col("ngb").isNotNull &&
          graft.functions.SetExprs.sortedIntersectSize(
            col("nga"), col("ngb")) >= bound))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** The Ed-Join prefix kernel for [[Dedup.rankPrefixes]]: the first
    * q·maxDist + 1 ranked grams. */
  private def edJoinPrefix(q: Int,
      maxDist: Int): (Column, Column, Column) => Column =
    PrefixExprs.rankedPrefixGramsK(_, _, _, q * maxDist + 1)

  /** Per-doc gram relation (id, t, len, ng, n_grams) — the doc-local
    * codegen pass every route starts from. */
  private def gramRelation(docs: DataFrame, idCol: String,
      textCol: String, q: Int, fanOut: Boolean = true): DataFrame = {
    val pruned = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"))
    (if (fanOut) Parallelism.fanOutScan(pruned) else pruned)
      .select(col("id"), col("t"),
        length(col("t")).as("len"),
        ShingleExprs.shingleSetChars(col("t"), q).as("ng"))
      .withColumn("n_grams", coalesce(size(col("ng")), lit(0)))
  }

  /** The persisted corpus-side state for [[editDistancePairsDelta]]:
    *
    *  - `docs` — (id, t, len, ng, n_grams, prefix): the gram relation
    *    plus each doc's ranked prefix-gram array, computed ONCE at
    *    index-build time under the corpus df order. Text rides along
    *    because edit-distance verification is on the raw strings (only
    *    candidate rows are ever fetched by the delta join).
    *  - `gramDf` — (gram, df): the document-frequency relation that
    *    FREEZES the rare-first total order. Delta batches rank their
    *    prefixes under this same order (unseen grams take df 0, which
    *    perturbs no corpus doc's ranking), so the prefix-filter theorem
    *    — which needs only a total order common to both sides — still
    *    covers every delta-touching pair.
    *
    * Both members are plain DataFrames: write them as two parquet
    * relations and reconstruct `EditIndex(docs, gramDf, q, maxDist)` on
    * read-back. `q`/`maxDist` are baked into the prefix arrays, so the
    * delta probe takes them from the index, not from arguments. */
  final case class EditIndex(docs: DataFrame, gramDf: DataFrame,
      q: Int, maxDist: Int)

  /** Build the [[EditIndex]] for a corpus — one gram-kernel pass plus
    * one df aggregation plus one broadcast-ranked prefix projection.
    * As in [[editDistancePairs]], the df dictionary rides a one-row
    * broadcast bounded by the corpus's q-gram vocabulary. */
  def editIndex(corpus: DataFrame, maxDist: Int = 20, q: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): EditIndex = {
    require(maxDist >= 0, s"editIndex: maxDist must be >= 0, got $maxDist")
    require(q >= 2, s"editIndex: q must be >= 2, got $q")
    // materialized checkpoint-style: g rides inside the returned
    // EditIndex plans (caller-unreleasable if persisted)
    val g = Materialize.eager(
      gramRelation(corpus, idCol, textCol, q, fanOut = false))
    EditIndex(Dedup.rankPrefixes(g, None, edJoinPrefix(q, maxDist)),
      Dedup.docFrequencies(g), q, maxDist)
  }

  /** Incremental (delta) bounded-edit-distance join: all pairs with
    * Levenshtein distance ≤ `index.maxDist` TOUCHING a new batch —
    * delta×corpus and delta×delta, never corpus×corpus — against a
    * pre-built [[EditIndex]] (typically two persisted parquet
    * relations read back). Output contract is [[editDistancePairs]] on
    * (corpus ∪ delta) restricted to pairs with at least one delta doc;
    * doc ids must be disjoint between the two inputs.
    *
    * Scale shape: the q-gram kernel and prefix ranking run over the
    * DELTA only. The corpus side contributes (a) its persisted prefix
    * arrays to the gram-equality candidate join — a column-pruned
    * scan, no text, no kernel — and (b) text + gram sets for exactly
    * the candidate rows the delta-driven join surfaces. The delta's
    * ranking dictionary is the DELTA's gram universe left-joined onto
    * the persisted df relation — delta-sized, not corpus-sized.
    * Candidates stay ∝ delta near-duplicate pairs: the join probe side
    * is always the delta.
    *
    * Both-short pairs use the same length-granule buckets as the full
    * operator; the delta probe explodes (bkt−1, bkt, bkt+1) because
    * corpus rows never probe back. */
  def editDistancePairsDelta(delta: DataFrame, index: EditIndex,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val q = index.q
    val maxDist = index.maxDist
    val d = Materialize.eager(
      gramRelation(delta, idCol, textCol, q, fanOut = false))

    // the delta ranks under the index's frozen df order
    val dPrefix = Dedup.rankPrefixes(d.filter(col("ng").isNotNull),
      Some(index.gramDf), edJoinPrefix(q, maxDist))

    // route 1: delta prefixes probe (delta ∪ corpus) prefixes
    def explodePrefix(rel: DataFrame): DataFrame =
      rel.select(col("id"), col("len"), Dedup.prefixGrams.as("gram"))
    val preDelta = explodePrefix(dPrefix)
    val preAll = preDelta.unionByName(explodePrefix(index.docs))
    val prefixCands = preDelta.as("a").join(preAll.as("b"),
      col("a.gram") === col("b.gram") &&
        col("a.id") =!= col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("a_id"),
        greatest(col("a.id"), col("b.id")).as("b_id"))

    // route 2: delta shorts probe (delta ∪ corpus) shorts; the ±1
    // explode replaces the full operator's symmetric +1 probe
    def shorts(rel: DataFrame): DataFrame =
      rel.filter(col("ng").isNull || col("n_grams") <= q * maxDist)
        .select(col("id"), col("len"),
          (col("len").cast("long") / (maxDist + 1)).cast("long").as("bkt"))
    val allShort = shorts(d).unionByName(shorts(
      index.docs.select(col("id"), col("len"), col("ng"), col("n_grams"))))
    val probe = shorts(d).select(col("id"), col("len"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("k"))
    val shortCands = probe.as("a").join(allShort.as("b"),
      col("a.k") === col("b.bkt") &&
        col("a.id") =!= col("b.id") &&
        abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("a_id"),
        greatest(col("a.id"), col("b.id")).as("b_id"))

    // distinct candidates → q-gram count filter → banded levenshtein,
    // gram sets and text fetched from (delta ∪ corpus) by id equality
    val cands = prefixCands.union(shortCands).distinct()
    val txt = d.select(col("id"), col("t"), col("ng"), col("n_grams"))
      .unionByName(index.docs
        .select(col("id"), col("t"), col("ng"), col("n_grams")))
    val bound = greatest(col("na"), col("nb")) - lit(q * maxDist)
    cands
      .join(txt.select(col("id").as("a_id"), col("t").as("ta"),
        col("ng").as("nga"), col("n_grams").as("na")), "a_id")
      .join(txt.select(col("id").as("b_id"), col("t").as("tb"),
        col("ng").as("ngb"), col("n_grams").as("nb")), "b_id")
      .filter(bound <= 0 ||
        (col("nga").isNotNull && col("ngb").isNotNull &&
          graft.functions.SetExprs.sortedIntersectSize(
            col("nga"), col("ngb")) >= bound))
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
  }
}
