package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.analytics.{PageAnalytics, QzMastery, RegisterAnalytics, Tpch}
import graft.functions.TextAnalysis
import graft.operators.{Dedup, EditSimilarity, Multimodal, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a matching DuckDB oracle in `oracleSql`.
  * Hash-dependent operators are made oracle-checkable one of two ways:
  * oracle-replayable polynomial hashes that DuckDB recomputes exactly
  * (x3 simhash, x10 fingerprints), or an exact-verified / recall-gated
  * output whose correct value is engine-independent (x2 emits
  * brute-force-equal verified pairs; x6/x13 emit the exact k-th cosine
  * plus a recall-floor flag).
  * Column names and value arithmetic are aligned between both sides:
  * double aggregations go through exact DECIMAL(18,6) sums (order-
  * independent, identical across engines) and only the final arithmetic
  * step runs in double.
  */
object SparkEntry {

  /** Recall floors for the ANN gates: set with margin under the measured
    * deterministic recalls at sf0.001/sf0.01/sf0.1 (seeds and data are
    * fixed, so the measured value is stable; the floor guards against
    * seed/bucketing regressions, not run-to-run noise). Gate configs and
    * floors come from the swept recall/cost frontier (RecallSweep tool;
    * tables in SCALE.md "ANN recall frontier"). */
  val AnnLshRecallFloor = 0.6 // nBits=6 nTables=4 probe=2: min 0.90 at every SF
  val AnnIvfRecallFloor = 0.6 // nLists=16 nProbe=12: min 0.90/0.80/0.70
  val AnnPqRecallFloor = 0.6 // m=32 ksub=256: min 0.90/0.90/0.80
  val AnnIvfPqRecallFloor = 0.8 // nLists=16 probeMass=0.9 m=32 ksub=256 rerank=50: min 0.90/1.00/0.90 at sf0.001/0.01/0.1 (adaptive mass probing closed the unprobed-cell coverage gap the r9 re-rank sweep isolated; floor raised 0.6 → 0.8 with ≥ 0.1 margin)
  /** Shared oracle CTEs materializing the deterministic ±1 sign matrix
    * of [[graft.operators.Similarity.randomProjectVec]] (64 in × 16 out)
    * by the same stepwise exact-BIGINT arithmetic (two affine+square
    * rounds mod 2^31−1, parity): `sig(j, col_s)` = per output dim, the
    * 64 signs in input-dim order. */
  private val RpSignCtes: String =
    """m AS (
      |  SELECT i, j,
      |         CASE WHEN ((w * w) % 2147483647) % 2 = 1
      |              THEN -1.0 ELSE 1.0 END AS s
      |  FROM (
      |    SELECT i, j, ((z * 48271 + 17) % 2147483647) AS w
      |    FROM (
      |      SELECT i, j, ((y * y) % 2147483647) AS z
      |      FROM (
      |        SELECT i, j, (((i*131 + j + 17) * 48271 + 11) % 2147483647) AS y
      |        FROM generate_series(0, 63) gi(i),
      |             generate_series(0, 15) gj(j))))),
      |sig AS (SELECT j, list(s ORDER BY i) AS col_s FROM m GROUP BY j)"""
      .stripMargin

  /** Shared oracle CTE chain for the CDC queries (x153/x154): the
    * base-257 power table (recursive), window hashes at every end
    * position, the mask-63 boundary predicate with the forced doc-end
    * boundary, and the chunk segmentation `(doc_id, chunk_idx, start,
    * len)` — fingerprinting differs per query and stays inline.
    *
    * ASCII ASSUMPTION: the engine (CdcOps, KeywordOps) operates on raw
    * UTF-8 BYTES, while this oracle uses character semantics —
    * `length(text)`, `substr`, `ord` (codepoint). The two agree because
    * the synthetic documents corpus is pure ASCII (1 char = 1 byte =
    * codepoint); a non-ASCII fixture would shift every CDC hash/offset
    * and keyword position in the oracle, NOT in the engine — the engine's
    * byte contract is the declared one. The byte contract is gated
    * where it DIVERGES from characters by x159/x160/x161
    * ([[CdcOracleBytesBaseCtes]] — a non-ASCII corpus with the oracle
    * folding over UTF-8 bytes), so this character oracle is a
    * pure-ASCII convenience, not a hidden assumption. */
  private val CdcOracleBaseCtes: String =
    """WITH RECURSIVE pw(n, v) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT n + 1, (v * 257) % 2147483647 FROM pw
      |  WHERE n < (SELECT max(length(text)) FROM documents)
      |),
      |pl AS (SELECT list(v ORDER BY n) AS p FROM pw),
      |d AS (SELECT doc_id, text, length(text) AS n FROM documents
      |      WHERE length(text) > 0),
      |wh AS (
      |  SELECT d.doc_id, g.i,
      |         CAST(list_sum(list_transform(generate_series(1, 16), t ->
      |           ord(substr(d.text, CAST(g.i - 16 + t AS INT), 1))
      |             * pl.p[16 - t + 1]))
      |           % 2147483647 AS BIGINT) AS h
      |  FROM d, pl, unnest(generate_series(16, d.n)) g(i))""".stripMargin

  /** Boundary/segmentation CTE chain shared by the character- and
    * byte-semantics CDC oracles: consumes `wh(doc_id, i, h)` and
    * `d(doc_id, …, n)` — position units (chars vs bytes) are whatever
    * the base CTEs produced. */
  private val CdcSegCtes: String =
    """,
      |bl0 AS (SELECT doc_id, list(i ORDER BY i) AS bs
      |        FROM wh WHERE h % 64 = 63 GROUP BY doc_id),
      |bl AS (
      |  SELECT d.doc_id, d.n,
      |         CASE WHEN b.bs IS NULL THEN [CAST(d.n AS BIGINT)]
      |              WHEN b.bs[len(b.bs)] = d.n THEN b.bs
      |              ELSE list_append(b.bs, CAST(d.n AS BIGINT)) END AS bs
      |  FROM d LEFT JOIN bl0 b USING (doc_id)),
      |ch AS (
      |  SELECT doc_id, g.k - 1 AS chunk_idx,
      |         CASE WHEN g.k = 1 THEN 0
      |              ELSE bs[CAST(g.k - 1 AS INT)] END AS start,
      |         bs[CAST(g.k AS INT)]
      |           - (CASE WHEN g.k = 1 THEN 0
      |              ELSE bs[CAST(g.k - 1 AS INT)] END) AS len
      |  FROM bl, unnest(generate_series(1, len(bs))) g(k))""".stripMargin

  private val CdcOracleCtes: String = CdcOracleBaseCtes + CdcSegCtes

  /** The non-ASCII CDC corpus transform: 'a'→'ä', 'e'→'é' (both
    * 2-byte UTF-8). Spark-side `translate(text, "ae", "äé")` ≡ this
    * nested `replace` — disjoint single-char maps whose replacements
    * contain no map keys. */
  private val CdcUtf8ReplaceSql =
    "replace(replace(text, 'a', 'ä'), 'e', 'é')"

  /** BYTE-semantics mirror of [[CdcOracleBaseCtes]] over the
    * non-ASCII corpus (x159/x160): each character expands to its
    * UTF-8 bytes by arithmetic on the codepoint (the RFC 3629 layout,
    * replayed in SQL), and every downstream CTE — window hashes,
    * boundaries, segmentation, fingerprints — folds over the per-doc
    * byte list `vs`, so offsets, lengths, and hashes are byte-exact.
    * This makes the engine's declared raw-UTF-8 contract load-bearing
    * where [[CdcOracleBaseCtes]]'s character arithmetic merely
    * coincides with it (pure-ASCII data). */
  private val CdcOracleBytesBaseCtes: String =
    s"""WITH RECURSIVE pw(n, v) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT n + 1, (v * 257) % 2147483647 FROM pw
      |  WHERE n < (SELECT max(octet_length(encode($CdcUtf8ReplaceSql)))
      |             FROM documents)
      |),
      |pl AS (SELECT list(v ORDER BY n) AS p FROM pw),
      |d0 AS (SELECT doc_id, $CdcUtf8ReplaceSql AS text FROM documents
      |       WHERE length(text) > 0),
      |cs AS (SELECT doc_id, g.i AS ci,
      |              unicode(substr(d0.text, CAST(g.i AS INT), 1)) AS cp
      |       FROM d0, unnest(generate_series(1, length(d0.text))) g(i)),
      |cb AS (SELECT doc_id, ci,
      |         CASE WHEN cp < 128 THEN [cp]
      |              WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
      |              WHEN cp < 65536 THEN [224 + cp // 4096,
      |                128 + (cp // 64) % 64, 128 + cp % 64]
      |              ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64,
      |                128 + (cp // 64) % 64, 128 + cp % 64] END AS bl
      |       FROM cs),
      |by0 AS (SELECT doc_id, ci, g.o, bl[CAST(g.o AS INT)] AS v
      |        FROM cb, unnest(generate_series(1, len(bl))) g(o)),
      |d AS (SELECT doc_id, list(v ORDER BY ci, o) AS vs,
      |             CAST(count(*) AS BIGINT) AS n
      |      FROM by0 GROUP BY doc_id),
      |wh AS (
      |  SELECT d.doc_id, g.i,
      |         CAST(list_sum(list_transform(generate_series(1, 16), t ->
      |           CAST(vs[CAST(g.i - 16 + t AS INT)] AS BIGINT)
      |             * pl.p[16 - t + 1]))
      |           % 2147483647 AS BIGINT) AS h
      |  FROM d, pl, unnest(generate_series(16, d.n)) g(i))""".stripMargin

  /** Full-chunk fingerprint select over the byte list — the x153
    * select with `ord(substr(text,…))` replaced by `vs` indexing;
    * expects `ch(doc_id, chunk_idx, start, len)` in scope. */
  private val CdcBytesFpSelect: String =
    """
      |SELECT c.doc_id, CAST(c.chunk_idx AS INT) AS chunk_idx,
      |       CAST(c.start AS INT) AS start, CAST(c.len AS INT) AS len,
      |       CAST(list_sum(list_transform(generate_series(1, c.len), t ->
      |         CAST(d2.vs[CAST(c.start + t AS INT)] AS BIGINT)
      |           * pl.p[c.len - t + 1]))
      |         % 2147483647 AS BIGINT) AS fp
      |FROM ch c JOIN d d2 USING (doc_id), pl""".stripMargin

  /** Bounded-CDC (x157/x160) segmentation: boundary acceptance is
    * SEQUENTIAL (the next boundary depends on the previous one), so a
    * recursive next-boundary fold replaces the positional
    * [[CdcSegCtes]]: from boundary `fin`, the next is the earliest
    * mask match at fin+minChunk(32) or later, capped by the forced
    * fin+maxChunk(128) and the doc end — exactly the kernel's
    * acceptance rule. Consumes `wh`/`d`, yields
    * `ch(doc_id, chunk_idx, start, len)`; position units are the base
    * CTEs' (chars or bytes). */
  private val CdcBoundedSegCtes: String =
    """,
      |seg(doc_id, n, fin) AS (
      |  SELECT doc_id, n, CAST(0 AS BIGINT) FROM d
      |  UNION ALL
      |  SELECT s.doc_id, s.n,
      |         least(
      |           coalesce((SELECT min(w2.i) FROM wh w2
      |                     WHERE w2.doc_id = s.doc_id
      |                       AND w2.h % 64 = 63
      |                       AND w2.i >= s.fin + 32), s.fin + 128),
      |           s.fin + 128, s.n)
      |  FROM seg s WHERE s.fin < s.n
      |),
      |segc AS (
      |  SELECT doc_id, fin,
      |         lag(fin) OVER (PARTITION BY doc_id ORDER BY fin) AS prev
      |  FROM seg),
      |ch AS (
      |  SELECT doc_id,
      |         CAST(row_number() OVER (PARTITION BY doc_id
      |           ORDER BY fin) - 1 AS INT) AS chunk_idx,
      |         prev AS start, fin - prev AS len
      |  FROM segc WHERE prev IS NOT NULL)""".stripMargin

  /** x152 keyword tag list — overlap-rich by design ("an" inside
    * "scan", self-bordered "a a", cross-word "fast scan") so the gate
    * exercises dictionary-suffix and self-overlap counting, not just
    * disjoint hits. Shared by the query and (via [[keywordValuesSql]])
    * the oracle, so the two cannot silently diverge. */
  val KeywordTagList: Seq[String] =
    Seq("spark", "table", "scan", "an", "fast scan", "row", "a a")

  private def keywordValues(tags: Seq[String]): String =
    tags.zipWithIndex
      .map { case (k, i) => s"(${i + 1}, '$k')" }.mkString(", ")

  private def keywordValuesSql: String = keywordValues(KeywordTagList)

  /** x161: [[KeywordTagList]] under the non-ASCII transform — the
    * byte automaton scans multi-byte UTF-8 where byte-level matching
    * must still equal character-level matching (UTF-8 is
    * self-synchronizing: pattern byte sequences align only on char
    * boundaries), and the oracle verifies exactly that claim. */
  val KeywordTagListUtf8: Seq[String] =
    KeywordTagList.map(_.replace("a", "ä").replace("e", "é"))

  /** Exact, order-independent sum of a double column: cast each value to
    * DECIMAL(18,6) (exact for this corpus's ≤2-decimal doubles), sum
    * exactly, cast the total back to double. Oracle mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_platform_agg")(spark, "/root/testdata/sf0.001")

  // ---- derived qz_log stand-in over `events` (the harness tables carry no
  // qz log; the mapping is deterministic and mirrored in the oracle SQL).
  private def qzFromEvents(events: DataFrame): DataFrame =
    events.select(
      (col("user_id") % 50).as("uid"),
      (col("user_id") % 4).as("courseid"),
      (col("event_id") % 5).as("pointid"),
      (col("event_id") % 30).cast("string").as("questionid"),
      when(col("value") > 10.0, "1").otherwise("0").as("istrue"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("createtime"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J1: dimension decode (when/otherwise) + keyed aggregate
    "q1_platform_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val platform = when(col("user_id") % 3 === 1, "PC")
        .when(col("user_id") % 3 === 2, "APP")
        .otherwise("Other")
      ev.groupBy(platform.as("platform"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    }),
    // J1: sliding event-time window counts (60s/6s semantics at 1h/6min)
    "q2_sliding_window" -> ((s, dir) => {
      RegisterAnalytics.slidingCounts(
        Tables.events(s, dir), col("ts"), col("event_type"),
        "1 hour", "6 minutes")
        .withColumnRenamed("key", "event_type")
    }),
    // J1: cumulative per-key totals (updateStateByKey as batch analog)
    "q3_cumulative_daily" -> ((s, dir) => {
      RegisterAnalytics.cumulativeDaily(
        Tables.events(s, dir), col("ts"), col("event_type"))
        .withColumnRenamed("key", "event_type")
    }),
    // J2: knowledge-point mastery (collect_set + conditional sums + rates)
    "q4_qz_mastery" -> ((s, dir) =>
      QzMastery.mastery(qzFromEvents(Tables.events(s, dir)))),
    // J3: JSON field extraction + aggregate
    "q5_props_extract" -> ((s, dir) => {
      // try_cast: a dirty props value (non-numeric k) becomes null —
      // matching the oracle's regexp_extract — instead of an ANSI throw
      val k = get_json_object(col("props"), "$.k")
      Tables.events(s, dir)
        .select(k.try_cast(org.apache.spark.sql.types.LongType).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"))
    }),
    // J4: day-partitioned archive layout as an aggregate
    "q6_day_buckets" -> ((s, dir) =>
      PageAnalytics.dayBuckets(
          Tables.events(s, dir), col("ts"), col("event_type"))
        .withColumnRenamed("key", "event_type")),
    // J3: page-jump counts + conversion rates (the analysis the reference
    // stops short of at PageStreaming.scala:89)
    "q15_page_conversion" -> ((s, dir) => {
      val pv = Tables.events(s, dir).select(
        (col("user_id") % 20).cast("string").as("last_page_id"),
        (col("event_id") % 20).cast("string").as("page_id"),
        ((col("event_id") + 1) % 20).cast("string").as("next_page_id"))
      graft.streaming.PageStream.conversionRates(
        graft.streaming.PageStream.jumpCounts(pv))
    }),
    // Batch surface: scan+pushdown, joins, windows, top-k, set ops
    "q7_pricing_summary" -> ((s, dir) => Tpch.pricingSummary(s, dir)),
    "q8_region_revenue" -> ((s, dir) => Tpch.regionRevenue(s, dir)),
    "q9_top_customers" -> ((s, dir) => Tpch.topCustomers(s, dir)),
    "q10_priority_heavy" -> ((s, dir) => Tpch.priorityWithHeavyItems(s, dir)),
    "q11_customers_no_orders" -> ((s, dir) => Tpch.customersWithoutOrders(s, dir)),
    "q12_supplier_part_rank" -> ((s, dir) => Tpch.supplierPartRank(s, dir)),
    "q13_segment_setops" -> ((s, dir) => Tpch.segmentSetOps(s, dir)),
    "q14_events_by_segment" -> ((s, dir) => Tpch.eventsBySegment(s, dir)),
    // Extensions: dedup
    "x1_dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "x2_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), threshold = 0.5)),
    // poly = true: the oracle-replayable token hash, so the DuckDB gate
    // recomputes the simhash values themselves and the pigeonhole chunk
    // search is checked end-to-end (it is exactly complete for
    // hamming ≤ 3, so Spark's banded output must equal the oracle's
    // brute-force pair scan)
    "x3_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3,
        poly = true)),
    "x4_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardBlocked(Tables.documents(s, dir), "source",
        threshold = 0.5)),
    // Extensions: similarity search
    "x5_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    }),
    // ANN paths gated on recall vs the exact brute force (the neighbor
    // lists themselves are seed-dependent and not SQL-replayable; the
    // recall floor + the exact k-th cosine are — see
    // Similarity.recallGate)
    "x6_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
      Similarity.recallGate(
        Similarity.annTopK(emb, qs, k = 10, nBits = 6, nTables = 4,
          probeHamming = 2),
        Similarity.cosineTopK(emb, qs, k = 10), floor = AnnLshRecallFloor)
    }),
    "x13_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
      Similarity.recallGate(
        Similarity.ivfTopK(emb, qs, k = 10, nLists = 16, nProbe = 12),
        Similarity.cosineTopK(emb, qs, k = 10), floor = AnnIvfRecallFloor)
    }),
    "x12_cosine_dedup" -> ((s, dir) =>
      Similarity.cosineDedupBlocked(Tables.embeddings(s, dir), "label", 0.3)),
    // incremental ANN: a NEW batch of vectors probes the corpus through
    // the PERSISTED FULL index — quantizer AND cell-bucketed
    // inverted lists (IvfIndex). The index is built ONCE per corpus
    // (training is deterministic, so the artifact is a pure function
    // of the corpus; a stable warehouse-rooted path keyed by the data
    // fingerprint lets the first build serve every later JVM); a delta
    // batch is then a PARTITION-PRUNED read of its probed cells joined
    // to the broadcast probe set — cost ∝ probed cells, with no
    // per-batch corpus re-assignment scan (the round-12 weak) and no
    // retraining; assignments consistent with every previous batch.
    // Row-for-row equal to the recompute route (IvfIndexSpec law), so
    // the recall gate is unchanged
    "x97_ann_delta" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val delta = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
      val approx = Artifacts.cached(s, "x97_ivf_index",
          Artifacts.tableFingerprint(dir, "embeddings")) { p =>
        graft.operators.IvfIndex.build(corpus, p, nLists = 16)
      } { p =>
        graft.operators.IvfIndex.search(s, p, delta, k = 10, nProbe = 12)
      }
      Similarity.recallGate(approx,
        Similarity.cosineTopK(corpus, delta, k = 10),
        floor = AnnIvfRecallFloor)
    }),
    // incremental index MAINTENANCE (the other half of the delta
    // story next to x97's pruned probe): the index is built on the
    // base corpus (batch 0 of its lists and masses stores), the delta
    // is APPENDED under the frozen quantizer as batch 1 (assigned and
    // written into its own cell buckets — cost ∝ |delta|, no training,
    // no corpus pass; a replayed batch id overwrites its own dirs),
    // and queries then search the appended index — gate = recall vs
    // the exact scan over the UNION, so the appended vectors must be
    // first-class neighbors
    "x148_ann_index_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val queries = emb.filter(col("vec_id") % 10 === 0 &&
        col("vec_id") < 50)
      val approx = Artifacts.cached(s, "x148_ivf_appended",
          Artifacts.tableFingerprint(dir, "embeddings")) { p =>
        graft.operators.IvfIndex.build(base, p, nLists = 16)
        graft.operators.IvfIndex.append(s, p, delta, batchId = 1)
      } { p =>
        graft.operators.IvfIndex.search(s, p, queries, k = 10, nProbe = 12)
      }
      Similarity.recallGate(approx,
        Similarity.cosineTopK(emb, queries, k = 10),
        floor = AnnIvfRecallFloor)
    }),
    // content-defined chunking (Rabin boundaries — LBFS and every
    // dedup store since): boundary where the 16-byte rolling hash has
    // its low 6 bits set, so an INSERTION perturbs boundaries only
    // locally and every other chunk keeps its fingerprint — the
    // shift-robust sub-document dedup that fixed windows and whole-doc
    // hashing both miss. Chunk pass = one codegen byte-pass per row
    // (zero shuffle); the oracle replays the exact mod-2^31−1
    // polynomial arithmetic
    "x153_cdc_chunks" -> ((s, dir) =>
      graft.operators.Dedup.cdcChunks(Tables.documents(s, dir),
        w = 16, maskBits = 6)),
    // the dedup application: (fp, len) chunks present in >= 2 docs —
    // one map-side-combinable aggregate whose shuffle carries distinct
    // chunk keys only (the exact-dedup shape at chunk granularity)
    "x154_cdc_dup_chunks" -> ((s, dir) =>
      graft.operators.Dedup.cdcDupChunks(Tables.documents(s, dir),
        w = 16, maskBits = 6, minLen = 24)),
    // the pair-level CDC application: document pairs sharing >= 48
    // bytes of distinct chunk keys — the chunk-posting join that
    // surfaces shifted/partial duplicates; chunks in > 64 docs are
    // dropped before pairing (boilerplate is not duplication evidence,
    // and a k-doc chunk would emit k² pairs)
    "x155_cdc_overlap" -> ((s, dir) =>
      graft.operators.Dedup.cdcOverlapPairs(Tables.documents(s, dir),
        w = 16, maskBits = 6, minLen = 24, minSharedBytes = 48,
        maxDocsPerChunk = 64)),
    // bounded CDC (the LBFS min/max rule production chunkers carry):
    // mask boundaries suppressed under 32 bytes, forced at 128 — same
    // one-codegen-byte-pass shape as x153; the bounds make boundary
    // acceptance sequential, which the oracle replays with a recursive
    // next-boundary CTE instead of the positional predicate
    "x157_cdc_chunks_bounded" -> ((s, dir) =>
      graft.operators.Dedup.cdcChunksBounded(Tables.documents(s, dir),
        w = 16, maskBits = 6, minChunk = 32, maxChunk = 128)),
    // x159/x160: x153/x157 over a NON-ASCII corpus ('a'→'ä', 'e'→'é';
    // 2-byte UTF-8) — the engine's CDC kernel operates on raw UTF-8
    // bytes, and here byte offsets/hashes genuinely diverge from
    // character arithmetic, so the byte contract is load-bearing: the
    // oracle expands chars to UTF-8 bytes in SQL and folds over bytes.
    // Oracle SF ceiling is PINNED — see TESTDATA.md "Byte-expansion
    // oracle protocol" (sf0.1 solo-process is the verified maximum;
    // sf1 exceeds DuckDB memory by design of the byte CTE)
    "x159_cdc_chunks_utf8" -> ((s, dir) =>
      graft.operators.Dedup.cdcChunks(Tables.documents(s, dir)
          .withColumn("text", translate(col("text"), "ae", "äé")),
        w = 16, maskBits = 6)),
    "x160_cdc_bounded_utf8" -> ((s, dir) =>
      graft.operators.Dedup.cdcChunksBounded(Tables.documents(s, dir)
          .withColumn("text", translate(col("text"), "ae", "äé")),
        w = 16, maskBits = 6, minChunk = 32, maxChunk = 128)),
    // the CDC delta route (every dedup family's incremental shape):
    // chunk ONLY the arriving batch, probe the persisted chunk index —
    // cost ∝ delta; corpus = doc_id % 10 != 0, delta = the rest (the
    // x48 split)
    "x156_cdc_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.Dedup.cdcOverlapDelta(delta,
        graft.operators.Dedup.cdcChunkIndex(corpus),
        minSharedBytes = 48, maxDocsPerChunk = 64)
    }),
    // per-doc CDC duplication accounting: how many of a doc's
    // chunk-bytes exist elsewhere in the corpus (first arrival is
    // canonical, every later occurrence — incl. within-doc repeats —
    // is duplicate mass); the wholesale-drop curation signal next to
    // the pair-level x155. Canonical pick = min(struct) aggregate +
    // join-back (never a keyed window — a hot boilerplate chunk would
    // buffer in one task), one per-doc aggregate — shuffle ∝ chunks
    "x158_cdc_dup_stats" -> ((s, dir) =>
      graft.operators.Dedup.cdcDupStats(Tables.documents(s, dir),
        w = 16, maskBits = 6, minLen = 24)),
    // keyword blocklist/taglist screening (bad-word filters, license
    // and domain-term tagging): per-keyword overlapping-occurrence
    // counts in ONE Aho–Corasick byte pass per row — cost independent
    // of list size, vs K regex scans (K× the corpus scan at 100 TB) or
    // an n-gram explode (corpus-amplifying shuffle). Pure projection;
    // the oracle replays the definition by brute-force position scan
    "x152_keyword_tags" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          graft.functions.KeywordExprs.keywordCounts(col("text"),
            KeywordTagList).as("_c"))
        .select(col("doc_id"),
          aggregate(col("_c"), lit(0L), (a, c) => a + c).as("n_hits"),
          size(filter(col("_c"), c => c > lit(0L))).as("n_kinds"),
          array_join(transform(col("_c"), c => c.cast("string")), ",")
            .as("counts"))),
    // x161: x152 over the non-ASCII corpus with multi-byte keywords —
    // the Aho–Corasick automaton walks raw UTF-8 bytes, and this gate
    // proves byte matching ≡ character matching on multi-byte text
    // (UTF-8 self-synchronization), which x152's ASCII corpus never
    // exercised
    "x161_keyword_tags_utf8" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
          graft.functions.KeywordExprs.keywordCounts(
            translate(col("text"), "ae", "äé"),
            KeywordTagListUtf8).as("_c"))
        .select(col("doc_id"),
          aggregate(col("_c"), lit(0L), (a, c) => a + c).as("n_hits"),
          size(filter(col("_c"), c => c > lit(0L))).as("n_kinds"),
          array_join(transform(col("_c"), c => c.cast("string")), ",")
            .as("counts"))),
    // Johnson–Lindenstrauss sign random projection (Achlioptas 2003):
    // 64 → 16 dims with deterministic ±1/√16 entries derived from pure
    // BIGINT arithmetic — the projection matrix is an engine constant
    // the oracle replays literally, not a shipped artifact. Relational
    // (vec_id, rp_dim, rp_val) rows; a pure projection, zero shuffle
    "x150_random_projection" -> ((s, dir) =>
      Similarity.randomProject(Tables.embeddings(s, dir),
        dIn = 64, kOut = 16)),
    // the JL distortion audit over the projection: per-pair original
    // vs projected cosine and the absolute gap, on the 40-lowest-id
    // sample (780 pairs at every SF) — the measurement run before
    // choosing a projection width, and the measured reason no RP
    // prefilter ships (see Similarity.rpDistortion docs + SCALE.md)
    "x151_rp_distortion" -> ((s, dir) =>
      Similarity.rpDistortion(Tables.embeddings(s, dir),
        sampleIds = 40, dIn = 64, kOut = 16)),
    // Extensions: point-in-time (as-of) lookup — strictly-previous order
    // date per order, the inter-purchase-interval primitive
    "x14_asof_prev_order" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      graft.operators.AsofJoin.asofLookup(
        left = o, right = o,
        leftKey = col("o_custkey"), rightKey = col("o_custkey"),
        leftTime = col("o_orderdate"), rightTime = col("o_orderdate"),
        valueCol = col("o_orderdate"), asofCol = "prev_order_date",
        leftProjection = Seq(col("o_orderkey")),
        inclusive = false)
    }),
    // forward as-of with tolerance: the NEXT order date within 30 days
    // per order (time-to-next-purchase primitive) — same single-shuffle
    // union plan as x14 with the frame mirrored; gap > 30 d nulls out
    "x109_asof_next_order" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      graft.operators.AsofJoin.asofLookupForward(
        left = o, right = o,
        leftKey = col("o_custkey"), rightKey = col("o_custkey"),
        leftTime = col("o_orderdate"), rightTime = col("o_orderdate"),
        valueCol = col("o_orderdate"), asofCol = "next_order_date",
        leftProjection = Seq(col("o_orderkey")),
        inclusive = false, toleranceSec = Some(30L * 86400))
    }),
    // Extensions: temporal band join — same-priority orders within ±1
    // day of each other (temporal-proximity feature primitive),
    // cost-routed: RANGE-frame window (zero joins) while per-key volume
    // is task-sized, granule-bucket join above it
    "x15_range_near_orders" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate"))
      graft.operators.RangeJoin.neighborCounts(
        o, idCol = col("o_orderkey"), key = col("o_orderpriority"),
        time = col("o_orderdate"), tolSec = 86400L)
    }),
    // Extensions: text analysis
    "x7_text_stats" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        TextAnalysis.alphaChars(col("text")).cast("long").as("n_alpha"),
        TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
        length(col("text")).cast("long").as("n_chars"))),
    "x8_text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    "x9_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_guess"))),
    // oracle-replayable polynomial fingerprints (code-point folds DuckDB
    // recomputes exactly); the xxhash64 variants remain the fast path
    // for users and keep their kernel unit tests
    "x10_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.polyFingerprint(col("text")).as("fingerprint"),
        TextAnalysis.rollingPolyFingerprint(col("text")).as("rolling_fp"))),
    // Extensions: multimodal plumbing (byte-level slice)
    "x11_media_stats" -> ((s, dir) =>
      Multimodal.payloadStats(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))),
    // Extensions: corpus preparation (deterministic splits, cleanup,
    // chunking — the projection passes between ingestion and training)
    "x16_split_assign" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.operators.Corpus.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))),
    "x17_normalize" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.normalizeText(
          TextAnalysis.scrubPii(col("text"))).as("clean_text"),
        TextAnalysis.stopwordRemovals(col("text")).cast("long")
          .as("n_removed"))),
    "x18_chunk" -> ((s, dir) =>
      graft.operators.Corpus.chunk(Tables.documents(s, dir),
        "doc_id", "text", chunkChars = 200, overlapChars = 20)),
    // distributed exact percentiles (sort-based, no per-group buffering
    // — `percentile()` holds every group value in aggregation state);
    // same quantile_cont definition as the oracle
    // per-source percentiles through the GROUPED distributed rank:
    // source is a few-large-groups column, so the keyed window (one
    // task per source) is the wrong plan at corpus scale
    "x19_len_percentiles" -> ((s, dir) =>
      graft.operators.Corpus.exactPercentilesGrouped(
        Tables.documents(s, dir), "source", length(col("text")),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))),
    // benchmark decontamination: docs sharing ≥ 50 8-grams with the
    // "benchmark" slice (doc_id < 10) are flagged — single-row
    // broadcast + doc-local merge, the corpus never shuffles
    "x20_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.decontaminate(
        docs, docs.filter(col("doc_id") < 10),
        minSharedGrams = 50, n = 8)
    }),
    // the pretraining artifact itself: the corpus token stream packed
    // into fixed 64-token sequences across doc boundaries — global
    // (doc, idx) order via the distributed range-partition rank, no
    // single-task window (machine-guarded)
    "x108_pack_sequences" -> ((s, dir) =>
      graft.operators.Packing.packTokensGlobal(
        Tables.documents(s, dir), seqTokens = 64)),
    // filtered vector search: top-k cosine among vectors passing a
    // metadata predicate — the predicate prunes BEFORE any scoring
    // (PushedFilters reaches the parquet scan; plan-asserted), so the
    // scan cost is ∝ the filtered slice, not the corpus
    "x107_ann_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb.filter(col("label") === 1),
        emb.filter(col("vec_id") < 5), k = 5)
        .select(col("query_id"), col("vec_id"), col("cosine"),
          col("rnk"))
    }),
    // the dedup DECISION applied: keep one canonical doc per near-dup
    // cluster (plus every singleton) — the x24 clustering composed into
    // the corpus-materialization semi join a production pass actually
    // ships; output is the kept docs with their cluster context
    "x110_dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.dupClusters(docs,
        Dedup.simhashPairs(docs, maxHamming = 3, poly = true))
        .filter(col("is_canonical"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    }),
    // per-source OOV rate vs a FROZEN top-k vocabulary: the tokenizer-
    // coverage diagnostic (which sources a vocab trained on the corpus
    // head serves worst); vocab = x27's exact top-k aggregated into a
    // single-row broadcast array, counted doc-locally by the
    // SortedContainsCount kernel — ONE corpus scan for the rate pass
    // (the vocab's own top-k scan is the inherent prior pass), no
    // token-stream explode, no token-level shuffle
    "x111_oov_rate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Vocab
        .topTokens(docs, col("text"), k = 500).select(col("token"))
      graft.operators.Vocab.oovRate(docs, vocab)
    }),
    // x111's UNBOUNDED-vocab route (explode + anti join) against the
    // SAME oracle — the two routes must hash-equal, so route equality
    // is enforced by the correctness gate itself, not just a spec
    "x116_oov_rate_joined" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Vocab
        .topTokens(docs, col("text"), k = 500).select(col("token"))
      graft.operators.Vocab.oovRateJoined(docs, vocab)
    }),
    // weighted reservoir per source (Efraimidis–Spirakis A-ES): 10 docs
    // per source with selection probability ∝ document length, as a
    // deterministic pure function of (id, weight) — the log-domain
    // es_key is oracle-replayable; ranked via the distributed grouped
    // rank (few-large-groups contract)
    "x113_weighted_sample" -> ((s, dir) =>
      graft.operators.Corpus.weightedSamplePerGroup(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("doc_id"), col("n_chars"), k = 10,
        numRanges = 8)
        .select(col("source"), col("doc_id"), col("es_key"))),
    // n-gram containment (Broder 1997): doc_a's 12-gram set ≥ 90%
    // inside doc_b's — quote/subset detection the symmetric Jaccard
    // threshold structurally misses; probe-side prefix filter + fused
    // size bound against the full inverted gram index, one-merge
    // int/int verify. 12-char grams + t=0.9 keep candidate density
    // organic on low-entropy (small-vocabulary) corpora — the measured
    // knob trade-off is in SCALE.md
    "x114_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir),
        threshold = 0.9, n = 12)),
    // incremental containment: pairs touching a NEW batch against the
    // persisted corpus prefix index — delta probes the corpus inverted
    // grams, the corpus's own prefixes probe only delta grams, so
    // corpus×corpus pairs structurally cannot form; the x87/x101 delta
    // discipline extended to the asymmetric operator
    "x117_containment_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      Dedup.containmentPairsDelta(delta,
        Dedup.jaccardIndex(corpus, threshold = 0.9, n = 12))
    }),
    // cross-source duplicate flow: x2's MinHash pairs rolled up by the
    // unordered source pair — which sources copy which (mirror sites =
    // off-diagonal mass, in-crawl boilerplate = diagonal)
    "x106_dup_flow" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.dupFlow(docs,
        Dedup.minhashLsh(docs, threshold = 0.5))
    }),
    // semantic decontamination: corpus vectors flagged when their max
    // cosine vs ANY eval vector (every 10th id) reaches 0.35 — the
    // embedding-space leak check surface n-grams miss; eval broadcasts,
    // corpus pays one scan + an id-keyed max agg
    "x105_sem_decontaminate" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0), threshold = 0.35)
    }),
    // binary-payload exact dedup: byte-identity (no normalization) over
    // the synthesized media table — the first pass over a scraped
    // image/audio corpus; x1's hash-agg shape on the binary modality
    "x104_payload_dedup" -> ((s, dir) =>
      graft.operators.Multimodal.dedupPayloads(
        graft.operators.Multimodal.mediaFromDocuments(
          Tables.documents(s, dir)))),
    // perceptual (feature-level) media near-dedup: the pass AFTER x104's
    // byte-identity — decode payloads map-side ONCE to fixed-width
    // feature vectors (stub decoder: deterministic, oracle-replayable),
    // candidates via quantized-feature chunk keys (the x3 SimHash
    // pigeonhole at feature level — pairs differing in ≤3 of 16
    // coordinates are guaranteed candidates), exact cosine verify.
    // Payloads never shuffle; candidates ∝ duplicate mass, never a hot
    // single-band quadratic
    "x162_media_near_dedup" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .mediaFromDocuments(Tables.documents(s, dir))
        .select(col("media_id").as("mediaId"),
          col("media_type").as("mediaType"), col("payload"),
          lit(0).as("width"), lit(0).as("height"),
          lit(0L).as("durationMs"))
        .as[graft.operators.Multimodal.MediaRecord]
      graft.operators.Multimodal.nearDupPairs(media, threshold = 0.999)
    }),
    // the media delta route (every dedup family's incremental shape on
    // the binary modality): decode ONLY the arriving batch, probe the
    // persisted feature/chunk-key index — cost ∝ delta, the corpus is
    // never re-decoded; corpus = doc_id % 10 != 0, delta = the rest
    // (the x48/x156 split)
    "x163_media_dedup_delta" -> ((s, dir) => {
      import s.implicits._
      def media(df: org.apache.spark.sql.DataFrame) = df
        .select(col("media_id").as("mediaId"),
          col("media_type").as("mediaType"), col("payload"),
          lit(0).as("width"), lit(0).as("height"),
          lit(0L).as("durationMs"))
        .as[graft.operators.Multimodal.MediaRecord]
      val all = graft.operators.Multimodal
        .mediaFromDocuments(Tables.documents(s, dir))
      val corpus = media(all.filter(col("media_id") % 10 =!= 0))
      val delta = media(all.filter(col("media_id") % 10 === 0))
      graft.operators.Multimodal.nearDupDelta(delta,
        graft.operators.Multimodal.nearDupIndex(corpus),
        threshold = 0.999)
    }),
    // sub-file (frame-level) media overlap: the cdcOverlapPairs shape
    // on the video modality — media pairs sharing distinct
    // near-identical frames, boilerplate frames (> 64 media) dropped
    // before pairing; frame decode is map-side fan-out, the pair join
    // is key-equality on the frame feature key. The harness documents
    // are ~300 bytes = one frame each, so minSharedFrames = 1 here;
    // the multi-frame laws live in the unit spec with video-sized
    // payloads
    "x164_media_frame_overlap" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.Multimodal
        .mediaFromDocuments(Tables.documents(s, dir))
        .select(col("media_id").as("mediaId"),
          col("media_type").as("mediaType"), col("payload"),
          lit(0).as("width"), lit(0).as("height"),
          lit(0L).as("durationMs"))
        .as[graft.operators.Multimodal.MediaRecord]
      graft.operators.Multimodal.frameOverlapPairs(media,
        minSharedFrames = 1, maxMediaPerFrame = 64)
    }),
    // the frame-level delta route (x164's incremental shape — the
    // last dedup family member to gain one): decode ONLY the arriving
    // batch's frames, probe the persisted (frame-key → media) posting
    // index — re-cut detection over a growing video corpus never
    // re-decodes the corpus; corpus = media_id % 10 != 0, delta = the
    // rest (the x48/x156/x163 split); boilerplate cap over union
    // frequency, so delta ≡ batch-restriction exactly (law-tested)
    "x165_media_frame_delta" -> ((s, dir) => {
      import s.implicits._
      def media(df: org.apache.spark.sql.DataFrame) = df
        .select(col("media_id").as("mediaId"),
          col("media_type").as("mediaType"), col("payload"),
          lit(0).as("width"), lit(0).as("height"),
          lit(0L).as("durationMs"))
        .as[graft.operators.Multimodal.MediaRecord]
      val all = graft.operators.Multimodal
        .mediaFromDocuments(Tables.documents(s, dir))
      val corpus = media(all.filter(col("media_id") % 10 =!= 0))
      val delta = media(all.filter(col("media_id") % 10 === 0))
      graft.operators.Multimodal.frameOverlapDelta(delta,
        graft.operators.Multimodal.frameIndex(corpus),
        minSharedFrames = 1, maxMediaPerFrame = 64)
    }),
    // cross-modal duplicate clusters: components over the UNION of
    // paragraph-sharing text edges (partial overlap the 16 sampled
    // media bytes miss) and perceptual media pairs (byte similarity
    // that survives rewording) — the per-CLUSTER dedup decision a
    // multimodal pipeline makes, bridged across modalities
    "x166_cross_modal_components" -> ((s, dir) =>
      graft.operators.Multimodal.crossModalComponents(
        Tables.documents(s, dir))),
    // graded contamination: per-doc FRACTION of distinct 8-grams found
    // in the benchmark slice — the curation-feature companion to x20's
    // binary flag; same broadcast/semi-join routing, the per-doc gram
    // count rides the same doc-local shingle projection
    "x100_contamination_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.contaminationScore(
        docs, docs.filter(col("doc_id") < 10), n = 8)
    }),
    // sketch percentiles with a DISTRIBUTED rank-error audit: the
    // estimate's rank (ties-aware) must land within the GK guarantee —
    // the gate that makes approx_percentile trustworthy at corpus scale
    // (estimates themselves are sketch-dependent, so the oracle checks
    // the audit verdict and exact group counts, like x62's HLL gate)
    "x99_approx_quantiles" -> ((s, dir) =>
      graft.operators.Corpus.approxPercentilesGated(
        Tables.documents(s, dir), "source", length(col("text")),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), accuracy = 1000)
        .select(col("source"), col("pname"), col("p"), col("n"),
          col("rank_ok"))),
    // Gopher-style repetition signals
    "x21_repetition" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.dupWordFraction(col("text")).as("dup_word_frac"),
        TextAnalysis.dupGramFraction(col("text"), 3).as("dup_gram_frac"))),
    // deterministic weighted mixture: src0/src1 down-weighted, the rest
    // kept whole — membership is a pure function of (doc_id, rate)
    "x22_corpus_mix" -> ((s, dir) =>
      graft.operators.Corpus.mixBySource(
        Tables.documents(s, dir), col("doc_id"), col("source"),
        Map("src0" -> 0.25, "src1" -> 0.5))
        .select(col("doc_id"), col("source"))),
    // gap-based sessionization over the event stream (30-min gap);
    // timestamps formatted to microseconds for engine-portable compare
    "x23_sessionize" -> ((s, dir) =>
      graft.analytics.Sessionize.sessions(
        Tables.events(s, dir), col("user_id"), col("ts"), gapSec = 1800L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("start_ts"),
          date_format(col("end_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("end_ts"))),
    // duplicate-cluster resolution: near-dup pairs (poly-simhash, the
    // oracle-replayable variant) → connected components → one canonical
    // doc per cluster; singletons are their own cluster
    "x24_dup_clusters" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.dupClusters(docs,
        Dedup.simhashPairs(docs, maxHamming = 3, poly = true))
    }),
    // sequence packing into 256-token training sequences, sharded by
    // source: greedy first-fit (no doc splitting, SFT-style) and
    // concatenate-and-slice (docs span sequences, pretraining-style)
    "x25_pack_greedy" -> ((s, dir) =>
      graft.operators.Packing.packGreedy(Tables.documents(s, dir),
        col("source"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 256L)),
    "x26_pack_concat" -> ((s, dir) =>
      graft.operators.Packing.packConcat(Tables.documents(s, dir),
        col("source"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 256L)),
    // corpus vocabulary: exact top-k (distinct-token shuffle), and the
    // sketch route — Misra-Gries candidates + exact-count join-back —
    // whose output is provably the exact > phi*N set
    "x27_vocab_topk" -> ((s, dir) =>
      graft.operators.Vocab.topTokens(
        Tables.documents(s, dir), col("text"), k = 100)),
    "x28_heavy_hitters" -> ((s, dir) =>
      graft.operators.Vocab.heavyHitters(
        Tables.documents(s, dir), col("text"), phi = 0.005, capacity = 256)),
    // balanced per-source sampling: at most k docs per source / a token
    // budget per source, membership a pure function of the key hash;
    // source is a few-large-groups column, so both route through the
    // distributed grouped rank / prefix sum (numRanges > 0), never a
    // one-task-per-source window
    "x29_cap_per_source" -> ((s, dir) =>
      graft.operators.Corpus.capPerGroup(
        Tables.documents(s, dir), col("source"), col("doc_id"), k = 10,
        numRanges = 32)
        .select(col("doc_id"), col("source"))),
    "x30_token_budget_mix" -> ((s, dir) =>
      graft.operators.Corpus.capTokensPerGroup(
        Tables.documents(s, dir), col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")), budget = 600L,
        numRanges = 32)
        .select(col("doc_id"), col("source"))),
    // paragraph-level exact dedup: the testdata corpus is single-line,
    // so " the " (a literal, also a valid regex) stands in for the real
    // paragraph delimiter — the operator semantics are delimiter-blind
    "x31_dedup_paragraph" -> ((s, dir) =>
      Dedup.dedupParagraphs(Tables.documents(s, dir),
        delimiter = " the ", rejoin = " the ")),
    // cross-doc boilerplate: segments present in >= 3 distinct docs are
    // template noise — ALL occurrences drop (vs x31's keep-canonical)
    "x71_boilerplate" -> ((s, dir) =>
      Dedup.removeBoilerplate(Tables.documents(s, dir), minDocs = 3,
        delimiter = " the ", rejoin = " the ")),
    // Lee-et-al-style exact-substring dedup with SPAN REMOVAL: every
    // duplicated run of >= 20 consecutive tokens keeps its first
    // (doc_id, pos) occurrence and is excised everywhere else; output is
    // the REWRITTEN text of modified docs (x49/x55/x56 only report spans)
    "x85_span_dedup" -> ((s, dir) =>
      graft.operators.SpanDedup.excise(Tables.documents(s, dir),
        windowTokens = 20)),
    // full-corpus span excision: x85's rewrite left-joined back onto
    // the corpus (clean_text coalesces to the original), so the output
    // IS the deduplicated training corpus — every doc, one row,
    // n_removed = 0 for untouched docs
    "x112_span_dedup_all" -> ((s, dir) =>
      graft.operators.SpanDedup.exciseAll(Tables.documents(s, dir),
        windowTokens = 20)),
    // incremental span excision: the corpus window-fingerprint relation
    // stands in for the persisted parquet index — FIRST-ARRIVAL
    // semantics (an indexed fp removes every delta occurrence, whatever
    // the id order), delta docs rewritten, corpus never touched
    "x90_span_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.SpanDedup.exciseDelta(
        docs.filter(col("doc_id") % 7 === 0),
        graft.operators.SpanDedup.fpIndex(
          docs.filter(col("doc_id") % 7 =!= 0), windowTokens = 20),
        windowTokens = 20)
    }),
    // BPE train + encode end-to-end: 3 merges learned from the corpus
    // (count desc, lexicographic tie-break, minCount 2), then the whole
    // corpus tokenized with the trained table via the doc-local encode
    // kernel — the oracle independently replays BOTH the trainer rounds
    // and the greedy merge application
    "x91_bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Vocab.bpeMerges(docs, col("text"),
        nMerges = 3, minCount = 2)
      graft.operators.Vocab.bpeEncode(docs, col("doc_id"), col("text"),
        merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(col("bpe"), "\u0001").as("encoded"))
    }),
    // x91's encode shipped as INT token ids: ids = 1-based rank in the
    // sorted symbol universe (deterministic, SQL-replayable); the
    // mapping is the doc-local binary-search kernel against a one-row
    // sorted-vocab broadcast — token-id arrays, the artifact a trainer
    // consumes
    "x115_bpe_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Vocab.bpeMerges(docs, col("text"),
        nMerges = 3, minCount = 2)
      graft.operators.Vocab.bpeEncodeIds(docs, col("doc_id"),
        col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), _.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // CHAR-LEVEL (subword) BPE train + encode: Sennrich symbol init
    // (code-point chars, </w> on word-final chars), training over the
    // weighted word-frequency dictionary, merged symbols plain
    // concatenations — the tokenizer a real pipeline ships, vs x91's
    // phrase units; the oracle independently replays the weighted
    // dictionary trainer rounds AND the per-word greedy application
    "x118_bpe_char" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Vocab.bpeMergesChar(docs, col("text"),
        nMerges = 4, minCount = 2)
      graft.operators.Vocab.bpeEncodeChar(docs, col("doc_id"),
        col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(col("bpe"), "\u0001").as("encoded"))
    }),
    // x118's encode as INT token ids (the x115 id contract: 1-based
    // rank in the sorted encoded-symbol universe) — subword id arrays,
    // the artifact an LLM trainer actually consumes
    "x119_bpe_char_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Vocab.bpeMergesChar(docs, col("text"),
        nMerges = 4, minCount = 2)
      graft.operators.Vocab.bpeEncodeIdsChar(docs, col("doc_id"),
        col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), _.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // x119's id contract THROUGH the on-disk artifact seam: train →
    // saveBpeTokenizer → loadBpeTokenizer → encode ids from the
    // LOADED table — the production offline-trainer/consumer
    // exchange (a versioned parquet artifact, not a live DataFrame),
    // now oracle-gated: the oracle replays the TRAINED path, so a
    // hash match proves load-path ≡ trained-path on the full corpus
    "x122_bpe_artifact_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val art = Artifacts.cached(s, "x122_bpe_tokenizer",
          Artifacts.tableFingerprint(dir, "documents")) { p =>
        graft.operators.Vocab.saveBpeTokenizer(
          graft.operators.Vocab.bpeMergesChar(docs, col("text"),
            nMerges = 4, minCount = 2), p, "char", "</w>")
      } { p => graft.operators.Vocab.loadBpeTokenizer(s, p) }
      graft.operators.Vocab.bpeEncodeIdsChar(docs, col("doc_id"),
        col("text"), art.merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), _.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    // bucket models of the TARGET slice (lang='en' — the CCNet-style
    // clean-reference convention) vs the raw corpus; per-doc log
    // importance ratio folds doc-locally against a dim-double literal
    // lookup — model pass is one bounded-key aggregate, scoring pass
    // shuffles nothing doc-keyed
    "x123_dsir_weights" -> ((s, dir) =>
      graft.operators.Relevance.dsirWeights(
        Tables.documents(s, dir), col("lang") === "en", dim = 1024)),
    // DSIR's selection step: Gumbel-top-k resampling on the x123
    // weights with derandomized noise from the portable poly hash of
    // "dsir:"+doc_id — sample-without-replacement ∝ exp(weight),
    // deterministic and oracle-replayable
    "x124_dsir_resample" -> ((s, dir) =>
      graft.operators.Relevance.dsirResample(
        Tables.documents(s, dir), col("lang") === "en", k = 100,
        dim = 1024)),
    // interpolated Kneser–Ney bigram LM (D=0.75, add-½ smoothed
    // continuation) self-scored over the corpus — the published
    // upgrade of x92's add-k model; same (id, n_bigrams, avg_nll)
    // contract, so it drops into the x94 bucketing pipeline
    "x125_kn_lm" -> ((s, dir) =>
      graft.operators.Relevance.knLmScore(Tables.documents(s, dir))),
    // subword-tokenizer fertility per language: tokens/word and
    // chars/token from the x118 char-BPE encode — the tokenizer-QA
    // metric multilingual pipelines track (a high-fertility language
    // is being over-fragmented and over-billed in training compute)
    "x126_token_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the tokenizer is an OFFLINE artifact (the x122 seam), built
      // once per corpus — training is deterministic, so the first
      // build serves every later fertility scan ACROSS JVMs (stable
      // warehouse-rooted path keyed by the data fingerprint); the
      // timed query is load + encode + the per-language aggregate,
      // the production monitoring shape
      val art = Artifacts.cached(s, "x126_bpe_tokenizer",
          Artifacts.tableFingerprint(dir, "documents")) { p =>
        graft.operators.Vocab.saveBpeTokenizer(
          graft.operators.Vocab.bpeMergesChar(docs, col("text"),
            nMerges = 4, minCount = 2), p, "char", "</w>")
      } { p => graft.operators.Vocab.loadBpeTokenizer(s, p) }
      val enc = graft.operators.Vocab.bpeEncodeChar(docs, col("doc_id"),
        col("text"), art.merges)
      enc.join(docs.select(col("doc_id").as("id"), col("lang"),
          size(filter(split(col("text"), "\\s+"), t => t =!= ""))
            .cast("bigint").as("_w"),
          length(col("text")).cast("bigint").as("_c")), Seq("id"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("n_tokens"),
          sum(col("_w")).as("n_words"),
          sum(col("_c")).as("n_chars"))
        .select(col("lang"), col("n_tokens"), col("n_words"),
          round(col("n_tokens") / nullif(col("n_words"), lit(0L)), 6)
            .as("tokens_per_word"),
          round(col("n_chars") / nullif(col("n_tokens"), lit(0L)), 6)
            .as("chars_per_token"))
    }),
    // unigram-LM (SentencePiece, Kudo ACL'18) tokenizer family — the
    // OTHER production tokenizer next to BPE. x127: the seed
    // vocabulary over the word-frequency dictionary — every substring
    // up to 4 chars with within-word multiplicity, weighted by word
    // frequency; single chars kept unconditionally (coverage floor),
    // top-64 multi-char pieces above minCount 2 by the total order
    // (freq DESC, piece ASC)
    "x127_unigram_vocab" -> ((s, dir) =>
      graft.operators.Unigram.seedVocab(Tables.documents(s, dir),
        col("text"), maxPieceLen = 4, minCount = 2, vocabSize = 64)),
    // Viterbi argmax segmentation under the x127 vocabulary's unigram
    // likelihood — exact-integer freqs, IEEE-replayable DP score (see
    // the UnigramOps determinism contract); x118's output shape
    "x128_unigram_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.seedVocab(docs, col("text"),
        maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.encode(docs, col("doc_id"), col("text"),
          vocab)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(col("pieces"), "\u0001").as("encoded"))
    }),
    // one hard-EM (Viterbi-EM) re-estimation step: corpus piece-usage
    // counts under the x128 segmentation — the M-step counts of the
    // SentencePiece trainer loop with the E-step expectation replaced
    // by the argmax path (the standard deterministic variant)
    "x129_unigram_em" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.seedVocab(docs, col("text"),
        maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.reestimate(docs, col("text"), vocab)
        .select(col("piece"), col("usage").as("n_used"))
    }),
    // x128 as INT token ids (the x115/x119 contract: 1-based rank in
    // the piece-ascending vocabulary; 0 = UNK single char)
    "x130_unigram_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.seedVocab(docs, col("text"),
        maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.encodeIds(docs, col("doc_id"),
          col("text"), vocab)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // the x131 assignments THROUGH the centroid-artifact seam: train,
    // save, load (version + k stamp verified), assign from the loaded
    // model — the x122/x134 shipped-file contract for clustering
    "x135_kmeans_artifact" -> ((s, dir) => {
      val embs = Tables.embeddings(s, dir)
      val loaded = Artifacts.cached(s, "x135_centroids",
          Artifacts.tableFingerprint(dir, "embeddings")) { p =>
        graft.operators.KMeans.saveCentroids(
          graft.operators.KMeans.trainCentroids(embs, k = 4, iters = 3), p)
      } { p => graft.operators.KMeans.loadCentroids(s, p) }
      graft.operators.KMeans.assign(embs, loaded)
    }),
    // WordPiece max-munch encode over the x127 vocabulary — the BERT
    // inference rule (greedy longest-match-first), completing the
    // tokenizer-inference trio (BPE merge replay / unigram Viterbi /
    // WordPiece) over one artifact format; pure string matching, no
    // arithmetic, trivially oracle-replayable
    "x136_wordpiece" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.seedVocab(docs, col("text"),
        maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.wordpieceEncode(docs, col("doc_id"),
          col("text"), vocab)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(col("pieces"), "\u0001").as("encoded"))
    }),
    // x136 as INT token ids (the x130 contract: 1-based rank in the
    // piece-ascending vocabulary, 0 = UNK single char) — the surface a
    // BERT-lineage consumer actually ships; same id space as the
    // unigram ids because both read the same sorted artifact
    "x137_wordpiece_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.seedVocab(docs, col("text"),
        maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.wordpieceEncodeIds(docs, col("doc_id"),
          col("text"), vocab)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // the x137 ids THROUGH the tokenizer-artifact seam: train, save,
    // load (version + completeness stamp verified), WordPiece-encode
    // from the loaded vocabulary — the x134 gate for the WordPiece
    // family (one artifact format serves the whole tokenizer trio)
    "x138_wordpiece_artifact_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val loaded = Artifacts.cached(s, "x138_unigram_tokenizer",
          Artifacts.tableFingerprint(dir, "documents")) { p =>
        graft.operators.Unigram.saveUnigramTokenizer(
          graft.operators.Unigram.seedVocab(docs, col("text"),
            maxPieceLen = 4, minCount = 2, vocabSize = 64), p)
      } { p => graft.operators.Unigram.loadUnigramTokenizer(s, p) }
      graft.operators.Unigram.wordpieceEncodeIds(docs, col("doc_id"),
          col("text"), loaded)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // the SentencePiece trainer LOOP (hard-EM variant): seed → 2 ×
    // (Viterbi-EM usage counts → prune to a shrinking multi-char
    // budget, 48 then 36, char floor kept at coalesce(usage, 1)) —
    // every step a deterministic total order over exact integer
    // counts, replayed hash-exactly by 2 chained recursive-CTE
    // Viterbi rounds in the oracle
    "x139_unigram_train" -> ((s, dir) =>
      graft.operators.Unigram.trainUnigram(Tables.documents(s, dir),
        col("text"), maxPieceLen = 4, minCount = 2, vocabSize = 64,
        rounds = 2, targetMulti = 32)),
    // BERT WordPiece proper (Devlin et al. 2019): the vocabulary
    // distinguishes word-initial pieces from ##-prefixed CONTINUATION
    // pieces with separate counts — the published layout, trained with
    // the same dictionary discipline (one corpus pass, then
    // distinct-word-sized)
    "x140_wpbert_vocab" -> ((s, dir) =>
      graft.operators.Unigram.wordpieceVocab(Tables.documents(s, dir),
        col("text"), maxPieceLen = 4, minCount = 2, vocabSize = 64)),
    // BERT WordPiece encode as ids: greedy longest match with ##
    // continuation lookups and whole-word [UNK] (id 0) when a visited
    // position has no vocabulary match — there is NO automatic
    // single-char fallback, unlike the plain max-munch x137
    "x141_wpbert_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.wordpieceVocab(docs,
        col("text"), maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.wordpieceBertEncodeIds(docs,
          col("doc_id"), col("text"), vocab)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // the x141 ids THROUGH the shared tokenizer-artifact seam (the
    // tagged ## vocabulary persists in the same (piece, freq) format)
    "x142_wpbert_artifact_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val loaded = Artifacts.cached(s, "x142_wpbert_tokenizer",
          Artifacts.tableFingerprint(dir, "documents")) { p =>
        graft.operators.Unigram.saveUnigramTokenizer(
          graft.operators.Unigram.wordpieceVocab(docs, col("text"),
            maxPieceLen = 4, minCount = 2, vocabSize = 64), p)
      } { p => graft.operators.Unigram.loadUnigramTokenizer(s, p) }
      graft.operators.Unigram.wordpieceBertEncodeIds(docs,
          col("doc_id"), col("text"), loaded)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // SOFT-EM E-step (the SentencePiece paper's expectation proper):
    // forward–backward expected piece counts over each word's full
    // segmentation lattice under the x127 seed vocabulary — the
    // fidelity upgrade over x129's Viterbi (hard-EM) counts. Every
    // float op is order-pinned (see UnigramOps.softCounts), so the
    // oracle's list-carrying recursive CTEs replay each expectation
    // bit for bit; corpus sums ride exact DECIMAL(28,10)
    "x145_unigram_soft_em" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.seedVocab(docs, col("text"),
        maxPieceLen = 4, minCount = 2, vocabSize = 64)
      graft.operators.Unigram.softReestimate(docs, col("text"), vocab)
    }),
    // LIKELIHOOD-scored WordPiece trainer (Schuster & Nakajima 2012 /
    // Wu et al. 2016 — the published objective): sequential merges by
    // score = freq(l⊕r)/(freq(l)·freq(r)) over the initial-tagged
    // symbol space, deterministic (score DESC, l, r) total order,
    // exact-integer counts with exactly two IEEE roundings per score —
    // replayed round for round by chained CTE groups in the oracle.
    // Output is the x140 tagged (piece, freq) contract
    "x143_wplik_vocab" -> ((s, dir) =>
      graft.operators.Unigram.wordpieceVocabLikelihood(
        Tables.documents(s, dir), col("text"), nMerges = 6,
        minCount = 2)),
    // the x141 BERT greedy encode CONSUMING the likelihood-trained
    // vocabulary (the x143 twin): encode kernels unchanged — only the
    // vocabulary (and so the id space) differs
    "x147_wplik_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.wordpieceVocabLikelihood(docs,
        col("text"), nMerges = 6, minCount = 2)
      graft.operators.Unigram.wordpieceBertEncodeIds(docs,
          col("doc_id"), col("text"), vocab, fanOut = true)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // WordPiece DETOKENIZATION (the decode companion every tokenized
    // shard inspector needs): encode to ids with the x140 vocabulary,
    // then decode back — ##-stripping joins within a word, a single
    // space between words, [UNK] rendered literally. Where no word
    // collapsed to [UNK], decoded == the whitespace-normalized input
    // (the UnigramSpec round-trip law); the oracle replays encode AND
    // decode independently
    "x144_wpbert_decode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.Unigram.wordpieceVocab(docs,
        col("text"), maxPieceLen = 4, minCount = 2, vocabSize = 64)
      val (ps, _) = graft.operators.Unigram.collectVocab(vocab)
      graft.operators.Unigram.wordpieceBertEncodeIds(docs,
          col("doc_id"), col("text"), vocab, fanOut = true)
        .select(col("id").as("doc_id"), col("n_tokens"),
          graft.operators.Unigram.wordpieceBertDecodeIds(col("ids"),
            typedlit(ps)).as("decoded"))
    }),
    // the x130 ids THROUGH the tokenizer-artifact seam: train, save,
    // load (version + completeness stamp verified), encode from the
    // loaded vocabulary — the gate that the shipped file, not the live
    // DataFrame, is what consumers replay (the x122 contract for the
    // unigram family)
    "x134_unigram_artifact_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val loaded = Artifacts.cached(s, "x134_unigram_tokenizer",
          Artifacts.tableFingerprint(dir, "documents")) { p =>
        graft.operators.Unigram.saveUnigramTokenizer(
          graft.operators.Unigram.seedVocab(docs, col("text"),
            maxPieceLen = 4, minCount = 2, vocabSize = 64), p)
      } { p => graft.operators.Unigram.loadUnigramTokenizer(s, p) }
      graft.operators.Unigram.encodeIds(docs, col("doc_id"),
          col("text"), loaded)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), i => i.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // distributed Lloyd's k-means over the embeddings table — the
    // semantic-diversity clustering stage of a curation pipeline.
    // Deterministic by construction: power-of-two quantization, exact
    // integer centroid sums, left-folded IEEE distances (see KMeans);
    // k=4 seeds from the 4 smallest vec_ids, 3 iterations
    "x131_kmeans" -> ((s, dir) =>
      graft.operators.KMeans.lloyd(Tables.embeddings(s, dir),
        k = 4, iters = 3)),
    // per-cluster size + inertia (exact DECIMAL sum of d2)
    "x132_kmeans_summary" -> ((s, dir) =>
      graft.operators.KMeans.summary(
        graft.operators.KMeans.lloyd(Tables.embeddings(s, dir),
          k = 4, iters = 3))),
    // cluster-balanced exemplar sample: 5 closest-to-centroid vectors
    // per cluster via the bounded-heap grouped top-k (map-side
    // combinable — never a single-task window over a cluster)
    "x133_kmeans_sample" -> ((s, dir) =>
      graft.operators.KMeans.balancedSample(
        graft.operators.KMeans.lloyd(Tables.embeddings(s, dir),
          k = 4, iters = 3), m = 5)),
    // BYTE-LEVEL BPE train + encode: the GPT-2 byte-fallback
    // convention — symbols start as the UTF-8 bytes of each word
    // (uppercase hex pairs, </w> on the word-final byte), so the base
    // alphabet is bounded at 256+1 and NO character is ever
    // out-of-alphabet; same weighted-dictionary trainer, same greedy
    // per-word application, independently replayed by the oracle over
    // hex(encode(w))
    "x120_bpe_byte" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Vocab.bpeMergesByte(docs, col("text"),
        nMerges = 4, minCount = 2)
      graft.operators.Vocab.bpeEncodeByte(docs, col("doc_id"),
        col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(col("bpe"), "\u0001").as("encoded"))
    }),
    // x120's encode as INT token ids (the x115/x119 id contract:
    // 1-based rank in the sorted encoded-symbol universe) — byte-level
    // subword id arrays, id assignment via the dictionary-universe
    // route (one corpus encode, universe pass over distinct words)
    "x121_bpe_byte_ids" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.operators.Vocab.bpeMergesByte(docs, col("text"),
        nMerges = 4, minCount = 2)
      graft.operators.Vocab.bpeEncodeIdsByte(docs, col("doc_id"),
        col("text"), merges)
        .select(col("id").as("doc_id"), col("n_tokens"),
          array_join(transform(col("ids"), _.cast("string")), ",")
            .as("encoded_ids"))
    }),
    // CCNet-style LM quality filter: add-k bigram model self-scored
    // over the corpus; avg negative log-likelihood per doc, the
    // perplexity cut every crawl-curation pipeline applies
    "x92_lm_score" -> ((s, dir) =>
      graft.operators.Relevance.lmQualityScore(Tables.documents(s, dir))),
    // CCNet head/middle/tail: per-language perplexity terciles via the
    // distributed grouped rank (range-partitioned parallel sorts +
    // bounded offset table) — never an ntile window with one task per
    // language
    "x94_ppl_buckets" -> ((s, dir) =>
      graft.operators.Relevance.perplexityBuckets(Tables.documents(s, dir))),
    // Zipf-law fit per language over the top-1000 token ranks — the
    // cheap ingest-QA distribution alarm; ranking via the distributed
    // grouped rank, fit via closed-form covar/var aggregates
    "x95_zipf_slope" -> ((s, dir) =>
      graft.operators.Vocab.zipfSlope(Tables.documents(s, dir))),
    // per-source relative quality gate: drop each source's worst
    // quartile by the x8 heuristic score (rank + count, no per-source
    // single-task window)
    "x96_quality_gate" -> ((s, dir) =>
      graft.operators.Corpus.percentileGate(
        Tables.documents(s, dir).select(col("doc_id"), col("source"),
          col("text")),
        graft.functions.TextAnalysis.qualityScore(col("text")),
        "source", "doc_id", dropFraction = 0.25, scoreName = "quality")
        .select(col("doc_id"), col("source"), col("quality"))),
    // incremental SimHash near-dedup: the corpus (id, simhash) relation
    // stands in for the persisted parquet index — delta-touching pairs
    // only, corpus text never re-hashed
    "x86_simhash_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.simhashPairsDelta(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.simhash(docs.filter(col("doc_id") % 7 =!= 0), poly = true),
        maxHamming = 3, poly = true)
    }),
    // incremental bounded edit distance: the EditIndex (prefix arrays +
    // frozen df dictionary) stands in for its two persisted parquet
    // relations — delta-touching pairs only, corpus grams never
    // recomputed, delta ranked under the index's frozen rare-first order
    "x87_edit_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      EditSimilarity.editDistancePairsDelta(
        docs.filter(col("doc_id") % 7 === 0),
        EditSimilarity.editIndex(docs.filter(col("doc_id") % 7 =!= 0),
          maxDist = 8, q = 4))
    }),
    // incremental clustering: old corpus labels + delta-touching pairs
    // fold through connectedComponentsDelta — the full dedup loop
    // (delta pairs -> updated cluster labels) without re-reading the
    // historic edge list; output and oracle are exactly x24's
    "x103_clusters_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      val oldLabels = graft.operators.Graph.connectedComponents(
        Dedup.simhashPairs(corpus, maxHamming = 3, poly = true))
      val deltaPairs = Dedup.simhashPairsDelta(delta,
        Dedup.simhash(corpus, poly = true), maxHamming = 3, poly = true)
      graft.operators.Graph.clustersFromLabels(docs,
        graft.operators.Graph.connectedComponentsDelta(
          oldLabels, deltaPairs))
    }),
    // incremental paragraph dedup: new docs rewritten against the
    // persisted corpus paragraph-hash index (first-arrival: corpus
    // occurrences are always canonical) — x31's delta form, the x48
    // probe shape at paragraph granularity
    "x102_paragraph_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupParagraphsDelta(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.paragraphHashIndex(docs.filter(col("doc_id") % 7 =!= 0),
          delimiter = " the "),
        delimiter = " the ", rejoin = " the ")
    }),
    // incremental n-gram Jaccard (PPJoin family): the delta probes the
    // corpus's persisted prefix index under the frozen rare-first
    // order — completes the delta story (exact x48, MinHash x32,
    // SimHash x86, edit x87, span x90, ANN x97: every near-dup family
    // now has an index-probe route)
    "x101_jaccard_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramJaccardDelta(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.jaccardIndex(docs.filter(col("doc_id") % 7 =!= 0),
          threshold = 0.5, n = 3, blockCol = Some("source")),
        blockCol = Some("source"))
    }),
    // incremental near-dedup: docs with doc_id % 7 == 0 arrive as the new
    // batch, the rest are the existing corpus (its signature table stands
    // in for the persisted parquet index) — pairs touching the delta only
    "x32_dedup_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashLshDelta(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.signatureTable(docs.filter(col("doc_id") % 7 =!= 0)),
        threshold = 0.5)
    }),
    // x20 again with the broadcast cap forced below the benchmark gram
    // count: exercises the oversized-benchmark semi-join route against
    // the identical oracle
    "x33_decontaminate_joined" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.decontaminate(
        docs, docs.filter(col("doc_id") < 10),
        minSharedGrams = 50, n = 8, maxBroadcastGrams = 1L)
    }),
    // the Bloom prefilter route: exact results through a constant-size
    // broadcast, gram shuffle cut to true overlaps + the fp sliver
    "x59_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Dedup.decontaminateBloom(
        docs, docs.filter(col("doc_id") < 10),
        minSharedGrams = 50, n = 8)
    }),
    // hot-key-safe join: same rows as the plain equi-join (the oracle IS
    // the plain join), probe side spread over 8 salt sub-keys
    "x60_salted_join" -> ((s, dir) =>
      graft.operators.Skew.saltedJoin(
        Tables.orders(s, dir), Tables.customer(s, dir),
        col("o_custkey"), col("c_custkey"), saltFactor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("revenue"))),
    // HLL sketches as persistable values: per-source build, one rollup
    // merge answers the global question without rescanning; the gate
    // asserts every estimate lands within 5% of exact (error-gated
    // pattern — DuckDB recomputes the exact counts, not the registers)
    "x62_hll_distinct" -> ((s, dir) => {
      import graft.functions.HllExprs
      val docs = Tables.documents(s, dir)
      val perSource = docs.groupBy(col("source"))
        .agg(HllExprs.hllSketch(xxhash64(col("text"))).as("_sk"),
          count_distinct(col("text")).as("n_exact"))
      val global = perSource
        .agg(HllExprs.hllMerge(col("_sk")).as("_sk"))
        .withColumn("source", lit("__all__"))
        .crossJoin(broadcast(
          docs.agg(count_distinct(col("text")).as("n_exact"))))
      // gate = max(5% relative, 5 absolute): below ~100 distincts the
      // relative bound dips under the sketch's intrinsic granularity —
      // linear counting is off by ~1 per register-index collision
      // (P(two collisions among n=25, m=4096) ≈ 0.3%/group), which is
      // variance, not error; the absolute floor absorbs it while the
      // relative bound still binds for every real-sized group
      perSource.unionByName(global.select(perSource.columns.map(col): _*))
        .select(col("source"), col("n_exact"),
          (abs(HllExprs.hllEstimate(col("_sk")) -
            col("n_exact").cast("double")) <=
            greatest(lit(0.05) * col("n_exact").cast("double"),
              lit(5.0))).as("within_tol"))
    }),
    // PageRank over the near-dup graph: which document is the hub of a
    // template family; same edge ground truth as x24, fixed 10 rounds
    "x63_pagerank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.pageRank(
        Dedup.simhashPairs(docs, maxHamming = 3, poly = true))
        .select(col("node").as("doc_id"), col("pr"))
    }),
    // SemDeDup: k-means cells + in-cell cosine pruning; soundness exact
    // by construction, recall gated against the brute-force droppable
    // slice (floor 0.6 — measured 0.72 at sf0.01 / 0.90 at sf0.1)
    "x66_semdedup" -> ((s, dir) =>
      Similarity.semanticDedupGate(Tables.embeddings(s, dir),
        threshold = 0.3, sliceMax = 1000L, floor = 0.6, nLists = 4)),
    // leakage-free split: keyed on the near-dup CLUSTER id, so no
    // near-duplicate pair can straddle train/test
    "x69_cluster_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.clusterAwareSplit(docs,
        Dedup.simhashPairs(docs, maxHamming = 3, poly = true),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),
    // one-pass char-distribution stats; diversity metrics are exact
    // rationals (Simpson index), not libm-dependent entropy
    "x74_char_stats" -> ((s, dir) =>
      Tables.documents(s, dir).filter(length(col("text")) >= 1)
        .withColumn("_cs",
          graft.functions.CharStatsExprs.charStats(col("text")))
        .select(col("doc_id"),
          element_at(col("_cs"), 1).as("n_cp"),
          element_at(col("_cs"), 2).as("distinct_cp"),
          (lit(1.0) - element_at(col("_cs"), 3).cast("double") /
            (element_at(col("_cs"), 1).cast("double") *
              element_at(col("_cs"), 1).cast("double"))).as("simpson"),
          (element_at(col("_cs"), 4).cast("double") /
            element_at(col("_cs"), 1).cast("double")).as("top_char_frac"))),
    // n-gram-LM-style quality gate with an exact value: fraction of
    // bigram occurrences whose type occurs in >= 2 distinct docs
    "x75_bigram_coverage" -> ((s, dir) =>
      graft.operators.Vocab.bigramCoverage(Tables.documents(s, dir),
        col("text"), minDf = 2)),
    // earliest-chain funnel over a thinned event stream (the full
    // stream saturates every stage at this density; the event_id filter
    // is deterministic and mirrored in the oracle)
    "x72_funnel" -> ((s, dir) =>
      graft.analytics.Funnels.funnel(
        Tables.events(s, dir).filter(col("event_id") % 13 === 0),
        Seq("view", "click", "purchase"))),
    // weekly cohort retention in engine-independent integer weeks
    "x73_retention" -> ((s, dir) =>
      graft.analytics.Funnels.retention(Tables.events(s, dir))),
    // PQ/ADC scan (the memory-bound half of IVF+PQ): one cell holds
    // the whole corpus, so every non-self vector is scored from its
    // codes only; recall-gated like the other seed-dependent ANN paths
    "x83_ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
      Similarity.recallGate(
        Similarity.ivfTopK(emb, qs, k = 10, nLists = 1, nProbe = 1, m = 32,
          ksub = 256),
        Similarity.cosineTopK(emb, qs, k = 10), floor = AnnPqRecallFloor)
    }),
    // the composed billion-scale index: IVF cuts candidates, PQ cuts
    // bytes, the IVFADC re-rank stage (exact cosine over the ADC
    // top-50 shortlist) buys back scoring loss, and ADAPTIVE MASS
    // PROBING (walk the nearest-cell ranking until 90% of the corpus
    // mass is covered) closes the residual unprobed-cell coverage gap
    // — recall-gated at the raised 0.8 floor
    "x84_ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
      Similarity.recallGate(
        Similarity.ivfTopK(emb, qs, k = 10, nLists = 16, nProbe = 1,
          m = 32, ksub = 256, rerank = 50, probeMass = 0.9),
        Similarity.cosineTopK(emb, qs, k = 10),
        floor = AnnIvfPqRecallFloor)
    }),
    // x84 through the PERSISTED index (IvfIndex): cell-bucketed
    // lists carry the PQ codes, cell masses come from the index's own
    // masses store (never a per-batch corpus aggregate), the adaptive
    // mass probe prunes the read to the probed cell buckets, and
    // the IVFADC re-rank fetches raw vectors from those same pruned
    // buckets — the full billion-scale query shape with ZERO
    // corpus-table passes at query time. Row-for-row equal to the
    // x84 recompute route (IvfIndexSpec law), so the recall gate and
    // floor are x84's
    "x146_ann_ivfpq_index" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
      val approx = Artifacts.cached(s, "x146_ivfpq_index",
          Artifacts.tableFingerprint(dir, "embeddings")) { p =>
        graft.operators.IvfIndex.build(emb, p, nLists = 16, m = 32,
          ksub = 256)
      } { p =>
        graft.operators.IvfIndex.search(s, p, qs, k = 10, nProbe = 1,
          rerank = 50, probeMass = 0.9)
      }
      Similarity.recallGate(approx,
        Similarity.cosineTopK(emb, qs, k = 10),
        floor = AnnIvfPqRecallFloor)
    }),
    // contrastive negatives: deterministic modular walk, near-dup
    // CLUSTERS excluded (the clusterAwareSplit leakage rule applied to
    // negative mining)
    "x82_negative_samples" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Corpus.negativeSamples(docs,
        Dedup.simhashPairs(docs, maxHamming = 3, poly = true),
        k = 3, oversample = 5)
    }),
    // collocations by lift (monotone in PMI, bit-reproducible): count
    // filter before the joins, deterministic top-k order
    "x81_bigram_lift" -> ((s, dir) =>
      graft.operators.Vocab.bigramLift(Tables.documents(s, dir),
        col("text"), minCount = 5, k = 50)),
    // daily-volume QC: z-scores from exact integer moments; sqrt is
    // IEEE-correctly-rounded, so doubles match the oracle bit-for-bit
    "x79_event_anomaly" -> ((s, dir) =>
      graft.analytics.Trends.dailyCountAnomaly(Tables.events(s, dir))),
    // per-type least-squares trend in exact BIGINT sums, one division
    "x80_daily_trend" -> ((s, dir) =>
      graft.analytics.Trends.dailyTrend(Tables.events(s, dir))),
    // conversion latency: exact percentiles of (furthest − first stage
    // time) over users completing the whole funnel — funnelUsers ∘
    // exactPercentilesGlobal composition (distributed global rank, no
    // single-partition window)
    "x78_funnel_durations" -> ((s, dir) => {
      val fu = graft.analytics.Funnels.funnelUsers(
        Tables.events(s, dir).filter(col("event_id") % 13 === 0),
        Seq("view", "click", "purchase"))
      // roundDp = -1: durations are ~1e12 µs, where 6-dp decimal rounding
      // of a double is not exactly representable — the raw interpolation
      // is the engine-portable value (identical IEEE op order both sides)
      graft.operators.Corpus.exactPercentilesGlobal(
        fu.filter(col("reached") === 3),
        (col("last_us") - col("first_us")).cast("double"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99), roundDp = -1)
        .withColumn("grp", lit("all"))
    }),
    // first-order event-flow structure; (ts, event_id) order makes
    // equal-timestamp neighbours deterministic on both engines
    "x76_transitions" -> ((s, dir) =>
      graft.analytics.Funnels.transitions(Tables.events(s, dir))),
    // SCD2-style run collapse: consecutive same-value events merge into
    // validity runs; lag flag + run index + per-run agg share ONE
    // exchange (the sessionize plan contract)
    "x77_value_runs" -> ((s, dir) =>
      graft.analytics.Funnels.valueRuns(Tables.events(s, dir))
        .select(col("key"), col("run_idx"), col("value"),
          date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("start_ts"),
          date_format(col("end_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("end_ts"),
          col("n_events"))),
    // SCD2 point-in-time enrichment: each view event looks up its
    // user's state (latest non-view run) AS OF the view's timestamp —
    // the runs table consumed as a slowly-changing dimension through
    // the single-shuffle as-of union trick (no fan-out join, no range
    // scan)
    "x98_scd2_lookup" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val state = graft.analytics.Funnels.valueRuns(
        ev.filter(col("event_type") =!= "view"))
      graft.operators.AsofJoin.asofLookup(
        ev.filter(col("event_type") === "view"), state,
        col("user_id"), col("key"), col("ts"), col("start_ts"),
        col("value"), "state_asof",
        leftProjection = Seq(col("event_id"), col("user_id"), col("ts")))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("state_asof"))
    }),
    // incremental SCD2 maintenance: history = runs built from events
    // before the cutoff, then the newer events merge in WITHOUT a
    // rebuild — untouched keys stream through an anti join, touched
    // keys consult only their last run (max_by, no window). Oracle =
    // the full x77 rebuild over ALL events.
    "x93_scd2_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = to_timestamp(lit("2024-01-20 00:00:00"))
      graft.analytics.Funnels.mergeRuns(
        graft.analytics.Funnels.valueRuns(ev.filter(col("ts") < cut)),
        ev.filter(col("ts") >= cut))
        .select(col("key"), col("run_idx"), col("value"),
          date_format(col("start_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("start_ts"),
          date_format(col("end_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("end_ts"),
          col("n_events"))
    }),
    // bounded Levenshtein self-join: q-gram prefix filter candidates,
    // banded-verify — the oracle brute-forces inside the length band
    "x70_edit_distance" -> ((s, dir) =>
      EditSimilarity.editDistancePairs(Tables.documents(s, dir),
        maxDist = 8, q = 4)),
    // multi-level aggregation surface: ROLLUP with grouping ids (one
    // Expand + one aggregate — never L separate scans for L levels)
    "x67_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("revenue"))),
    // CUBE: all 2^k grouping combinations from the same one-Expand
    // one-aggregate plan as ROLLUP — grouping ids disambiguate levels
    "x88_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("revenue"))),
    // GROUPING SETS: an explicit level list (here the two marginals plus
    // the grand total — a CUBE minus the full cross) in ONE pass; the
    // Expand factor is |sets|, chosen by the caller, never 2^k implicit
    "x89_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
            Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double")
            .as("revenue"))),
    // pivot with an explicit (fixed-domain) value list, reshaped in the
    // same single aggregate pass
    "x68_pivot" -> ((s, dir) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .select(col("source") +: langs.map(l =>
          coalesce(col(l), lit(0L)).as(l)): _*)
    }),
    // one-pass corpus profiling: every column's stats from a single scan
    // (exact distincts here so the oracle can replay; the 100 TB default
    // is the HLL route — see Profile scaladoc)
    "x64_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(Tables.documents(s, dir),
        exactDistinct = true)),
    // z-order layout keys: the Morton interleave is the sort key a
    // multi-column data-skipping write clusters by
    "x65_zorder" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          graft.functions.ZOrderExprs.zorder(
            col("l_orderkey"), col("l_partkey")).as("z"))
        .orderBy(col("z"), col("l_orderkey"), col("l_partkey"))
        .limit(1000)),
    // per-group top-k WITHOUT the window sort: k-bounded mergeable heaps,
    // shuffle carries <= k rows per group
    "x61_grouped_topk" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKPairs.topK(
          col("o_totalprice"), col("o_orderkey"), k = 3).as("_top"))
        .select(col("o_custkey"), posexplode(col("_top")))
        .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rnk"),
          col("col.id").as("o_orderkey"),
          col("col.score").as("o_totalprice"))),
    // model-scoring seam: the deterministic stub classifier runs through
    // the real mapPartitions batch plumbing; its hashed-bag-of-words
    // arithmetic is replayed exactly by the oracle
    "x34_quality_score" -> ((s, dir) =>
      graft.operators.ModelScoring.scoreDocuments(Tables.documents(s, dir))),
    // PII redaction (the pre-training scrub every public-web corpus
    // runs): the synthetic corpus carries no PII, so each doc is first
    // decorated with one deterministic span per class (email, IP, SSN,
    // phone, card — plain integer-modulus string building the oracle
    // replays), then masked by the ordered regex chain. Pure projection
    // — zero shuffle at any corpus size; every pattern stays inside the
    // Java↔RE2-agreeing subset (no lookaround/backreferences)
    "x149_pii_redact" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.TextAnalysis.scrubPii(
          graft.functions.TextAnalysis.decorateSyntheticPii(
            col("text"), col("doc_id"))).as("redacted"))
        .withColumn("n_tags",
          size(regexp_extract_all(col("redacted"),
            lit("<(EMAIL|IP|SSN|NID|CC|PHONE)>"), lit(0)))
            .cast("long"))),
    // lexical retrieval: BM25 against a fixed query (one corpus-stat
    // pass + one scoring projection with all constants as literals),
    // and the rare-token inverted index as relational posting rows
    "x35_bm25" -> ((s, dir) =>
      graft.operators.Relevance.bm25(Tables.documents(s, dir), Bm25Query)),
    "x36_inverted_index" -> ((s, dir) =>
      graft.operators.Relevance.invertedIndex(Tables.documents(s, dir),
        maxDfFraction = 0.8)),
    // tokenizer-training pair statistics: doc-local adjacency zip, pair
    // shuffle carries distinct bigrams; deterministic top-k total order
    "x37_bigram_topk" -> ((s, dir) =>
      graft.operators.Vocab.topBigrams(Tables.documents(s, dir),
        col("text"), k = 50)),
    // per-label mean-pooled centroids as relational (grp, pos) rows —
    // shuffle carries labels × dim partials, never N × dim
    "x38_label_centroids" -> ((s, dir) =>
      graft.operators.Similarity.groupCentroids(
        Tables.embeddings(s, dir), "label")),
    // embedding-space outlier screen: distance-to-centroid z-scores;
    // corpus never shuffles (broadcast centroid + stats joins)
    "x39_embedding_outliers" -> ((s, dir) =>
      graft.operators.Similarity.centroidOutliers(
        Tables.embeddings(s, dir), "label")),
    // deterministic training-order shuffle: the emitted key is the
    // order (range-sort plan); the oracle replays the key values
    "x40_shuffle_order" -> ((s, dir) =>
      graft.operators.Corpus.shuffleDeterministic(
        Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("shuffle_key"))),
    // temperature-scaled mixture (α=0.5, 30% target): per-source rates
    // come from a tiny collected count agg, folded in sorted-source
    // order so the oracle replays the exact double arithmetic
    "x41_temperature_mix" -> ((s, dir) =>
      graft.operators.Corpus.temperatureMix(
        Tables.documents(s, dir), col("doc_id"), col("source"),
        alpha = 0.5, targetFraction = 0.3)
        .select(col("doc_id"), col("source"))),
    // intra-document duplicate-paragraph removal (same synthetic
    // delimiter as x31 so the corpus actually has repeats to drop);
    // pure doc-local projection — no shuffle at any corpus size
    "x42_dedup_within_doc" -> ((s, dir) =>
      Dedup.dedupParagraphsWithinDoc(Tables.documents(s, dir),
        delimiter = " the ", rejoin = " the ")),
    // snapshot diff: two corpus versions derived deterministically from
    // the one table (drop the top hash decile, add the bottom one,
    // modify a 10% band) so every status arises and the oracle replays
    // the derivation; text reduces to md5 before the one keyed join
    "x43_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val u = graft.operators.Corpus.hashUnit(col("doc_id"))
      graft.operators.Corpus.snapshotDiff(
        docs.filter(u < 0.9),
        docs.filter(u >= 0.1).withColumn("text",
          when(u >= 0.45 && u < 0.55, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))))
    }),
    // int8 quantization, exploded to relational (vec_id, scale, pos,
    // code) rows for the engine-to-engine compare; the operator itself
    // keeps codes as a compact array column
    "x44_quantize_int8" -> ((s, dir) =>
      graft.operators.Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          posexplode(col("codes")).as(Seq("pos", "code")))
        .select(col("vec_id"), col("scale"),
          col("pos").cast("int").as("pos"), col("code"))),
    // quantized-scan top-k: integer-exact scoring over the x44 codes
    // (scales cancel in cosine), same query set as x5
    "x45_quantized_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.operators.Similarity.quantizedCosineTopK(
        emb, emb.filter(col("vec_id") < 5), k = 10)
    }),
    // quartile binning by text length: exact interpolated boundaries
    // (the x19 kernel) broadcast onto a one-pass bin projection
    "x46_quantile_bins" -> ((s, dir) =>
      graft.operators.Corpus.binByQuantiles(
        Tables.documents(s, dir), length(col("text")), nBins = 4)),
    // fractional-epoch mixing: 2.3 epochs of src0, 0.4 of src1, 1.0
    // elsewhere; the salted-hash extra-copy pick is oracle-replayable
    "x47_epoch_upsample" -> ((s, dir) =>
      graft.operators.Corpus.upsampleBySource(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("doc_id"), col("source"),
        Map("src0" -> 2.3, "src1" -> 0.4))),
    // incremental EXACT dedup (the x32 delta contract for exact
    // identity): same batch split, hash index stands in for the
    // persisted relation
    "x48_exact_delta" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactDelta(
        docs.filter(col("doc_id") % 7 === 0),
        Dedup.hashIndex(docs.filter(col("doc_id") % 7 =!= 0)))
    }),
    // substring-overlap pairs via winnowing (MOSS): any shared 31-char
    // run guarantees a shared fingerprint; ≥3 shared fingerprints with
    // boilerplate (df > 16) dropped pre-join
    "x49_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlap(Tables.documents(s, dir),
        k = 16, w = 16, minShared = 3, maxDf = 16)),
    // sparse tf-idf document vectors (log-free ratio idf for bit-exact
    // engine parity; same stopword df cap as x36)
    "x50_tfidf" -> ((s, dir) =>
      graft.operators.Relevance.tfidf(Tables.documents(s, dir),
        maxDfFraction = 0.5)),
    // weighted training order: src0 3x priority; the key VALUES (not
    // row order) are the compared output, as in x40
    "x51_weighted_order" -> ((s, dir) =>
      graft.operators.Corpus.weightedOrder(
        Tables.documents(s, dir), col("doc_id"), col("source"),
        Map("src0" -> 3.0))
        .select(col("doc_id"), col("source"), col("order_key"))),
    // global token-budget prefix (distributed global prefix sum —
    // range sums collected, offsets broadcast, per-range windows);
    // ~half the sf0.01 corpus by chars
    "x52_token_budget_global" -> ((s, dir) =>
      graft.operators.Corpus.capTokensGlobal(
        Tables.documents(s, dir), col("doc_id"), col("n_chars"),
        budget = 75000L)
        .select(col("doc_id"), col("n_chars"))),
    // proportional stratified sample to a 200-doc target: per-source
    // allocations from a collected count agg, selection by hash rank
    "x58_stratified_sample" -> ((s, dir) =>
      graft.operators.Corpus.stratifiedSample(
        Tables.documents(s, dir), col("doc_id"), col("source"),
        totalTarget = 200L, numRanges = 32)
        .select(col("doc_id"), col("source"))),
    // quality-aware canonical: per near-dup cluster keep the LONGEST
    // text (tie → min id) instead of the min-id doc
    "x57_quality_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Graph.dupClustersBy(docs,
        Dedup.simhashPairs(docs, maxHamming = 3, poly = true),
        length(col("text")))
    }),
    // overlap SPANS: where the shared passage sits in each document
    // (bounding gram-position range of the shared fingerprints)
    "x56_overlap_spans" -> ((s, dir) =>
      Dedup.winnowOverlapSpans(Tables.documents(s, dir),
        k = 16, w = 16, minShared = 3, maxDf = 16)),
    // substring-overlap CLUSTERS: the x49 winnow pairs resolved into
    // components — quote-chain groups, not just pairs
    "x55_overlap_clusters" -> ((s, dir) =>
      graft.operators.Graph.connectedComponents(
        Dedup.winnowOverlap(Tables.documents(s, dir),
          k = 16, w = 16, minShared = 3, maxDf = 16))),
    // hashing-trick features: vocabulary-free signed-count vectors,
    // integer-exact on any engine
    "x54_hashed_features" -> ((s, dir) =>
      graft.operators.Relevance.hashedFeatures(
        Tables.documents(s, dir), dim = 64)),
    // the operators COMPOSE into one Catalyst plan: exact dedup →
    // PII scrub + normalize → length gate → train-split filter, end to
    // end with a single composed oracle
    "x53_curate_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val keep = docs
        .groupBy(Dedup.contentHash(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      docs.join(keep, Seq("doc_id"), "left_semi")
        .withColumn("clean_text",
          TextAnalysis.normalizeText(TextAnalysis.scrubPii(col("text"))))
        .filter(length(col("clean_text")) >= 60)
        .withColumn("split", graft.operators.Corpus.assignSplit(
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("source"), col("clean_text"))
    }),
  )

  /** x35's query string — shared between the Spark query and the
    * generated oracle so the two can never disagree about tokens. */
  private val Bm25Query = "dup spark vector nomatch"

  /** The BM25 oracle is GENERATED from the same query string and the
    * same decimal literals as the Spark side: DuckDB recomputes N,
    * avgdl, and per-token df itself, and the per-document score folds
    * terms in the same sorted token order with the same operator
    * associativity, so doubles match bit-for-bit (ln() is the one
    * library call, identical within 1 ulp — far inside the 6-decimal
    * round). */
  private def bm25OracleSql: String = {
    val toks = Bm25Query.split("\\s+").filter(_.nonEmpty).distinct.sorted
    def term(t: String): String = {
      val tf = s"len(list_filter(tk, x -> x = '$t'))::DOUBLE"
      val df = s"coalesce((SELECT df FROM dfs WHERE t = '$t'), 0)"
      s"ln((stats.n - $df + 0.5) / ($df + 0.5) + 1)" +
        s" * ($tf * (1.2 + 1))" +
        s" / ($tf + 1.2 * ((1 - 0.75) + 0.75 * len(tk)::DOUBLE / stats.avgdl))"
    }
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(coalesce(text, ''), '\\s+'),
       |    x -> x <> '') AS tk
       |  FROM documents),
       |stats AS (
       |  SELECT count(*)::DOUBLE AS n,
       |         sum(len(tk))::DOUBLE / count(*) AS avgdl FROM toks),
       |dfs AS (
       |  SELECT t, count(*)::DOUBLE AS df FROM (
       |    SELECT doc_id, unnest(list_distinct(tk)) AS t FROM toks)
       |  WHERE t IN (${toks.map(t => s"'$t'").mkString(", ")}) GROUP BY t)
       |SELECT doc_id,
       |  round(${toks.map(term).mkString("\n    + ")}, 6) AS bm25
       |FROM toks, stats""".stripMargin
  }

  /** Shared reference side of BOTH ANN recall gates (x6/x13): the exact
    * brute-force top-k definition (k = 10, cosine-desc/vec_id tie-break,
    * vec_id < 5 queries). One constant so the two gates can never
    * silently disagree about the same reference computation. */
  /** Shared ground truth for BOTH decontamination routes (x20 broadcast,
    * x33 forced semi-join): gram overlap against the benchmark slice.
    * One constant so the two routes can never drift apart. */
  private lazy val DupClustersOracle =
    s"""WITH RECURSIVE $PolySimhashFpCtes,
      |$SimhashComponentCtes,
      |asg AS (
      |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
      |SELECT doc_id, cluster_id,
      |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
      |    AS cluster_size,
      |  doc_id = cluster_id AS is_canonical
      |FROM asg""".stripMargin

  private val DecontaminateOracle =
    """WITH bg AS (
      |  SELECT list_sort(list_distinct(flatten(list(ng)))) AS g FROM (
      |    SELECT list_distinct(list_transform(
      |      generate_series(1, greatest(length(text) - 7, 0)),
      |      i -> substr(text, i, 8))) AS ng
      |    FROM documents WHERE doc_id < 10 AND length(text) >= 8)),
      |d AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) >= 8 THEN
      |      len(list_intersect(
      |        list_distinct(list_transform(
      |          generate_series(1, greatest(length(text) - 7, 0)),
      |          i -> substr(text, i, 8))),
      |        bg.g))
      |    ELSE 0 END AS n_shared
      |  FROM documents CROSS JOIN bg)
      |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
      |       n_shared >= 50 AS contaminated
      |FROM d""".stripMargin

  private val AnnExactTopkOracle =
      """WITH n0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0 WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |s AS (
        |  SELECT query_id, vec_id,
        |         round(list_sum(list_transform(generate_series(1, len(v)),
        |                 i -> qv[i] * v[i])) / (qnrm * nrm), 6) AS cosine
        |  FROM n, q WHERE vec_id <> query_id),
        |topk AS (
        |  SELECT query_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cosine DESC, vec_id) AS INT) AS rnk
        |  FROM s)
        |SELECT query_id, min(cosine) AS kth_cosine, true AS recall_ok
        |FROM topk WHERE rnk <= 10 GROUP BY 1""".stripMargin

  /** Shared oracle CTE chain recomputing the oracle-replayable
    * polynomial simhash fingerprint per document (the `poly = true`
    * variant of [[graft.operators.Dedup.simhash]]) — used by both the
    * simhash-pairs oracle (x3) and the dup-clusters oracle (x24), one
    * constant so the two can never silently disagree. Yields CTEs
    * `t`/`h`/`fp`; callers prepend WITH [RECURSIVE] and append theirs. */
  /** One BPE trainer round as DuckDB CTEs (see x91): pair counts over
    * training docs (those with ≥ 2 starting symbols — `big`), argmax
    * under the trainer's total order (count desc, left, right) with the
    * minCount = 2 floor, then ONE greedy leftmost non-overlapping merge
    * pass. Greedy non-overlap in SQL: candidate positions grouped into
    * consecutive-position islands (pos − row_number), odd ranks within
    * an island are taken ("a a a a" → merge at 1 and 3), and the
    * rebuild emits the merged symbol at taken positions while dropping
    * position+1. An exhausted round (m$k empty) passes symbols through
    * unchanged, mirroring the trainer's stop. */
  private def bpeRoundCtes(k: Int): String = {
    val prev = s"s${k - 1}"
    s"""p$k AS (
      |  SELECT t.s[u.i] AS l, t.s[u.i+1] AS r, count(*) AS n
      |  FROM $prev t, unnest(generate_series(1, len(t.s)-1)) AS u(i)
      |  WHERE t.big
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |m$k AS (SELECT l, r FROM p$k ORDER BY n DESC, l, r LIMIT 1),
      |c$k AS (
      |  SELECT t.doc_id, u.i,
      |    u.i - row_number() OVER (PARTITION BY t.doc_id ORDER BY u.i)
      |      AS isl
      |  FROM $prev t, m$k, unnest(generate_series(1, len(t.s)-1)) AS u(i)
      |  WHERE t.s[u.i] = m$k.l AND t.s[u.i+1] = m$k.r),
      |t$k AS (
      |  SELECT doc_id, i FROM (
      |    SELECT doc_id, i,
      |      row_number() OVER (PARTITION BY doc_id, isl ORDER BY i)
      |        AS rnk
      |    FROM c$k) WHERE rnk % 2 = 1),
      |s$k AS (
      |  SELECT e.doc_id, e.big,
      |    coalesce(list(CASE WHEN a.i IS NOT NULL
      |        THEN e.tok || ' ' || e.nxt ELSE e.tok END
      |      ORDER BY e.j) FILTER (WHERE b.i IS NULL), []) AS s
      |  FROM (
      |    SELECT p.doc_id, p.big, u.j, p.s[u.j] AS tok, p.s[u.j+1] AS nxt
      |    FROM $prev p, unnest(generate_series(1, len(p.s))) AS u(j)) e
      |  LEFT JOIN t$k a ON a.doc_id = e.doc_id AND a.i = e.j
      |  LEFT JOIN t$k b ON b.doc_id = e.doc_id AND b.i = e.j - 1
      |  GROUP BY e.doc_id, e.big)""".stripMargin
  }

  /** One CHAR-LEVEL BPE trainer round as DuckDB CTEs (see x118):
    * [[bpeRoundCtes]] transposed onto the Sennrich word-frequency
    * dictionary — rows are DISTINCT words (`wid`) carrying their
    * corpus multiplicity `n`, pair counts are weighted sums, and the
    * rebuild concatenates WITHOUT a separator (subword symbols).
    * Requires the `cs0` dictionary CTE (wid, n, big, s). */
  private def bpeCharRoundCtes(k: Int): String = {
    val prev = s"cs${k - 1}"
    s"""cp$k AS (
      |  SELECT t.s[u.i] AS l, t.s[u.i+1] AS r, sum(t.n) AS n
      |  FROM $prev t, unnest(generate_series(1, len(t.s)-1)) AS u(i)
      |  WHERE t.big
      |  GROUP BY 1, 2 HAVING sum(t.n) >= 2),
      |cm$k AS (SELECT l, r FROM cp$k ORDER BY n DESC, l, r LIMIT 1),
      |cc$k AS (
      |  SELECT t.wid, u.i,
      |    u.i - row_number() OVER (PARTITION BY t.wid ORDER BY u.i)
      |      AS isl
      |  FROM $prev t, cm$k, unnest(generate_series(1, len(t.s)-1)) AS u(i)
      |  WHERE t.s[u.i] = cm$k.l AND t.s[u.i+1] = cm$k.r),
      |ct$k AS (
      |  SELECT wid, i FROM (
      |    SELECT wid, i,
      |      row_number() OVER (PARTITION BY wid, isl ORDER BY i)
      |        AS rnk
      |    FROM cc$k) WHERE rnk % 2 = 1),
      |cs$k AS (
      |  SELECT e.wid, e.n, e.big,
      |    coalesce(list(CASE WHEN a.i IS NOT NULL
      |        THEN e.tok || e.nxt ELSE e.tok END
      |      ORDER BY e.j) FILTER (WHERE b.i IS NULL), []) AS s
      |  FROM (
      |    SELECT p.wid, p.n, p.big, u.j, p.s[u.j] AS tok, p.s[u.j+1] AS nxt
      |    FROM $prev p, unnest(generate_series(1, len(p.s))) AS u(j)) e
      |  LEFT JOIN ct$k a ON a.wid = e.wid AND a.i = e.j
      |  LEFT JOIN ct$k b ON b.wid = e.wid AND b.i = e.j - 1
      |  GROUP BY e.wid, e.n, e.big)""".stripMargin
  }

  /** Shared prefix CTEs for the char-BPE oracles: the word-frequency
    * dictionary `cs0` (code-point symbols, '</w>' suffixed on the
    * final char — char-indexed substr matches Spark's code-point
    * split) and the per-doc word stream `cd`/`cdw`; appending
    * [[bpeCharRoundCtes]] 1..R and the `csym` flatten yields each
    * doc's final symbol stream in (word, symbol) position order. */
  /** CTE chain replaying the unigram-LM tokenizer (x127–x130) in
    * DuckDB: seed-vocabulary substring counting over the word
    * dictionary, then per-distinct-word Viterbi as a RECURSIVE CTE
    * carrying the DP score list and the best path per position (the
    * caller must open with WITH RECURSIVE). Scores replay the kernel's
    * exact IEEE shape — best[i] * (CAST(freq AS DOUBLE) / total) —
    * and ties break (score DESC, i ASC), matching the kernel's
    * ascending-i strict-improvement loop. */
  /** CTE chain replaying [[graft.operators.KMeans.lloyd]] in DuckDB:
    * power-of-two quantization, seed = k smallest vec_ids, then per
    * iteration one assignment CTE (left-folded IEEE distances via
    * list_reduce — seedless fold equals the kernel's 0.0-seeded fold
    * because 0.0 + v1 is exact) and one centroid-update CTE (exact
    * integer sums / count; an emptied cluster keeps its previous
    * centroid via the coalesce). Exposes `fa` = final assignments
    * (vec_id, x, d, cl). */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def assign(name: String, cs: String): String =
      s"""$name AS (
        |  SELECT vec_id, x, d,
        |         list_position(d, list_aggregate(d, 'min')) - 1 AS cl
        |  FROM (
        |    SELECT e.vec_id, e.x,
        |      list_transform(s.cs, c ->
        |        list_reduce(list_transform(range(1, len(e.x) + 1),
        |          i -> (e.x[i] - c[i]) * (e.x[i] - c[i])),
        |          (a, b) -> a + b)) AS d
        |    FROM km e, $cs s))""".stripMargin
    def update(aName: String, cName: String, csName: String,
        prevCs: String): String =
      s"""$cName AS (
        |  SELECT cl, list(m ORDER BY pos) AS cv
        |  FROM (
        |    SELECT cl, pos, CAST(sum(xv) AS DOUBLE) / count(*) AS m
        |    FROM (SELECT cl, unnest(x) AS xv,
        |            generate_subscripts(x, 1) AS pos FROM $aName)
        |    GROUP BY cl, pos)
        |  GROUP BY cl),
        |$csName AS (
        |  SELECT list(coalesce(c.cv, s.cs[t.c + 1]) ORDER BY t.c) AS cs
        |  FROM range(0, $k) t(c)
        |  LEFT JOIN $cName c ON c.cl = t.c
        |  CROSS JOIN $prevCs s)""".stripMargin
    // one (assign, update) pair per Lloyd round — the kernel runs
    // `iters` UPDATES and then assigns once more for the output
    val rounds = (1 to iters).map { t =>
      val prev = if (t == 1) "kseed" else s"kcs${t - 1}"
      assign(s"ka$t", prev) + ",\n" +
        update(s"ka$t", s"kc$t", s"kcs$t", prev)
    }.mkString(",\n")
    val lastCs = s"kcs$iters"
    s"""km0 AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      v -> floor(CAST(v AS DOUBLE) * 1048576.0)) AS x
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) >= 1
      |    AND len(list_filter(embedding, v -> v IS NULL)) = 0),
      |kseed AS (
      |  SELECT list(x ORDER BY vec_id) AS cs
      |  FROM (SELECT vec_id, x FROM km0 ORDER BY vec_id LIMIT $k)),
      |km AS (
      |  SELECT e.vec_id, e.x FROM km0 e, kseed s
      |  WHERE len(e.x) = len(s.cs[1])),
      |$rounds,
      |${assign("fa", lastCs)}""".stripMargin
  }

  /** 2^512 as an exact decimal double literal (representable, so the
    * nearest-double parse is exact on both engines) — the Viterbi
    * underflow-rescale factor; the trigger threshold is the exact
    * 1.0 / 2^512. Mirrors UnigramOps.RescaleBy/RescaleAt. */
  private val Pow2_512: String = BigInt(2).pow(512).toString + ".0"

  /** One Viterbi segmentation pass under an arbitrary (piece, f)
    * vocabulary CTE — the per-round building block of the unigram
    * trainer replay: emits `utotal$s`, `ucand$s`, `uvit$s` (the
    * recursive DP) and `useg$s`. Candidate windows come from the
    * vocabulary-independent `ucand0` (seed maxPieceLen): candidates
    * longer than every piece of a LATER round's vocabulary are
    * multi-char misses and contribute nothing, exactly as the kernel's
    * tighter maxPieceLen window skips them. */
  private def viterbiRoundCtes(s: String, vocabCte: String): String =
    s"""utotal$s AS (SELECT CAST(sum(f) AS DOUBLE) AS tot FROM $vocabCte),
      |ucand$s AS (
      |  SELECT w, c.i AS i, c.j AS j,
      |         coalesce(v.f, CASE WHEN c.j - c.i = 1 THEN 1 END) AS fv
      |  FROM ucand0
      |  LEFT JOIN $vocabCte v ON v.piece = substr(w, c.i + 1, c.j - c.i)
      |  WHERE coalesce(v.f, CASE WHEN c.j - c.i = 1 THEN 1 END)
      |    IS NOT NULL),
      |uvit$s AS (
      |  SELECT w, len(w) AS n, 0 AS j,
      |         [CAST(1.0 AS DOUBLE)] AS bests,
      |         [CAST([] AS VARCHAR[])] AS paths
      |  FROM udw
      |  UNION ALL
      |  SELECT r.w, r.n, r.j + 1,
      |         CASE WHEN c.s > 0 AND c.s < 1.0 / $Pow2_512
      |              THEN list_transform(list_append(r.bests, c.s),
      |                     b -> b * $Pow2_512)
      |              ELSE list_append(r.bests, c.s) END,
      |         list_append(r.paths, c.p)
      |  FROM uvit$s r, LATERAL (
      |    SELECT r.bests[q.i + 1] *
      |             (CAST(q.fv AS DOUBLE) / (SELECT tot FROM utotal$s)) AS s,
      |           list_append(r.paths[q.i + 1],
      |             substr(r.w, q.i + 1, q.j - q.i)) AS p,
      |           q.i AS i
      |    FROM ucand$s q
      |    WHERE q.w = r.w AND q.j = r.j + 1
      |    ORDER BY s DESC, i ASC
      |    LIMIT 1) c
      |  WHERE r.j < r.n),
      |useg$s AS (SELECT w, paths[n + 1] AS pieces FROM uvit$s WHERE j = n)"""
      .stripMargin

  private def unigramCtes(maxPieceLen: Int, minCount: Int,
      vocabSize: Int): String =
    s"""uw AS (
      |  SELECT t.doc_id, u.j, t.ws[u.j] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '\\s+'),
      |            x -> x <> '') AS ws
      |        FROM documents WHERE text IS NOT NULL) t,
      |    unnest(generate_series(1, len(t.ws))) AS u(j)),
      |ud AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
      |uwf AS (SELECT w, count(*) AS wf FROM uw GROUP BY 1),
      |usub AS (
      |  SELECT unnest(flatten(list_transform(
      |           generate_series(1, $maxPieceLen),
      |           l -> list_transform(generate_series(1, len(w) - l + 1),
      |                  s -> substr(w, s, l))))) AS piece,
      |         wf
      |  FROM uwf),
      |usubf AS (SELECT piece, sum(wf) AS f FROM usub GROUP BY 1),
      |uvocab AS (
      |  SELECT piece, f FROM usubf WHERE len(piece) = 1
      |  UNION ALL
      |  SELECT piece, f FROM (
      |    SELECT piece, f FROM usubf
      |    WHERE len(piece) > 1 AND f >= $minCount
      |    ORDER BY f DESC, piece ASC LIMIT $vocabSize)),
      |udw AS (SELECT DISTINCT w FROM uw),
      |ucand0 AS (
      |  SELECT w, unnest(flatten(list_transform(
      |      generate_series(1, len(w)),
      |      j -> list_transform(
      |             generate_series(greatest(0, j - $maxPieceLen), j - 1),
      |             i -> struct_pack(i := i, j := j))))) AS c
      |  FROM udw),
      |${viterbiRoundCtes("", "uvocab")}"""
      .stripMargin

  /** Usage counts + the emRound prune under a segmentation CTE: emits
    * `uuse$s` (per-piece corpus usage from `useg$s`) and `uvoc$s` (the
    * next vocabulary: chars with coalesce(usage, 1), top-`keep` used
    * multi-char pieces by (usage DESC, piece ASC)). */
  private def emRoundCtes(s: String, prevVocab: String,
      keep: Int): String =
    s"""uuse$s AS (
      |  SELECT p.piece, CAST(count(*) AS BIGINT) AS u
      |  FROM uw w JOIN (SELECT w, unnest(pieces) AS piece FROM useg$s) p
      |    USING (w)
      |  GROUP BY 1),
      |uvoc$s AS (
      |  SELECT v.piece, coalesce(u.u, 1) AS f
      |  FROM $prevVocab v LEFT JOIN uuse$s u USING (piece)
      |  WHERE len(v.piece) = 1
      |  UNION ALL
      |  SELECT piece, f FROM (
      |    SELECT v.piece, u.u AS f
      |    FROM $prevVocab v JOIN uuse$s u USING (piece)
      |    WHERE len(v.piece) > 1
      |    ORDER BY u.u DESC, v.piece ASC LIMIT $keep))"""
      .stripMargin

  /** CTE chain replaying WordPiece max-munch segmentation (appended
    * after [[unigramCtes]]): candidate substrings per position, the
    * longest vocabulary match (single char as UNK fallback), then a
    * forward recursive walk (position += taken length). Exposes
    * `wx` = (w, piece, k) exploded segmentations per distinct word. */
  private val WordpieceSegCtes: String =
    """wc0 AS (
      |  SELECT w, pos, l, substr(w, pos + 1, l) AS cand
      |  FROM (SELECT w, unnest(generate_series(0, len(w) - 1)) AS pos
      |        FROM udw) a,
      |       (SELECT unnest(generate_series(1, 4)) AS l) t
      |  WHERE pos + l <= len(w)),
      |wchoice AS (
      |  SELECT c.w, c.pos, max(c.l) AS l
      |  FROM wc0 c LEFT JOIN uvocab v ON v.piece = c.cand
      |  WHERE v.piece IS NOT NULL OR c.l = 1
      |  GROUP BY c.w, c.pos),
      |wch AS (SELECT w, pos, l, substr(w, pos + 1, l) AS piece
      |        FROM wchoice),
      |wvit AS (
      |  SELECT w, len(w) AS n, 0 AS pos,
      |         CAST([] AS VARCHAR[]) AS pieces
      |  FROM udw
      |  UNION ALL
      |  SELECT r.w, r.n, r.pos + c.l, list_append(r.pieces, c.piece)
      |  FROM wvit r JOIN wch c ON c.w = r.w AND c.pos = r.pos
      |  WHERE r.pos < r.n),
      |wseg AS (SELECT w, pieces FROM wvit WHERE pos = n),
      |wx AS (SELECT w, unnest(pieces) AS piece,
      |         generate_subscripts(pieces, 1) AS k FROM wseg)"""
      .stripMargin

  /** CTE chain for the BERT WordPiece family (x140/x141): word
    * dictionary, positionally-TAGGED substring counts (word-initial
    * plain, word-internal `##`-prefixed — distinct entries with
    * separate counts), and the char-floor + top-K vocabulary cut.
    * Exposes `uw`/`ud`/`udw` (the unigram-family word spine) and
    * `wpvocab` (piece, f). */
  private def wpBertCtes(maxPieceLen: Int, minCount: Int,
      vocabSize: Int): String =
    s"""uw AS (
      |  SELECT t.doc_id, u.j, t.ws[u.j] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '\\s+'),
      |            x -> x <> '') AS ws
      |        FROM documents WHERE text IS NOT NULL) t,
      |    unnest(generate_series(1, len(t.ws))) AS u(j)),
      |ud AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
      |udw AS (SELECT DISTINCT w FROM uw),
      |uwf AS (SELECT w, count(*) AS wf FROM uw GROUP BY 1),
      |wpsub AS (
      |  SELECT unnest(flatten(list_transform(
      |           generate_series(1, $maxPieceLen),
      |           l -> list_transform(generate_series(1, len(w) - l + 1),
      |                  s -> CASE WHEN s = 1 THEN substr(w, s, l)
      |                            ELSE '##' || substr(w, s, l)
      |                       END)))) AS piece,
      |         wf
      |  FROM uwf),
      |wpsubf AS (SELECT piece, sum(wf) AS f FROM wpsub GROUP BY 1),
      |wpvocab AS (
      |  SELECT piece, f FROM wpsubf
      |  WHERE (CASE WHEN piece LIKE '##%' THEN len(piece) - 2
      |              ELSE len(piece) END) = 1
      |  UNION ALL
      |  SELECT piece, f FROM (
      |    SELECT piece, f FROM wpsubf
      |    WHERE (CASE WHEN piece LIKE '##%' THEN len(piece) - 2
      |                ELSE len(piece) END) > 1 AND f >= $minCount
      |    ORDER BY f DESC, piece ASC LIMIT $vocabSize))"""
      .stripMargin

  /** CTE chain replaying the LIKELIHOOD-scored WordPiece trainer
    * (x143/x147 — graft.operators.Unigram.wordpieceVocabLikelihood):
    * the word dictionary lowers to initial-tagged symbol lists
    * (chr(1) on the FIRST char — the trainer's internal tag, so a
    * merge is plain concatenation), then one CTE group per SEQUENTIAL
    * round: weighted pair counts with the minCount floor, weighted
    * symbol counts, the score pick n/(c(l)·c(r)) (exact integers, two
    * IEEE roundings — bit-identical cross-engine) ordered
    * (score DESC, l, r), and the same greedy merge application as the
    * BPE round CTEs. Exposes `wlvocab` (piece, freq) — seed
    * single-char entries (both rendered forms) + one entry per merge
    * at its commit count, deduped by summing. */
  private def wpLikCtes(rounds: Int, minCount: Int): String = {
    val roundCtes = (1 to rounds).map { k =>
      val prev = s"wl${k - 1}"
      // prev is referenced 4× per round: MATERIALIZED stops DuckDB's
      // CTE inlining from expanding the chain 4^rounds times (which
      // exhausts file handles re-opening the parquet per expansion)
      s"""wlp$k AS (
        |  SELECT t.s[u.i] AS l, t.s[u.i+1] AS r, sum(t.n) AS n
        |  FROM $prev t, unnest(generate_series(1, len(t.s)-1)) AS u(i)
        |  GROUP BY 1, 2 HAVING sum(t.n) >= $minCount),
        |wlc$k AS (
        |  SELECT sym, sum(n) AS c
        |  FROM (SELECT unnest(s) AS sym, n FROM $prev)
        |  GROUP BY 1),
        |wlm$k AS (
        |  SELECT p.l, p.r, p.n FROM wlp$k p
        |  JOIN wlc$k a ON a.sym = p.l
        |  JOIN wlc$k b ON b.sym = p.r
        |  ORDER BY CAST(p.n AS DOUBLE) /
        |    (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) DESC, p.l, p.r
        |  LIMIT 1),
        |wlo$k AS (
        |  SELECT t.wid, u.i,
        |    u.i - row_number() OVER (PARTITION BY t.wid ORDER BY u.i)
        |      AS isl
        |  FROM $prev t, wlm$k m,
        |    unnest(generate_series(1, len(t.s)-1)) AS u(i)
        |  WHERE t.s[u.i] = m.l AND t.s[u.i+1] = m.r),
        |wlt$k AS (
        |  SELECT wid, i FROM (
        |    SELECT wid, i,
        |      row_number() OVER (PARTITION BY wid, isl ORDER BY i)
        |        AS rnk
        |    FROM wlo$k) WHERE rnk % 2 = 1),
        |wl$k AS MATERIALIZED (
        |  SELECT e.wid, e.n,
        |    coalesce(list(CASE WHEN a.i IS NOT NULL
        |        THEN e.tok || e.nxt ELSE e.tok END
        |      ORDER BY e.j) FILTER (WHERE b.i IS NULL), []) AS s
        |  FROM (
        |    SELECT p.wid, p.n, u.j, p.s[u.j] AS tok, p.s[u.j+1] AS nxt
        |    FROM $prev p, unnest(generate_series(1, len(p.s))) AS u(j)) e
        |  LEFT JOIN wlt$k a ON a.wid = e.wid AND a.i = e.j
        |  LEFT JOIN wlt$k b ON b.wid = e.wid AND b.i = e.j - 1
        |  GROUP BY e.wid, e.n)""".stripMargin
    }.mkString(",\n")
    val mergeUnion = (1 to rounds)
      .map(k => s"SELECT l, r, n FROM wlm$k").mkString("\n    UNION ALL ")
    s"""wl0 AS MATERIALIZED (
      |  SELECT w AS wid, count(*) AS n,
      |    list_transform(range(1, length(w)+1),
      |      i -> CASE WHEN i = 1 THEN chr(1) || substr(w, i, 1)
      |                ELSE substr(w, i, 1) END) AS s
      |  FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
      |      x -> x <> '')) AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY 1),
      |$roundCtes,
      |wlvocab AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS freq FROM (
      |    SELECT CASE WHEN starts_with(sym, chr(1)) THEN substr(sym, 2)
      |                ELSE '##' || sym END AS piece, c AS freq
      |    FROM wlc1
      |    UNION ALL
      |    SELECT CASE WHEN starts_with(l || r, chr(1))
      |                THEN substr(l || r, 2)
      |                ELSE '##' || (l || r) END AS piece, n AS freq
      |    FROM ($mergeUnion))
      |  GROUP BY 1)""".stripMargin
  }

  /** BERT greedy longest-match replay over an arbitrary tagged
    * vocabulary CTE (the x141 walk generalized): candidate lengths go
    * up to the remaining word length (the likelihood vocabulary has
    * no fixed piece-length cap), the walk is the same forward
    * recursion, stalled words collapse to one `[UNK]` (id 0). The
    * caller's CTE chain must expose `uw`/`ud`/`udw` (the word spine)
    * and `$vocabCte` (piece, …). */
  private def wpBertWalkOver(vocabCte: String): String =
    s"""bc0 AS (
      |  SELECT w, pos, l, substr(w, pos + 1, l) AS cand
      |  FROM (SELECT w, unnest(generate_series(0, len(w) - 1)) AS pos
      |        FROM udw) a,
      |       unnest(generate_series(1, len(a.w))) AS t(l)
      |  WHERE pos + l <= len(w)),
      |bch AS (
      |  SELECT w, pos, l,
      |         CASE WHEN pos = 0 THEN substr(w, pos + 1, l)
      |              ELSE '##' || substr(w, pos + 1, l) END AS piece
      |  FROM (
      |    SELECT c.w, c.pos, max(c.l) AS l
      |    FROM bc0 c JOIN $vocabCte v
      |      ON v.piece = CASE WHEN c.pos = 0 THEN c.cand
      |                        ELSE '##' || c.cand END
      |    GROUP BY c.w, c.pos)),
      |bvit AS (
      |  SELECT w, len(w) AS n, 0 AS pos,
      |         CAST([] AS VARCHAR[]) AS pieces
      |  FROM udw
      |  UNION ALL
      |  SELECT r.w, r.n, r.pos + c.l, list_append(r.pieces, c.piece)
      |  FROM bvit r JOIN bch c ON c.w = r.w AND c.pos = r.pos
      |  WHERE r.pos < r.n),
      |bseg AS (
      |  SELECT dw.w, coalesce(s.pieces, ['[UNK]']) AS pieces
      |  FROM udw dw
      |  LEFT JOIN (SELECT w, pieces FROM bvit WHERE pos = n) s
      |    ON s.w = dw.w),
      |bx AS (SELECT w, unnest(pieces) AS piece,
      |         generate_subscripts(pieces, 1) AS k FROM bseg),
      |bvid AS (SELECT piece,
      |    CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS vid
      |  FROM $vocabCte)
      |SELECT d.doc_id,
      |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
      |  coalesce(string_agg(
      |    CASE WHEN p.piece IS NULL THEN NULL
      |         ELSE CAST(coalesce(v.vid, 0) AS VARCHAR) END,
      |    ',' ORDER BY u.j, p.k), '') AS encoded_ids
      |FROM ud d
      |LEFT JOIN uw u USING (doc_id)
      |LEFT JOIN bx p USING (w)
      |LEFT JOIN bvid v ON v.piece = p.piece
      |GROUP BY d.doc_id""".stripMargin

  /** Word-spine CTEs (`uw`/`ud`/`udw`) alone — for oracles that need
    * the per-doc word stream without the x140 vocabulary build. */
  private val WordSpineCtes: String =
    s"""uw AS (
      |  SELECT t.doc_id, u.j, t.ws[u.j] AS w
      |  FROM (SELECT doc_id,
      |          list_filter(regexp_split_to_array(text, '\\s+'),
      |            x -> x <> '') AS ws
      |        FROM documents WHERE text IS NOT NULL) t,
      |    unnest(generate_series(1, len(t.ws))) AS u(j)),
      |ud AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
      |udw AS (SELECT DISTINCT w FROM uw)""".stripMargin

  /** BERT greedy longest-match replay (shared by x141 and its
    * artifact twin x142 — the round trip must be invisible):
    * per-position longest TAGGED vocabulary match (no single-char
    * fallback), a forward recursive walk, and words whose walk stalls
    * collapse to one `[UNK]` (id 0). */
  private lazy val WpBertIdsOracle: String =
    s"""WITH RECURSIVE ${wpBertCtes(4, 2, 64)},
      |bc0 AS (
      |  SELECT w, pos, l, substr(w, pos + 1, l) AS cand
      |  FROM (SELECT w, unnest(generate_series(0, len(w) - 1)) AS pos
      |        FROM udw) a,
      |       (SELECT unnest(generate_series(1, 4)) AS l) t
      |  WHERE pos + l <= len(w)),
      |bch AS (
      |  SELECT w, pos, l,
      |         CASE WHEN pos = 0 THEN substr(w, pos + 1, l)
      |              ELSE '##' || substr(w, pos + 1, l) END AS piece
      |  FROM (
      |    SELECT c.w, c.pos, max(c.l) AS l
      |    FROM bc0 c JOIN wpvocab v
      |      ON v.piece = CASE WHEN c.pos = 0 THEN c.cand
      |                        ELSE '##' || c.cand END
      |    GROUP BY c.w, c.pos)),
      |bvit AS (
      |  SELECT w, len(w) AS n, 0 AS pos,
      |         CAST([] AS VARCHAR[]) AS pieces
      |  FROM udw
      |  UNION ALL
      |  SELECT r.w, r.n, r.pos + c.l, list_append(r.pieces, c.piece)
      |  FROM bvit r JOIN bch c ON c.w = r.w AND c.pos = r.pos
      |  WHERE r.pos < r.n),
      |bseg AS (
      |  SELECT dw.w, coalesce(s.pieces, ['[UNK]']) AS pieces
      |  FROM udw dw
      |  LEFT JOIN (SELECT w, pieces FROM bvit WHERE pos = n) s
      |    ON s.w = dw.w),
      |bx AS (SELECT w, unnest(pieces) AS piece,
      |         generate_subscripts(pieces, 1) AS k FROM bseg),
      |bvid AS (SELECT piece,
      |    CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS vid
      |  FROM wpvocab)
      |SELECT d.doc_id,
      |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
      |  coalesce(string_agg(
      |    CASE WHEN p.piece IS NULL THEN NULL
      |         ELSE CAST(coalesce(v.vid, 0) AS VARCHAR) END,
      |    ',' ORDER BY u.j, p.k), '') AS encoded_ids
      |FROM ud d
      |LEFT JOIN uw u USING (doc_id)
      |LEFT JOIN bx p USING (w)
      |LEFT JOIN bvid v ON v.piece = p.piece
      |GROUP BY d.doc_id""".stripMargin

  private def bpeCharPrefixCtes(rounds: Int,
      byteLevel: Boolean = false): String = {
    val roundCtes = (1 to rounds).map(bpeCharRoundCtes).mkString(",\n")
    // the trainer-round CTEs are symbol-agnostic; char vs BYTE level
    // (x120) differ only in cs0: code-point chars vs the uppercase
    // hex pairs of the word's UTF-8 bytes (hex(encode(w)) replays
    // Spark's byteInit exactly — both engines emit uppercase hex)
    val cs0 =
      if (byteLevel)
        """cs0 AS (
          |  SELECT w AS wid, n, octet_length(encode(w)) >= 2 AS big,
          |    list_transform(range(1, octet_length(encode(w))+1),
          |      i -> substr(hex(encode(w)), (i-1)*2+1, 2) ||
          |        CASE WHEN i = octet_length(encode(w)) THEN '</w>'
          |             ELSE '' END) AS s
          |  FROM cw0),""".stripMargin
      else
        """cs0 AS (
          |  SELECT w AS wid, n, length(w) >= 2 AS big,
          |    list_transform(range(1, length(w)+1),
          |      i -> substr(w, i, 1) ||
          |        CASE WHEN i = length(w) THEN '</w>' ELSE '' END) AS s
          |  FROM cw0),""".stripMargin
    s"""cw0 AS (
      |  SELECT w, count(*) AS n FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
      |      x -> x <> '')) AS w
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY 1),
      |$cs0
      |$roundCtes,
      |cd AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, '\\s+'),
      |      x -> x <> '') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |cdw AS (
      |  SELECT t.doc_id, u.j, t.ws[u.j] AS wid
      |  FROM cd t, unnest(generate_series(1, len(t.ws))) AS u(j)),
      |csym AS (
      |  SELECT w.doc_id, w.j, u.k, f.s[u.k] AS tok
      |  FROM cdw w, cs$rounds f,
      |    unnest(generate_series(1, len(f.s))) AS u(k)
      |  WHERE f.wid = w.wid)""".stripMargin
  }

  private val PolySimhashFpCtes =
      """t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[^ \t\n\r\x0b\f]+') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (
        |  SELECT doc_id, list_transform(toks, tk ->
        |    list_reduce([0::BIGINT] || list_transform(range(1, length(tk) + 1),
        |      i -> ord(substr(tk, i, 1))::BIGINT), (a,x) -> (a*131 + x) % 2147483647) * 1073741824
        |    + list_reduce([0::BIGINT] || list_transform(range(1, length(tk) + 1),
        |      i -> ord(substr(tk, i, 1))::BIGINT), (a,x) -> (a*137 + x) % 1000000007)) AS hs
        |  FROM t),
        |fp AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 61), j ->
        |    CASE WHEN coalesce(list_sum(list_transform(hs, v -> ((v >> j) & 1) * 2 - 1)), 0) > 0
        |         THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sh
        |  FROM h)""".stripMargin

  /** DuckDB replay of [[graft.operators.Corpus.hashUnit]] over doc_id —
    * the shared deterministic-sampling hash (x16/x22 inline the same
    * arithmetic; x29/x30 reference this constant). */
  /** [[HashUnitSqlOfDocId]] over an arbitrary SQL expression. */
  private def hashUnitSqlOf(e: String): String =
    s"""((list_reduce([0::BIGINT] || list_transform(
      |      range(1, length(CAST($e AS VARCHAR)) + 1),
      |      i -> ord(substr(CAST($e AS VARCHAR), i, 1))::BIGINT),
      |      (a,x) -> (a*131 + x) % 1000000007)
      |    * 1103515245 + 12345) % 1000000007
      |    * 69069 + 1) % 1000000007 / 1000000007.0""".stripMargin

  private val HashUnitSqlOfDocId = hashUnitSqlOf("doc_id")

  /** Shared DuckDB CTE chain resolving the poly-simhash near-dup pair
    * graph into connected components — the exact block x24 verifies
    * against, reused verbatim by the cluster-keyed split (x69) so the
    * two can never silently disagree. Requires `WITH RECURSIVE` and the
    * [[PolySimhashFpCtes]] prefix; yields `comp(node, component)`. */
  private val SimhashComponentCtes =
    """e AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
      |es AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
      |cc AS (
      |  SELECT u AS node, u AS lbl FROM es
      |  UNION
      |  SELECT es.v, cc.lbl FROM cc JOIN es ON cc.node = es.u),
      |comp AS (SELECT node, MIN(lbl) AS component FROM cc GROUP BY node)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_platform_agg" ->
      """SELECT CASE WHEN user_id % 3 = 1 THEN 'PC'
        |            WHEN user_id % 3 = 2 THEN 'APP'
        |            ELSE 'Other' END AS platform,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin,
    "q2_sliding_window" ->
      """SELECT strftime(make_timestamp(s * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT event_type,
        |             unnest(generate_series(
        |               CAST(floor(epoch(ts) / 360) AS BIGINT) * 360 - 3240,
        |               CAST(floor(epoch(ts) / 360) AS BIGINT) * 360,
        |               360)) AS s
        |      FROM events)
        |GROUP BY 1, 2""".stripMargin,
    "q3_cumulative_daily" ->
      """SELECT day, event_type,
        |       CAST(SUM(registrations) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
        |         AS cum_registrations
        |FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |             COUNT(*) AS registrations
        |      FROM events GROUP BY 1, 2)""".stripMargin,
    "q4_qz_mastery" ->
      """WITH qz AS (
        |  SELECT user_id % 50 AS uid, user_id % 4 AS courseid,
        |         event_id % 5 AS pointid,
        |         CAST(event_id % 30 AS VARCHAR) AS questionid,
        |         CASE WHEN value > 10.0 THEN '1' ELSE '0' END AS istrue,
        |         strftime(ts, '%Y-%m-%d %H:%M:%S') AS createtime
        |  FROM events),
        |agg AS (
        |  SELECT uid, courseid, pointid,
        |         string_agg(DISTINCT questionid, ',' ORDER BY questionid) AS questionids,
        |         CAST(COUNT(*) AS BIGINT) AS qz_sum,
        |         CAST(COUNT(DISTINCT questionid) AS BIGINT) AS qz_count,
        |         CAST(SUM(CASE WHEN istrue = '1' THEN 1 ELSE 0 END) AS BIGINT) AS qz_istrue,
        |         MIN(createtime) AS createtime
        |  FROM qz GROUP BY 1, 2, 3)
        |SELECT uid, courseid, pointid, questionids, qz_sum, qz_count,
        |       qz_istrue, createtime,
        |       CAST(qz_istrue AS DOUBLE) / CAST(qz_sum AS DOUBLE) AS correct_rate,
        |       CAST(qz_count AS DOUBLE) / 30.0 AS qz_detail_rate,
        |       (CAST(qz_count AS DOUBLE) / 30.0) *
        |         (CAST(qz_istrue AS DOUBLE) / CAST(qz_sum AS DOUBLE)) AS mastery_rate
        |FROM agg""".stripMargin,
    "q5_props_extract" ->
      """SELECT CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT) AS k,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q6_day_buckets" ->
      """SELECT strftime(ts, '%Y%m%d') AS dt, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q15_page_conversion" ->
      """WITH pv AS (
        |  SELECT CAST(user_id % 20 AS VARCHAR) AS last_page_id,
        |         CAST(event_id % 20 AS VARCHAR) AS page_id,
        |         CAST((event_id + 1) % 20 AS VARCHAR) AS next_page_id
        |  FROM events),
        |j AS (SELECT last_page_id, page_id, next_page_id,
        |             CAST(COUNT(*) AS BIGINT) AS jumps
        |      FROM pv GROUP BY 1, 2, 3),
        |p AS (SELECT page_id, CAST(SUM(jumps) AS BIGINT) AS page_total
        |      FROM j GROUP BY 1)
        |SELECT j.page_id, j.next_page_id, j.jumps, p.page_total,
        |       CAST(j.jumps AS DOUBLE) / CAST(p.page_total AS DOUBLE)
        |         AS conversion_rate
        |FROM j JOIN p ON j.page_id = p.page_id""".stripMargin,
    "q7_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) *
        |           (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "q8_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,
    "q9_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q10_priority_heavy" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45.0)
        |GROUP BY 1""".stripMargin,
    "q11_customers_no_orders" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |GROUP BY 1""".stripMargin,
    "q12_supplier_part_rank" ->
      """SELECT l_suppkey, l_partkey, part_revenue, rnk FROM (
        |  SELECT l_suppkey, l_partkey, part_revenue,
        |         CAST(row_number() OVER (PARTITION BY l_suppkey
        |              ORDER BY part_revenue DESC, l_partkey) AS INT) AS rnk
        |  FROM (SELECT l_suppkey, l_partkey,
        |          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |               (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
        |            AS part_revenue
        |        FROM lineitem GROUP BY 1, 2))
        |WHERE rnk <= 3""".stripMargin,
    "q13_segment_setops" ->
      """SELECT c_custkey, 'intersect' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT c_custkey, 'except' AS op FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders)""".stripMargin,
    "q14_events_by_segment" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin,
    // brute-force 5-gram Jaccard over all pairs: the LSH banding is a
    // candidate generator only — the emitted pairs are exact-verified,
    // so at a recall of 1 (deterministic at this scale/threshold: every
    // qualifying pair sits far above the banding threshold) the output
    // IS the brute-force result
    "x2_dedup_minhash" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 4, 0)),
        |    i -> substr(text, i, 5))) AS ng
        |  FROM documents
        |  WHERE length(text) >= 5)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |         CAST(len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)) AS DOUBLE)
        |           AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,
    // recomputes the 61-bit polynomial simhash per document and scans
    // all pairs; Spark's chunk-pigeonhole search is exactly complete for
    // hamming <= 3, so the sets must match row-for-row
    "x3_dedup_simhash" ->
      s"""WITH $PolySimhashFpCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3""".stripMargin,
    // x86: full recompute restricted to pairs touching the delta
    // (doc_id % 7 == 0) — the delta route must be exactly lossless
    "x86_simhash_delta" ->
      s"""WITH $PolySimhashFpCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 3
        |  AND (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)""".stripMargin,
    // x24: the SAME pair set as x3, closed transitively by a recursive
    // label-propagation CTE (every node accumulates every label that can
    // reach it; the min is the component id), then joined back onto the
    // full corpus with singletons as their own cluster
    "x24_dup_clusters" -> DupClustersOracle,
    // x103: IDENTICAL ground truth to x24 — the incremental route must
    // land on exactly the full-graph clustering
    "x103_clusters_delta" -> DupClustersOracle,
    // same component ground truth as x24; the split key is the CLUSTER
    // id, so the oracle proves no near-dup pair straddles splits
    "x69_cluster_split" ->
      s"""WITH RECURSIVE $PolySimhashFpCtes,
        |$SimhashComponentCtes,
        |asg AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |u AS (
        |  SELECT doc_id, cluster_id,
        |    ${hashUnitSqlOf("cluster_id")} AS uu
        |  FROM asg)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN uu < 0.8 THEN 'train'
        |       WHEN uu < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM u""".stripMargin,
    "x74_char_stats" ->
      """WITH cp AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
        |    i -> substr(text, i, 1))) AS ch
        |  FROM documents WHERE length(text) >= 1),
        |cnt AS (SELECT doc_id, ch, count(*) AS c FROM cp GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_cp,
        |  CAST(count(*) AS BIGINT) AS distinct_cp,
        |  1.0 - CAST(sum(c*c) AS DOUBLE) /
        |        (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
        |    AS simpson,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |    AS top_char_frac
        |FROM cnt GROUP BY doc_id""".stripMargin,
    "x75_bigram_coverage" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, tk[i] AS t1, tk[i + 1] AS t2
        |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        |        FROM toks)),
        |dfreq AS (SELECT t1, t2, count(DISTINCT doc_id) AS df
        |          FROM pairs GROUP BY 1, 2),
        |per AS (
        |  SELECT p.doc_id, count(*) AS n_bigrams,
        |         sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS n_known
        |  FROM pairs p JOIN dfreq f USING (t1, t2) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(per.n_known, 0) AS BIGINT) AS n_known,
        |  CASE WHEN coalesce(per.n_bigrams, 0) > 0
        |       THEN CAST(coalesce(per.n_known, 0) AS DOUBLE) /
        |            CAST(per.n_bigrams AS DOUBLE) END AS coverage
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id"""
        .stripMargin,
    // same component ground truth as x24/x69; the modular walk, the
    // existence join, and the first-k-survivors rank replayed exactly
    "x82_negative_samples" ->
      s"""WITH RECURSIVE $PolySimhashFpCtes,
        |$SimhashComponentCtes,
        |ids AS (SELECT doc_id AS id FROM documents
        |        WHERE doc_id IS NOT NULL),
        |mx AS (SELECT max(id) + 1 AS m FROM ids),
        |cand AS (
        |  SELECT id AS anchor_id, unnest(range(1, 9)) AS j
        |  FROM ids),
        |c2 AS (
        |  SELECT anchor_id, j,
        |         ((anchor_id + j * 7919) % m + m) % m AS cand
        |  FROM cand CROSS JOIN mx),
        |ex AS (
        |  SELECT c2.anchor_id, c2.j, c2.cand
        |  FROM c2
        |  JOIN ids e ON c2.cand = e.id
        |  LEFT JOIN comp ca ON c2.anchor_id = ca.node
        |  LEFT JOIN comp cb ON c2.cand = cb.node
        |  WHERE c2.cand <> c2.anchor_id
        |    AND coalesce(ca.component, c2.anchor_id)
        |        <> coalesce(cb.component, c2.cand)),
        |dd AS (SELECT anchor_id, cand, min(j) AS j FROM ex GROUP BY 1, 2),
        |r AS (
        |  SELECT anchor_id, cand,
        |         row_number() OVER (PARTITION BY anchor_id
        |                            ORDER BY j, cand) AS rank
        |  FROM dd)
        |SELECT anchor_id, cand AS neg_id, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin,
    "x81_bigram_lift" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |u AS (SELECT unnest(tk) AS t FROM toks),
        |uc AS (SELECT t, count(*) AS n FROM u GROUP BY 1),
        |tot AS (SELECT count(*) AS total FROM u),
        |pairs AS (
        |  SELECT tk[i] AS t1, tk[i + 1] AS t2
        |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks)),
        |bc AS (SELECT t1, t2, count(*) AS nab FROM pairs GROUP BY 1, 2)
        |SELECT t1, t2, CAST(nab AS BIGINT) AS n_ab,
        |  CAST(nab AS DOUBLE) * CAST(total AS DOUBLE) /
        |  (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)) AS lift
        |FROM bc JOIN uc a ON bc.t1 = a.t JOIN uc b ON bc.t2 = b.t
        |CROSS JOIN tot
        |WHERE nab >= 5
        |ORDER BY lift DESC, t1, t2 LIMIT 50""".stripMargin,
    "x79_event_anomaly" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, count(*) AS n FROM d GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS k, sum(n) AS m,
        |             sum(n*n) AS ss
        |      FROM c GROUP BY 1)
        |SELECT c.event_type, c.day, CAST(c.n AS BIGINT) AS n,
        |  CASE WHEN CAST(ss AS DOUBLE)/CAST(k AS DOUBLE)
        |            - (CAST(m AS DOUBLE)/CAST(k AS DOUBLE))
        |              * (CAST(m AS DOUBLE)/CAST(k AS DOUBLE)) > 0
        |       THEN (CAST(c.n AS DOUBLE) - CAST(m AS DOUBLE)/CAST(k AS DOUBLE))
        |            / sqrt(CAST(ss AS DOUBLE)/CAST(k AS DOUBLE)
        |                   - (CAST(m AS DOUBLE)/CAST(k AS DOUBLE))
        |                     * (CAST(m AS DOUBLE)/CAST(k AS DOUBLE)))
        |  END AS z
        |FROM c JOIN s USING (event_type)""".stripMargin,
    "x80_daily_trend" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT event_type, day, count(*) AS y FROM d GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*) AS k, sum(day) AS sx,
        |             sum(y) AS sy, sum(day*y) AS sxy, sum(day*day) AS sxx
        |      FROM c GROUP BY 1)
        |SELECT event_type, CAST(k AS BIGINT) AS n_days,
        |  CASE WHEN k*sxx - sx*sx <> 0
        |       THEN CAST(k*sxy - sx*sy AS DOUBLE)
        |            / CAST(k*sxx - sx*sx AS DOUBLE) END AS slope,
        |  CASE WHEN k*sxx - sx*sx <> 0
        |       THEN CAST(sy*sxx - sx*sxy AS DOUBLE)
        |            / CAST(k*sxx - sx*sx AS DOUBLE) END AS intercept
        |FROM s""".stripMargin,
    // the same staged-min recurrence as x72; the percentile replays
    // Spark's exact expression lo + (p·(n−1) − ⌊p·(n−1)⌋)·(hi − lo)
    // op-for-op — quantile_cont would interpolate with a DIFFERENT
    // double expression, off by 1 ulp (≈ 2.4e-4 at µs-span magnitude)
    "x78_funnel_durations" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |  WHERE event_id % 13 = 0 AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_type IS NOT NULL
        |), s1 AS (
        |  SELECT user_id, min(t) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.t > s1.t1 GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY e.user_id
        |), d AS (
        |  SELECT CAST(s3.t3 - s1.t1 AS DOUBLE) AS dur
        |  FROM s3 JOIN s1 USING (user_id)
        |), r AS (
        |  SELECT dur, row_number() OVER (ORDER BY dur) AS rn,
        |         count(*) OVER () AS n
        |  FROM d)
        |, rp AS (
        |  SELECT dur, rn,
        |    CAST(0.5 AS DOUBLE) * (n-1) AS pos50,
        |    CAST(0.9 AS DOUBLE) * (n-1) AS pos90,
        |    CAST(0.99 AS DOUBLE) * (n-1) AS pos99
        |  FROM r)
        |SELECT 'all' AS grp,
        |  max(CASE WHEN rn = CAST(floor(pos50) AS BIGINT) + 1
        |                 THEN dur END) +
        |        max(pos50 - floor(pos50)) *
        |        (max(CASE WHEN rn = CAST(ceil(pos50) AS BIGINT) + 1
        |                  THEN dur END) -
        |         max(CASE WHEN rn = CAST(floor(pos50) AS BIGINT) + 1
        |                  THEN dur END)) AS p50,
        |  max(CASE WHEN rn = CAST(floor(pos90) AS BIGINT) + 1
        |                 THEN dur END) +
        |        max(pos90 - floor(pos90)) *
        |        (max(CASE WHEN rn = CAST(ceil(pos90) AS BIGINT) + 1
        |                  THEN dur END) -
        |         max(CASE WHEN rn = CAST(floor(pos90) AS BIGINT) + 1
        |                  THEN dur END)) AS p90,
        |  max(CASE WHEN rn = CAST(floor(pos99) AS BIGINT) + 1
        |                 THEN dur END) +
        |        max(pos99 - floor(pos99)) *
        |        (max(CASE WHEN rn = CAST(ceil(pos99) AS BIGINT) + 1
        |                  THEN dur END) -
        |         max(CASE WHEN rn = CAST(floor(pos99) AS BIGINT) + 1
        |                  THEN dur END)) AS p99
        |FROM rp""".stripMargin,
    "x76_transitions" ->
      """WITH o AS (
        |  SELECT event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL)
        |SELECT prev AS from_type, event_type AS to_type,
        |       CAST(count(*) AS BIGINT) AS n_transitions
        |FROM o WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "x77_value_runs" ->
      """WITH base AS (
        |  SELECT user_id AS key, ts, event_type AS value, event_id AS id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |f AS (
        |  SELECT key, ts, value, id,
        |    CASE WHEN lag(value) OVER w IS NULL
        |           OR lag(value) OVER w <> value THEN 1 ELSE 0 END AS chg
        |  FROM base
        |  WINDOW w AS (PARTITION BY key ORDER BY epoch_us(ts), id)),
        |r AS (
        |  SELECT key, ts, value,
        |    SUM(chg) OVER (PARTITION BY key ORDER BY epoch_us(ts), id)
        |      - 1 AS run_idx
        |  FROM f)
        |SELECT key, CAST(run_idx AS BIGINT) AS run_idx, value,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    // x98: replay the non-view runs, then for each view probe take the
    // run with the LATEST start ≤ probe ts (ties → max value, matching
    // the as-of union trick's carried-max contract)
    "x98_scd2_lookup" ->
      """WITH base AS (
        |  SELECT user_id AS key, ts, event_type AS value, event_id AS id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL AND event_type <> 'view'),
        |f AS (
        |  SELECT key, ts, value, id,
        |    CASE WHEN lag(value) OVER w IS NULL
        |           OR lag(value) OVER w <> value THEN 1 ELSE 0 END AS chg
        |  FROM base
        |  WINDOW w AS (PARTITION BY key ORDER BY epoch_us(ts), id)),
        |r AS (
        |  SELECT key, ts, value,
        |    SUM(chg) OVER (PARTITION BY key ORDER BY epoch_us(ts), id)
        |      AS run_idx
        |  FROM f),
        |runs AS (
        |  SELECT key, run_idx, value, min(epoch_us(ts)) AS sus
        |  FROM r GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.event_id, r.value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY r.sus DESC, r.value DESC) AS rn
        |  FROM p JOIN runs r
        |    ON r.key = p.user_id AND r.sus <= epoch_us(p.ts))
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  j.value AS state_asof
        |FROM p LEFT JOIN (SELECT event_id, value FROM j WHERE rn = 1) j
        |  USING (event_id)""".stripMargin,
    // x93: the merge must equal the FULL rebuild over all events — the
    // oracle is exactly the x77 computation (cutoff-independence is the
    // whole point of the incremental contract)
    "x93_scd2_merge" ->
      """WITH base AS (
        |  SELECT user_id AS key, ts, event_type AS value, event_id AS id
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |f AS (
        |  SELECT key, ts, value, id,
        |    CASE WHEN lag(value) OVER w IS NULL
        |           OR lag(value) OVER w <> value THEN 1 ELSE 0 END AS chg
        |  FROM base
        |  WINDOW w AS (PARTITION BY key ORDER BY epoch_us(ts), id)),
        |r AS (
        |  SELECT key, ts, value,
        |    SUM(chg) OVER (PARTITION BY key ORDER BY epoch_us(ts), id)
        |      - 1 AS run_idx
        |  FROM f)
        |SELECT key, CAST(run_idx AS BIGINT) AS run_idx, value,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM r GROUP BY 1, 2, 3""".stripMargin,
    // the funnel recurrence replayed as staged min-ts joins: tₖ = min
    // ts of stage k strictly after tₖ₋₁ (all comparisons in µs)
    "x72_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |  WHERE event_id % 13 = 0 AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_type IS NOT NULL
        |), s1 AS (
        |  SELECT user_id, min(t) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.t > s1.t1 GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, min(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY e.user_id
        |)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)"""
        .stripMargin,
    // integer-week arithmetic on days-since-epoch: no calendar or
    // timezone semantics for the engines to disagree on
    "x73_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS d
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |), f AS (SELECT user_id, min(d) AS d0 FROM e GROUP BY 1)
        |SELECT CAST(floor(f.d0 / 7) AS BIGINT) AS cohort_week,
        |       CAST(floor((e.d - f.d0) / 7) AS BIGINT) AS week_offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    // brute force restricted to the length band (|len diff| ≤ maxDist
    // is implied by dist ≤ maxDist, so the restriction loses nothing)
    "x70_edit_distance" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(levenshtein(a.text, b.text) AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 8
        |WHERE levenshtein(a.text, b.text) <= 8""".stripMargin,
    // x87: full recompute restricted to pairs touching the delta
    // (doc_id % 7 == 0) — the delta route must be exactly lossless
    // x102: x31's oracle with corpus-first arrival order (corpus rows
    // rank before delta rows for the same paragraph), delta docs only
    "x102_paragraph_delta" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' the ') AS ps FROM documents
        |), p AS (
        |  SELECT doc_id, generate_subscripts(ps, 1) - 1 AS idx,
        |         unnest(ps) AS para
        |  FROM parts
        |), marked AS (
        |  SELECT doc_id, idx, para,
        |         CASE WHEN length(trim(para)) >= 1
        |              THEN row_number() OVER (PARTITION BY lower(trim(para))
        |                     ORDER BY (doc_id % 7 = 0), doc_id, idx)
        |              ELSE 1 END AS rn
        |  FROM p
        |)
        |SELECT doc_id,
        |       coalesce(string_agg(para, ' the ' ORDER BY idx)
        |                FILTER (WHERE rn = 1), '') AS text,
        |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
        |FROM marked
        |WHERE doc_id % 7 = 0
        |GROUP BY doc_id""".stripMargin,
    // x101: full recompute over ALL docs (one global block), restricted
    // to delta-touching pairs — the delta route must be exactly lossless
    "x101_jaccard_delta" ->
      """WITH g AS (
        |  SELECT doc_id, source, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 2, 0)),
        |    i -> substr(text, i, 3))) AS ng
        |  FROM documents
        |  WHERE length(text) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |         CAST(len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)) AS DOUBLE)
        |           AS jaccard
        |  FROM g a JOIN g b
        |    ON a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5
        |  AND (doc_a % 7 = 0 OR doc_b % 7 = 0)""".stripMargin,
    "x87_edit_delta" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(levenshtein(a.text, b.text) AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id < b.doc_id
        | AND abs(length(a.text) - length(b.text)) <= 8
        |WHERE levenshtein(a.text, b.text) <= 8
        |  AND (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)""".stripMargin,
    // recall gates: the oracle recomputes the query set and the exact
    // k-th cosine from the data (engine-independent), and asserts the
    // recall floor held for every query
    "x6_ann_lsh" -> AnnExactTopkOracle,
    "x13_ann_ivf" -> AnnExactTopkOracle,
    // x153/x154: the oracle replays the CDC contract from scratch —
    // recursive-CTE power table, per-position window hashes, boundary
    // predicate, segmentation, full-chunk fingerprints — all exact
    // BIGINT arithmetic mod 2^31−1 (CdcOps's incremental residues
    // equal the oracle's one-shot sums mod p)
    "x153_cdc_chunks" -> (CdcOracleCtes +
      """
        |SELECT c.doc_id, CAST(c.chunk_idx AS INT) AS chunk_idx,
        |       CAST(c.start AS INT) AS start, CAST(c.len AS INT) AS len,
        |       CAST(list_sum(list_transform(generate_series(1, c.len), t ->
        |         ord(substr(d2.text, CAST(c.start + t AS INT), 1))
        |           * pl.p[c.len - t + 1]))
        |         % 2147483647 AS BIGINT) AS fp
        |FROM ch c JOIN d d2 USING (doc_id), pl""".stripMargin),
    // x157: bounds make boundary acceptance SEQUENTIAL (the next
    // boundary depends on the previous one), so the oracle replaces the
    // positional bl0/bl CTEs with a recursive next-boundary fold: from
    // boundary `fin`, the next is the earliest mask match at
    // fin+minChunk or later, capped by the forced fin+maxChunk and the
    // doc end — exactly the kernel's acceptance rule
    "x157_cdc_chunks_bounded" -> (CdcOracleBaseCtes + CdcBoundedSegCtes +
      """
        |SELECT c.doc_id, CAST(c.chunk_idx AS INT) AS chunk_idx,
        |       CAST(c.start AS INT) AS start,
        |       CAST(c.len AS INT) AS len,
        |       CAST(list_sum(list_transform(generate_series(1, c.len), t ->
        |         ord(substr(d2.text, CAST(c.start + t AS INT), 1))
        |           * pl.p[c.len - t + 1]))
        |         % 2147483647 AS BIGINT) AS fp
        |FROM ch c JOIN d d2 USING (doc_id), pl""".stripMargin),
    // x159/x160: the SAME contracts as x153/x157 but over a non-ASCII
    // corpus ('a'→'ä', 'e'→'é', both 2-byte UTF-8) with a BYTE-level
    // oracle — chars expand to UTF-8 bytes in SQL and every hash/
    // offset folds over bytes, so the engine's raw-UTF-8 contract is
    // exercised exactly where character arithmetic diverges from it
    "x159_cdc_chunks_utf8" -> (CdcOracleBytesBaseCtes + CdcSegCtes +
      CdcBytesFpSelect),
    "x160_cdc_bounded_utf8" -> (CdcOracleBytesBaseCtes +
      CdcBoundedSegCtes + CdcBytesFpSelect),
    "x154_cdc_dup_chunks" -> (CdcOracleCtes +
      """,
        |fps AS (
        |  SELECT c.doc_id, c.len,
        |         CAST(list_sum(list_transform(generate_series(1, c.len), t ->
        |           ord(substr(d2.text, CAST(c.start + t AS INT), 1))
        |             * pl.p[c.len - t + 1]))
        |           % 2147483647 AS BIGINT) AS fp
        |  FROM ch c JOIN d d2 USING (doc_id), pl
        |  WHERE c.len >= 24)
        |SELECT fp, CAST(len AS INT) AS len,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ
        |FROM fps GROUP BY fp, len
        |HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
    // x158: per-occurrence fingerprints (NOT distinct — within-doc
    // repeats are occurrences), canonical = row_number 1 under the
    // total (doc_id, chunk_idx) order, then per-doc sums
    "x158_cdc_dup_stats" -> (CdcOracleCtes +
      """,
        |fpo AS (
        |  SELECT c.doc_id, c.chunk_idx, c.len,
        |         CAST(list_sum(list_transform(generate_series(1, c.len), t ->
        |           ord(substr(d2.text, CAST(c.start + t AS INT), 1))
        |             * pl.p[c.len - t + 1]))
        |           % 2147483647 AS BIGINT) AS fp
        |  FROM ch c JOIN d d2 USING (doc_id), pl
        |  WHERE c.len >= 24),
        |rn AS (
        |  SELECT doc_id, len,
        |         row_number() OVER (PARTITION BY fp, len
        |           ORDER BY doc_id, chunk_idx) AS rn
        |  FROM fpo)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS dup_chunks,
        |       CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS BIGINT)
        |         AS dup_bytes
        |FROM rn GROUP BY doc_id""".stripMargin),
    "x155_cdc_overlap" -> (CdcOracleCtes +
      """,
        |fps AS (
        |  SELECT DISTINCT c.doc_id, c.len,
        |         CAST(list_sum(list_transform(generate_series(1, c.len), t ->
        |           ord(substr(d2.text, CAST(c.start + t AS INT), 1))
        |             * pl.p[c.len - t + 1]))
        |           % 2147483647 AS BIGINT) AS fp
        |  FROM ch c JOIN d d2 USING (doc_id), pl
        |  WHERE c.len >= 24),
        |capped AS (
        |  SELECT doc_id, len, fp FROM (
        |    SELECT doc_id, len, fp,
        |           count(*) OVER (PARTITION BY fp, len) AS _n
        |    FROM fps)
        |  WHERE _n <= 64 AND _n >= 2)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS shared_chunks,
        |       CAST(sum(a.len) AS BIGINT) AS shared_bytes
        |FROM capped a JOIN capped b
        |  ON a.fp = b.fp AND a.len = b.len AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING sum(a.len) >= 48""".stripMargin),
    "x156_cdc_delta" -> (CdcOracleCtes +
      """,
        |fps AS (
        |  SELECT DISTINCT c.doc_id, c.len,
        |         CAST(list_sum(list_transform(generate_series(1, c.len), t ->
        |           ord(substr(d2.text, CAST(c.start + t AS INT), 1))
        |             * pl.p[c.len - t + 1]))
        |           % 2147483647 AS BIGINT) AS fp
        |  FROM ch c JOIN d d2 USING (doc_id), pl
        |  WHERE c.len >= 24),
        |corpus AS (
        |  SELECT doc_id, len, fp FROM (
        |    SELECT doc_id, len, fp,
        |           count(*) OVER (PARTITION BY fp, len) AS _n
        |    FROM fps WHERE doc_id % 10 <> 0)
        |  WHERE _n <= 64),
        |delta AS (SELECT doc_id, len, fp FROM fps WHERE doc_id % 10 = 0)
        |SELECT dl.doc_id AS doc_delta, co.doc_id AS doc_corpus,
        |       CAST(count(*) AS BIGINT) AS shared_chunks,
        |       CAST(sum(dl.len) AS BIGINT) AS shared_bytes
        |FROM delta dl JOIN corpus co
        |  ON dl.fp = co.fp AND dl.len = co.len
        |GROUP BY 1, 2
        |HAVING sum(dl.len) >= 48""".stripMargin),
    // x152: the oracle counts by brute-force position scan — the
    // DEFINITION of overlapping occurrence — so the automaton is
    // verified against the contract, not against another automaton.
    // Same ASCII assumption as CdcOracleCtes: the engine scans UTF-8
    // bytes, this oracle scans characters; equal only on ASCII corpora.
    "x152_keyword_tags" ->
      s"""WITH kw(kidx, kw) AS (VALUES $keywordValuesSql),
        |cnt AS (
        |  SELECT d.doc_id, k.kidx,
        |         CAST(len(list_filter(
        |           generate_series(1, length(d.text) - length(k.kw) + 1),
        |           p -> substr(d.text, p, length(k.kw)) = k.kw)) AS BIGINT)
        |           AS c
        |  FROM documents d CROSS JOIN kw k)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_hits,
        |       CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS INT) AS n_kinds,
        |       array_to_string(list(c ORDER BY kidx), ',') AS counts
        |FROM cnt GROUP BY doc_id""".stripMargin,
    // x161: the same brute-force character scan, but over the
    // non-ASCII corpus with multi-byte keywords — character counts
    // MUST equal the engine's byte-automaton counts on valid UTF-8
    // (self-synchronization: pattern bytes align only on char bounds)
    "x161_keyword_tags_utf8" ->
      s"""WITH kw(kidx, kw) AS (VALUES ${keywordValues(KeywordTagListUtf8)}),
        |du AS (SELECT doc_id, $CdcUtf8ReplaceSql AS text FROM documents),
        |cnt AS (
        |  SELECT d.doc_id, k.kidx,
        |         CAST(len(list_filter(
        |           generate_series(1, length(d.text) - length(k.kw) + 1),
        |           p -> substr(d.text, p, length(k.kw)) = k.kw)) AS BIGINT)
        |           AS c
        |  FROM du d CROSS JOIN kw k)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_hits,
        |       CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS INT) AS n_kinds,
        |       array_to_string(list(c ORDER BY kidx), ',') AS counts
        |FROM cnt GROUP BY doc_id""".stripMargin,
    // x150/x151: the ±1/√16 sign matrix is pure BIGINT arithmetic
    // (two affine+square rounds mod 2^31−1, parity — see
    // Similarity.rpSign) — the oracle rebuilds it cell by cell in a
    // stepwise CTE and replays the identical left-folded widened sums
    "x150_random_projection" ->
      s"""WITH $RpSignCtes
        |SELECT e.vec_id, CAST(sig.j AS INT) AS rp_dim,
        |       round(list_sum(list_transform(generate_series(1, 64), i ->
        |           CAST(e.embedding[i] AS DOUBLE) * sig.col_s[i]))
        |         / sqrt(CAST(16 AS DOUBLE)), 6) AS rp_val
        |FROM embeddings e, sig""".stripMargin,
    "x151_rp_distortion" ->
      s"""WITH $RpSignCtes,
        |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40),
        |comp AS (
        |  SELECT e.vec_id, sig.j,
        |         list_sum(list_transform(generate_series(1, 64), i ->
        |             CAST(e.embedding[i] AS DOUBLE) * sig.col_s[i]))
        |           / sqrt(CAST(16 AS DOUBLE)) AS c
        |  FROM e, sig),
        |rp AS (SELECT vec_id, list(c ORDER BY j) AS rp
        |       FROM comp GROUP BY vec_id),
        |v AS (SELECT e.vec_id,
        |             list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS fv,
        |             rp.rp
        |      FROM e JOIN rp USING (vec_id))
        |SELECT vec_a, vec_b, cos_full, cos_proj,
        |       round(abs(cos_full - cos_proj), 6) AS abs_err
        |FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    CASE WHEN sqrt(list_sum(list_transform(generate_series(1, 64),
        |             i -> a.fv[i] * a.fv[i])))
        |           * sqrt(list_sum(list_transform(generate_series(1, 64),
        |             i -> b.fv[i] * b.fv[i]))) > 0
        |      THEN round(list_sum(list_transform(generate_series(1, 64),
        |             i -> a.fv[i] * b.fv[i]))
        |        / (sqrt(list_sum(list_transform(generate_series(1, 64),
        |             i -> a.fv[i] * a.fv[i])))
        |         * sqrt(list_sum(list_transform(generate_series(1, 64),
        |             i -> b.fv[i] * b.fv[i])))), 6) END AS cos_full,
        |    CASE WHEN sqrt(list_sum(list_transform(generate_series(1, 16),
        |             i -> a.rp[i] * a.rp[i])))
        |           * sqrt(list_sum(list_transform(generate_series(1, 16),
        |             i -> b.rp[i] * b.rp[i]))) > 0
        |      THEN round(list_sum(list_transform(generate_series(1, 16),
        |             i -> a.rp[i] * b.rp[i]))
        |        / (sqrt(list_sum(list_transform(generate_series(1, 16),
        |             i -> a.rp[i] * a.rp[i])))
        |         * sqrt(list_sum(list_transform(generate_series(1, 16),
        |             i -> b.rp[i] * b.rp[i])))), 6) END AS cos_proj
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)""".stripMargin,
    // x97: exact top-k with the delta split — corpus excludes every
    // 10th vector, queries are the first five of those
    "x97_ann_delta" ->
      """WITH n0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0 WHERE nrm > 0 AND vec_id % 10 <> 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n0
        |      WHERE nrm > 0 AND vec_id % 10 = 0 AND vec_id < 50),
        |s AS (
        |  SELECT query_id, vec_id,
        |         round(list_sum(list_transform(generate_series(1, len(v)),
        |                 i -> qv[i] * v[i])) / (qnrm * nrm), 6) AS cosine
        |  FROM n, q WHERE vec_id <> query_id),
        |topk AS (
        |  SELECT query_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cosine DESC, vec_id) AS INT) AS rnk
        |  FROM s)
        |SELECT query_id, min(cosine) AS kth_cosine, true AS recall_ok
        |FROM topk WHERE rnk <= 10 GROUP BY 1""".stripMargin,
    "x83_ann_pq" -> AnnExactTopkOracle,
    "x84_ann_ivfpq" -> AnnExactTopkOracle,
    // x148: exact top-k over the UNION (base ∪ appended delta) — the
    // x97 oracle without the corpus exclusion; queries are the same
    // first-five delta vectors (self excluded on both sides)
    "x148_ann_index_append" ->
      """WITH n0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0 WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n0
        |      WHERE nrm > 0 AND vec_id % 10 = 0 AND vec_id < 50),
        |s AS (
        |  SELECT query_id, vec_id,
        |         round(list_sum(list_transform(generate_series(1, len(v)),
        |                 i -> qv[i] * v[i])) / (qnrm * nrm), 6) AS cosine
        |  FROM n, q WHERE vec_id <> query_id),
        |topk AS (
        |  SELECT query_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cosine DESC, vec_id) AS INT) AS rnk
        |  FROM s)
        |SELECT query_id, min(cosine) AS kth_cosine, true AS recall_ok
        |FROM topk WHERE rnk <= 10 GROUP BY 1""".stripMargin,
    // x146 is x84 through the persisted IvfIndex — row-for-row equal
    // to the recompute route (IvfIndexSpec law), so the same exact
    // top-k recall-gate oracle applies verbatim
    "x146_ann_ivfpq_index" -> AnnExactTopkOracle,
    // recomputes both polynomial fingerprints code point by code point
    "x10_fingerprint" ->
      """WITH c AS (
        |  SELECT doc_id, list_transform(range(1, length(text) + 1),
        |    i -> ord(substr(text, i, 1))::BIGINT) AS cps
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_reduce([0::BIGINT] || cps,
        |    (a,x) -> (a*131 + x) % 1000000007) AS BIGINT) AS fingerprint,
        |  CAST(list_min(list_transform(range(1, len(cps) - 8 + 2),
        |    i -> list_reduce([0::BIGINT] || cps[i:i+7],
        |      (a,x) -> (a*131 + x) % 1000000007))) AS BIGINT) AS rolling_fp
        |FROM c""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY lower(trim(text))""".stripMargin,
    "x4_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |         list_distinct(list_transform(
        |           generate_series(1, greatest(length(text) - 2, 0)),
        |           i -> substr(text, i, 3))) AS ng
        |  FROM documents
        |  WHERE length(text) >= 3)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |         CAST(len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)) AS DOUBLE)
        |           AS jaccard
        |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5""".stripMargin,
    "x5_cosine_topk" ->
      """WITH n0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0 WHERE nrm > 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 5),
        |s AS (
        |  SELECT query_id, vec_id,
        |         round(list_sum(list_transform(generate_series(1, len(v)),
        |                 i -> qv[i] * v[i])) / (qnrm * nrm), 6) AS cosine
        |  FROM n, q WHERE vec_id <> query_id)
        |SELECT query_id, vec_id, cosine, rnk FROM (
        |  SELECT query_id, vec_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cosine DESC, vec_id) AS INT) AS rnk
        |  FROM s)
        |WHERE rnk <= 10""".stripMargin,
    "x15_range_near_orders" ->
      """SELECT a.o_orderkey,
        |       CAST(count(b.o_orderkey) AS BIGINT) AS n_near
        |FROM orders a
        |LEFT JOIN orders b
        |  ON b.o_orderpriority = a.o_orderpriority
        | AND b.o_orderkey <> a.o_orderkey
        | AND abs(epoch(a.o_orderdate) - epoch(b.o_orderdate)) <= 86400
        |GROUP BY 1""".stripMargin,
    "x109_asof_next_order" ->
      """SELECT a.o_orderkey,
        |       (SELECT min(b.o_orderdate) FROM orders b
        |        WHERE b.o_custkey = a.o_custkey
        |          AND b.o_orderdate > a.o_orderdate
        |          AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY)
        |         AS next_order_date
        |FROM orders a""".stripMargin,
    "x14_asof_prev_order" ->
      """SELECT a.o_orderkey,
        |       (SELECT max(b.o_orderdate) FROM orders b
        |        WHERE b.o_custkey = a.o_custkey
        |          AND b.o_orderdate < a.o_orderdate) AS prev_order_date
        |FROM orders a""".stripMargin,
    "x12_cosine_dedup" ->
      """WITH n0 AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |n AS (SELECT * FROM n0 WHERE nrm > 0)
        |SELECT vec_a, vec_b, cosine FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         round(list_sum(list_transform(generate_series(1, len(a.v)),
        |                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) AS cosine
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cosine >= 0.3""".stripMargin,
    "x149_pii_redact" ->
      """WITH dec AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@mail.example.com ip 10.' || CAST(doc_id % 200 AS VARCHAR) ||
        |         '.' || CAST(doc_id % 250 AS VARCHAR) ||
        |         '.' || CAST(doc_id % 100 AS VARCHAR) ||
        |         ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR) ||
        |         '-' || CAST(doc_id % 90 + 10 AS VARCHAR) ||
        |         '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ||
        |         ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |         ' card 4111 1111 1111 1111' AS t
        |  FROM documents),
        |msk AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b', '<IP>', 'g'),
        |      '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b', '<IP>', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |      '\b[A-CEGHJ-PR-TW-Z]{2}[0-9]{6}[A-D]\b', '<NID>', 'g'),
        |      '\b(?:4[0-9]{3}|5[1-5][0-9]{2}|3[47][0-9]{2}|6(?:011|5[0-9]{2}))(?:[ -]?[0-9]{4}){2}(?:[ -]?[0-9]{1,4})?\b', '<CC>', 'g'),
        |      '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g') AS redacted
        |  FROM dec)
        |SELECT doc_id, redacted,
        |       CAST(len(regexp_extract_all(redacted,
        |            '<(EMAIL|IP|SSN|NID|CC|PHONE)>')) AS BIGINT) AS n_tags
        |FROM msk""".stripMargin,
    "x7_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]')) AS BIGINT) AS n_bpeish,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
        |  CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+')) > 0
        |       THEN CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) /
        |            CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE)
        |       END AS avg_word_len,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,
    "x8_text_quality" ->
      """SELECT doc_id,
        |  0.3 * least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) +
        |  0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |               greatest(CAST(length(text) AS DOUBLE), 1.0)) +
        |  0.4 * least(CAST(len(regexp_extract_all(lower(text),
        |               '\b(the|and|of|to|a|in|is|was)\b')) AS DOUBLE) / 10.0, 1.0)
        |    AS quality
        |FROM documents""".stripMargin,
    "x9_lang_id" ->
      """SELECT doc_id, lang,
        |  CASE WHEN has_text THEN
        |    CASE
        |      WHEN s_en >= greatest(s_es, s_fr, s_de, s_zh) THEN 'en'
        |      WHEN s_zh >= greatest(s_es, s_fr, s_de) THEN 'zh'
        |      WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
        |      WHEN s_fr >= s_de THEN 'fr'
        |      ELSE 'de' END
        |  END AS lang_guess
        |FROM (
        |  SELECT doc_id, lang, text IS NOT NULL AS has_text,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(le|les|de|et|un|une|dans)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS s_zh
        |  FROM documents)""".stripMargin,
    // replays the polynomial key hash (+ two LCG mixing rounds) and the
    // cumulative split ranges
    "x16_split_assign" ->
      """SELECT doc_id,
        |  CASE WHEN u < 0.8 THEN 'train'
        |       WHEN u < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0 AS u
        |  FROM documents)""".stripMargin,
    "x17_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b', '<IP>', 'g'),
        |      '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b', '<IP>', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |      '\b[A-CEGHJ-PR-TW-Z]{2}[0-9]{6}[A-D]\b', '<NID>', 'g'),
        |      '\b(?:4[0-9]{3}|5[1-5][0-9]{2}|3[47][0-9]{2}|6(?:011|5[0-9]{2}))(?:[ -]?[0-9]{4}){2}(?:[ -]?[0-9]{1,4})?\b', '<CC>', 'g'),
        |      '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b(a|an|the|and|of|to|in|is)\b', '', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text,
        |  CAST(len(regexp_extract_all(text, '\b(a|an|the|and|of|to|in|is)\b')) AS BIGINT)
        |    AS n_removed
        |FROM documents""".stripMargin,
    "x18_chunk" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0,
        |           CAST(floor((length(text) - 1) / 180.0) AS BIGINT))) AS i
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 1)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |       substr(text, CAST(1 + i * 180 AS BIGINT), 200) AS chunk,
        |       CAST(length(substr(text, CAST(1 + i * 180 AS BIGINT), 200)) AS BIGINT)
        |         AS n_chars
        |FROM s""".stripMargin,
    // gram overlap against the benchmark slice; hashed-gram intersection
    // counts equal string-gram counts up to ~|union|²/2⁶⁴ collisions
    // (the same argument the x4 oracle rests on). x33 is the same
    // operator forced through the oversized-benchmark semi-join route —
    // same ground truth, shared verbatim.
    "x20_decontaminate" -> DecontaminateOracle,
    "x104_payload_dedup" ->
      """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // x162: the stub decoder replayed in SQL — 16 centered byte-sample
    // features ((b−128)/128, exact in float AND double), chunk keys =
    // 4 raw coordinates each (exact equality on the identical double
    // values), cosine over doubles (the x12 oracle shape). ASCII
    // corpus ⇒ ord(substr) = payload byte.
    "x162_media_near_dedup" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |f AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           (CAST(ord(substr(text,
        |              CAST(((j * 31) % n) + 1 AS INT), 1)) AS DOUBLE)
        |             - 128.0) / 128.0) AS v
        |  FROM d),
        |g AS (SELECT doc_id, v,
        |             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |      FROM f),
        |nn AS (SELECT * FROM g WHERE nrm > 0),
        |k AS (SELECT doc_id, v, nrm, u.j AS j,
        |             v[4 * u.j + 1] AS k1, v[4 * u.j + 2] AS k2,
        |             v[4 * u.j + 3] AS k3, v[4 * u.j + 4] AS k4
        |      FROM nn, unnest(generate_series(0, 3)) u(j)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
        |         round(list_sum(list_transform(generate_series(1, 16),
        |                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6)
        |           AS cosine
        |  FROM k a JOIN k b ON a.j = b.j AND a.k1 = b.k1
        |    AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.k4 = b.k4
        |    AND a.doc_id < b.doc_id)
        |SELECT media_a, media_b, cosine FROM cand
        |WHERE cosine >= 0.999""".stripMargin,
    // x163: the same replay restricted to delta×corpus pairs, delta id
    // first (the nearDupDelta output orientation)
    "x163_media_dedup_delta" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |f AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           (CAST(ord(substr(text,
        |              CAST(((j * 31) % n) + 1 AS INT), 1)) AS DOUBLE)
        |             - 128.0) / 128.0) AS v
        |  FROM d),
        |g AS (SELECT doc_id, v,
        |             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |      FROM f),
        |nn AS (SELECT * FROM g WHERE nrm > 0),
        |k AS (SELECT doc_id, v, nrm, u.j AS j,
        |             v[4 * u.j + 1] AS k1, v[4 * u.j + 2] AS k2,
        |             v[4 * u.j + 3] AS k3, v[4 * u.j + 4] AS k4
        |      FROM nn, unnest(generate_series(0, 3)) u(j)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS media_delta,
        |         b.doc_id AS media_corpus,
        |         round(list_sum(list_transform(generate_series(1, 16),
        |                 i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6)
        |           AS cosine
        |  FROM k a JOIN k b ON a.j = b.j AND a.k1 = b.k1
        |    AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.k4 = b.k4
        |    AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
        |SELECT media_delta, media_corpus, cosine FROM cand
        |WHERE cosine >= 0.999""".stripMargin,
    // x164: frames replayed from text bytes — nFrames =
    // max(1, floor(n/256)), frame f covers [f*256, f*256+256) (the
    // final partial tail beyond nFrames*256 is never a frame, and a
    // short doc is one frame of its own length); per-frame features
    // are the decoder's 16 byte samples within the frame; DISTINCT
    // keys per doc, boilerplate cap 2..64, pair counts
    "x164_media_frame_overlap" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (
        |  SELECT doc_id, g.f,
        |         CASE WHEN n < 256 THEN n ELSE 256 END AS fl
        |  FROM d, unnest(generate_series(0,
        |    greatest(n // 256, 1) - 1)) g(f)),
        |fk AS (
        |  SELECT DISTINCT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           (CAST(ord(substr(d.text,
        |              CAST(fr.f * 256 + ((j * 31) % fr.fl) + 1 AS INT),
        |              1)) AS DOUBLE) - 128.0) / 128.0) AS k
        |  FROM fr JOIN d USING (doc_id)),
        |surv AS (
        |  SELECT k FROM fk GROUP BY k
        |  HAVING count(*) BETWEEN 2 AND 64),
        |keyed AS (SELECT doc_id, k FROM fk JOIN surv USING (k))
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b,
        |       CAST(count(*) AS BIGINT) AS shared_frames
        |FROM keyed a JOIN keyed b
        |  ON a.k = b.k AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 1""".stripMargin,
    // x165: x164's frame replay restricted to delta×corpus pairs,
    // delta id first (the frameOverlapDelta output orientation); the
    // boilerplate cap counts UNION frequency — identical to x164's
    // surv for every key a cross pair can use
    "x165_media_frame_delta" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (
        |  SELECT doc_id, g.f,
        |         CASE WHEN n < 256 THEN n ELSE 256 END AS fl
        |  FROM d, unnest(generate_series(0,
        |    greatest(n // 256, 1) - 1)) g(f)),
        |fk AS (
        |  SELECT DISTINCT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           (CAST(ord(substr(d.text,
        |              CAST(fr.f * 256 + ((j * 31) % fr.fl) + 1 AS INT),
        |              1)) AS DOUBLE) - 128.0) / 128.0) AS k
        |  FROM fr JOIN d USING (doc_id)),
        |surv AS (
        |  SELECT k FROM fk GROUP BY k
        |  HAVING count(*) BETWEEN 2 AND 64),
        |keyed AS (SELECT doc_id, k FROM fk JOIN surv USING (k))
        |SELECT a.doc_id AS media_delta, b.doc_id AS media_corpus,
        |       CAST(count(*) AS BIGINT) AS shared_frames
        |FROM keyed a JOIN keyed b
        |  ON a.k = b.k AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |GROUP BY 1, 2
        |HAVING count(*) >= 1""".stripMargin,
    // x166: the x162 media-pair replay UNION paragraph-sharing star
    // edges (canonical = min doc_id per paragraph, df in (1, 16]),
    // resolved by the x24/x55 recursive-CTE min-label components
    "x166_cross_modal_components" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) > 0),
        |f AS (
        |  SELECT doc_id,
        |         list_transform(generate_series(0, 15), j ->
        |           (CAST(ord(substr(text,
        |              CAST(((j * 31) % n) + 1 AS INT), 1)) AS DOUBLE)
        |             - 128.0) / 128.0) AS v
        |  FROM d),
        |g AS (SELECT doc_id, v,
        |             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |      FROM f),
        |nn AS (SELECT * FROM g WHERE nrm > 0),
        |k AS (SELECT doc_id, v, nrm, u.j AS j,
        |             v[4 * u.j + 1] AS k1, v[4 * u.j + 2] AS k2,
        |             v[4 * u.j + 3] AS k3, v[4 * u.j + 4] AS k4
        |      FROM nn, unnest(generate_series(0, 3)) u(j)),
        |mp AS (
        |  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
        |  FROM k a JOIN k b ON a.j = b.j AND a.k1 = b.k1
        |    AND a.k2 = b.k2 AND a.k3 = b.k3 AND a.k4 = b.k4
        |    AND a.doc_id < b.doc_id
        |  WHERE round(list_sum(list_transform(generate_series(1, 16),
        |          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.999),
        |parts AS (
        |  SELECT doc_id, unnest(string_split(text, ' the ')) AS para
        |  FROM documents WHERE text IS NOT NULL),
        |np AS (
        |  SELECT DISTINCT doc_id, lower(trim(para)) AS p FROM parts
        |  WHERE length(lower(trim(para))) >= 20),
        |pc AS (
        |  SELECT p, min(doc_id) AS c FROM np GROUP BY p
        |  HAVING count(*) > 1 AND count(*) <= 16),
        |tp AS (
        |  SELECT pc.c AS u, np.doc_id AS v FROM np JOIN pc USING (p)
        |  WHERE np.doc_id <> pc.c),
        |es AS (
        |  SELECT u, v FROM tp UNION SELECT v, u FROM tp
        |  UNION SELECT u, v FROM mp UNION SELECT v, u FROM mp),
        |cc AS (
        |  SELECT u AS node, u AS lbl FROM es
        |  UNION
        |  SELECT es.v, cc.lbl FROM cc JOIN es ON cc.node = es.u)
        |SELECT node, MIN(lbl) AS component FROM cc GROUP BY node""".stripMargin,
    "x108_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, u.i AS idx, t[u.i] AS tok
        |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |g AS (
        |  SELECT tok, row_number() OVER (ORDER BY doc_id, idx) - 1 AS pos
        |  FROM tok)
        |SELECT CAST(pos // 64 AS BIGINT) AS seq_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       string_agg(tok, chr(1) ORDER BY pos) AS tokens
        |FROM g GROUP BY 1""".stripMargin,
    "x107_ann_filtered" ->
      """WITH n0 AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT * FROM n0 WHERE label = 1 AND nrm > 0),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n0
        |      WHERE vec_id < 5 AND nrm > 0),
        |s AS (
        |  SELECT query_id, vec_id,
        |         round(list_sum(list_transform(generate_series(1, len(v)),
        |                 i -> qv[i] * v[i])) / (qnrm * nrm), 6) AS cosine
        |  FROM c, q WHERE vec_id <> query_id)
        |SELECT query_id, vec_id, cosine,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY cosine DESC, vec_id) AS INT) AS rnk
        |FROM s
        |QUALIFY rnk <= 5""".stripMargin,
    // x110: the x24 component ground truth, kept rows only
    "x110_dedup_apply" ->
      s"""WITH RECURSIVE $PolySimhashFpCtes,
        |$SimhashComponentCtes,
        |asg AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
        |SELECT doc_id, cluster_id,
        |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
        |    AS cluster_size
        |FROM asg
        |QUALIFY doc_id = cluster_id""".stripMargin,
    // x113: A-ES replay — the same hashUnit chain as x16, shifted to
    // (0,1], log-domain key, rank per source
    "x113_weighted_sample" ->
      """WITH s AS (
        |  SELECT source, doc_id,
        |    greatest(CAST(n_chars AS DOUBLE), 0.000000001) AS w,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 AS h2
        |  FROM documents),
        |k AS (
        |  SELECT source, doc_id,
        |    round(ln((h2 + 1) / 1000000008.0) / w, 6) AS es_key
        |  FROM s),
        |r AS (
        |  SELECT source, doc_id, es_key,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY es_key DESC, doc_id) AS rnk FROM k)
        |SELECT source, doc_id, es_key FROM r WHERE rnk <= 10""".stripMargin,
    // x114: containment replay over string grams (hashed-set sizes
    // equal string-set sizes absent 64-bit collisions — the x4 pact)
    "x114_containment" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 11, 0)),
        |    i -> substr(text, i, 12))) AS ng
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 12)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |             len(a.ng), 6) AS containment
        |FROM g a JOIN g b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |      len(a.ng) >= 0.9""".stripMargin,
    // x117: the x114 replay restricted to pairs with a delta endpoint
    // (delta = doc_id % 7 = 0)
    "x117_containment_delta" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 11, 0)),
        |    i -> substr(text, i, 12))) AS ng
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 12)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       round(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |             len(a.ng), 6) AS containment
        |FROM g a JOIN g b ON a.doc_id <> b.doc_id
        |WHERE (a.doc_id % 7 = 0 OR b.doc_id % 7 = 0)
        |  AND CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |      len(a.ng) >= 0.9""".stripMargin,
    "x111_oov_rate" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token FROM (
        |    SELECT token,
        |           row_number() OVER (ORDER BY count(*) DESC, token) AS r
        |    FROM toks GROUP BY token)
        |  WHERE r <= 500),
        |tot AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY 1),
        |oov AS (
        |  SELECT source, count(*) AS n_oov FROM toks
        |  WHERE token NOT IN (SELECT token FROM v) GROUP BY 1)
        |SELECT t.source, CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
        |       CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |       CAST(coalesce(o.n_oov, 0) AS DOUBLE) / t.n_tokens AS oov_rate
        |FROM tot t LEFT JOIN oov o ON t.source = o.source""".stripMargin,
    // x116: identical oracle to x111 — the joined route must produce
    // the hash-identical relation
    "x116_oov_rate_joined" ->
      """WITH toks AS (
        |  SELECT source, unnest(regexp_extract_all(text, '\S+')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token FROM (
        |    SELECT token,
        |           row_number() OVER (ORDER BY count(*) DESC, token) AS r
        |    FROM toks GROUP BY token)
        |  WHERE r <= 500),
        |tot AS (SELECT source, count(*) AS n_tokens FROM toks GROUP BY 1),
        |oov AS (
        |  SELECT source, count(*) AS n_oov FROM toks
        |  WHERE token NOT IN (SELECT token FROM v) GROUP BY 1)
        |SELECT t.source, CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
        |       CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |       CAST(coalesce(o.n_oov, 0) AS DOUBLE) / t.n_tokens AS oov_rate
        |FROM tot t LEFT JOIN oov o ON t.source = o.source""".stripMargin,
    "x106_dup_flow" ->
      """WITH g AS (
        |  SELECT doc_id, source, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 4, 0)),
        |    i -> substr(text, i, 5))) AS ng
        |  FROM documents
        |  WHERE length(text) >= 5),
        |p AS (
        |  SELECT least(a.source, b.source) AS source_a,
        |         greatest(a.source, b.source) AS source_b,
        |         CAST(CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |         CAST(len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng))
        |              AS DOUBLE) AS DECIMAL(18,6)) AS j
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |        CAST(len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng))
        |             AS DOUBLE) >= 0.5)
        |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(j) AS DOUBLE) AS jaccard_sum
        |FROM p GROUP BY 1, 2""".stripMargin,
    "x105_sem_decontaminate" ->
      """WITH n0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |c AS (SELECT * FROM n0 WHERE vec_id % 10 <> 0),
        |q AS (SELECT vec_id AS eid, v AS qv, nrm AS qnrm FROM n0
        |      WHERE vec_id % 10 = 0 AND nrm > 0),
        |s AS (
        |  SELECT c.vec_id,
        |         round(list_sum(list_transform(generate_series(1, len(c.v)),
        |                 i -> qv[i] * c.v[i])) / (qnrm * c.nrm), 6) AS cos
        |  FROM c, q WHERE c.nrm > 0),
        |m AS (SELECT vec_id, max(cos) AS max_cos FROM s GROUP BY 1)
        |SELECT c.vec_id, m.max_cos,
        |       coalesce(m.max_cos >= 0.35, false) AS contaminated
        |FROM c LEFT JOIN m ON c.vec_id = m.vec_id""".stripMargin,
    "x100_contamination_score" ->
      """WITH bg AS (
        |  SELECT list_sort(list_distinct(flatten(list(ng)))) AS g FROM (
        |    SELECT list_distinct(list_transform(
        |      generate_series(1, greatest(length(text) - 7, 0)),
        |      i -> substr(text, i, 8))) AS ng
        |    FROM documents WHERE doc_id < 10 AND length(text) >= 8)),
        |d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 8 THEN
        |      len(list_distinct(list_transform(
        |        generate_series(1, greatest(length(text) - 7, 0)),
        |        i -> substr(text, i, 8))))
        |    ELSE 0 END AS n_grams,
        |    CASE WHEN length(text) >= 8 THEN
        |      len(list_intersect(
        |        list_distinct(list_transform(
        |          generate_series(1, greatest(length(text) - 7, 0)),
        |          i -> substr(text, i, 8))),
        |        bg.g))
        |    ELSE 0 END AS n_shared
        |  FROM documents CROSS JOIN bg)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(n_shared AS BIGINT) AS n_shared,
        |       CASE WHEN n_grams > 0
        |            THEN CAST(n_shared AS DOUBLE) / n_grams
        |            ELSE 0.0 END AS score
        |FROM d""".stripMargin,
    "x99_approx_quantiles" ->
      """SELECT source, pname, p, count(*) AS n, true AS rank_ok
        |FROM documents CROSS JOIN (VALUES
        |  ('p50', CAST(0.5 AS DOUBLE)), ('p90', CAST(0.9 AS DOUBLE)),
        |  ('p99', CAST(0.99 AS DOUBLE))) AS q(pname, p)
        |WHERE text IS NOT NULL
        |GROUP BY source, pname, p""".stripMargin,
    "x33_decontaminate_joined" -> DecontaminateOracle,
    "x59_decontaminate_bloom" -> DecontaminateOracle,
    // error-gated: the oracle recomputes the EXACT counts; the engine
    // asserts its register estimates land inside the 5% gate
    "x62_hll_distinct" ->
      """SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact,
        |       true AS within_tol
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '__all__', CAST(COUNT(DISTINCT text) AS BIGINT), true
        |FROM documents""".stripMargin,
    "x63_pagerank" -> {
      // the teleport constant is interpolated from the SAME Scala double
      // the operator adds ((1-0.85) = 0.15000000000000002 in IEEE754),
      // so both engines iterate identical arithmetic; per-node
      // contribution sums are order-sensitive at 1e-15, pinned by the
      // shared round-to-6
      val tel = 1.0 - 0.85
      val rounds = (1 to 10).map(i =>
        s"""r$i AS (
           |  SELECT es.v AS node,
           |    $tel / (SELECT n FROM nn) + 0.85 * SUM(p.r / d.deg) AS r
           |  FROM es JOIN r${i - 1} p ON es.u = p.node
           |  JOIN deg d ON d.node = es.u
           |  GROUP BY es.v)""".stripMargin).mkString(",\n")
      s"""WITH $PolySimhashFpCtes,
         |e AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
         |es AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM es GROUP BY 1),
         |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM deg),
         |$rounds
         |SELECT node AS doc_id, round(r, 6) AS pr FROM r10""".stripMargin
    },
    // the dropped SET depends on quantizer seeds; its contract doesn't:
    // the oracle recomputes the brute-force droppable slice count and
    // asserts the recall gate held
    "x66_semdedup" ->
      """WITH n0 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         sqrt(list_sum(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |nn AS (SELECT * FROM n0 WHERE nrm > 0),
        |dr AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM nn a JOIN nn b ON a.vec_id < b.vec_id AND b.vec_id < 1000
        |  WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
        |          i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_droppable, true AS recall_ok
        |FROM dr""".stripMargin,
    "x67_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "x88_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "x89_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "x68_pivot" ->
      """SELECT source,
        |  CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
        |  CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
        |  CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
        |  CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
        |  CAST(COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
        |FROM documents GROUP BY source""".stripMargin,
    "x64_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS DOUBLE) AS min_num,
           |  CAST(MAX($c) AS DOUBLE) AS max_num,
           |  CAST(NULL AS BIGINT) AS min_len, CAST(NULL AS BIGINT) AS max_len,
           |  CAST(NULL AS DOUBLE) AS avg_len FROM documents""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  CAST(MIN(length($c)) AS BIGINT) AS min_len,
           |  CAST(MAX(length($c)) AS BIGINT) AS max_len,
           |  round(AVG(length($c)), 6) AS avg_len FROM documents""".stripMargin
      Seq(num("doc_id"), str("text"), str("lang"), str("source"),
        num("n_chars")).mkString("\nUNION ALL\n")
    },
    "x65_zorder" ->
      """SELECT l_orderkey, l_partkey,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    (((l_orderkey >> i) & 1) << (2 * i)) +
        |    (((l_partkey >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
        |FROM lineitem
        |ORDER BY z, l_orderkey, l_partkey
        |LIMIT 1000""".stripMargin,
    // the salted join is a plan rewrite, not new semantics: the oracle
    // is the PLAIN join it must equal row-for-row
    "x60_salted_join" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "x61_grouped_topk" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
        |  FROM orders)
        |SELECT o_custkey, rnk, o_orderkey, o_totalprice
        |FROM ranked WHERE rnk <= 3""".stripMargin,
    "x35_bm25" -> bm25OracleSql,
    // the x16 hash replay, emitted as the order key itself (row order
    // is not hash-compared — the key VALUES are, which pin the order)
    "x40_shuffle_order" ->
      """SELECT doc_id,
        |  ((list_reduce([0::BIGINT] || list_transform(
        |      range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |      i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (a,x) -> (a*131 + x) % 1000000007)
        |    * 1103515245 + 12345) % 1000000007
        |    * 69069 + 1) % 1000000007 / 1000000007.0 AS shuffle_key
        |FROM documents""".stripMargin,
    // replays temperatureMix end-to-end: per-source counts, the
    // sorted-source ordered fold for Σ N^α (0.0-seeded list_reduce ≡
    // the Scala foldLeft), the same left-to-right rate arithmetic,
    // then the x16 hash replay against the rate
    "x41_temperature_mix" ->
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS src, count(*)::BIGINT AS n
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1
        |), d AS (
        |  SELECT list_reduce([0.0::DOUBLE] || list(pow(n, 0.5) ORDER BY src),
        |           (a,x) -> a + x) AS denom,
        |         sum(n)::DOUBLE AS total
        |  FROM c
        |), r AS (
        |  SELECT src,
        |    least(1.0, 0.3 * total * pow(n, 0.5) / denom / n) AS rate
        |  FROM c, d
        |)
        |SELECT doc_id, source
        |FROM documents, r
        |WHERE CAST(source AS VARCHAR) = r.src
        |  AND doc_id IS NOT NULL
        |  AND ((list_reduce([0::BIGINT] || list_transform(
        |      range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |      i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |      (a,x) -> (a*131 + x) % 1000000007)
        |    * 1103515245 + 12345) % 1000000007
        |    * 69069 + 1) % 1000000007 / 1000000007.0 < r.rate""".stripMargin,
    // first-occurrence-within-doc replay: the list_filter index lambda
    // mirrors the Spark array_position probe; sentinel numbering is
    // 0-based on both sides ('s' || i-1 here vs the 0-based Spark i)
    "x42_dedup_within_doc" ->
      """WITH parts AS (
        |  SELECT doc_id, text, string_split(text, ' the ') AS ps
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, text, ps,
        |    list_transform(range(1, len(ps) + 1), i ->
        |      CASE WHEN length(trim(ps[i])) >= 1 THEN 'l' || lower(trim(ps[i]))
        |           ELSE 's' || CAST(i - 1 AS VARCHAR) END) AS ks
        |  FROM parts
        |)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE array_to_string(list_filter(ps,
        |              (p, i) -> list_position(ks, ks[i]) = i), ' the ') END
        |    AS text,
        |  (CASE WHEN text IS NULL THEN 0
        |        ELSE len(ps) - len(list_filter(ps,
        |               (p, i) -> list_position(ks, ks[i]) = i)) END)::BIGINT
        |    AS n_dropped
        |FROM k""".stripMargin,
    // replays the snapshot derivation (x16 hash fragment) and the
    // full-outer diff; presence is keyed on the id, not the hash, so
    // null-text rows classify by null-safe hash equality
    "x43_snapshot_diff" ->
      """WITH h AS (
        |  SELECT doc_id, text,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0 AS u
        |  FROM documents WHERE doc_id IS NOT NULL
        |), o AS (
        |  SELECT doc_id, md5(lower(trim(text))) AS old_hash
        |  FROM h WHERE u < 0.9
        |), n AS (
        |  SELECT doc_id, md5(lower(trim(
        |    CASE WHEN u >= 0.45 AND u < 0.55 THEN text || ' v2'
        |         ELSE text END))) AS new_hash
        |  FROM h WHERE u >= 0.1
        |)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_hash IS NOT DISTINCT FROM new_hash THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_hash, new_hash
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,
    // same double-domain arithmetic (float elements widened before the
    // divide) and same away-from-zero integer rounding on both engines
    "x44_quantize_int8" ->
      """WITH clean AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN amax > 0 THEN amax::DOUBLE / 127 ELSE 0.0 END AS scale,
        |    CASE WHEN amax > 0
        |         THEN list_transform(embedding,
        |           x -> CAST(round(x::DOUBLE / amax::DOUBLE * 127) AS TINYINT))
        |         ELSE list_transform(embedding, x -> 0::TINYINT) END AS codes
        |  FROM clean
        |)
        |SELECT vec_id, scale,
        |  CAST(generate_subscripts(codes, 1) - 1 AS INT) AS pos,
        |  unnest(codes) AS code
        |FROM q""".stripMargin,
    // integer-exact replay: codes from the x44 arithmetic, BIGINT dot
    // products (no fp summation order anywhere), one IEEE division at
    // the end — the ranking is bit-deterministic on both engines
    "x45_quantized_topk" ->
      """WITH clean AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x))) AS amax
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0
        |), c AS (
        |  SELECT vec_id,
        |    CASE WHEN amax > 0
        |         THEN list_transform(embedding,
        |           x -> CAST(round(x::DOUBLE / amax::DOUBLE * 127) AS BIGINT))
        |         ELSE list_transform(embedding, x -> 0::BIGINT) END AS cv
        |  FROM clean
        |), n AS (
        |  SELECT vec_id, cv, list_sum(list_transform(cv, x -> x * x)) AS nc
        |  FROM c
        |), nn AS (SELECT * FROM n WHERE nc > 0),
        |q AS (SELECT vec_id AS query_id, cv AS qcv, nc AS nq
        |      FROM nn WHERE vec_id < 5),
        |s AS (
        |  SELECT query_id, vec_id,
        |    round(list_sum(list_transform(generate_series(1, len(cv)),
        |            i -> qcv[i] * cv[i]))::DOUBLE
        |      / (sqrt(nq::DOUBLE) * sqrt(nc::DOUBLE)), 6) AS qcosine
        |  FROM nn, q WHERE vec_id <> query_id)
        |SELECT query_id, vec_id, qcosine, rnk FROM (
        |  SELECT query_id, vec_id, qcosine,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |         ORDER BY qcosine DESC, vec_id) AS INT) AS rnk
        |  FROM s)
        |WHERE rnk <= 10""".stripMargin,
    // same quantile_cont boundaries (proven parity in x19), same
    // boundary-goes-up counting rule
    "x46_quantile_bins" ->
      """WITH b AS (
        |  SELECT [round(quantile_cont(length(text)::DOUBLE, 0.25), 6),
        |          round(quantile_cont(length(text)::DOUBLE, 0.5), 6),
        |          round(quantile_cont(length(text)::DOUBLE, 0.75), 6)]
        |    AS bounds
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT doc_id, length(text)::DOUBLE AS value,
        |  (1 + len(list_filter(bounds,
        |     bd -> bd <= length(text)::DOUBLE)))::INT AS bin
        |FROM documents, b
        |WHERE text IS NOT NULL""".stripMargin,
    // the x16 hash replay over the SALTED key (doc_id || '#ep'); the
    // fractional threshold is computed as ep - floor(ep) on both
    // engines (identical IEEE subtraction on identically-parsed
    // literals), copies via generate_series
    "x47_epoch_upsample" ->
      """WITH e AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2.3 WHEN 'src1' THEN 0.4
        |         ELSE 1.0 END AS ep,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR) || '#ep') + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR) || '#ep', i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0 AS u
        |  FROM documents WHERE doc_id IS NOT NULL
        |), n AS (
        |  SELECT doc_id, source,
        |    floor(ep)::BIGINT +
        |      (CASE WHEN u < ep - floor(ep) THEN 1 ELSE 0 END) AS n
        |  FROM e
        |)
        |SELECT doc_id, source,
        |  unnest(generate_series(0, n - 1)) AS epoch_idx
        |FROM n WHERE n > 0""".stripMargin,
    // same normalized-md5 identity as x1; batch-first-occurrence then
    // anti join against the out-of-batch hash set
    "x48_exact_delta" ->
      """WITH b AS (
        |  SELECT md5(lower(trim(text))) AS h, min(doc_id) AS doc_id
        |  FROM documents WHERE doc_id % 7 = 0 GROUP BY 1
        |), idx AS (
        |  SELECT DISTINCT md5(lower(trim(text))) AS h
        |  FROM documents WHERE doc_id % 7 <> 0
        |)
        |SELECT doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.h = b.h)""".stripMargin,
    // full winnowing replay: per-position 16-gram poly-hash folds,
    // 16-window minima (min-by-value — tie rule engine-portable by
    // construction), distinct, df cap, fingerprint-equality pair join
    "x49_winnow_overlap" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 16 + 2),
        |      p -> list_reduce([0::BIGINT] || list_transform(range(0, 16),
        |             j -> ord(substr(text, p + j, 1))::BIGINT),
        |           (a,x) -> (a*131 + x) % 1000000007)) AS hs
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16
        |), m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) < 16 THEN [list_min(hs)]
        |         ELSE list_distinct(list_transform(range(1, len(hs) - 16 + 2),
        |                p -> list_min(hs[p : p + 15]))) END AS fps
        |  FROM g
        |), f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
        |capped AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM f)
        |  WHERE df <= 16
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) >= 3""".stripMargin,
    // unrounded centroids rebuilt relationally, distance as the same
    // in-order zip fold (0.0-seeded fold ≡ fold from first element in
    // IEEE), z from raw dist with rounding only at the output
    "x39_embedding_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label AS grp, embedding AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |c AS (
        |  SELECT grp, i, avg(v[i]) AS m
        |  FROM (SELECT grp, v, unnest(range(1, len(v) + 1)) AS i FROM e)
        |  GROUP BY grp, i),
        |carr AS (SELECT grp, list(m ORDER BY i) AS cent FROM c GROUP BY grp),
        |d AS (
        |  SELECT vec_id, e.grp,
        |    sqrt(list_reduce(list_transform(range(1, len(v) + 1),
        |      i -> (v[i] - cent[i]) * (v[i] - cent[i])),
        |      (a, x) -> a + x)) AS dist
        |  FROM e JOIN carr ON e.grp = carr.grp),
        |s AS (SELECT grp, avg(dist) AS mu, stddev_samp(dist) AS sigma
        |      FROM d GROUP BY grp),
        |z AS (
        |  SELECT vec_id, d.grp, round(dist, 6) AS dist,
        |    CASE WHEN sigma > 0
        |         THEN round((dist - mu) / sigma, 6) END AS z
        |  FROM d JOIN s ON d.grp = s.grp)
        |SELECT vec_id, grp, dist, z,
        |       coalesce(z > 3.0, false) AS is_outlier
        |FROM z""".stripMargin,
    // avg sums per-(label,pos) floats as doubles in both engines; the
    // 6-dp round absorbs summation-order ulps (the x21 precedent)
    "x38_label_centroids" ->
      """WITH e AS (
        |  SELECT label AS grp, embedding,
        |         unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0)
        |SELECT grp, CAST(i - 1 AS INT) AS pos,
        |       round(avg(embedding[i]), 6) AS mean_val,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY grp, i""".stripMargin,
    "x37_bigram_topk" ->
      """WITH toks AS (
        |  SELECT list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |idx AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks),
        |pairs AS (SELECT tk[i] AS t1, tk[i + 1] AS t2 FROM idx)
        |SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM pairs GROUP BY t1, t2
        |ORDER BY n_occurrences DESC, t1, t2 LIMIT 50""".stripMargin,
    "x36_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(list_distinct(tk)) AS token FROM toks),
        |dfs AS (SELECT token, count(*) AS df FROM occ GROUP BY token),
        |cap AS (SELECT count(*) * 0.8 AS c FROM documents)
        |SELECT occ.token, CAST(dfs.df AS BIGINT) AS df, occ.doc_id
        |FROM occ JOIN dfs USING (token), cap
        |WHERE dfs.df <= cap.c""".stripMargin,
    // per-source allocations replayed with the identical double chain
    // (round is half-away-from-zero on both engines for positives),
    // selection by the x16 hash replay rank
    "x58_stratified_sample" ->
      """WITH c AS (
        |  SELECT CAST(source AS VARCHAR) AS src, count(*)::BIGINT AS n
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1
        |), tot AS (SELECT sum(n)::BIGINT AS t FROM c),
        |k AS (
        |  SELECT src,
        |    CAST(round(CAST(200 AS DOUBLE) * n / t) AS BIGINT) AS kq
        |  FROM c, tot
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ((list_reduce([0::BIGINT] || list_transform(
        |          range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |          i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |          (a,x) -> (a*131 + x) % 1000000007)
        |        * 1103515245 + 12345) % 1000000007
        |        * 69069 + 1) % 1000000007 / 1000000007.0,
        |      doc_id) AS rn
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND source IS NOT NULL
        |)
        |SELECT doc_id, source
        |FROM r JOIN k ON CAST(r.source AS VARCHAR) = k.src
        |WHERE rn <= k.kq""".stripMargin,
    // the x24 component replay + argmax(length, tie min id) canonical
    // (row_number with NULLS LAST ≡ the engine's struct-max ordering)
    "x57_quality_canonical" ->
      s"""WITH RECURSIVE $PolySimhashFpCtes,
        |e AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |es AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
        |cc AS (
        |  SELECT u AS node, u AS lbl FROM es
        |  UNION
        |  SELECT es.v, cc.lbl FROM cc JOIN es ON cc.node = es.u),
        |comp AS (SELECT node, MIN(lbl) AS component FROM cc GROUP BY node),
        |asg AS (
        |  SELECT d.doc_id, length(d.text)::DOUBLE AS pref,
        |         coalesce(c.component, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |ranked AS (
        |  SELECT doc_id, cluster_id,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY pref DESC NULLS LAST, doc_id ASC) AS rn
        |  FROM asg)
        |SELECT a.doc_id, a.cluster_id,
        |  CAST(count(*) OVER (PARTITION BY a.cluster_id) AS BIGINT)
        |    AS cluster_size,
        |  (r.rn = 1) AS is_canonical
        |FROM asg a JOIN ranked r
        |  ON a.doc_id = r.doc_id AND a.cluster_id = r.cluster_id"""
        .stripMargin,
    // the x49 replay with each fingerprint resolved to its first gram
    // index (list_position ≡ array_position, both 1-based)
    "x56_overlap_spans" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 16 + 2),
        |      p -> list_reduce([0::BIGINT] || list_transform(range(0, 16),
        |             j -> ord(substr(text, p + j, 1))::BIGINT),
        |           (a,x) -> (a*131 + x) % 1000000007)) AS hs
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16
        |), m AS (
        |  SELECT doc_id, hs,
        |    CASE WHEN len(hs) < 16 THEN [list_min(hs)]
        |         ELSE list_distinct(list_transform(range(1, len(hs) - 16 + 2),
        |                p -> list_min(hs[p : p + 15]))) END AS fps
        |  FROM g
        |), fp2 AS (
        |  SELECT doc_id, unnest(fps) AS fp,
        |    list_position(hs, unnest(fps))::BIGINT AS pos
        |  FROM m
        |), capped AS (
        |  SELECT doc_id, fp, pos FROM (
        |    SELECT doc_id, fp, pos, count(*) OVER (PARTITION BY fp) AS df
        |    FROM fp2)
        |  WHERE df <= 16
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(count(*) AS BIGINT) AS n_shared,
        |  min(a.pos) AS a_from, max(a.pos) AS a_to,
        |  min(b.pos) AS b_from, max(b.pos) AS b_to
        |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
    // the x49 winnow replay feeding the x24 recursive-CTE components
    "x55_overlap_clusters" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) - 16 + 2),
        |      p -> list_reduce([0::BIGINT] || list_transform(range(0, 16),
        |             j -> ord(substr(text, p + j, 1))::BIGINT),
        |           (a,x) -> (a*131 + x) % 1000000007)) AS hs
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16
        |), m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) < 16 THEN [list_min(hs)]
        |         ELSE list_distinct(list_transform(range(1, len(hs) - 16 + 2),
        |                p -> list_min(hs[p : p + 15]))) END AS fps
        |  FROM g
        |), f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
        |capped AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM f)
        |  WHERE df <= 16
        |), pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), es AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs
        |), cc AS (
        |  SELECT u AS node, u AS lbl FROM es
        |  UNION
        |  SELECT es.v, cc.lbl FROM cc JOIN es ON cc.node = es.u
        |)
        |SELECT node, MIN(lbl) AS component FROM cc GROUP BY node""".stripMargin,
    // x36's tokenization + the code-point poly fold (x34's token
    // hash), component and sign from exact integer div/mod, integer
    // signed sums
    "x54_hashed_features" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    list_reduce([0::BIGINT] || list_transform(
        |      range(1, length(tok) + 1),
        |      i -> ord(substr(tok, i, 1))::BIGINT),
        |      (a,x) -> (a*131 + x) % 1000000007) AS hh
        |  FROM toks
        |)
        |SELECT doc_id, CAST(hh % 64 AS INT) AS pos,
        |  CAST(sum(CASE WHEN (hh // 64) % 2 = 0 THEN 1 ELSE -1 END)
        |    AS BIGINT) AS fval
        |FROM h GROUP BY 1, 2""".stripMargin,
    // the composed pipeline: x1's identity, x17's scrub chain, a
    // length gate, and the x16 split replay chained as CTEs
    "x53_curate_pipeline" ->
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(lower(trim(text)))
        |), c AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b', '<IP>', 'g'),
        |        '\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b', '<IP>', 'g'),
        |        '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |        '\b[A-CEGHJ-PR-TW-Z]{2}[0-9]{6}[A-D]\b', '<NID>', 'g'),
        |        '\b(?:4[0-9]{3}|5[1-5][0-9]{2}|3[47][0-9]{2}|6(?:011|5[0-9]{2}))(?:[ -]?[0-9]{4}){2}(?:[ -]?[0-9]{1,4})?\b', '<CC>', 'g'),
        |        '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
        |      '\b(a|an|the|and|of|to|in|is)\b', '', 'g'),
        |      '\s+', ' ', 'g')) AS clean_text,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0 AS u
        |  FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM keep)
        |)
        |SELECT doc_id, source, clean_text FROM c
        |WHERE length(clean_text) >= 60 AND u < 0.8""".stripMargin,
    // ONE global cumsum window in the oracle replays what the engine
    // computes as range offsets + per-range windows; same (u, key)
    // total order as x16/x40
    "x52_token_budget_global" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0 AS u
        |  FROM documents WHERE doc_id IS NOT NULL
        |), c AS (
        |  SELECT doc_id, n_chars,
        |    sum(coalesce(n_chars, 0)) OVER (ORDER BY u, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t
        |)
        |SELECT doc_id, n_chars FROM c WHERE cum <= 75000""".stripMargin,
    // the x16 hash replay pushed through the Efraimidis–Spirakis
    // transform u^(1/w); round 9 absorbs pow's last-ulp spread
    "x51_weighted_order" ->
      """SELECT doc_id, source,
        |  round(pow(
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0,
        |    1.0 / (CASE source WHEN 'src0' THEN 3.0 ELSE 1.0 END)), 9)
        |    AS order_key
        |FROM documents
        |WHERE doc_id IS NOT NULL AND source IS NOT NULL""".stripMargin,
    // x36's tokenization, with occurrence counts; the idf ratio is one
    // double division on both engines (no log), tfidf rounded at 6
    "x50_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '\s+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(tk) AS token FROM toks)
        |  GROUP BY doc_id, token),
        |dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY token),
        |n AS (SELECT count(*)::DOUBLE AS n,
        |             count(*) * 0.5 AS cap FROM documents)
        |SELECT tf.token, tf.doc_id, tf.tf, dfs.df,
        |  round(tf.tf * (n.n / dfs.df), 6) AS tfidf
        |FROM tf JOIN dfs USING (token), n
        |WHERE dfs.df <= n.cap""".stripMargin,
    // replays the stub classifier exactly: per-token code-point poly fold
    // + LCG double mix (the x16 hash pattern), in-order mean via
    // list_reduce so double summation order matches the Scala fold
    "x34_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    round(CASE WHEN text IS NULL OR len(toks) = 0 THEN 0.0
        |      ELSE list_reduce([0.0] || list_transform(toks, tok ->
        |        ((list_reduce([0::BIGINT] || list_transform(
        |            range(1, length(tok) + 1),
        |            i -> ord(substr(tok, i, 1))::BIGINT),
        |          (a,x) -> (a*131 + x) % 1000000007)
        |          * 1103515245 + 12345) % 1000000007
        |          * 69069 + 1) % 1000000007 / 1000000007.0),
        |        (a,x) -> a + x) / len(toks) END, 6) AS score
        |  FROM t)
        |SELECT doc_id, score,
        |  CASE WHEN score >= 0.5 THEN 'keep' ELSE 'drop' END AS label
        |FROM s""".stripMargin,
    "x21_repetition" ->
      """SELECT doc_id,
        |  round(CASE WHEN len(regexp_extract_all(text, '\S+')) > 0
        |    THEN CAST(len(regexp_extract_all(text, '\S+')) -
        |              len(list_distinct(regexp_extract_all(text, '\S+'))) AS DOUBLE)
        |         / len(regexp_extract_all(text, '\S+'))
        |    ELSE 0.0 END, 6) AS dup_word_frac,
        |  round(CASE WHEN greatest(length(text) - 2, 0) > 0
        |    THEN CAST(greatest(length(text) - 2, 0) -
        |              CASE WHEN length(text) >= 3
        |                THEN len(list_distinct(list_transform(
        |                  generate_series(1, length(text) - 2),
        |                  i -> substr(text, i, 3))))
        |                ELSE 0 END AS DOUBLE)
        |         / greatest(length(text) - 2, 0)
        |    ELSE 0.0 END, 6) AS dup_gram_frac
        |FROM documents""".stripMargin,
    "x23_sessionize" ->
      """WITH f AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
        |      AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts
        |FROM s GROUP BY 1, 2""".stripMargin,
    "x22_corpus_mix" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ((list_reduce([0::BIGINT] || list_transform(
        |        range(1, length(CAST(doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr(CAST(doc_id AS VARCHAR), i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007)
        |      * 1103515245 + 12345) % 1000000007
        |      * 69069 + 1) % 1000000007 / 1000000007.0 AS u
        |  FROM documents)
        |WHERE u < CASE source WHEN 'src0' THEN 0.25
        |                      WHEN 'src1' THEN 0.5 ELSE 1.0 END""".stripMargin,
    "x19_len_percentiles" ->
      """SELECT source,
        |  round(quantile_cont(length(text), 0.5), 6) AS p50,
        |  round(quantile_cont(length(text), 0.9), 6) AS p90,
        |  round(quantile_cont(length(text), 0.99), 6) AS p99
        |FROM documents GROUP BY 1""".stripMargin,
    "x11_media_stats" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  greatest(CAST(floor(octet_length(encode(text)) / 256) AS BIGINT), 1)
        |    AS n_frames
        |FROM documents""".stripMargin,
    // x25: the greedy first-fit recurrence replayed exactly — one
    // recursive step per document in (shard, doc_id) order; a new
    // sequence starts iff the previous fill plus this doc overflows
    "x25_pack_greedy" ->
      """WITH RECURSIVE d AS (
        |  SELECT source AS shard, doc_id,
        |    coalesce(len(regexp_extract_all(text, '\S+')), 0)::BIGINT AS n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents WHERE doc_id IS NOT NULL),
        |p AS (
        |  SELECT shard, rn, doc_id, n_tokens,
        |    0::BIGINT AS seq_idx, 0::BIGINT AS tok_offset
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN p.tok_offset + p.n_tokens + d.n_tokens > 256
        |         THEN p.seq_idx + 1 ELSE p.seq_idx END,
        |    CASE WHEN p.tok_offset + p.n_tokens + d.n_tokens > 256
        |         THEN 0::BIGINT ELSE p.tok_offset + p.n_tokens END
        |  FROM p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
        |SELECT shard, doc_id, seq_idx, tok_offset, n_tokens FROM p""".stripMargin,
    // x26: concat-and-slice is pure window arithmetic — cumulative
    // start offset, spanned sequence range, slice bounds per sequence
    "x26_pack_concat" ->
      """WITH t AS (
        |  SELECT source AS shard, doc_id,
        |    coalesce(len(regexp_extract_all(text, '\S+')), 0)::BIGINT AS toks
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (
        |  SELECT shard, doc_id, toks,
        |    coalesce(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS st
        |  FROM t),
        |s AS (
        |  SELECT shard, doc_id, toks, st,
        |    unnest(range(st // 256,
        |                 (st + greatest(toks, 1) - 1) // 256 + 1)) AS seq_idx
        |  FROM c)
        |SELECT shard, doc_id, seq_idx,
        |  greatest(st, seq_idx * 256) - seq_idx * 256 AS tok_offset,
        |  least((seq_idx + 1) * 256, st + toks) - greatest(st, seq_idx * 256)
        |    AS n_tokens
        |FROM s""".stripMargin,
    // x27: deterministic (count desc, token asc) top-k
    "x27_vocab_topk" ->
      """SELECT tok AS token, count(*) AS n_occurrences
        |FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok
        |      FROM documents)
        |GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 100""".stripMargin,
    // x28: the sketch route's exact contract — MG candidates are a
    // superset of the > phi*N set and the exact filter trims the rest,
    // so the oracle is simply the exact set
    "x28_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(text, '\S+')) AS tok
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM t)
        |SELECT tok AS token, count(*) AS n_occurrences
        |FROM t CROSS JOIN tot
        |GROUP BY tok, tot.n HAVING count(*) > 0.005 * tot.n""".stripMargin,
    // x29/x30: the deterministic (hashUnit, doc_id) order replayed —
    // the same two-round LCG mix as the x16/x22 oracles
    "x29_cap_per_source" ->
      s"""WITH u AS (
        |  SELECT doc_id, source, $HashUnitSqlOfDocId AS u
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
        |  FROM u)
        |WHERE rn <= 10""".stripMargin,
    "x30_token_budget_mix" ->
      s"""WITH u AS (
        |  SELECT doc_id, source,
        |    coalesce(len(regexp_extract_all(text, '\\S+')), 0)::BIGINT AS toks,
        |    $HashUnitSqlOfDocId AS u
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    sum(toks) OVER (PARTITION BY source ORDER BY u, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM u)
        |WHERE cum <= 600""".stripMargin,
    // x31: first-occurrence (doc_id, idx) wins via row_number; exempt
    // (whitespace-only) paragraphs are pinned to rn = 1 — they can never
    // share a normalized key with a content paragraph, so the CASE
    // cannot steal a content group's rank
    "x31_dedup_paragraph" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' the ') AS ps FROM documents
        |), p AS (
        |  SELECT doc_id, generate_subscripts(ps, 1) - 1 AS idx,
        |         unnest(ps) AS para
        |  FROM parts
        |), marked AS (
        |  SELECT doc_id, idx, para,
        |         CASE WHEN length(trim(para)) >= 1
        |              THEN row_number() OVER (PARTITION BY lower(trim(para))
        |                                      ORDER BY doc_id, idx)
        |              ELSE 1 END AS rn
        |  FROM p
        |)
        |SELECT doc_id,
        |       coalesce(string_agg(para, ' the ' ORDER BY idx)
        |                FILTER (WHERE rn = 1), '') AS text,
        |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
        |FROM marked
        |GROUP BY doc_id""".stripMargin,
    // replays the window-fingerprint pass with the literal 20-token
    // window STRING as the key (Spark keys on xxhash64 of the token-hash
    // slice — equal windows collide identically modulo 2^-64 collisions),
    // ranks occurrences by (doc_id, pos), gaps-and-islands-merges the
    // removal spans, and rebuilds the kept token stream per doc
    "x85_span_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |occ AS (
        |  SELECT doc_id, u.p AS pos,
        |         array_to_string(toks[u.p:u.p+19], chr(1)) AS fp
        |  FROM base, unnest(generate_series(1, n - 19)) AS u(p)
        |  WHERE n >= 20),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos)
        |           AS rn
        |  FROM occ),
        |spans AS (
        |  SELECT doc_id, pos AS s, pos + 19 AS e FROM ranked WHERE rn > 1),
        |marks AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM spans),
        |grp AS (
        |  SELECT doc_id, s, e,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM marks),
        |runs AS (
        |  SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e
        |  FROM grp GROUP BY doc_id, g),
        |kept AS (
        |  SELECT b.doc_id, u.i, b.toks[u.i] AS tok
        |  FROM base b
        |  JOIN (SELECT DISTINCT doc_id FROM runs) d USING (doc_id),
        |       unnest(generate_series(1, b.n)) AS u(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r
        |    WHERE r.doc_id = b.doc_id AND u.i BETWEEN r.s AND r.e))
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
        |       CAST(b.n - count(k.i) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
        |         AS clean_text
        |FROM base b
        |JOIN (SELECT DISTINCT doc_id FROM runs) d2 ON b.doc_id = d2.doc_id
        |LEFT JOIN kept k ON k.doc_id = b.doc_id
        |GROUP BY b.doc_id, b.n""".stripMargin,
    // x112: x85's replay with the rewrite left-joined back onto the
    // whole corpus (untouched docs keep their original text)
    "x112_span_dedup_all" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |occ AS (
        |  SELECT doc_id, u.p AS pos,
        |         array_to_string(toks[u.p:u.p+19], chr(1)) AS fp
        |  FROM base, unnest(generate_series(1, n - 19)) AS u(p)
        |  WHERE n >= 20),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos)
        |           AS rn
        |  FROM occ),
        |spans AS (
        |  SELECT doc_id, pos AS s, pos + 19 AS e FROM ranked WHERE rn > 1),
        |marks AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM spans),
        |grp AS (
        |  SELECT doc_id, s, e,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM marks),
        |runs AS (
        |  SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e
        |  FROM grp GROUP BY doc_id, g),
        |kept AS (
        |  SELECT b.doc_id, u.i, b.toks[u.i] AS tok
        |  FROM base b
        |  JOIN (SELECT DISTINCT doc_id FROM runs) d USING (doc_id),
        |       unnest(generate_series(1, b.n)) AS u(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r
        |    WHERE r.doc_id = b.doc_id AND u.i BETWEEN r.s AND r.e)),
        |mod AS (
        |  SELECT b.doc_id,
        |         CAST(b.n - count(k.i) AS BIGINT) AS n_removed,
        |         coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
        |           AS clean_text
        |  FROM base b
        |  JOIN (SELECT DISTINCT doc_id FROM runs) d2 ON b.doc_id = d2.doc_id
        |  LEFT JOIN kept k ON k.doc_id = b.doc_id
        |  GROUP BY b.doc_id, b.n)
        |SELECT d.doc_id,
        |       CAST(CASE WHEN d.text IS NOT NULL
        |                 THEN len(string_split(d.text, ' '))
        |                 ELSE 0 END AS BIGINT) AS n_tokens,
        |       CAST(coalesce(m.n_removed, 0) AS BIGINT) AS n_removed,
        |       coalesce(m.clean_text, d.text) AS clean_text
        |FROM documents d LEFT JOIN mod m ON d.doc_id = m.doc_id""".stripMargin,
    // x91: independent replay of the BPE trainer (3 rounds of pair
    // count → argmax → greedy merge, see bpeRoundCtes) and the encode —
    // docs that vanish from the round CTEs (zero symbols) come back
    // through the s0 left join as empty encodings
    "x91_bpe_encode" ->
      s"""WITH s0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\\s+'),
        |      x -> x <> '') AS s,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'),
        |      x -> x <> '')) >= 2 AS big
        |  FROM documents WHERE text IS NOT NULL),
        |${bpeRoundCtes(1)},
        |${bpeRoundCtes(2)},
        |${bpeRoundCtes(3)}
        |SELECT b.doc_id,
        |  CAST(coalesce(len(f.s), 0) AS BIGINT) AS n_tokens,
        |  coalesce(array_to_string(f.s, chr(1)), '') AS encoded
        |FROM s0 b LEFT JOIN s3 f USING (doc_id)""".stripMargin,
    // x115: the x91 trainer+encode replay, then ids = 1-based rank of
    // each symbol in the sorted (binary-order) symbol universe,
    // reassembled per doc in position order
    "x115_bpe_ids" ->
      s"""WITH s0 AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\\s+'),
        |      x -> x <> '') AS s,
        |    len(list_filter(regexp_split_to_array(text, '\\s+'),
        |      x -> x <> '')) >= 2 AS big
        |  FROM documents WHERE text IS NOT NULL),
        |${bpeRoundCtes(1)},
        |${bpeRoundCtes(2)},
        |${bpeRoundCtes(3)},
        |enc AS (
        |  SELECT b.doc_id, coalesce(f.s, []) AS s
        |  FROM s0 b LEFT JOIN s3 f USING (doc_id)),
        |vocab AS (
        |  SELECT x AS tok,
        |    CAST(row_number() OVER (ORDER BY x) AS INTEGER) AS id
        |  FROM (SELECT DISTINCT unnest(s) AS x FROM enc)),
        |ex AS (
        |  SELECT e.doc_id, u.j, e.s[u.j] AS tok
        |  FROM enc e, unnest(generate_series(1, len(e.s))) AS u(j)),
        |ids AS (
        |  SELECT ex.doc_id, ex.j, v.id
        |  FROM ex JOIN vocab v ON v.tok = ex.tok)
        |SELECT e.doc_id,
        |  CAST(len(e.s) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(CAST(i.id AS VARCHAR), ',' ORDER BY i.j),
        |    '') AS encoded_ids
        |FROM enc e LEFT JOIN ids i USING (doc_id)
        |GROUP BY e.doc_id, len(e.s)""".stripMargin,
    // x118: independent replay of the CHAR-LEVEL BPE trainer (4
    // weighted rounds over the word-frequency dictionary, see
    // bpeCharRoundCtes) and the per-word encode flattened back onto
    // each doc's word stream in position order
    "x118_bpe_char" ->
      s"""WITH ${bpeCharPrefixCtes(4)}
        |SELECT d.doc_id,
        |  CAST(count(s.tok) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(s.tok, chr(1) ORDER BY s.j, s.k), '')
        |    AS encoded
        |FROM cd d LEFT JOIN csym s USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin,
    // x120: the x118 replay with cs0 lowered to UTF-8 bytes (hex
    // pairs) — the byte-fallback trainer + encode, independently
    // re-derived from hex(encode(w)) in DuckDB
    "x120_bpe_byte" ->
      s"""WITH ${bpeCharPrefixCtes(4, byteLevel = true)}
        |SELECT d.doc_id,
        |  CAST(count(s.tok) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(s.tok, chr(1) ORDER BY s.j, s.k), '')
        |    AS encoded
        |FROM cd d LEFT JOIN csym s USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin,
    // x121: the x120 byte-level replay, then the x119 id CTEs
    // verbatim (1-based rank in the sorted symbol universe — hex
    // symbols are ASCII, so binary and collation order coincide)
    "x121_bpe_byte_ids" ->
      s"""WITH ${bpeCharPrefixCtes(4, byteLevel = true)},
        |cvocab AS (
        |  SELECT x AS tok,
        |    CAST(row_number() OVER (ORDER BY x) AS INTEGER) AS id
        |  FROM (SELECT DISTINCT tok AS x FROM csym)),
        |cids AS (
        |  SELECT s.doc_id, s.j, s.k, v.id
        |  FROM csym s JOIN cvocab v USING (tok))
        |SELECT d.doc_id,
        |  CAST(count(i.id) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(CAST(i.id AS VARCHAR), ','
        |    ORDER BY i.j, i.k), '') AS encoded_ids
        |FROM cd d LEFT JOIN cids i USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin,
    // x119: the x118 replay, then ids = 1-based rank of each symbol in
    // the sorted (binary-order) encoded-symbol universe, reassembled
    // per doc in (word, symbol) position order
    "x119_bpe_char_ids" ->
      s"""WITH ${bpeCharPrefixCtes(4)},
        |cvocab AS (
        |  SELECT x AS tok,
        |    CAST(row_number() OVER (ORDER BY x) AS INTEGER) AS id
        |  FROM (SELECT DISTINCT tok AS x FROM csym)),
        |cids AS (
        |  SELECT s.doc_id, s.j, s.k, v.id
        |  FROM csym s JOIN cvocab v USING (tok))
        |SELECT d.doc_id,
        |  CAST(count(i.id) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(CAST(i.id AS VARCHAR), ','
        |    ORDER BY i.j, i.k), '') AS encoded_ids
        |FROM cd d LEFT JOIN cids i USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin,
    // x122: the artifact round-trip is engine-side plumbing with NO
    // value-level effect — the oracle is x119's trained-path replay
    // verbatim, so the hash gate proves the loaded artifact encodes
    // identically to the freshly-trained table on the full corpus
    "x122_bpe_artifact_ids" ->
      s"""WITH ${bpeCharPrefixCtes(4)},
        |cvocab AS (
        |  SELECT x AS tok,
        |    CAST(row_number() OVER (ORDER BY x) AS INTEGER) AS id
        |  FROM (SELECT DISTINCT tok AS x FROM csym)),
        |cids AS (
        |  SELECT s.doc_id, s.j, s.k, v.id
        |  FROM csym s JOIN cvocab v USING (tok))
        |SELECT d.doc_id,
        |  CAST(count(i.id) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(CAST(i.id AS VARCHAR), ','
        |    ORDER BY i.j, i.k), '') AS encoded_ids
        |FROM cd d LEFT JOIN cids i USING (doc_id)
        |GROUP BY d.doc_id""".stripMargin,
    // x123: replay DSIR end to end — hashed unigram+bigram buckets via
    // the portable poly fold (the x54 hash), add-1 smoothed target/raw
    // bucket models, per-doc sum of log ratios (order-free at the
    // 6-decimal round)
    "x123_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        |    list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, tgt, unnest(
        |    list_transform(t, w -> CAST(list_reduce([0::BIGINT] ||
        |        list_transform(range(1, length(w)+1),
        |          i -> ord(substr(w, i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007) % 1024 AS INT)) ||
        |    CASE WHEN len(t) >= 2 THEN
        |      list_transform(range(1, len(t)),
        |        j -> CAST(list_reduce([0::BIGINT] ||
        |          list_transform(range(1, length(t[j] || ' ' || t[j+1])+1),
        |            i -> ord(substr(t[j] || ' ' || t[j+1], i, 1))::BIGINT),
        |          (a,x) -> (a*131 + x) % 1000000007) % 1024 AS INT))
        |    ELSE CAST([] AS INT[]) END) AS b
        |  FROM toks),
        |cnts AS (
        |  SELECT b, count(*) AS raw, sum(tgt) AS tg FROM feats GROUP BY 1),
        |tot AS (SELECT count(*) AS nr, sum(tgt) AS nt FROM feats),
        |lut AS (
        |  SELECT b, ln((tg + 1.0) / (nt + 1024.0)) -
        |    ln((raw + 1.0) / (nr + 1024.0)) AS lw
        |  FROM cnts CROSS JOIN tot),
        |docw AS (
        |  SELECT f.doc_id, count(*) AS nf, sum(l.lw) AS s
        |  FROM feats f JOIN lut l USING (b) GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(coalesce(d.nf, 0) AS BIGINT) AS n_features,
        |  round(coalesce(d.s, 0.0), 6) AS log_weight
        |FROM toks t LEFT JOIN docw d USING (doc_id)""".stripMargin,
    // x124: x123's weights + the derandomized Gumbel key — noise from
    // the poly hash of 'dsir:'||doc_id, u = (h+½)/P, G = −ln(−ln u);
    // keys round to 6 decimals BEFORE ranking so the cross-engine
    // order (key desc, doc_id asc) is exactly reproducible
    "x124_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
        |    list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, tgt, unnest(
        |    list_transform(t, w -> CAST(list_reduce([0::BIGINT] ||
        |        list_transform(range(1, length(w)+1),
        |          i -> ord(substr(w, i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007) % 1024 AS INT)) ||
        |    CASE WHEN len(t) >= 2 THEN
        |      list_transform(range(1, len(t)),
        |        j -> CAST(list_reduce([0::BIGINT] ||
        |          list_transform(range(1, length(t[j] || ' ' || t[j+1])+1),
        |            i -> ord(substr(t[j] || ' ' || t[j+1], i, 1))::BIGINT),
        |          (a,x) -> (a*131 + x) % 1000000007) % 1024 AS INT))
        |    ELSE CAST([] AS INT[]) END) AS b
        |  FROM toks),
        |cnts AS (
        |  SELECT b, count(*) AS raw, sum(tgt) AS tg FROM feats GROUP BY 1),
        |tot AS (SELECT count(*) AS nr, sum(tgt) AS nt FROM feats),
        |lut AS (
        |  SELECT b, ln((tg + 1.0) / (nt + 1024.0)) -
        |    ln((raw + 1.0) / (nr + 1024.0)) AS lw
        |  FROM cnts CROSS JOIN tot),
        |docw AS (
        |  SELECT f.doc_id, sum(l.lw) AS s
        |  FROM feats f JOIN lut l USING (b) GROUP BY 1),
        |keyed AS (
        |  SELECT t.doc_id, round(coalesce(d.s, 0.0), 6) AS log_weight,
        |    round(round(coalesce(d.s, 0.0), 6) - ln(-ln(
        |      (list_reduce([0::BIGINT] || list_transform(
        |        range(1, length('dsir:' || CAST(t.doc_id AS VARCHAR)) + 1),
        |        i -> ord(substr('dsir:' || CAST(t.doc_id AS VARCHAR),
        |          i, 1))::BIGINT),
        |        (a,x) -> (a*131 + x) % 1000000007) + 0.5) / 1000000007.0)),
        |      6) AS sample_key
        |  FROM toks t LEFT JOIN docw d USING (doc_id))
        |SELECT doc_id, log_weight, sample_key FROM keyed
        |ORDER BY sample_key DESC, doc_id ASC LIMIT 100""".stripMargin,
    // x125: replay interpolated Kneser–Ney — c1/N1+fwd per prefix and
    // N1+bwd per continuation all derive from the bigram-TYPE relation
    // c2; P_cont is add-½ smoothed over (T types, V unigrams);
    // self-scoring makes every probe a model hit, but the formula
    // carries the unseen-context backoff all the same
    "x125_kn_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |db AS (
        |  SELECT doc_id, t[u.i] AS w1, t[u.i+1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
        |  WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM db GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(n2) AS n1, count(*) AS n1f
        |       FROM c2 GROUP BY 1),
        |cb AS (SELECT w2, count(*) AS n1b FROM c2 GROUP BY 1),
        |tv AS (SELECT (SELECT count(*) FROM c2) AS tt,
        |              (SELECT count(DISTINCT x)
        |               FROM (SELECT unnest(t) AS x FROM toks)) AS v),
        |p AS (
        |  SELECT d.doc_id, ln(
        |    greatest(c2.n2 - 0.75, 0) / c1.n1 +
        |    0.75 * c1.n1f / c1.n1 *
        |      ((cb.n1b + 0.5) / (tv.tt + 0.5 * tv.v))) AS lp
        |  FROM db d JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  JOIN cb USING (w2) CROSS JOIN tv)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(-avg(lp), 6) AS avg_nll
        |FROM p GROUP BY 1""".stripMargin,
    // x126: fertility from the x118 token stream (csym) — per-language
    // token/word/char sums and their ratios; the 1.0 factors force
    // double division against the engine's long/long → double
    "x126_token_fertility" ->
      s"""WITH ${bpeCharPrefixCtes(4)},
        |tokc AS (SELECT doc_id, count(*) AS nt FROM csym GROUP BY 1),
        |base AS (
        |  SELECT d.doc_id, d.lang, length(d.text) AS nc,
        |    len(list_filter(regexp_split_to_array(d.text, '\\s+'),
        |      x -> x <> '')) AS nw
        |  FROM documents d WHERE d.text IS NOT NULL)
        |SELECT b.lang,
        |  CAST(sum(coalesce(t.nt, 0)) AS BIGINT) AS n_tokens,
        |  CAST(sum(b.nw) AS BIGINT) AS n_words,
        |  round(sum(coalesce(t.nt, 0)) * 1.0 / nullif(sum(b.nw), 0), 6)
        |    AS tokens_per_word,
        |  round(sum(b.nc) * 1.0 / nullif(sum(coalesce(t.nt, 0)), 0), 6)
        |    AS chars_per_token
        |FROM base b LEFT JOIN tokc t USING (doc_id)
        |GROUP BY 1""".stripMargin,
    // x135: the centroid-artifact round trip must be invisible — same
    // replay as x131
    "x135_kmeans_artifact" ->
      s"""WITH ${kmeansCtes(4, 3)}
        |SELECT vec_id, CAST(cl AS INT) AS cluster,
        |       round(list_aggregate(d, 'min') / 1099511627776.0, 6)
        |         AS d2
        |FROM fa""".stripMargin,
    // x134: the artifact round trip must be invisible — same replay
    // as x130
    "x134_unigram_artifact_ids" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |uvid AS (SELECT piece,
        |    CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS vid
        |  FROM uvocab),
        |px AS (SELECT w, unnest(pieces) AS piece,
        |         generate_subscripts(pieces, 1) AS k FROM useg)
        |SELECT d.doc_id,
        |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(
        |    CASE WHEN p.piece IS NULL THEN NULL
        |         ELSE CAST(coalesce(v.vid, 0) AS VARCHAR) END,
        |    ',' ORDER BY u.j, p.k), '') AS encoded_ids
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN px p USING (w)
        |LEFT JOIN uvid v ON v.piece = p.piece
        |GROUP BY d.doc_id""".stripMargin,
    // x136: greedy longest-match replay — a forward recursive walk
    // (position += taken length), longest vocabulary match at each
    // position, the single char as UNK fallback
    "x136_wordpiece" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |$WordpieceSegCtes
        |SELECT d.doc_id,
        |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(p.piece, chr(1) ORDER BY u.j, p.k), '')
        |    AS encoded
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN wx p USING (w)
        |GROUP BY d.doc_id""".stripMargin,
    // x137: the x136 segmentation joined to the 1-based
    // piece-ascending id space (coalesce(vid, 0) = the UNK-single-char
    // rule); x138: the artifact round trip must be invisible — same
    // replay as x137
    "x137_wordpiece_ids" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |$WordpieceSegCtes,
        |uvid AS (SELECT piece,
        |    CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS vid
        |  FROM uvocab)
        |SELECT d.doc_id,
        |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(
        |    CASE WHEN p.piece IS NULL THEN NULL
        |         ELSE CAST(coalesce(v.vid, 0) AS VARCHAR) END,
        |    ',' ORDER BY u.j, p.k), '') AS encoded_ids
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN wx p USING (w)
        |LEFT JOIN uvid v ON v.piece = p.piece
        |GROUP BY d.doc_id""".stripMargin,
    "x138_wordpiece_artifact_ids" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |$WordpieceSegCtes,
        |uvid AS (SELECT piece,
        |    CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS vid
        |  FROM uvocab)
        |SELECT d.doc_id,
        |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(
        |    CASE WHEN p.piece IS NULL THEN NULL
        |         ELSE CAST(coalesce(v.vid, 0) AS VARCHAR) END,
        |    ',' ORDER BY u.j, p.k), '') AS encoded_ids
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN wx p USING (w)
        |LEFT JOIN uvid v ON v.piece = p.piece
        |GROUP BY d.doc_id""".stripMargin,
    // x131–x133: the k-means replay (see kmeansCtes)
    "x131_kmeans" ->
      s"""WITH ${kmeansCtes(4, 3)}
        |SELECT vec_id, CAST(cl AS INT) AS cluster,
        |       round(list_aggregate(d, 'min') / 1099511627776.0, 6)
        |         AS d2
        |FROM fa""".stripMargin,
    "x132_kmeans_summary" ->
      s"""WITH ${kmeansCtes(4, 3)}
        |SELECT CAST(cl AS INT) AS cluster,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(round(list_aggregate(d, 'min')
        |    / 1099511627776.0, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS inertia
        |FROM fa GROUP BY 1""".stripMargin,
    "x133_kmeans_sample" ->
      s"""WITH ${kmeansCtes(4, 3)},
        |fd AS (
        |  SELECT vec_id, CAST(cl AS INT) AS cluster,
        |    round(list_aggregate(d, 'min') / 1099511627776.0, 6) AS d2
        |  FROM fa)
        |SELECT cluster, rnk, vec_id, d2 FROM (
        |  SELECT cluster, vec_id, d2,
        |    CAST(row_number() OVER (PARTITION BY cluster
        |         ORDER BY d2 ASC, vec_id ASC) AS INT) AS rnk
        |  FROM fd)
        |WHERE rnk <= 5""".stripMargin,
    // x127–x130: unigram-LM tokenizer replay (WITH RECURSIVE — the
    // Viterbi DP runs as a recursive CTE; see unigramCtes)
    "x127_unigram_vocab" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)}
        |SELECT piece, CAST(f AS BIGINT) AS freq FROM uvocab"""
        .stripMargin,
    "x128_unigram_encode" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |px AS (SELECT w, unnest(pieces) AS piece,
        |         generate_subscripts(pieces, 1) AS k FROM useg)
        |SELECT d.doc_id,
        |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(p.piece, chr(1) ORDER BY u.j, p.k), '')
        |    AS encoded
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN px p USING (w)
        |GROUP BY d.doc_id""".stripMargin,
    "x129_unigram_em" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |px AS (SELECT w, unnest(pieces) AS piece FROM useg)
        |SELECT p.piece, CAST(count(*) AS BIGINT) AS n_used
        |FROM uw u JOIN px p USING (w)
        |GROUP BY 1""".stripMargin,
    // x140: the tagged BERT vocabulary — initial vs ## continuation
    // pieces counted separately, char floor on the RAW (untagged)
    // length, top-64 multi by the (freq DESC, piece ASC) total order
    "x140_wpbert_vocab" ->
      s"""WITH ${wpBertCtes(4, 2, 64)}
        |SELECT piece, CAST(f AS BIGINT) AS freq FROM wpvocab"""
        .stripMargin,
    // x141: BERT greedy longest-match replay — per-position longest
    // TAGGED vocabulary match (no single-char fallback), a forward
    // recursive walk, and words whose walk stalls (some visited
    // position matches nothing) collapse to one [UNK] (id 0).
    // x142: the artifact round trip must be invisible — same replay
    "x141_wpbert_ids" -> WpBertIdsOracle,
    "x142_wpbert_artifact_ids" -> WpBertIdsOracle,
    // x144: the x141 encode replay, then independent detokenization —
    // per word: concat of ##-stripped pieces in walk order; per doc:
    // words joined by ' ' in position order ([UNK] renders literally)
    "x144_wpbert_decode" ->
      s"""WITH RECURSIVE ${wpBertCtes(4, 2, 64)},
        |bc0 AS (
        |  SELECT w, pos, l, substr(w, pos + 1, l) AS cand
        |  FROM (SELECT w, unnest(generate_series(0, len(w) - 1)) AS pos
        |        FROM udw) a,
        |       (SELECT unnest(generate_series(1, 4)) AS l) t
        |  WHERE pos + l <= len(w)),
        |bch AS (
        |  SELECT w, pos, l,
        |         CASE WHEN pos = 0 THEN substr(w, pos + 1, l)
        |              ELSE '##' || substr(w, pos + 1, l) END AS piece
        |  FROM (
        |    SELECT c.w, c.pos, max(c.l) AS l
        |    FROM bc0 c JOIN wpvocab v
        |      ON v.piece = CASE WHEN c.pos = 0 THEN c.cand
        |                        ELSE '##' || c.cand END
        |    GROUP BY c.w, c.pos)),
        |bvit AS (
        |  SELECT w, len(w) AS n, 0 AS pos,
        |         CAST([] AS VARCHAR[]) AS pieces
        |  FROM udw
        |  UNION ALL
        |  SELECT r.w, r.n, r.pos + c.l, list_append(r.pieces, c.piece)
        |  FROM bvit r JOIN bch c ON c.w = r.w AND c.pos = r.pos
        |  WHERE r.pos < r.n),
        |bseg AS (
        |  SELECT dw.w, coalesce(s.pieces, ['[UNK]']) AS pieces
        |  FROM udw dw
        |  LEFT JOIN (SELECT w, pieces FROM bvit WHERE pos = n) s
        |    ON s.w = dw.w),
        |bwt AS (
        |  SELECT w, len(pieces) AS np,
        |    list_reduce(list_transform(pieces,
        |      p -> CASE WHEN starts_with(p, '##') THEN substr(p, 3)
        |                ELSE p END), (a, b) -> a || b) AS wt
        |  FROM bseg)
        |SELECT d.doc_id,
        |  CAST(coalesce(sum(t.np), 0) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(t.wt, ' ' ORDER BY u.j), '') AS decoded
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN bwt t USING (w)
        |GROUP BY d.doc_id""".stripMargin,
    // x145: forward–backward replay — two list-carrying recursive
    // walks per distinct word (α ascending, β descending, both sums
    // left-folded from 0.0 in the kernel's exact order over the same
    // ucand lattice), arc expectations α(i)·(f/tot)·β(j)/α(n) folded
    // per piece in (i, j) order, then the DECIMAL(28,10) corpus sum
    "x145_unigram_soft_em" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |ufwd AS (
        |  SELECT w, len(w) AS n, 0 AS j, [CAST(1.0 AS DOUBLE)] AS al
        |  FROM udw
        |  UNION ALL
        |  SELECT r.w, r.n, r.j + 1, list_append(r.al, c.s)
        |  FROM ufwd r, LATERAL (
        |    SELECT list_reduce([CAST(0.0 AS DOUBLE)] ||
        |        list(r.al[q.i + 1] * (CAST(q.fv AS DOUBLE) /
        |          (SELECT tot FROM utotal)) ORDER BY q.i),
        |      (a, b) -> a + b) AS s
        |    FROM ucand q WHERE q.w = r.w AND q.j = r.j + 1) c
        |  WHERE r.j < r.n),
        |ubwd AS (
        |  SELECT w, len(w) AS n, len(w) AS i, [CAST(1.0 AS DOUBLE)] AS bl
        |  FROM udw
        |  UNION ALL
        |  SELECT r.w, r.n, r.i - 1, [c.s] || r.bl
        |  FROM ubwd r, LATERAL (
        |    SELECT list_reduce([CAST(0.0 AS DOUBLE)] ||
        |        list((CAST(q.fv AS DOUBLE) /
        |            (SELECT tot FROM utotal)) *
        |          r.bl[q.j - r.i + 1] ORDER BY q.j),
        |      (a, b) -> a + b) AS s
        |    FROM ucand q WHERE q.w = r.w AND q.i = r.i - 1) c
        |  WHERE r.i > 0),
        |ufz AS (SELECT w, al, al[n + 1] AS z FROM ufwd WHERE j = n),
        |ubz AS (SELECT w, bl FROM ubwd WHERE i = 0),
        |uocc AS (
        |  SELECT q.w, substr(q.w, q.i + 1, q.j - q.i) AS piece,
        |    q.i, q.j,
        |    ((f.al[q.i + 1] * (CAST(q.fv AS DOUBLE) /
        |        (SELECT tot FROM utotal))) * b.bl[q.j + 1]) / f.z AS e
        |  FROM ucand q JOIN ufz f USING (w) JOIN ubz b USING (w)),
        |upc AS (
        |  SELECT w, piece,
        |    list_reduce([CAST(0.0 AS DOUBLE)] ||
        |      list(e ORDER BY i, j), (a, b) -> a + b) AS ew
        |  FROM uocc GROUP BY w, piece),
        |uwcon AS (
        |  SELECT p.piece,
        |    CAST(CAST(f.wf AS DOUBLE) * p.ew AS DECIMAL(28,10)) AS c
        |  FROM upc p JOIN uwf f USING (w))
        |SELECT piece, round(CAST(sum(c) AS DOUBLE), 6) AS exp_usage
        |FROM uwcon GROUP BY piece""".stripMargin,
    // x143: full sequential replay of the likelihood-scored WordPiece
    // trainer — 6 chained round-CTE groups (pair counts, symbol
    // counts, the two-rounding IEEE score pick, greedy application)
    "x143_wplik_vocab" ->
      s"""WITH ${wpLikCtes(6, 2)}
        |SELECT piece, freq FROM wlvocab""".stripMargin,
    // x147: the x143 trainer replay + the generalized BERT greedy walk
    // (candidate lengths up to the word — the likelihood vocabulary
    // has no piece-length cap) over the replayed vocabulary
    "x147_wplik_ids" ->
      s"""WITH RECURSIVE ${wpLikCtes(6, 2)},
        |$WordSpineCtes,
        |${wpBertWalkOver("wlvocab")}""".stripMargin,
    // x139: the 2-round trainer loop — round 1 segments under the
    // seed (useg), prunes to 48 multi (uvoc); round 2 re-segments
    // under uvoc (useg2, a second recursive Viterbi), prunes to 36
    "x139_unigram_train" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |${emRoundCtes("", "uvocab", 48)},
        |${viterbiRoundCtes("2", "uvoc")},
        |${emRoundCtes("2", "uvoc", 36)}
        |SELECT piece, CAST(f AS BIGINT) AS freq FROM uvoc2"""
        .stripMargin,
    "x130_unigram_ids" ->
      s"""WITH RECURSIVE ${unigramCtes(4, 2, 64)},
        |uvid AS (SELECT piece,
        |    CAST(row_number() OVER (ORDER BY piece) AS INTEGER) AS vid
        |  FROM uvocab),
        |px AS (SELECT w, unnest(pieces) AS piece,
        |         generate_subscripts(pieces, 1) AS k FROM useg)
        |SELECT d.doc_id,
        |  CAST(count(p.piece) AS BIGINT) AS n_tokens,
        |  coalesce(string_agg(
        |    CASE WHEN p.piece IS NULL THEN NULL
        |         ELSE CAST(coalesce(v.vid, 0) AS VARCHAR) END,
        |    ',' ORDER BY u.j, p.k), '') AS encoded_ids
        |FROM ud d
        |LEFT JOIN uw u USING (doc_id)
        |LEFT JOIN px p USING (w)
        |LEFT JOIN uvid v ON v.piece = p.piece
        |GROUP BY d.doc_id""".stripMargin,
    // x92: replay the add-k bigram model — continuation counts c1 are
    // the per-prefix sums of bigram-type counts c2, V is the distinct
    // token count, and self-scoring makes every probe bigram an inner
    // join hit
    "x92_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |db AS (
        |  SELECT doc_id, t[u.i] AS w1, t[u.i+1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
        |  WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM db GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT x) AS vocab
        |      FROM (SELECT unnest(t) AS x FROM toks)),
        |p AS (
        |  SELECT d.doc_id,
        |    ln((c2.n2 + 0.5) / (c1.n1 + 0.5 * v.vocab)) AS lp
        |  FROM db d JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(-avg(lp), 6) AS avg_nll
        |FROM p GROUP BY doc_id""".stripMargin,
    // x94: the x92 LM replay + per-language ntile terciles on the
    // ROUNDED score (ties broken by doc_id, matching the engine's
    // total order)
    "x94_ppl_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> x <> '') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |db AS (
        |  SELECT doc_id, t[u.i] AS w1, t[u.i+1] AS w2
        |  FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
        |  WHERE len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM db GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT x) AS vocab
        |      FROM (SELECT unnest(t) AS x FROM toks)),
        |p AS (
        |  SELECT d.doc_id,
        |    ln((c2.n2 + 0.5) / (c1.n1 + 0.5 * v.vocab)) AS lp
        |  FROM db d JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |  CROSS JOIN v),
        |s AS (
        |  SELECT doc_id, round(-avg(lp), 6) AS avg_nll
        |  FROM p GROUP BY doc_id)
        |SELECT s.doc_id, d.lang, s.avg_nll,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang
        |       ORDER BY s.avg_nll, s.doc_id) AS INT) AS ppl_bucket
        |FROM s JOIN documents d USING (doc_id)""".stripMargin,
    // x95: rank = row_number per lang (freq desc, token asc); slope =
    // covar_pop/var_pop over ln rank/freq of the top 1000 — identical
    // closed form to the engine's aggregate
    "x95_zipf_slope" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(
        |    regexp_split_to_array(text, '\s+'), x -> x <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL),
        |tf AS (SELECT lang, token, count(*) AS freq
        |       FROM toks GROUP BY 1, 2),
        |rk AS (SELECT lang, freq,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY freq DESC, token) AS rank
        |       FROM tf)
        |SELECT lang,
        |  round(covar_pop(ln(freq), ln(rank))
        |        / nullif(var_pop(ln(rank)), 0), 6) AS zipf_slope,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(freq) AS BIGINT) AS n_tokens
        |FROM rk WHERE rank <= 1000 GROUP BY lang""".stripMargin,
    // x96: keep rows ranking above floor(0.25·n) per source under
    // (quality, doc_id) — the x8 score expression inline
    "x96_quality_gate" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    0.3 * least(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) / 100.0, 1.0) +
        |    0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |                 greatest(CAST(length(text) AS DOUBLE), 1.0)) +
        |    0.4 * least(CAST(len(regexp_extract_all(lower(text),
        |                 '\b(the|and|of|to|a|in|is|was)\b')) AS DOUBLE) / 10.0, 1.0)
        |      AS quality
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, quality,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM s)
        |SELECT doc_id, source, quality
        |FROM r WHERE rn > floor(0.25 * n)""".stripMargin,
    // x90: the x85 replay in ARRIVAL order — corpus (doc_id % 7 != 0)
    // windows rank before delta windows regardless of id, and only
    // delta documents are rewritten
    "x90_span_delta" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |occ AS (
        |  SELECT doc_id, u.p AS pos,
        |         array_to_string(toks[u.p:u.p+19], chr(1)) AS fp
        |  FROM base, unnest(generate_series(1, n - 19)) AS u(p)
        |  WHERE n >= 20),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY fp
        |           ORDER BY (doc_id % 7 = 0), doc_id, pos) AS rn
        |  FROM occ),
        |spans AS (
        |  SELECT doc_id, pos AS s, pos + 19 AS e FROM ranked
        |  WHERE rn > 1 AND doc_id % 7 = 0),
        |marks AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(MAX(e) OVER (PARTITION BY doc_id
        |      ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS brk
        |  FROM spans),
        |grp AS (
        |  SELECT doc_id, s, e,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM marks),
        |runs AS (
        |  SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e
        |  FROM grp GROUP BY doc_id, g),
        |kept AS (
        |  SELECT b.doc_id, u.i, b.toks[u.i] AS tok
        |  FROM base b
        |  JOIN (SELECT DISTINCT doc_id FROM runs) d USING (doc_id),
        |       unnest(generate_series(1, b.n)) AS u(i)
        |  WHERE NOT EXISTS (SELECT 1 FROM runs r
        |    WHERE r.doc_id = b.doc_id AND u.i BETWEEN r.s AND r.e))
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
        |       CAST(b.n - count(k.i) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(k.tok, ' ' ORDER BY k.i), '')
        |         AS clean_text
        |FROM base b
        |JOIN (SELECT DISTINCT doc_id FROM runs) d2 ON b.doc_id = d2.doc_id
        |LEFT JOIN kept k ON k.doc_id = b.doc_id
        |GROUP BY b.doc_id, b.n""".stripMargin,
    "x71_boilerplate" ->
      """WITH parts AS (
        |  SELECT doc_id, string_split(text, ' the ') AS ps FROM documents
        |), p AS (
        |  SELECT doc_id, generate_subscripts(ps, 1) - 1 AS idx,
        |         unnest(ps) AS para
        |  FROM parts
        |), freq AS (
        |  SELECT lower(trim(para)) AS k, count(DISTINCT doc_id) AS nd
        |  FROM p WHERE length(trim(para)) >= 1
        |  GROUP BY 1
        |), m AS (
        |  SELECT p.doc_id, p.idx, p.para,
        |         (length(trim(p.para)) >= 1 AND coalesce(f.nd, 0) >= 3)
        |           AS boiler
        |  FROM p LEFT JOIN freq f ON lower(trim(p.para)) = f.k
        |)
        |SELECT doc_id,
        |       coalesce(string_agg(para, ' the ' ORDER BY idx)
        |                FILTER (WHERE NOT boiler), '') AS text,
        |       CAST(count(*) FILTER (WHERE boiler) AS BIGINT) AS n_dropped
        |FROM m GROUP BY doc_id""".stripMargin,
    // x32: same brute-force ground truth as x2 (LSH candidates are
    // exact-verified; recall is deterministically 1 on this corpus at
    // t = 0.5), restricted to pairs with at least one delta-side doc
    "x32_dedup_delta" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text) - 4, 0)),
        |    i -> substr(text, i, 5))) AS ng
        |  FROM documents
        |  WHERE length(text) >= 5)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE) /
        |         CAST(len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)) AS DOUBLE)
        |           AS jaccard
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.5
        |  AND (doc_a % 7 = 0 OR doc_b % 7 = 0)""".stripMargin,
  )
}
