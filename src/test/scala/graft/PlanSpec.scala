package graft

/** Physical-plan shape guards: the properties that make these queries
  * survive a 100 TB scale-up are asserted here so a refactor can't
  * silently regress them (SCALE.md documents the contracts).
  *
  * Assertions run on the initial physical plan (pre-AQE): AQE may
  * further improve a plan at runtime (coalesce, dynamic broadcast) but
  * never adds exchanges or turns an equality join into a cartesian one,
  * so the static shape is the right invariant.
  */
import org.apache.spark.sql.functions._

class PlanSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q12 default: skew-safe two-exchange plan with map-side combine") {
    val p = plan("q12_supplier_part_rank")
    assert(p.linesIterator.count(_.contains("Exchange")) === 2, p)
    // partial aggregation before the shuffle bounds any task's input by
    // the supplier's DISTINCT parts — the skew insurance the default buys
    assert(p.contains("partial_sum"), p)
  }

  test("q12 preAggregate=false: agg and window share a single exchange") {
    val p = analytics.Tpch.supplierPartRank(spark, dir,
        preAggregate = false)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
  }

  test("q8: dimension joins broadcast; fact joins shuffle on keys") {
    val p = plan("q8_region_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q7: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q7_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), p)
    // projection pruned to the 7 referenced columns — not the full table
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_shipdate"), readSchema)
  }

  test("q10/q11: semi and anti joins never materialize the join product") {
    assert(plan("q10_priority_heavy").contains("LeftSemi"))
    assert(plan("q11_customers_no_orders").contains("LeftAnti"))
  }

  test("x14 as-of: one exchange total — union + keyed window, no join") {
    val p = plan("x14_asof_prev_order")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
    assert(!p.contains("Join"), p) // the whole point: no fan-out join
  }

  test("x15 neighbor counts: window route has zero joins; bucket route " +
    "is an equi-join on (key, bucket), no nested loop") {
    // at test scale the cost router picks the RANGE-frame window — the
    // whole count is one keyed shuffle, no join operator at all
    val p = plan("x15_range_near_orders")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the forced bucket route (the hot-key scale path) must be a plain
    // equi-join — never a nested loop or cartesian
    val o = Tables.orders(spark, dir)
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_orderpriority"),
        org.apache.spark.sql.functions.col("o_orderdate"))
    val pb = graft.operators.RangeJoin.neighborCounts(
      o, o.col("o_orderkey"), o.col("o_orderpriority"),
      o.col("o_orderdate"), tolSec = 86400L,
      maxRowsPerKeyForWindow = 0L)
      .queryExecution.executedPlan.toString
    assert(pb.contains("Join"), pb)
    assert(!pb.contains("BroadcastNestedLoopJoin") &&
      !pb.contains("CartesianProduct"), pb)
  }

  test("x4 prefix route with the rank kernel: no Window operator (the " +
    "doc-local kernel replaced the token-table rank shuffle+sort)") {
    val p = graft.operators.Dedup.ngramJaccardBlocked(
      Tables.documents(spark, dir), "source", threshold = 0.5, n = 3,
      allPairsMaxDocs = 0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x23 sessionize: lag flag, running session index, and the " +
    "per-session aggregate all share ONE exchange") {
    val p = plan("x23_sessionize")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
  }

  test("x77 value runs: change flag, run index, and the per-run " +
    "aggregate share ONE exchange (the sessionize contract)") {
    val p = plan("x77_value_runs")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
  }

  test("x76 transitions: the lag window and the transition count " +
    "add no second data exchange (the count aggregates map-side " +
    "into the |types|^2 key space)") {
    val p = plan("x76_transitions")
    // one exchange for the user window; the final |types|^2-key agg is
    // a single-partition exchange of partial counts, not data
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id")) === 1, p)
  }

  test("x107 filtered ANN: the metadata predicate reaches the parquet " +
    "scan (PushedFilters), so scoring reads the filtered slice only") {
    val p = plan("x107_ann_filtered")
    val pushed = p.linesIterator
      .filter(_.contains("PushedFilters:"))
      .exists(l => l.substring(l.indexOf("PushedFilters:"))
        .takeWhile(_ != ']').contains("EqualTo(label,1)"))
    assert(pushed, p)
  }

  test("x111 OOV: the rate pass is ONE documents scan (vocab top-k is " +
    "the only other) and the token stream is never exploded") {
    val p = plan("x111_oov_rate")
    // two scans total: the frozen-vocab top-k pass + the doc-local rate
    // pass; the old explode → left_anti → two-agg route paid three
    assert(p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents")) === 2, p)
    // the rate pass explodes nothing: the only Generate in the plan is
    // the vocab pass's token explode; membership is the doc-local
    // merge kernel, so no token-level anti join exists anywhere
    assert(p.linesIterator.count(_.contains("Generate")) === 1, p)
    assert(p.contains("graft_sorted_contains_count"), p)
    assert(!p.toLowerCase.contains("leftanti"), p)
  }

  test("no query plans a cartesian product; nested-loop joins only " +
    "where brute force is the contract") {
    // x5 brute-force cosine is DELIBERATELY a broadcast nested-loop scan
    // of corpus × queries — the exact baseline the ANN paths beat; the
    // x6/x13 recall gates embed that same exact baseline as the
    // reference side of the recall comparison; x20 attaches the
    // benchmark-gram array (ONE broadcast row) to every corpus row —
    // a 1×N dimension attach, not a quadratic pair scan
    // x45 is the quantized variant of the same deliberate brute-force
    // scan (query codes broadcast against the corpus codes); x46
    // attaches the single boundary row to every corpus row — a 1×N
    // dimension attach like x20; x59 attaches the ONE-row Bloom filter
    // the same way (the whole point: a constant-size broadcast replaces
    // the gram-array broadcast); x62's global row joins two SINGLE-row
    // aggregates (merged sketch × exact count) — a 1×1 attach; x66's
    // gate embeds the brute-force droppable slice as its exact baseline
    // (the semanticDedup path itself is a cell-equality join)
    // x70 attaches the ONE-row gram-df dictionary to each doc the same
    // way (the Ed-Join rare-first order's broadcast side); x81 attaches
    // the ONE-row total-token scalar to the filtered pair types
    // (Catalyst folds the constant join key, leaving a 1×N broadcast
    // attach)
    val nestedLoopByDesign =
      Set("x5_cosine_topk", "x6_ann_lsh", "x13_ann_ivf",
        "x20_decontaminate", "x45_quantized_topk", "x46_quantile_bins",
        "x59_decontaminate_bloom", "x62_hll_distinct", "x66_semdedup",
        "x70_edit_distance", "x81_bigram_lift",
        // x87 is x70's delta route: the same ONE-row dictionary attach,
        // twice (index build ranks corpus prefixes, probe ranks the
        // delta under the frozen order)
        "x87_edit_delta",
        // x91 attaches the ONE-row trained merge table to every doc
        // (the same bounded-vocabulary broadcast as x70's dictionary)
        "x91_bpe_encode",
        // x92 attaches the ONE-row vocabulary-size scalar to the
        // bigram stream (the x81 total-token pattern)
        "x92_lm_score",
        // x94 scores through the x92 LM plan, so it carries the same
        // ONE-row vocabulary scalar attach
        "x94_ppl_buckets",
        // x125 is the Kneser–Ney upgrade of x92: the same ONE-row
        // (T, V) scalar attach on the scoring stream
        "x125_kn_lm",
        // x97 is x13's probe against the persisted quantizer — the
        // same recall-gate exact-scan broadcast shape
        "x97_ann_delta",
        // x83's ADC scan is the deliberate x5/x45 broadcast-scan shape
        // over the CODE relation (m·4 bytes/vector, not dim·4); x84's
        // own search is a cell-equality join, but its recall gate
        // embeds the same exact brute-force baseline as x6/x13
        "x83_ann_pq", "x84_ann_ivfpq",
        // x146 is x84 through the persisted IvfIndex — its own search
        // is a pruned cell-equality join (IvfIndexSpec asserts the
        // partition-pruned scan), but its recall gate embeds the same
        // exact brute-force baseline as x6/x13/x84
        "x146_ann_ivfpq_index",
        // x148 appends the delta into the index and probes through the
        // pruned lists; its recall gate embeds the exact baseline over
        // the union (the same deliberate brute-force scan)
        "x148_ann_index_append",
        // x100 rides x20's broadcast route verbatim — the same ONE-row
        // benchmark-gram-array attach (1×N dimension attach, never a
        // quadratic pair scan)
        "x100_contamination_score",
        // x101 attaches the ONE-row frozen rare-first dictionary to the
        // corpus (index build) and delta (probe) — x70/x87's bounded-
        // vocabulary broadcast; the pair join itself is gram-equality
        "x101_jaccard_delta",
        // x105 is the x5 deliberate broadcast scan: eval vectors attach
        // to every corpus row for the doc-local max-cosine flag
        "x105_sem_decontaminate",
        // x111 attaches the ONE-row sorted-vocab array to every doc
        // for the doc-local membership count (the x91 merge-table
        // broadcast pattern)
        "x111_oov_rate",
        // x114 attaches the ONE-row rare-first gram dictionary to each
        // doc for prefix ranking (x101's broadcast); the candidate
        // join itself is gram-equality
        "x114_containment",
        // x115 attaches x91's ONE-row merge table AND the ONE-row
        // sorted symbol universe (two bounded-vocabulary broadcasts)
        "x115_bpe_ids",
        // x118/x119 are the char-level twins: the ONE-row subword merge
        // table rides a broadcast for the per-word encode kernel, and
        // x119 adds the ONE-row sorted symbol universe (x115's pattern)
        "x118_bpe_char", "x119_bpe_char_ids",
        // x120/x121 are the byte-level twins of x118/x119 — identical
        // ONE-row merge-table (and, for x121, symbol-universe)
        // broadcast attaches
        "x120_bpe_byte", "x121_bpe_byte_ids",
        // x122 is x119 through the saved-artifact seam — same ONE-row
        // sorted-symbol-universe attach on the id assignment
        "x122_bpe_artifact_ids",
        // x117 attaches the ONE-row rare-first dictionary twice (index
        // build + frozen-order delta ranking) — x101's delta pattern
        "x117_containment_delta",
        // x107 is x5's scan over the label-FILTERED slice (the filter
        // pushes to the scan — asserted above)
        "x107_ann_filtered",
        // x151 is the JL distortion AUDIT: all pairs among a bounded
        // 40-row id-filtered sample (780 pairs at every SF) — the
        // broadcast sample×sample scan IS the workload, like x5
        "x151_rp_distortion")
    for ((name, q) <- SparkEntry.queries) {
      val p = q(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian")
      if (!nestedLoopByDesign(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join")
    }
  }

  test("x128 unigram encode and x131 k-means assignment are pure " +
    "projections: ZERO exchanges, zero joins — vocab/centroids ride " +
    "the plan as literals (and the WordPiece encode routes x137/x141 " +
    "inherit the same shape)") {
    for (name <- Seq("x128_unigram_encode", "x131_kmeans",
        "x137_wordpiece_ids", "x141_wpbert_ids")) {
      val p = plan(name)
      assert(p.linesIterator.count(_.contains("Exchange")) === 0,
        s"$name: $p")
      assert(!p.contains("Join"), s"$name: $p")
    }
  }

  test("x149 PII redaction, x150 random projection, and x152 keyword " +
    "tagging are pure projections: ZERO exchanges, zero joins — the " +
    "regex chain, sign matrix, and keyword automaton all ride the " +
    "plan as literals") {
    for (name <- Seq("x149_pii_redact", "x150_random_projection",
        "x152_keyword_tags")) {
      val p = plan(name)
      assert(p.linesIterator.count(_.contains("Exchange")) === 0,
        s"$name: $p")
      assert(!p.contains("Join"), s"$name: $p")
    }
  }

  test("x153 CDC chunking is a pure projection; x154 dup-chunks is " +
    "two map-side-combined hash aggregates — no Expand (countDistinct " +
    "avoided), no window, shuffle carries chunk keys only") {
    val p153 = plan("x153_cdc_chunks")
    assert(p153.linesIterator.count(_.contains("Exchange")) === 0, p153)
    assert(!p153.contains("Join"), p153)
    val p154 = plan("x154_cdc_dup_chunks")
    assert(p154.linesIterator.count(_.contains("Exchange")) === 2, p154)
    assert(!p154.contains("Expand") && !p154.contains("Join"), p154)
    assert(p154.contains("partial"), p154)
  }

  test("CDC family plans ZERO windows: boilerplate cap and canonical " +
    "pick are map-side-combinable aggregates + join-back (the " +
    "SpanDedup min-struct discipline) — a (fp,len)-keyed window would " +
    "buffer every occurrence of a hot boilerplate chunk in one " +
    "unsplittable task; pair joins stay key-equality on the chunk key") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    for (name <- Seq("x153_cdc_chunks", "x154_cdc_dup_chunks",
        "x155_cdc_overlap", "x156_cdc_delta", "x157_cdc_chunks_bounded",
        "x158_cdc_dup_stats")) {
      val exec = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan
      val windows = exec.collect {
        case w: WindowExec => w
        case w: WindowGroupLimitExec => w
      }
      assert(windows.isEmpty, s"$name plans a window:\n$exec")
      val p = exec.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), s"$name: $p")
    }
    // the pair-producing members still join key-equality on the chunk key
    for (name <- Seq("x155_cdc_overlap", "x156_cdc_delta")) {
      val p = plan(name)
      assert(p.contains("Join") && p.contains("fp"), s"$name: $p")
    }
  }

  test("key-banded pair families: each batch route is the posting-pair " +
    "kernel against no corpus, which plans as the plain self-join — no " +
    "Union, and the exchange count of the hand-written join it replaced") {
    // the exchange counts these queries planned before the kernel
    for ((name, exchanges) <- Seq("x2_dedup_minhash" -> 4,
        "x3_dedup_simhash" -> 2, "x155_cdc_overlap" -> 6,
        "x162_media_near_dedup" -> 4, "x164_media_frame_overlap" -> 7)) {
      val p = plan(name)
      assert(!p.contains("Union"), s"$name:\n$p")
      assert(p.linesIterator.count(_.contains("Exchange")) === exchanges,
        s"$name:\n$p")
    }
  }

  test("containment: the batch route is the containment kernel against " +
    "no corpus, which plans as the plain self-join — no Union — and both " +
    "routes keep the exchange counts of their hand-written joins") {
    // the exchange counts these queries planned before the kernel
    val p114 = plan("x114_containment")
    assert(!p114.contains("Union"), p114)
    assert(p114.linesIterator.count(_.contains("Exchange")) === 7, p114)
    val p117 = plan("x117_containment_delta")
    assert(p117.linesIterator.count(_.contains("Exchange")) === 19, p117)
  }

  test("x163 media delta: the deduped vector relation is computed once " +
    "per call, so the plan holds no per-side vector aggregate") {
    val p = plan("x163_media_dedup_delta")
    assert(!p.contains("first(v"), p)
    assert(p.linesIterator.count(_.contains("Exchange")) === 4, p)
  }

  test("x151 rp distortion: the audit sample broadcasts (no shuffled " +
    "self-join), and the id filter reaches the parquet scan") {
    val p = plan("x151_rp_distortion")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p) // bounded sample × sample
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters") && p.contains("LessThan(vec_id"), p)
  }

  test("x133 balanced sample: one exchange, map-side-combined heap " +
    "aggregate — never a per-cluster window sort") {
    val p = plan("x133_kmeans_sample")
    assert(p.linesIterator.count(_.contains("Exchange")) === 1, p)
    assert(!p.contains("WindowExec") && !p.contains("Window "), p)
    assert(p.contains("partial"), p) // map-side combine of the heap
  }

  test("scanOnly: a projection carrying a scalar subquery is not a " +
    "scan (its width probe would plan the subquery too)") {
    import graft.operators.Parallelism.scanOnly
    def analyzed(sql: String) = spark.sql(sql).queryExecution.analyzed
    assert(scanOnly(analyzed("select id from range(10) where id > 2")))
    assert(!scanOnly(analyzed(
      "select id, (select max(id) from range(3)) as m from range(10)")))
    assert(!scanOnly(analyzed(
      "select id from range(10) where id > (select min(id) from range(3))")))
  }

  test("no query plans a partition-less WindowExec (the single-task " +
    "global-sort plan; constant partition keys constant-fold to an " +
    "EMPTY spec, so this catches the whole lit-group bug class)") {
    // exactPercentilesGlobal replaced the constant-group window for
    // x46/x78 with the range-partition + driver-offset distributed
    // rank; every remaining window must carry real partition keys
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    for ((name, q) <- SparkEntry.queries) {
      val exec = q(spark, dir).queryExecution.executedPlan
      val global = exec.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty,
        s"$name plans a partition-less window:\n$exec")
    }
  }
}
