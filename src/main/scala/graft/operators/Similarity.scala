package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{PqExprs, VectorExprs}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths: brute-force cosine top-k (exact baseline — the query set is
  * broadcast, the corpus streams through one codegen'd projection), and a
  * random-hyperplane LSH variant (the 100 TB path: bucket equality join
  * prunes the corpus before any dot product is computed).
  */
object Similarity {

  /** Sequential left-to-right dot product (deterministic fp order) — a
    * native codegen'd expression, see [[graft.functions.DotProduct]].
    * Works directly on `array<float>` (each element widened to double),
    * so no interpreted element-wise cast pass is needed. */
  def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null (not NaN) when either vector has zero norm.
    * NaN would poison downstream ranking — Spark orders NaN above every
    * double, so a zero vector would win every top-k and pass every
    * threshold filter. Null rows sort last and fail filters instead. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom > 0, dot(a, b) / denom)
  }

  /** Semantic (embedding-level) decontamination: flag corpus vectors
    * whose max cosine against ANY eval-set vector reaches `threshold` —
    * the cross-set companion to [[semanticDedup]] (within-corpus) and
    * the embedding-space analog of [[Dedup.decontaminate]] (surface
    * n-grams miss paraphrased leakage; the benchmark answer rewritten
    * in different words still lands next to its source in embedding
    * space — the contamination n-gram decontamination cannot see).
    *
    * Scale shape: the eval side broadcasts ([[cosineTopK]]'s query
    * discipline — eval sets are benchmark-sized by nature) and the
    * corpus pays ONE scan: per row a doc-local max over eval cosines,
    * then a map-side-combinable max aggregate per id; no window, no
    * corpus shuffle beyond the id-keyed agg of (id, partial-max) rows.
    * For eval sets past broadcast size, compose the IVF route instead
    * (assign corpus to cells, probe cell-local — the [[ivfTopK]] shape).
    *
    * Output: idCol, `max_cos` (null when the corpus vector has zero
    * norm or the eval set is empty), `contaminated`. Corpus rows never
    * drop — this is a flagging pass; filter on `contaminated` to
    * quarantine. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(threshold > -1 && threshold <= 1,
      s"semanticDecontaminate: threshold must be in (-1, 1], got $threshold")
    // the per-row kernel is |eval| cosines — CPU-dense enough that a
    // single-task scan serializes the whole pass (round-17 Prof: 2.1 s
    // on 1 of 32 cores); fan the pruned corpus out first (§2.5 — inert
    // at production scan widths)
    val c = Parallelism.fanOutScan(
      corpus.select(col(idCol).as("_cid"), col(embCol).as("_cv")))
    val qs = evalSet.select(col(embCol).as("_qv"))
    // Plain broadcast cross join: corpus and eval are independent
    // relations with unrelated id namespaces, so no id predicate —
    // an id collision must NOT suppress the comparison (the contract
    // is "max cosine against ANY eval vector").
    val scored = c.crossJoin(broadcast(qs))
      .select(col("_cid"),
        round(cosine(col("_cv"), col("_qv")), 6).as("_cos"))
      .filter(col("_cos").isNotNull)
      .groupBy(col("_cid")).agg(max(col("_cos")).as("max_cos"))
    c.select(col("_cid")).join(scored, Seq("_cid"), "left")
      .select(col("_cid").as(idCol), col("max_cos"),
        coalesce(col("max_cos") >= threshold, lit(false))
          .as("contaminated"))
  }

  /** Exact top-k neighbors for each query vector (brute force baseline).
    * The (small) query set is broadcast; similarity is computed in one
    * pass over the corpus; per-query ranking sorts only corpus×|queries|
    * rows pre-pruned by row_number. Cosine is rounded to 6 dp to make the
    * output engine-portable. */
  def cosineTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // NO fan-out here (round-17 A/B): the recall-gate callers pass ≤ 5
    // queries, so the per-row kernel is ~5 cosines — too cheap for the
    // repartition (x5 0.19→0.28 s, x84/x146 regressed when tried).
    // semanticDecontaminate (200-vector eval side, heavy per row) fans
    // out in its own body where it measured 1.43→0.68 s.
    val corpus = embeddings.select(col(idCol).as("vec_id"),
      col(embCol).as("v"))
    val qs = queries.select(col(idCol).as("query_id"),
      col(embCol).as("qv"))
    val scored = corpus.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cosine"))
      // zero-norm rows (null cosine) are not neighbors — excluding them
      // here keeps ranks dense over real candidates
      .filter(col("cosine").isNotNull)
    topPerQuery(scored, "cosine", k)
  }

  /** Per-group embedding centroids (mean pooling) — cluster/source
    * summaries, the reduce step of diversity analysis and of rebuilding
    * an IVF-style coarse quantizer from labeled data. Output is
    * RELATIONAL — one row per (group, dimension): `grp`, `pos`,
    * `mean_val` (rounded to 6 dp), `n` — so a centroid is never one
    * array row and the result joins/pivots without array-equality
    * plumbing.
    *
    * Scale shape: posexplode fans each vector into dim rows map-side,
    * but the partial aggregate combines them to (groups × dim) partial
    * rows per partition BEFORE the exchange — the shuffle carries group
    * cardinality × dim, never N × dim. Vectors that are null or contain
    * null elements are excluded (the [[ivfTopK]] convention: nulls are
    * non-members, not zeros). */
  def groupCentroids(embeddings: DataFrame, groupCol: String,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    embeddings
      .filter(col(embCol).isNotNull && !exists(col(embCol), _.isNull))
      .select(col(groupCol).as("grp"),
        posexplode(col(embCol)).as(Seq("pos", "x")))
      .groupBy(col("grp"), col("pos"))
      .agg(round(avg(col("x")), 6).as("mean_val"),
        count(lit(1)).as("n"))

  /** Distance-to-centroid outlier flagging per group: for every vector,
    * its Euclidean distance to the group's (unrounded) mean-pool
    * centroid and the z-score of that distance within the group —
    * the standard embedding-space screen for mislabeled/junk documents
    * before training. Output: idCol, `grp`, `dist`, `z` (both rounded
    * to 6 dp; `z` null when the group's distance spread is zero or the
    * group is a singleton), `is_outlier` (= z > zThreshold, false when
    * z is null).
    *
    * Scale shape: centroids reduce to (groups × dim) rows (the
    * [[groupCentroids]] exchange), collapse to one ARRAY per group
    * (group-count rows — broadcastable by definition), and ride a
    * broadcast hash join back onto the corpus; the distance is then a
    * doc-local zip fold, and the z-statistics are one more
    * group-cardinality aggregate joined back the same way. The corpus
    * itself is never shuffled — scans, broadcasts, and
    * group-cardinality exchanges only. */
  def centroidOutliers(embeddings: DataFrame, groupCol: String,
      zThreshold: Double = 3.0, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val e = embeddings
      .filter(col(embCol).isNotNull && !exists(col(embCol), _.isNull))
      .select(col(idCol), col(groupCol).as("grp"), col(embCol).as("v"))
    val cents = e
      .select(col("grp"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("grp"), col("pos")).agg(avg(col("x")).as("m"))
      .groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        p => p.getField("m")).as("cent"))
    val dists = e.join(broadcast(cents), Seq("grp"))
      .select(col(idCol), col("grp"),
        sqrt(aggregate(
          zip_with(col("v"), col("cent"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, t) => acc + t)).as("dist"))
    val stats = dists.groupBy(col("grp"))
      .agg(avg(col("dist")).as("mu"), stddev_samp(col("dist")).as("sigma"))
    dists.join(broadcast(stats), Seq("grp"))
      .select(col(idCol), col("grp"), round(col("dist"), 6).as("dist"),
        when(col("sigma") > 0,
          round((col("dist") - col("mu")) / col("sigma"), 6)).as("z"))
      .withColumn("is_outlier",
        coalesce(col("z") > zThreshold, lit(false)))
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * path for corpus-scale vector stores (4× smaller than float32,
    * 8× smaller than float64; ADC-style scoring reads codes, not
    * floats). Per vector: `amax = max |x_i|`, `scale = amax / 127`,
    * `codes_i = round(x_i / amax · 127)` — so dequantization is
    * `code · scale` with per-element error ≤ scale/2. A zero vector
    * (amax = 0) quantizes to all-zero codes with scale 0. All
    * arithmetic is in double on both engines (float/float division
    * would diverge between Spark, which widens, and engines that
    * don't), making codes bit-replayable by the oracle.
    *
    * Scale shape: a pure doc-local projection — zero shuffle at any
    * corpus size. Vectors that are null, empty, or contain null
    * elements are excluded (the [[ivfTopK]] convention). NaN elements
    * are out of contract (engines disagree on NaN > 0).
    *
    * Output: idCol, `scale` (double), `codes` (array<tinyint>). */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val v = col(embCol)
    embeddings
      .filter(v.isNotNull && size(v) > 0 && !exists(v, _.isNull))
      .withColumn("_amax", array_max(transform(v, x => abs(x))))
      .select(col(idCol),
        when(col("_amax") > 0, col("_amax").cast("double") / 127)
          .otherwise(0.0).as("scale"),
        when(col("_amax") > 0,
          transform(v, x =>
            round(x.cast("double") / col("_amax").cast("double") * 127)
              .cast("tinyint")))
          .otherwise(transform(v, _ => lit(0).cast("tinyint")))
          .as("codes"))
  }

  /** Brute-force top-k over the int8 CODES from [[quantizeInt8]] — the
    * scan path of a quantized vector store: scoring reads 1/4 the bytes
    * of the float corpus. Because the quantization is symmetric, the
    * per-vector scales cancel in cosine — `cos(s_q·q, s_c·c) =
    * Σq_i·c_i / (√Σq_i² · √Σc_i²)` — so scoring is EXACT integer
    * arithmetic (64-dim int8 dots stay far below 2⁵³) up to one final
    * IEEE division + sqrt, making results bit-replayable across engines
    * and partitionings (no fp summation order anywhere). Approximation
    * error comes only from the quantization itself.
    *
    * Scale shape: identical to [[cosineTopK]] — query codes broadcast,
    * one pass over the corpus codes, per-query row_number top-k.
    * All-zero-code vectors (zero norm) are not neighbors, mirroring the
    * null-cosine convention. */
  def quantizedCosineTopK(embeddings: DataFrame, queries: DataFrame,
      k: Int = 10, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, t) => acc + t)
    def side(df: DataFrame, id: String, cv: String, nc: String) =
      quantizeInt8(df, idCol, embCol)
        .select(col(idCol).as(id), col("codes").as(cv))
        .withColumn(nc, idot(col(cv), col(cv)))
        .filter(col(nc) > 0)
    val corpus = side(embeddings, "vec_id", "cv", "_nc")
    val qs = side(queries, "query_id", "qcv", "_nq")
    val scored = corpus.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(idot(col("qcv"), col("cv")).cast("double") /
          (sqrt(col("_nq").cast("double")) * sqrt(col("_nc").cast("double"))),
          6).as("qcosine"))
    topPerQuery(scored, "qcosine", k)
  }

  /** Embedding near-duplicate pairs within a blocking key (exact within
    * block; SQL-expressible for the oracle). */
  def cosineDedupBlocked(embeddings: DataFrame, blockCol: String,
      threshold: Double, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"), col(blockCol).as("blk"),
      col(embCol).as("v"))
    e.as("a")
      .join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Recall gate for an approximate top-k result against the exact
    * brute-force top-k: one row per query with the exact k-th cosine
    * (the data-derived anchor an oracle can recompute independently)
    * and a boolean `recall_ok` = fraction of exact top-k neighbors the
    * approximate result recovered ≥ `floor`.
    *
    * This is how the hash-seeded ANN paths become oracle-checkable: the
    * approximate neighbor LIST depends on engine-internal seeds no SQL
    * engine can replay, but the recall floor is an engine-independent
    * quantitative contract — the oracle recomputes the query set and
    * the exact k-th cosine from the data and asserts `recall_ok` true
    * for every query, so any seed drift or recall regression flips the
    * hash compare red. */
  def recallGate(approx: DataFrame, exact: DataFrame,
      floor: Double): DataFrame = {
    val hits = exact.select(col("query_id"), col("vec_id"))
      .join(approx.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val base = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), min(col("cosine")).as("kth_cosine"))
    base.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("kth_cosine"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact").cast("double") >= floor).as("recall_ok"))
  }

  // ---- LSH (random hyperplane) ANN -------------------------------------

  /** Deterministic random hyperplanes (seeded engine constants). */
  private def planes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit bucket id from nBits hyperplane projections. A vector
    * whose width disagrees with `dim` fails loudly — a null projection
    * would silently map every vector to bucket 0, degrading the bucket
    * join into a cross join. */
  def lshBucket(v: Column, nBits: Int, dim: Int): Column = {
    val bits = planes(nBits, dim).zipWithIndex.map { case (p, i) =>
      val proj = dot(v, typedlit(p))
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    val guard = when(size(v) === dim, lit(0L))
      .otherwise(raise_error(concat(
        lit(s"lshBucket: embedding dim mismatch, expected $dim got "),
        size(v).cast("string"))).cast("long"))
    bits.bitwiseOR(guard)
  }

  // ---- Random projection (Johnson–Lindenstrauss sign sketch) -----------

  /** The ±1 sign matrix entry at (input dim `i`, output dim `j`) is
    * defined in [[graft.functions.RpOps.signMatrix]]: two affine+SQUARE
    * rounds mod the Mersenne prime 2^31−1, parity of the result:
    * {{{ x = 131·i + j + 17
    *     y = (48271·x + 11) mod p ;  z = y² mod p
    *     w = (48271·z + 17) mod p ;  u = w² mod p
    *     sign = −1 if u odd else +1 }}}
    * The squares are the load-bearing part: any purely AFFINE scheme
    * (LCG bit extraction included) makes each matrix column an
    * arithmetic progression mod p, whose parity bits are strongly
    * cross-correlated — measured mean |column correlation| 0.49 with
    * duplicate columns, vs 0.097 for true random signs; the quadratic
    * rounds measure 0.097/0.119 (matching random) on the 64×32 matrix.
    * All intermediates stay < 2^62, so the arithmetic is EXACT BIGINT
    * in both engines and the matrix is a shared constant the SQL
    * oracle replays literally — never a shipped artifact.
    * (KeywordSpec recovers the matrix via basis-vector projections and
    * asserts non-degeneracy, so the affine bug class cannot return.)
    *
    * Dense sign random projection of one `array<float>` vector to
    * `kOut` dimensions (Achlioptas 2003: ±1/√k entries preserve inner
    * products in expectation — the database-friendly JL transform).
    * Per output dim: a left-folded IEEE sum of (widened element ×
    * ±1.0), then ONE division by √kOut — the oracle evaluates the
    * identical shape, so values agree to the 6-dp gate rounding.
    *
    * Scale shape: a pure projection — zero shuffle at any corpus
    * width. The point at 100 TB is everything DOWNSTREAM of it: a
    * 64→16 projection cuts every later dot product, shuffle row and
    * broadcast byte by 4× while JL keeps relative similarity in the
    * regime [[rpDistortion]] quantifies.
    * A vector whose width disagrees with `dIn` fails loudly (the
    * [[lshBucket]] discipline) — a silent null would vanish from
    * every downstream ranking. */
  def randomProjectVec(v: Column, dIn: Int, kOut: Int): Column = {
    require(dIn > 0, s"randomProjectVec: dIn must be positive, got $dIn")
    // upper bound mirrors VectorExprs.randomProject: the sign-matrix seed
    // stride is 131, so kOut > 131 would reuse row-shifted sign columns
    require(kOut > 0 && kOut <= 131,
      s"randomProjectVec: kOut must be in [1, 131], got $kOut")
    // one primitive-loop codegen kernel per row (the DotProduct
    // discipline): bit-identical to the higher-order aggregate
    // formulation it replaced — same left fold, same single division —
    // but without dIn×kOut interpreted lambda evaluations per row
    // (SCALE.md records the x150 measurement); width mismatch still
    // fails loudly
    VectorExprs.randomProject(v, dIn, kOut)
  }

  /** Relational random-projection gate surface: one row per
    * (`vec_id`, `rp_dim`, `rp_val` rounded to 6 dp). */
  def randomProject(df: DataFrame, dIn: Int, kOut: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("vec_id"),
        posexplode(randomProjectVec(col(embCol), dIn, kOut)))
      .select(col("vec_id"), col("pos").cast("int").as("rp_dim"),
        round(col("col"), 6).as("rp_val"))

  /** Johnson–Lindenstrauss distortion audit: for every pair among the
    * `sampleIds` lowest-id vectors, the cosine in the original space,
    * the cosine after [[randomProjectVec]] to `kOut` dims, and their
    * absolute gap — the measurement a pipeline runs BEFORE deciding a
    * projection width. (On this corpus it is also why no RP *prefilter*
    * operator ships: at dIn=64 the JL noise σ ≈ 1/√kOut exceeds the
    * rank-10/rank-100 cosine margin at every compressive kOut, so a
    * projected shortlist cannot clear a recall floor — measured sweep
    * in SCALE.md; the quantizer-based routes (IVF/PQ, recall 1.00)
    * are the ANN path. RP earns its place where dIn is large or as
    * cheap downstream features — this audit quantifies exactly that.)
    *
    * Scale shape: the pair set is bounded (`sampleIds`² — an audit
    * sample, not the corpus), projections are per-row expressions, and
    * the self-join broadcasts the sample: zero corpus shuffle. */
  def rpDistortion(embeddings: DataFrame, sampleIds: Int,
      dIn: Int, kOut: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(sampleIds > 1,
      s"rpDistortion: sampleIds must be > 1, got $sampleIds")
    val s = embeddings.filter(col(idCol) < sampleIds)
      .select(col(idCol).as("_id"), col(embCol).as("_v"),
        randomProjectVec(col(embCol), dIn, kOut).as("_rp"))
    val a = s.select(col("_id").as("vec_a"), col("_v").as("_va"),
      col("_rp").as("_rpa"))
    val b = s.select(col("_id").as("vec_b"), col("_v").as("_vb"),
      col("_rp").as("_rpb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("_va"), col("_vb")), 6).as("cos_full"),
        round(cosine(col("_rpa"), col("_rpb")), 6).as("cos_proj"))
      .withColumn("abs_err",
        round(abs(col("cos_full") - col("cos_proj")), 6))
  }

  // ---- IVF (inverted-file, k-means coarse quantizer) ANN ---------------

  /** Bounded, DETERMINISTIC training sample shared by every index-build
    * path — the index-build step every IVF/PQ system has. The row cap
    * is the MIN of `trainSample` and however many rows fit the
    * `maxTrainBytes` byte budget at the corpus's embedding width
    * (probed from one row), so index-build cost is robust to WIDE
    * embeddings, not just long corpora. Sample = the cap smallest-id
    * rows of the dominant (first-row) dimensionality — a total order,
    * so retraining on the same corpus reproduces the index bit for
    * bit. Returns the sample PLAN (`_id`, `_v` array&lt;double&gt;,
    * id-ascending — a distributed TakeOrdered, one corpus pass) and
    * the dim; [[trainCenters]] collects it exactly once. The byte
    * budget is honest: rows are costed at their collected width
    * (8 bytes/component double), so the driver holds ≤ maxTrainBytes
    * of sample plus one quantized copy per training spec — ≤ ~2× the
    * budget even for an IVF+PQ build. The dominant dimensionality is
    * probed from the SMALLEST-id row — the same total order the
    * sample itself uses — so a mixed-dimensionality corpus trains a
    * deterministic index, not one keyed to whichever row a scan
    * returns first. `corpus` must carry (vec_id, v) with nulls
    * excluded. */
  private def trainFrame(corpus: DataFrame, trainSample: Int,
      maxTrainBytes: Long, what: String): (DataFrame, Int) = {
    require(trainSample >= 1,
      s"$what: trainSample must be >= 1, got $trainSample")
    val vecs = corpus.select(col("vec_id").as("_id"),
      col("v").cast("array<double>").as("_v"))
    val head = vecs.orderBy(col("_id")).limit(1).select(col("_v")).collect()
    require(head.nonEmpty, s"$what: cannot train on an empty corpus")
    val dim = math.max(head(0).getSeq[Double](0).length, 1)
    val rowsInBudget = maxTrainBytes / (8L * dim)
    require(rowsInBudget >= 1,
      s"$what: maxTrainBytes=$maxTrainBytes holds zero dim-$dim vectors " +
        s"(${8L * dim} bytes each) — raise maxTrainBytes to at least " +
        s"${8L * dim}")
    val cap = math.min(trainSample.toLong, rowsInBudget).toInt
    (vecs.filter(size(col("_v")) === dim)
      .orderBy(col("_id")).limit(cap), dim)
  }

  /** Train one or more quantizers over a [[trainFrame]] sample through
    * the ONE Lloyd implementation ([[KMeans.lloydIterateLocal]] — the
    * driver-resident face of [[KMeans.lloydIterate]], provably
    * bit-identical; see its doc). Each spec is an (offset, length, k)
    * SLICE of the embedding (offset 0 / full length = a coarse
    * quantizer; the m dsub-wide slices = PQ codebooks), all advancing
    * together — the sample is collected ONCE (bounded, byte-budgeted)
    * and 10 in-memory passes replace 10 aggregate jobs. Seeds are the
    * k smallest-id sample rows, sliced per spec and quantized exactly
    * as [[KMeans.quantized]] does — the [[KMeans.trainCentroids]] seed
    * rule, so ANN quantizers and the k-means operator share one
    * deterministic training path. Returns per-spec centroid matrices
    * DEQUANTIZED to input units (÷2^20 — exact, a power of two), the
    * domain the search expressions score in. */
  private def trainCenters(sample: DataFrame,
      specs: Seq[(Int, Int, Int)], what: String,
      iters: Int = 10): Seq[Array[Array[Double]]] = {
    val kMax = specs.map(_._3).max
    // ONE bounded collect: rows arrive id-ascending (the trainFrame
    // TakeOrdered), so the seed prefix is just the first kMax rows
    val rows = sample.select(col("_v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.length >= kMax,
      s"$what: sample ${rows.length} smaller than the largest " +
        s"quantizer k=$kMax")
    def quantSlice(r: Array[Double], off: Int, len: Int): Array[Double] = {
      // floor(v · 2^20) on doubles — the exact IEEE sequence of
      // KMeans.quantized, JVM-side
      val out = new Array[Double](len)
      var d = 0
      while (d < len) {
        out(d) = math.floor(r(off + d) * KMeans.Scale)
        d += 1
      }
      out
    }
    val seeds: Seq[Seq[Seq[Double]]] = specs.map { case (off, len, k) =>
      rows.take(k).map(r => quantSlice(r, off, len).toSeq).toSeq
    }
    val vecs = new Array[(Int, Array[Double])](rows.length * specs.length)
    var i = 0
    var t = 0
    while (i < rows.length) {
      var g = 0
      while (g < specs.length) {
        val (off, len, _) = specs(g)
        vecs(t) = (g, quantSlice(rows(i), off, len))
        t += 1
        g += 1
      }
      i += 1
    }
    KMeans.lloydIterateLocal(vecs, seeds, iters)
      .map(_.map(_.map(_ / KMeans.Scale).toArray).toArray)
  }

  /** The corpus side of every IVF/PQ relation: (vec_id, v). Null
    * vectors AND vectors with null elements are non-members
    * (cosineTopK semantics) — `size()` counts null elements, so such a
    * vector would pass the dim guard, get a null distance to every
    * centroid and land in an arbitrary cell (nulls-first sort). */
  private[graft] def vectors(embeddings: DataFrame, idCol: String,
      embCol: String): DataFrame =
    embeddings.select(col(idCol).as("vec_id"), col(embCol).as("v"))
      .filter(col("v").isNotNull && !exists(col("v"), _.isNull))

  /** A trained product quantizer: the flattened [j][c][d] codebook of
    * `m` sub-spaces × `ksub` centroids × `dsub` components. */
  private[graft] final case class Pq(cb: Array[Double], m: Int, ksub: Int,
      dsub: Int)

  /** The one IVF/PQ training step, shared by [[ivfTopK]] and
    * [[IvfIndex.build]]: the coarse quantizer and, for `m > 0`, all m
    * dsub-wide PQ codebooks advance in ONE grouped Lloyd run over one
    * [[trainFrame]] sample — one bounded collect, not 1 + m trainers.
    * Groups train independently, so the codebooks do not depend on
    * `nLists`. `m = 0` trains the coarse quantizer only. */
  private[operators] def trainIvf(corpus: DataFrame, nLists: Int, m: Int,
      ksub: Int, trainSample: Int, maxTrainBytes: Long,
      what: String): (Array[Array[Double]], Option[Pq]) = {
    require(m >= 0, s"$what: m must be >= 0, got $m")
    require(m == 0 || ksub >= 2,
      s"$what: need ksub >= 2 for a PQ search, got $ksub")
    val (sample, dim) = trainFrame(corpus, trainSample, maxTrainBytes, what)
    require(m == 0 || dim % m == 0,
      s"$what: dim $dim is not divisible by m=$m")
    val dsub = if (m > 0) dim / m else 0
    val subspaces = (0 until m).map(j => (j * dsub, dsub, ksub))
    val all = trainCenters(sample, (0, dim, nLists) +: subspaces, what)
    (all.head, Option.when(m > 0)(
      Pq(all.tail.flatMap(_.flatten.toSeq).toArray, m, ksub, dsub)))
  }

  /** The candidate relation of a corpus under a trained quantizer:
    * (vec_id, v, cell[, codes]) — the nearest-centroid cell and, with a
    * PQ, the m sub-space codes, in one codegen projection. */
  private[graft] def assign(corpus: DataFrame,
      centers: Array[Array[Double]], pq: Option[Pq],
      what: String): DataFrame = {
    val cell = element_at(cellsRankedExpr(col("v"), centers, what), 1)("cell")
    // guard BEFORE encode: PqOps.encode reads dim doubles unchecked, so
    // a mismatched row must raise from the encode input itself — relying
    // on the cell column's raise_error firing first would couple
    // correctness to projection evaluation order
    val codes = pq.map(p => PqExprs.encode(
      dimGuarded(col("v").cast("array<double>"), centers(0).length, what),
      p.cb, p.m, p.ksub, p.dsub).as("codes"))
    corpus.select(Seq(col("vec_id"), col("v"), cell.as("cell")) ++ codes: _*)
  }

  /** Approximate top-k through an IVF (inverted-file) index trained in
    * the plan — the recompute route; [[IvfIndex.search]] is the same
    * search over a persisted index. A k-means coarse quantizer
    * partitions the corpus into `nLists` cells and each query scores
    * only the candidates of its probed cells.
    *
    *   - `m = 0`: candidates are ranked by exact cosine (`cosine`).
    *   - `m > 0`: product quantization — candidates are scored from
    *     m-code rows via the per-query ADC table (`pq_cosine`), so the
    *     scan reads m·4 bytes per vector instead of dim·4; dim must
    *     divide by m. `nLists = 1, nProbe = 1` is the brute-force ADC
    *     scan (every non-self vector is a candidate).
    *   - `rerank > 0` (needs `m > 0`; recommended ≥ 4·k) adds the IVFADC
    *     refinement: the per-query ADC top-`rerank` shortlist is
    *     re-scored with exact cosine against the raw vectors and the
    *     exact order cuts to k — recall recovery at a cost ∝
    *     queries·rerank exact distances, not more cell probing. The
    *     score column is then `cosine`.
    *   - `probeMass > 0` switches probing from the fixed `nProbe`
    *     nearest cells to ADAPTIVE coverage: each query walks its
    *     nearest-cell ranking until the probed cells' cumulative
    *     corpus mass (the inverted-list lengths, one bounded nLists-row
    *     aggregate) reaches `probeMass` of the indexed vectors, bounded
    *     below by `nProbe` and above by `nProbeMax` (0 ⇒ nLists) — the
    *     scored-candidate budget is ≈ probeMass · corpus for EVERY
    *     query instead of nProbe/nLists on average.
    *
    * Scale shape: training is the bounded deterministic driver sample
    * ([[trainIvf]]); assignment and encoding are one codegen projection;
    * the probe is a cell-equality join against the broadcast probe set.
    * Seed-dependent like the other ANN paths → verified through
    * [[recallGate]]. Deterministic (smallest-id sample + seed rule). */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      nLists: Int = 16, nProbe: Int = 4, m: Int = 0, ksub: Int = 16,
      trainSample: Int = 100000, idCol: String = "vec_id",
      embCol: String = "embedding",
      maxTrainBytes: Long = 64L << 20, rerank: Int = 0,
      probeMass: Double = 0.0, nProbeMax: Int = 0): DataFrame = {
    val corpus = vectors(embeddings, idCol, embCol)
    val (centers, pq) = trainIvf(corpus, nLists, m, ksub, trainSample,
      maxTrainBytes, "ivfTopK")
    // adaptive-mass probing consumes the assignment twice (cell-mass
    // aggregate now, candidate join at action time) — materialize the
    // assign+encode kernel once, fanned out across cores BEFORE the
    // kernel runs, instead of paying the corpus pass per consumer (the
    // fan-out is inert at production scan widths; without probeMass
    // there is one consumer and the lazy plan is already minimal)
    val assigned =
      if (probeMass <= 0.0) assign(corpus, centers, pq, "ivfTopK")
      else Materialize.eager(
        assign(Parallelism.fanOutScan(corpus), centers, pq, "ivfTopK"))
    def cellMasses: Array[Long] = {
      val n = assigned.groupBy(col("cell")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      Array.tabulate(nLists)(i => n.getOrElse(i, 0L))
    }
    probeTopK(queries, centers, pq, _ => assigned, cellMasses, k, nProbe,
      nProbeMax, probeMass, rerank, idCol, embCol, "ivfTopK")
  }

  /** The one IVF/PQ search kernel behind [[ivfTopK]] and
    * [[IvfIndex.search]]; its branches depend only on its inputs.
    *
    * Probe selection runs on the query side: the `nProbe` nearest
    * cells, or — `probeMass > 0` — the adaptive walk over the per-cell
    * `cellMasses` (evaluated only then) bounded by `nProbeMax`. `lists`
    * maps that probe relation (query_id, q, cell, …) to the candidate
    * relation (vec_id, v, cell[, codes]), which joins the broadcast
    * probes on cell equality; each vector has one cell and the probed
    * cells are distinct, so a (query, vec) pair matches at most once.
    * Scoring is exact `round(cosine, 6)` without a codebook and ADC
    * `pq_cosine` with one; `rerank > 0` re-scores the ADC shortlist
    * with exact cosine over the CANDIDATES' raw vectors (a shortlist
    * row lives in a probed cell by construction). A null ADC score
    * (zero-norm query or reconstruction) drops the pair; a null exact
    * cosine (zero-norm vector) ranks last. Output: query_id, vec_id,
    * the score column, `rnk` ≤ k. */
  private[graft] def probeTopK(queries: DataFrame,
      centers: Array[Array[Double]], pq: Option[Pq],
      lists: DataFrame => DataFrame, cellMasses: => Array[Long], k: Int,
      nProbe: Int, nProbeMax: Int, probeMass: Double, rerank: Int,
      idCol: String, embCol: String, what: String): DataFrame = {
    val nLists = centers.length
    require(nProbe >= 1 && nProbe <= nLists,
      s"$what: need 1 <= nProbe <= nLists, got $nProbe/$nLists")
    require(rerank == 0 || rerank >= k,
      s"$what: rerank must be 0 (off) or >= k, got $rerank vs k=$k")
    require(rerank == 0 || pq.isDefined,
      s"$what: rerank re-scores PQ codes exactly and needs m > 0 — " +
        "with m = 0 every score is already exact")
    require(probeMass >= 0.0 && probeMass <= 1.0,
      s"$what: probeMass must be in [0,1], got $probeMass")
    val pMax = if (nProbeMax <= 0) nLists else nProbeMax
    require(pMax >= nProbe && pMax <= nLists,
      s"$what: need nProbe <= nProbeMax <= nLists, got " +
        s"$nProbe/$pMax/$nLists")
    def nearest(n: Int): Column =
      slice(cellsRankedExpr(col("q"), centers, what), 1, n)("cell")
    val probeCells =
      if (probeMass <= 0.0) nearest(nProbe)
      else {
        val massByCell = cellMasses
        val target = math.ceil(probeMass * massByCell.sum).toLong
        val massLit = typedlit(massByCell.toSeq)
        val rankedCells = nearest(pMax)
        val masses = transform(rankedCells,
          c => coalesce(get(massLit, c), lit(0L)))
        val idxs = sequence(lit(0), size(masses) - 1)
        // prefix sums over ≤ nLists entries (bounded, per query row)
        val cums = transform(idxs, i =>
          aggregate(slice(masses, lit(1), i + 1), lit(0L), (a, x) => a + x))
        val needed = coalesce(
          element_at(filter(idxs, i => get(cums, i) >= lit(target)), 1) + 1,
          size(cums))
        slice(rankedCells, lit(1), greatest(needed, lit(nProbe)))
      }
    // probe from the query side's own embeddings: external query
    // vectors (ids absent from the corpus) are first-class
    val qs = queries
      .select(col(idCol).as("query_id"), col(embCol).as("q"))
      .filter(col("q").isNotNull && !exists(col("q"), _.isNull))
      .select(col("query_id"),
        dimGuarded(col("q"), centers(0).length, what).as("q"))
    // the ADC table and query norm: once per probe row, query side
    val adc = pq.toSeq.flatMap(p => Seq(
      PqExprs.table(col("q").cast("array<double>"), p.cb, p.m, p.ksub,
        p.dsub).as("qt"),
      sqrt(VectorExprs.dot(col("q"), col("q"))).as("qnorm")))
    val probes = qs.select(
      Seq(col("query_id"), col("q"), explode(probeCells).as("cell")) ++ adc: _*)
    val cand = lists(probes)
    val (score, scoreCol) = pq match {
      case None => ("cosine", round(cosine(col("p.q"), col("c.v")), 6))
      case Some(p) => ("pq_cosine", PqExprs.cosine(col("c.codes"),
        col("p.qt"), col("p.qnorm"), pqSqNorms(p), p.m, p.ksub))
    }
    val pairs = cand.as("c").join(broadcast(probes).as("p"),
        col("c.cell") === col("p.cell") &&
          col("c.vec_id") =!= col("p.query_id"))
      .select(col("p.query_id").as("query_id"),
        col("c.vec_id").as("vec_id"), scoreCol.as(score))
    // the ADC null filter lands in the join condition, which also makes
    // the codes evaluate once per corpus row instead of once per matched
    // probe row; exact scores skip it — a second cosine per pair costs
    // more than ranking the rare zero-norm vector last
    val scored = if (pq.isEmpty) pairs else pairs.filter(col(score).isNotNull)
    if (rerank <= 0) topPerQuery(scored, score, k)
    else {
      val short = topPerQuery(scored, score, rerank)
        .select(col("query_id"), col("vec_id"))
      val exact = cand.select(col("vec_id"), col("v"))
        .join(broadcast(short), Seq("vec_id"))
        .join(broadcast(qs), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(cosine(col("v"), col("q")), 6).as("cosine"))
        .filter(col("cosine").isNotNull)
      topPerQuery(exact, "cosine", k)
    }
  }

  /** The rank window of every top-k route: per query, the `n` best
    * `score`s, ties broken by `vec_id`, with their rank `rnk`. */
  private def topPerQuery(scored: DataFrame, score: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(score).desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= n)
  }

  /** Bounded validating collect of a persisted (j, c, pos, cval)
    * codebook relation: it must be DENSE (exactly m·ksub·dsub rows) — a
    * truncated or mixed artifact fails loudly. The geometry is inferred
    * from the relation's shape. */
  private[operators] def collectCodebooks(codebooks: DataFrame,
      what: String): Pq = {
    val rows = codebooks.select(col("j").cast("int"), col("c").cast("int"),
      col("pos").cast("int"), col("cval").cast("double")).collect()
    require(rows.nonEmpty, s"$what: empty codebook relation")
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        !r.isNullAt(2) && !r.isNullAt(3)),
      s"$what: null codebook component — the relation/artifact is corrupt")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val dsub = rows.map(_.getInt(2)).max + 1
    require(rows.length == m * ksub * dsub,
      s"$what: ${rows.length} rows != $m*$ksub*$dsub — " +
        "not a dense codebook relation")
    val cb = new Array[Double](m * ksub * dsub)
    rows.foreach { r =>
      cb((r.getInt(0) * ksub + r.getInt(1)) * dsub + r.getInt(2)) =
        r.getDouble(3)
    }
    Pq(cb, m, ksub, dsub)
  }

  /** Per-centroid squared norms of a codebook. */
  private def pqSqNorms(p: Pq): Array[Double] =
    Array.tabulate(p.m * p.ksub) { jc =>
      var s = 0.0
      for (d <- 0 until p.dsub) {
        val x = p.cb(jc * p.dsub + d); s += x * x
      }
      s
    }

  /** Raise-on-mismatch embedding guard: the uniform ANN contract (same
    * as [[cellsRankedExpr]] / [[lshBucket]]) — a vector whose width
    * disagrees with the trained dimension fails loudly instead of
    * being silently dropped or read out of bounds. */
  private def dimGuarded(v: Column, dim: Int,
      what: String): Column =
    when(size(v) === dim, v).otherwise(raise_error(concat(
      lit(s"$what: embedding dim mismatch, expected $dim got "),
      size(v).cast("string"))))

  /** The trained IVF coarse quantizer as a relation in the
    * [[KMeans.trainCentroids]] format — (`cluster` int, `centroid`
    * array&lt;double&gt;, QUANTIZED units), trained through the same
    * [[KMeans]] path (bounded deterministic [[trainFrame]] sample, k
    * smallest-id seeds, exact-integer Lloyd updates), so it equals
    * [[KMeans.trainCentroids]] bit for bit on the same sample and
    * [[KMeans.saveCentroids]] persists it verbatim — the quantizer
    * artifact format of [[IvfIndex]]. */
  private[graft] def ivfCentroids(embeddings: DataFrame, nLists: Int = 16,
      trainSample: Int = 100000, embCol: String = "embedding",
      maxTrainBytes: Long = 64L << 20, idCol: String = "vec_id",
      iters: Int = 10): DataFrame = {
    val (sample, dim) = trainFrame(vectors(embeddings, idCol, embCol),
      trainSample, maxTrainBytes, "ivfCentroids")
    centroidRelation(embeddings.sparkSession, trainCenters(sample,
      Seq((0, dim, nLists)), "ivfCentroids", iters).head)
  }

  /** Requantize (×2^20 — the exact inverse of [[trainCenters]]'
    * dequantize) into the KMeans quantized-unit centroid relation. */
  private[operators] def centroidRelation(spark: SparkSession,
      centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex.map { case (c, i) =>
      (i, c.map(_ * KMeans.Scale).toSeq)
    }.toSeq.toDF("cluster", "centroid")
  }

  /** Ranked (distance, cell) array per vector — the coarse-quantizer
    * assignment expression of every IVF path. The centroid matrix
    * rides in the plan as literals; a row whose embedding width
    * disagrees with the trained dimension fails loudly instead of
    * silently collapsing into one cell (a null dot product would rank
    * every centroid equal). */
  private def cellsRankedExpr(v: Column,
      centers: Array[Array[Double]], what: String): Column = {
    val dim = centers(0).length
    def dist2(c: Array[Double]): Column =
      VectorExprs.dot(v, v) - lit(2.0) * VectorExprs.dot(v, typedlit(c.toSeq)) +
        lit(c.map(x => x * x).sum)
    val ranked = sort_array(array(centers.zipWithIndex.map { case (c, i) =>
      struct(dist2(c).as("d"), lit(i).as("cell"))
    }: _*))
    when(size(v) === dim, ranked).otherwise(raise_error(concat(
      lit(s"$what: embedding dim mismatch, expected $dim got "),
      size(v).cast("string"))).cast("array<struct<d:double,cell:int>>"))
  }

  /** Approximate top-k: candidates share the query's LSH bucket, ranked by
    * exact cosine within the bucket. The bucket join replaces the cross
    * product — at scale each query touches |corpus| / 2^nBits candidates
    * in expectation per probe. Recall comes from two levers: nTables
    * signatures from disjoint bit ranges, and multi-probe [Lv et al.,
    * "Multi-probe LSH", VLDB 2007] — each query additionally probes
    * every bucket at Hamming distance ≤ `probeHamming` of its own
    * (query-side fan-out only: the corpus still stores ONE row per
    * table, so the index size is unchanged and the probe set rides the
    * small broadcast side). With sign-bit agreement probability p per
    * hyperplane, a true neighbor lands in the probe set of one table
    * with probability p^b + b·p^(b−1)(1−p) at probeHamming = 1 — on
    * weakly-clustered corpora (neighbor cosines ~0.3) this is the
    * difference between near-zero and usable recall. */
  def annTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 10,
      nBits: Int = 8, nTables: Int = 2, dim: Int = 64,
      probeHamming: Int = 1,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2,
      s"annTopK: probeHamming must be 0, 1 or 2, got $probeHamming")
    val allPlanes = nBits * nTables
    def tbl(sig: Column) = explode(array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"),
        shiftright(sig, t * nBits)
          .bitwiseAND(lit((1L << nBits) - 1)).as("bucket"))): _*))
    // bucket perturbations up to the probe radius (identity + single
    // bit flips [+ pairs]) — a fixed, seed-free expansion of the query
    // side's bucket ids
    val flips: Seq[Long] = {
      val one = (0 until nBits).map(i => 1L << i)
      val two = for {
        i <- 0 until nBits; j <- (i + 1) until nBits
      } yield (1L << i) | (1L << j)
      Seq(0L) ++ (if (probeHamming >= 1) one else Seq.empty) ++
        (if (probeHamming >= 2) two else Seq.empty)
    }

    val corpus = embeddings.select(col(idCol).as("vec_id"),
      col(embCol).as("v"))
      .filter(col("v").isNotNull) // nulls are non-neighbors, not errors
      .withColumn("sig", lshBucket(col("v"), allPlanes, dim))
    val corpusB = corpus.select(col("vec_id"), col("v"), tbl(col("sig")).as("k"))
      .select(col("vec_id"), col("v"), col("k.tbl").as("tbl"),
        col("k.bucket").as("bucket"))
    // bucket the query side from its own embeddings: external query
    // vectors (ids absent from the corpus) are first-class
    val queriesB = queries
      .select(col(idCol).as("query_id"), col(embCol).as("qv"))
      .withColumn("qsig", lshBucket(col("qv"), allPlanes, dim))
      .select(col("query_id"), col("qv"), tbl(col("qsig")).as("k"))
      .select(col("query_id"), col("qv"), col("k.tbl").as("tbl"),
        col("k.bucket").as("bucket"))
      .withColumn("bucket",
        explode(array(flips.map(f => col("bucket").bitwiseXOR(lit(f))): _*)))

    val scored = corpusB.as("c")
      .join(broadcast(queriesB).as("q"),
        col("c.tbl") === col("q.tbl") && col("c.bucket") === col("q.bucket") &&
          col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"), col("c.vec_id").as("vec_id"),
        round(cosine(col("q.qv"), col("c.v")), 6).as("cosine"))
      .distinct() // a pair can collide in several tables
    topPerQuery(scored, "cosine", k)
  }

  // ---- semantic dedup (SemDeDup) ---------------------------------------

  /** SemDeDup [Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023]: cluster the
    * embedding space with a k-means coarse quantizer, then drop every
    * vector with an IN-CELL smaller-id neighbor of cosine ≥
    * `threshold`. Near-semantic duplicates overwhelmingly co-locate in
    * a cell, so the quadratic pair scan runs per cell (|corpus|²/nLists
    * expected comparisons) instead of globally — the approximation that
    * makes embedding dedup tractable at corpus scale.
    *
    * By construction every dropped vector HAS a genuine smaller-id
    * neighbor at ≥ threshold (soundness is exact); what the cell
    * boundary costs is recall — [[semanticDedupGate]] measures it
    * against the brute-force answer on a bounded slice.
    *
    * Scale shape: training is the bounded driver sample of [[ivfTopK]];
    * assignment one codegen projection; the pair scan a cell-equality
    * self-join (candidates ∝ Σ cell² — pick nLists so cells fit the
    * task size); output one row per input vector. Output: (idCol,
    * `cell`, `kept`). */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
      nLists: Int = 8, trainSample: Int = 100000,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxTrainBytes: Long = 64L << 20): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"semanticDedup: threshold must be in (0,1], got $threshold")
    val corpus = vectors(embeddings, idCol, embCol)
    val (centers, _) = trainIvf(corpus, nLists, 0, 0, trainSample,
      maxTrainBytes, "semanticDedup")
    val cell = element_at(
      cellsRankedExpr(col("v"), centers, "semanticDedup"), 1)("cell")
    val assigned = corpus.withColumn("cell", cell)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id") &&
          cosine(col("a.v"), col("b.v")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("_drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id").as(idCol), col("cell"),
        coalesce(!col("_drop"), lit(true)).as("kept"))
  }

  /** Oracle gate for [[semanticDedup]], the [[recallGate]] pattern: the
    * dropped SET depends on quantizer internals no SQL engine can
    * replay, but its quantitative contract is engine-independent —
    * soundness is exact by construction, and recall against the
    * brute-force droppable set (vectors with ANY smaller-id neighbor ≥
    * threshold, restricted to `vec_id < sliceMax` so the exact baseline
    * stays bounded at any corpus size) must clear `floor`. Output: ONE
    * row (`n_droppable`, `recall_ok`) — an oracle recomputes
    * `n_droppable` from the data and asserts the gate held. */
  def semanticDedupGate(embeddings: DataFrame, threshold: Double,
      sliceMax: Long, floor: Double, nLists: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val sd = semanticDedup(embeddings, threshold, nLists,
      idCol = idCol, embCol = embCol)
    val corpus = vectors(embeddings, idCol, embCol)
    // round-6 like every oracle-compared cosine, so the droppable COUNT
    // is bit-stable between engines even for boundary-grazing pairs
    val droppable = corpus.as("a")
      .join(corpus.filter(col("vec_id") < sliceMax).as("b"),
        col("a.vec_id") < col("b.vec_id") &&
          round(cosine(col("a.v"), col("b.v")), 6) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val caught = droppable
        .join(sd.filter(!col("kept")).select(col(idCol).as("vec_id")),
          Seq("vec_id"), "left_semi")
      // the gate is ONE bounded row — materialize it eagerly so the
      // droppable cache can be released here instead of leaking into the
      // caller's session (the corpus-sized operators can't do this: their
      // output is lazy and still references the cache)
      val rows = droppable.agg(count(lit(1)).as("n_droppable"))
        .crossJoin(caught.agg(count(lit(1)).as("_n_caught")))
        .select(col("n_droppable"),
          (col("n_droppable") === 0L ||
            col("_n_caught").cast("double") >=
              lit(floor) * col("n_droppable").cast("double")).as("recall_ok"))
        .collect()
      val spark = embeddings.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_droppable",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("recall_ok",
            org.apache.spark.sql.types.BooleanType, nullable = true))))
    } finally droppable.unpersist()
  }
}
