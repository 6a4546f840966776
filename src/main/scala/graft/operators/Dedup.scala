package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{BloomExprs, CdcExprs, PrefixExprs, SetExprs, ShingleExprs}

/** Document deduplication operators, each stated in partition-scalable
  * form: no driver collects, no O(n²) cross joins — candidate generation
  * is always a key-equality shuffle (exact hash, LSH band, SimHash chunk,
  * or a blocking key), and only candidates pay the verification cost.
  *
  * Algorithms (public literature): MinHash resemblance sketching
  * [Broder, "On the resemblance and containment of documents", 1997];
  * banded LSH [Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
  * ch. 3]; SimHash [Charikar, "Similarity estimation techniques from
  * rounding algorithms", 2002] with the chunk-pigeonhole search of
  * [Manku/Jain/Sarma, "Detecting near-duplicates for web crawling",
  * 2007]; prefix-filtering set-similarity join [Chaudhuri/Ganti/Kaushik,
  * "A primitive operator for similarity joins", 2006; Xiao et al.,
  * "Efficient similarity joins for near duplicate detection", 2008].
  */
object Dedup {

  /** 16-byte MD5 of the normalized content — THE content-identity hash
    * (batch [[exact]] and [[graft.streaming.StreamDedup]] share this one
    * definition, so a normalization change cannot silently diverge the
    * two dedup passes). */
  def contentHash(text: Column): Column = unhex(md5(lower(trim(text))))

  /** Exact dedup: group identical (normalized) texts, keep the smallest id.
    * One hash aggregate keyed on the 16-byte MD5 of the normalized text —
    * fixed-width shuffle keys instead of document-length strings, with
    * collision probability ~2⁻¹²⁸ (no corpus reaches the ~2⁶⁴ texts where
    * that matters). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(contentHash(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))

  /** The posting-pair kernel of every key-banded pair family —
    * SimHash chunks, MinHash bands, CDC chunk keys, media chunk keys and
    * frame keys: the id pairs that share a key, over posting relations
    * `(id, keys…, carried…)`. A batch route is `postingPairs(docs,
    * None)`; a streaming increment is `postingPairs(batch,
    * Some(corpus))` — the batch operator run on the new input against
    * what came before, so the increments over any split of a corpus
    * union to the batch route over the whole.
    *
    * Contract: each (pair, shared key) exactly ONCE, `doc_a < doc_b`,
    * over the pairs touching the probe — probe×probe and probe×corpus,
    * never corpus×corpus. The probe joins probe ∪ corpus, the corpus
    * side tagged, keeping `b.corpus || a.id < b.id`: corpus-internal
    * pairs cannot form and probe-internal pairs arrive in one order
    * only, so no `distinct` is needed. Preconditions: each side is a
    * set of postings, and ids are disjoint across the sides (every
    * delta route's). `crossOnly` keeps the probe×corpus pairs only,
    * probe id in `doc_a`. Output: `doc_a`, `doc_b`, the keys and each
    * carried column as `<c>_a`/`<c>_b` (carried columns follow their id
    * through the orientation).
    *
    * `maxPerKey` caps a key at that many postings over probe ∪ corpus —
    * boilerplate is not duplication evidence, and a k-posting key would
    * emit k² pairs. Corpus postings are first restricted to the probe's
    * keys, so each count equals the union count for every key that can
    * pair and the per-call shuffle is ∝ probe keys + matching postings,
    * never the corpus; that restricted union is materialized once for
    * its two readers (the count and the pair side). The cap is a
    * map-side-combinable count +
    * join-back, never a keyed window (a hot key would buffer all its
    * postings in one task).
    *
    * `corpus = None` puts nothing of a corpus in the plan — no union,
    * no tag, the predicate is `a.id < b.id`: the batch self-join. */
  private[graft] def postingPairs(probe: DataFrame,
      corpus: Option[DataFrame], id: String, keys: Seq[String],
      carried: Seq[String] = Nil, maxPerKey: Option[Int] = None,
      crossOnly: Boolean = false): DataFrame = {
    require(corpus.isDefined || !crossOnly,
      "postingPairs: crossOnly needs a corpus")
    val cols = ((id +: keys) ++ carried).map(col)
    val postings = corpus.fold(probe.select(cols: _*)) { c =>
      val own = c.select(cols: _*)
      val hits = if (maxPerKey.isEmpty) own
        else own.join(probe.select(keys.map(col): _*).distinct(), keys)
      val all = probe.select(cols :+ lit(false).as("_corpus"): _*)
        .unionByName(hits.withColumn("_corpus", lit(true)))
      if (maxPerKey.isDefined) Materialize.eager(all) else all
    }
    val capped = maxPerKey.fold(postings) { max =>
      // _n >= 2 is pure pruning: a single-posting key pairs nothing
      postings.join(postings.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .filter(col("_n") <= max && col("_n") >= 2)
        .select(keys.map(col): _*), keys)
    }
    val (aId, bId) = (col(s"a.$id"), col(s"b.$id"))
    val keep = corpus match {
      case None => aId < bId
      case Some(_) if crossOnly => col("b._corpus")
      case Some(_) => col("b._corpus") || aId < bId
    }
    // only a corpus posting can hold the smaller id of a pair
    val swap = if (corpus.isEmpty || crossOnly) None else Some(bId < aId)
    def side(c: String, first: Boolean): Column = {
      val (own, other) = if (first) ("a", "b") else ("b", "a")
      swap.fold(col(s"$own.$c"))(
        when(_, col(s"$other.$c")).otherwise(col(s"$own.$c")))
    }
    // with a corpus the probe side is the raw probe: a pair's key is
    // both sides' key, so capping the b side caps the pair
    corpus.fold(capped)(_ => probe.select(cols: _*)).as("a")
      .join(capped.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) && keep)
      .select((Seq(side(id, true).as("doc_a"), side(id, false).as("doc_b")) ++
        keys.map(k => col(s"a.$k").as(k)) ++
        carried.flatMap(c => Seq(side(c, true).as(s"${c}_a"),
          side(c, false).as(s"${c}_b")))): _*)
  }

  /** Shared rebuild tail of the paragraph-dropping family: left-join
    * per-doc dropped-index sets onto the documents and re-split only
    * affected docs (untouched docs pass through byte-identical).
    * `dropped` = (_id, _drop: Set[idx]). Output: idCol, `text`,
    * `n_dropped`. */
  private def rebuildDropped(docs: DataFrame, dropped: DataFrame,
      delimiter: String, rejoin: String, idCol: String,
      textCol: String): DataFrame =
    docs.join(dropped, col(idCol) === dropped("_id"), "left")
      .select(col(idCol),
        when(col("_drop").isNull, col(textCol))
          .otherwise(array_join(
            filter(split(col(textCol), delimiter),
              (p, i) => !array_contains(col("_drop"), i)),
            rejoin))
          .as("text"),
        coalesce(size(col("_drop")), lit(0)).cast("long").as("n_dropped"))

  /** Cross-document paragraph-level exact dedup (the C4/RefinedWeb-style
    * repeated-boilerplate pass): split every document into paragraphs on
    * `delimiter` (a Java regex; `rejoin` glues kept paragraphs back), and
    * keep each distinct (normalized) paragraph ONLY at its first
    * occurrence corpus-wide — first = smallest (doc id, paragraph index),
    * so reruns are deterministic. Every later occurrence, including
    * repeats inside the same document, is removed and the document text
    * rebuilt from what remains. Paragraphs whose trimmed length is below
    * `minChars` (default 1 = whitespace-only) are structural, not
    * content: always kept, never canonical. This is
    * [[dedupParagraphsDelta]] against an empty paragraph-hash index.
    *
    * Scale shape: paragraph TEXT never shuffles. Occurrences reduce to
    * (16-byte content hash, doc id, index) rows; the canonical pick is a
    * map-side-combinable `min(struct(id, idx))` hash aggregate on the
    * hash (skew-safe for a boilerplate paragraph repeated 10⁹ times,
    * unlike a row_number window, which would sort the hot hash's whole
    * partition in one task); the drop decision joins occurrences back on
    * the hash (AQE skew-join splits hot hashes) — only hashes occurring
    * more than once, the only ones with anything to drop. Only doc ids
    * and DROPPED index lists — ∝ duplicates, not corpus — flow to the
    * final left join, and documents with nothing dropped pass through
    * with their original text untouched (no re-split, no re-concat). The
    * rebuild for affected docs is one doc-local index-filtered re-split.
    *
    * Output: idCol, rebuilt `text`, `n_dropped`. */
  def dedupParagraphs(docs: DataFrame, delimiter: String = "\n",
      rejoin: String = "\n", minChars: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    paragraphDedup(docs, None, delimiter, rejoin, minChars, idCol, textCol,
      "dedupParagraphs")

  /** `(_id, _idx, _h)`: each paragraph occurrence of at least
    * `minChars` trimmed chars, with its index and content hash. */
  private def paragraphOccurrences(docs: DataFrame, delimiter: String,
      minChars: Int, idCol: String, textCol: String,
      route: String): DataFrame = {
    require(minChars >= 0, s"$route: minChars must be >= 0, got $minChars")
    docs.select(col(idCol).as("_id"),
        posexplode(split(col(textCol), delimiter)).as(Seq("_idx", "_para")))
      .filter(length(trim(col("_para"))) >= minChars)
      .select(col("_id"), col("_idx"), contentHash(col("_para")).as("_h"))
  }

  /** The one body of [[dedupParagraphs]] and [[dedupParagraphsDelta]]:
    * per-hash canonical first occurrence and frequency over `docs` (a
    * skew-safe min-struct hash aggregate), then, with an `index`, one
    * left join to it. Indexed hashes drop ALL occurrences; the others
    * drop every non-canonical one (df > 1). */
  private def paragraphDedup(docs: DataFrame, index: Option[DataFrame],
      delimiter: String, rejoin: String, minChars: Int, idCol: String,
      textCol: String, route: String): DataFrame = {
    val occ = paragraphOccurrences(docs, delimiter, minChars, idCol, textCol,
      route)
    val canon = occ.groupBy(col("_h"))
      .agg(min(struct(col("_id").as("_cid"), col("_idx").as("_cidx")))
        .as("_c"), count(lit(1)).as("_df"))
    val (meta, indexed) = index match {
      case None => (canon, lit(false))
      case Some(i) => (canon.join(i.select(col("h").as("_h"),
        lit(true).as("_in")), Seq("_h"), "left"), col("_in").isNotNull)
    }
    val dropped = occ.join(meta.filter(indexed || col("_df") > 1), Seq("_h"))
      .filter(indexed ||
        col("_id") =!= col("_c._cid") || col("_idx") =!= col("_c._cidx"))
      .groupBy(col("_id")).agg(collect_set(col("_idx")).as("_drop"))
    rebuildDropped(docs, dropped, delimiter, rejoin, idCol, textCol)
  }

  /** The persistable paragraph-hash index for [[dedupParagraphsDelta]]:
    * one 16-byte content hash per DISTINCT (normalized) paragraph ever
    * ingested. Build once over the corpus, append each accepted batch's
    * new hashes ([[paragraphHashIndex]] of the batch anti-joined on
    * `h`), probe forever — the [[hashIndex]]/[[exactDelta]] discipline
    * at paragraph granularity. `delimiter`/`minChars` are baked into
    * what counts as a paragraph; keep them with the index. */
  def paragraphHashIndex(corpus: DataFrame, delimiter: String = "\n",
      minChars: Int = 1, textCol: String = "text"): DataFrame =
    corpus
      .select(explode(split(col(textCol), delimiter)).as("_para"))
      .filter(length(trim(col("_para"))) >= minChars)
      .select(contentHash(col("_para")).as("h"))
      .distinct()

  /** Incremental cross-document paragraph dedup: rewrite a NEW batch
    * against a persisted corpus [[paragraphHashIndex]] under
    * FIRST-ARRIVAL semantics — any delta paragraph whose hash exists
    * in the index is a repeat (some corpus occurrence preceded it),
    * and paragraphs new to the delta keep their first (doc id, index)
    * occurrence and drop the rest. Output contract:
    * [[dedupParagraphs]] over the corpus-then-delta arrival order,
    * restricted to delta documents (every delta doc emits a row,
    * untouched ones byte-identical).
    *
    * Scale shape: the split/hash kernel runs over the DELTA only; the
    * corpus side is a column-pruned scan of the index's 16-byte `h`
    * column feeding one hash-equality left join (the [[exactDelta]]
    * probe shape — map-side-combinable delta aggregates, AQE-
    * broadcastable delta side); per-batch cost ∝ delta, the corpus is
    * never re-split. */
  def dedupParagraphsDelta(delta: DataFrame, index: DataFrame,
      delimiter: String = "\n", rejoin: String = "\n",
      minChars: Int = 1, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    paragraphDedup(delta, Some(index), delimiter, rejoin, minChars, idCol,
      textCol, "dedupParagraphsDelta")

  /** Content-defined chunking relation: one row per CDC chunk —
    * `(idCol, chunk_idx, start, len, fp)`, byte offsets, expected
    * chunk length ≈ 2^maskBits. The chunk pass is a pure codegen
    * projection ([[graft.functions.CdcChunksExpr]] — one byte-level
    * rolling-hash pass per row, no shuffle at any corpus size); see
    * [[graft.functions.CdcOps]] for the boundary/fingerprint contract
    * and why CDC (not fixed windows) is the shift-robust chunking
    * every dedup store uses. */
  def cdcChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 16,
      maskBits: Int = 6): DataFrame =
    docs.select(col(idCol),
        posexplode(CdcExprs.cdcChunks(col(textCol), w, maskBits)))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("len"),
        col("col.fp").as("fp"))

  /** [[cdcChunks]] with the LBFS chunk-length bounds (production CDC
    * systems — LBFS, restic, borg — all carry them): mask boundaries
    * are suppressed while the chunk is under `minChunk` bytes and
    * forced at `maxChunk`, capping both fingerprint-table noise (no
    * degenerate 1-byte chunks from dense mask runs) and chunk-length
    * variance (no unbounded span when the content never matches the
    * mask — the adversarial-input worst case at 100 TB). Same pure
    * single-pass projection as [[cdcChunks]]; the bounds live IN the
    * kernel because acceptance depends on the previous boundary —
    * a downstream length filter cannot express them. */
  def cdcChunksBounded(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 16, maskBits: Int = 6,
      minChunk: Int = 32, maxChunk: Int = 128): DataFrame =
    docs.select(col(idCol),
        posexplode(CdcExprs.cdcChunksBounded(col(textCol), w, maskBits,
          minChunk, maxChunk)))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("len"),
        col("col.fp").as("fp"))

  /** Cross-document duplicate CDC chunks: `(fp, len, n_docs, n_occ)`
    * for every chunk whose (fingerprint, length) appears in ≥ 2
    * documents and is at least `minLen` bytes (tiny chunks — the
    * no-min-bound artifact of the pure predicate — are dedup noise,
    * filtered HERE where the policy belongs). One hash-keyed
    * aggregate over the chunk relation: map-side combinable, shuffle
    * carries distinct (fp, len) keys only — the exact-dedup shuffle
    * shape ([[exact]]) applied at sub-document granularity, which is
    * what catches a duplicated span pasted into otherwise-different
    * documents (fixed-offset or whole-doc hashing both miss it). */
  def cdcDupChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 16, maskBits: Int = 6,
      minLen: Int = 24, minChunk: Int = 1,
      maxChunk: Int = Int.MaxValue): DataFrame =
    cdcChunksBounded(docs, idCol, textCol, w, maskBits, minChunk, maxChunk)
      .filter(col("len") >= minLen)
      // two plain hash aggregates instead of countDistinct: no Expand,
      // both stages map-side combinable (the x4 row-16 discipline)
      .groupBy(col("fp"), col("len"), col(idCol))
      .agg(count(lit(1)).as("_occ"))
      .groupBy(col("fp"), col("len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_occ")).as("n_occ"))
      .filter(col("n_docs") >= 2)

  /** Document pairs sharing CDC chunk content: `(doc_a, doc_b,
    * shared_chunks, shared_bytes)` for pairs whose DISTINCT shared
    * (fp, len) chunk keys sum to ≥ `minSharedBytes` bytes — the
    * chunk-posting join every CDC dedup store runs to surface
    * shifted/partial duplicates ([[cdcDupChunks]] names the content;
    * this names the document pairs).
    *
    * Scale shape: per-doc chunk sets dedupe map-side; the pairs are
    * [[postingPairs]] over the [[cdcChunkIndex]] postings, with chunks
    * in more than `maxDocsPerChunk` documents dropped BEFORE pairing
    * (the [[removeBoilerplate]] rule) — a cap that is part of the
    * declared semantics, mirrored by the oracle. */
  def cdcOverlapPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 16, maskBits: Int = 6,
      minLen: Int = 24, minSharedBytes: Int = 48,
      maxDocsPerChunk: Int = 64, minChunk: Int = 1,
      maxChunk: Int = Int.MaxValue): DataFrame = {
    require(maxDocsPerChunk >= 2,
      s"cdcOverlapPairs: maxDocsPerChunk must be >= 2, got $maxDocsPerChunk")
    // materialized once for its THREE consumers (freq count + both
    // self-join sides): exchange reuse does not dedupe the branches,
    // so without it the chunk kernel would re-scan the corpus 3–4×
    // (the [[SpanDedup]] tokenBase discipline)
    val perDoc = Materialize.eager(cdcChunkIndex(docs, idCol, textCol, w,
      maskBits, minLen, minChunk, maxChunk))
    sharedChunks(postingPairs(perDoc, None, idCol, Seq("fp", "len"),
      maxPerKey = Some(maxDocsPerChunk)), minSharedBytes)
  }

  /** Per-pair CDC overlap from once-per-(pair, key) chunk pairs:
    * `(doc_a, doc_b, shared_chunks, shared_bytes)` at ≥
    * `minSharedBytes`. */
  private def sharedChunks(pairs: DataFrame,
      minSharedBytes: Int): DataFrame =
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_chunks"),
        sum(col("len").cast("long")).as("shared_bytes"))
      .filter(col("shared_bytes") >= minSharedBytes)

  /** The persistable CDC chunk index of a corpus: DISTINCT
    * `(fp, len, idCol)` chunk keys at ≥ `minLen` bytes — what an
    * incremental pipeline writes once (bucketed or sorted by
    * `(fp, len)` so the delta probe co-locates) and probes per batch. */
  def cdcChunkIndex(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 16, maskBits: Int = 6,
      minLen: Int = 24, minChunk: Int = 1,
      maxChunk: Int = Int.MaxValue): DataFrame =
    cdcChunksBounded(corpus, idCol, textCol, w, maskBits, minChunk, maxChunk)
      .filter(col("len") >= minLen)
      .select(col("fp"), col("len"), col(idCol))
      .distinct()

  /** Incremental CDC overlap: chunk ONLY the delta batch and probe the
    * persisted [[cdcChunkIndex]] — cost ∝ |delta|, never a corpus
    * re-chunk (the [[exactDelta]]/[[minhashLshDelta]] discipline
    * applied to sub-document dedup). Output: `(doc_delta, doc_corpus,
    * shared_chunks, shared_bytes)` for pairs sharing ≥
    * `minSharedBytes` bytes of distinct chunk keys. Chunk keys in more
    * than `maxDocsPerChunk` CORPUS documents are dropped before
    * pairing (boilerplate known from the index side — the
    * [[cdcOverlapPairs]] cap with the frequency measured where the
    * mass lives). */
  def cdcOverlapDelta(delta: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", w: Int = 16,
      maskBits: Int = 6, minLen: Int = 24, minSharedBytes: Int = 48,
      maxDocsPerChunk: Int = 64, minChunk: Int = 1,
      maxChunk: Int = Int.MaxValue): DataFrame = {
    require(maxDocsPerChunk >= 1,
      s"cdcOverlapDelta: maxDocsPerChunk must be >= 1, got $maxDocsPerChunk")
    // delta keys materialize once for their two consumers (the index
    // restriction + the final pair join) — without it the delta is
    // chunked twice; hits likewise (freq count + join-back)
    val deltaKeys = Materialize.eager(
      cdcChunksBounded(delta, idCol, textCol, w, maskBits, minChunk, maxChunk)
      .filter(col("len") >= minLen)
      .select(col("fp"), col("len"), col(idCol).as("doc_delta"))
      .distinct())
    // delta-driven cap: restrict the index to postings whose (fp, len)
    // the delta actually touches BEFORE measuring frequency — the
    // restriction is key-equality, so per-key counts over the hits
    // equal counts over the full index for every key that can pair;
    // then the same agg + join-back discipline as [[cdcOverlapPairs]]
    // (never a keyed window — hot boilerplate chunks would buffer in
    // one task). Per-call shuffle ∝ matching postings, not the index.
    val hits = Materialize.eager(index
      .select(col("fp"), col("len"), col(idCol).as("doc_corpus"))
      .join(deltaKeys.select(col("fp"), col("len")).distinct(),
        Seq("fp", "len")))
    val survivors = hits.groupBy(col("fp"), col("len"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxDocsPerChunk)
      .select(col("fp"), col("len"))
    val capped = hits.join(survivors, Seq("fp", "len"))
    deltaKeys.join(capped, Seq("fp", "len"))
      .groupBy(col("doc_delta"), col("doc_corpus"))
      .agg(count(lit(1)).as("shared_chunks"),
        sum(col("len").cast("long")).as("shared_bytes"))
      .filter(col("shared_bytes") >= minSharedBytes)
  }

  /** Per-document CDC duplication accounting: for every document with
    * at least one chunk ≥ `minLen` bytes, `(idCol, n_chunks,
    * dup_chunks, dup_bytes)` where an occurrence of a chunk key
    * `(fp, len)` is a DUPLICATE iff it is not the corpus-canonical
    * first arrival (lexicographically smallest `(doc_id, chunk_idx)` —
    * so repeats WITHIN the canonical doc count too, the x42 rule at
    * chunk granularity). `dup_bytes / doc_bytes` is the curation
    * signal a pipeline thresholds to drop near-copies wholesale where
    * pair-level routes ([[cdcOverlapPairs]]) would be overkill.
    *
    * Scale shape: one chunk projection, one map-side-combinable
    * `min(struct)` canonical aggregate per `(fp, len)` key restricted
    * to keys with ≥ 2 occurrences (∝ duplicate keys), one left
    * join-back, one per-doc aggregate — shuffle ∝ chunks, never pairs,
    * and NO keyed window (a hot boilerplate chunk would buffer all its
    * occurrences in one unsplittable task; the [[SpanDedup]] min-struct
    * discipline applies verbatim). Deterministic: the canonical
    * occurrence is a total order, no ties. */
  def cdcDupStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", w: Int = 16, maskBits: Int = 6,
      minLen: Int = 24, minChunk: Int = 1,
      maxChunk: Int = Int.MaxValue): DataFrame = {
    // materialized once for its two consumers (canonical aggregate +
    // join-back): without it the chunk kernel re-scans the corpus
    val ch = Materialize.eager(
      cdcChunksBounded(docs, idCol, textCol, w, maskBits, minChunk, maxChunk)
      .filter(col("len") >= minLen))
    // canonical first arrival per duplicated key: min(struct) collapses
    // hot keys map-side (a row_number window would sort every
    // occurrence of a boilerplate chunk on one task); keys with one
    // occurrence can contribute no duplicates and never join back
    val dupCanon = ch.groupBy(col("fp"), col("len"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("_c"),
        count(lit(1)).as("_occ"))
      .filter(col("_occ") > 1)
      .select(col("fp"), col("len"), col("_c"))
    val isDup = col("_c").isNotNull &&
      (col(idCol) =!= col("_c").getField(idCol) ||
        col("chunk_idx") =!= col("_c").getField("chunk_idx"))
    ch.join(dupCanon, Seq("fp", "len"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(isDup, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(isDup, col("len").cast("long"))
          .otherwise(0L)).as("dup_bytes"))
  }

  /** One micro-batch step of streaming CDC overlap
    * ([[graft.streaming.StreamCdc]]): all overlap pairs TOUCHING the
    * batch — [[postingPairs]]`(batch, corpus)` over distinct chunk-key
    * relations (`(fp, len, idCol)`, the [[cdcChunkIndex]] shape on both
    * sides), so each pair is emitted exactly once, when its later
    * member arrives.
    *
    * The boilerplate cap is measured over corpus ∪ batch — the
    * frequency as of THIS batch. Chunk frequencies only grow, so the
    * at-emission cap is one-sided vs batch [[cdcOverlapPairs]] on the
    * final union: the stream never MISSES a pair the batch run keeps
    * (over-cap now ⇒ over-cap at the end), but may additionally emit
    * pairs whose chunk crossed the cap only after they were emitted.
    * (The corpus-side SCAN is the caller's concern:
    * [[graft.streaming.StreamCdc]] partition-prunes it by fingerprint
    * bucket.) */
  def cdcOverlapIncrement(batchKeys: DataFrame, corpusKeys: DataFrame,
      idCol: String = "doc_id", minSharedBytes: Int = 48,
      maxDocsPerChunk: Int = 64): DataFrame = {
    require(maxDocsPerChunk >= 2,
      s"cdcOverlapIncrement: maxDocsPerChunk must be >= 2, got " +
        s"$maxDocsPerChunk")
    sharedChunks(postingPairs(batchKeys, Some(corpusKeys), idCol,
      Seq("fp", "len"), maxPerKey = Some(maxDocsPerChunk)), minSharedBytes)
  }

  /** CROSS-document boilerplate removal (C4/RefinedWeb-style): drop
    * every segment whose normalized (lower + trim) content occurs in at
    * least `minDocs` DISTINCT documents — headers, footers, nav chrome,
    * cookie banners, license blurbs. Complements [[dedupParagraphs]]:
    * there a repeated paragraph keeps one canonical copy; here frequency
    * across documents marks the content as template noise, so ALL
    * occurrences are dropped. Segments whose trimmed length is below
    * `minChars` are structural (blank separators) and always kept.
    *
    * Scale shape: the corpus shuffles only 16-byte content hashes — the
    * frequency aggregate is a two-stage distinct-count on (hash, doc)
    * then hash (both map-side combinable), and the boilerplate set it
    * yields is tiny by construction (segments repeated across ≥ minDocs
    * docs), so AQE broadcasts it into the occurrence join. Only doc ids
    * and dropped index lists — ∝ affected docs, not corpus — reach the
    * final left join; untouched documents pass through byte-identical
    * (no re-split, no re-concat), as in [[dedupParagraphs]].
    *
    * Output: idCol, rebuilt `text`, `n_dropped`. */
  def removeBoilerplate(docs: DataFrame, minDocs: Int = 3,
      delimiter: String = "\n", rejoin: String = "\n", minChars: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 2,
      s"removeBoilerplate: minDocs must be >= 2, got $minDocs")
    val occ = paragraphOccurrences(docs, delimiter, minChars, idCol, textCol,
      "removeBoilerplate")
    val boiler = occ.groupBy(col("_h"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_h"))
    val dropped = occ.join(boiler, Seq("_h"))
      .groupBy(col("_id")).agg(collect_set(col("_idx")).as("_drop"))
    rebuildDropped(docs, dropped, delimiter, rejoin, idCol, textCol)
  }

  /** The persistable content-hash index for incremental exact dedup:
    * one 16-byte hash row per distinct (normalized) content ever
    * accepted. Write it out once, append each accepted batch's hashes,
    * and feed it to [[exactDelta]] — the growing corpus is never
    * re-hashed. */
  def hashIndex(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(contentHash(col(textCol)).as("h")).distinct()

  /** Incremental exact dedup: which documents of a NEW batch are
    * genuinely new content — first dedup within the batch (keep the
    * smallest id per distinct content, as [[exact]]), then drop
    * anything whose hash is already in the persisted [[hashIndex]].
    * The batch-vs-corpus complement of [[minhashLshDelta]]: a growing
    * 100 TB corpus admits a new slice with work ∝ batch, not corpus.
    *
    * Scale shape: the batch reduces to (hash, min id) in one map-side-
    * combinable aggregate; the index side is already distinct 16-byte
    * rows and is NEVER recomputed from text (the plan reads the index
    * relation as-is); the anti join shuffles fixed-width hashes only —
    * and AQE broadcasts the batch side when it is small, the common
    * delta case. Output: `doc_id` (surviving batch ids). */
  def exactDelta(newDocs: DataFrame, index: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    newDocs
      .groupBy(contentHash(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol))
      .join(index, Seq("h"), "left_anti")
      .select(col(idCol))

  /** WITHIN-document duplicate-paragraph removal: keep only the first
    * occurrence of each (normalized: lower + trim) paragraph inside a
    * single document — the intra-doc companion to [[dedupParagraphs]]
    * for template spam and copy-paste loops, where removal must not
    * depend on any other document. Paragraphs whose trimmed length is
    * below `minChars` are structural (blank separators): always kept,
    * never an occurrence.
    *
    * Scale shape: a pure doc-local projection — split, first-occurrence
    * filter, rejoin all happen inside one row, so there is NO shuffle
    * and NO join at any corpus size; cost is O(paragraphs²) per doc in
    * the array-position probe, fine at real paragraph counts. The
    * first-occurrence test keys on prefix-tagged strings ('l' + text
    * for participating paragraphs, 's' + index for sub-minChars ones) —
    * the tags make the two namespaces disjoint, so a short paragraph is
    * always its own first occurrence and can never drop, or be dropped
    * by, a content paragraph.
    *
    * Output: idCol, rebuilt `text` (null in → null out), `n_dropped`. */
  def dedupParagraphsWithinDoc(docs: DataFrame, delimiter: String = "\n",
      rejoin: String = "\n", minChars: Int = 1,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minChars >= 0,
      s"dedupParagraphsWithinDoc: minChars must be >= 0, got $minChars")
    // each lambda body references only attributes and its own variables:
    // embedding a lambda-bearing expression INSIDE another lambda (e.g.
    // the keys transform inside the filter) trips Catalyst's lambda
    // variable binding, so every intermediate array is its own column
    docs
      .withColumn("_parts", split(col(textCol), delimiter))
      .withColumn("_keys", transform(col("_parts"), (p, i) =>
        when(length(trim(p)) >= minChars, concat(lit("l"), lower(trim(p))))
          .otherwise(concat(lit("s"), i.cast("string")))))
      .withColumn("_flags", transform(col("_keys"), (kk, i) =>
        array_position(col("_keys"), kk) === (i + 1)))
      .withColumn("_kept", filter(
        zip_with(col("_parts"), col("_flags"), (p, f) => when(f, p)),
        x => x.isNotNull))
      .select(col(idCol),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(array_join(col("_kept"), rejoin)).as("text"),
        when(col(textCol).isNull, lit(0L))
          .otherwise((size(col("_parts")) - size(col("_kept"))).cast("long"))
          .as("n_dropped"))
  }

  /** Cross-document SUBSTRING-overlap pairs via winnowing fingerprints
    * (MOSS): each document reduces to the sorted distinct w-window
    * minima of its k-gram rolling hashes
    * ([[graft.functions.WinnowSetExpr]], a doc-local codegen kernel),
    * which guarantees that any two documents sharing a contiguous run
    * of ≥ `w + k − 1` code points share at least one fingerprint — the
    * overlap class that paragraph dedup (alignment-dependent) and
    * whole-doc near-dedup (global similarity) both miss, e.g. a quoted
    * passage inside otherwise-different pages. Pairs sharing ≥
    * `minShared` fingerprints are reported with their shared count.
    *
    * Scale shape: fingerprinting is one projection (≈ 2/(w+1) density —
    * fingerprints ∝ text/w, not text); candidates come from the
    * fingerprint-equality [[postingPairs]] self-join, never all-pairs.
    * Fingerprints present in more than `maxDf` documents are
    * boilerplate and are dropped BEFORE the join (the kernel's cap) —
    * simultaneously a precision guard and the skew bound: one hot
    * fingerprint contributes at most maxDf²/2 join rows.
    *
    * Output: `doc_a` < `doc_b`, `n_shared`. */
  def winnowOverlap(docs: DataFrame, k: Int = 8, w: Int = 8,
      minShared: Int = 2, maxDf: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"winnowOverlap: k must be >= 1, got $k")
    require(w >= 1, s"winnowOverlap: w must be >= 1, got $w")
    require(minShared >= 1,
      s"winnowOverlap: minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"winnowOverlap: maxDf must be >= 2, got $maxDf")
    val fps = Parallelism.fanOutScan(docs
        .filter(col(textCol).isNotNull)
        .select(col(idCol).as("_id"), col(textCol).as("_t")))
      .select(col("_id"),
        explode(ShingleExprs.winnowSet(col("_t"), k, w)).as("_fp"))
    postingPairs(fps, None, "_id", Seq("_fp"), maxPerKey = Some(maxDf))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[winnowOverlap]] with SPAN ESTIMATES: for each overlapping pair,
    * the gram-position extent of the shared fingerprints in each
    * document — "roughly characters [a_from, a_to] of A match
    * [b_from, b_to] of B", the report a contamination review actually
    * reads. Positions are 1-based first-gram indexes (a fingerprint's
    * position is the first gram in the doc hashing to it; a span's
    * character extent is [from, to + k − 1]). The span is the bounding
    * range of ALL shared fingerprints, so disjoint repeated passages
    * merge into one range — exact per-passage alignment is a
    * downstream local diff on the reported spans.
    *
    * Scale shape: identical to [[winnowOverlap]] plus one per-row gram
    * array used ONLY inside the fingerprint projection (positions
    * resolve before any join; the gram array never shuffles). The
    * pair aggregate carries four extra min/max columns on the same
    * exchange. */
  def winnowOverlapSpans(docs: DataFrame, k: Int = 8, w: Int = 8,
      minShared: Int = 2, maxDf: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1 && minShared >= 1 && maxDf >= 2,
      s"winnowOverlapSpans: invalid params k=$k w=$w " +
        s"minShared=$minShared maxDf=$maxDf")
    val t = col("_t")
    // per-position gram hashes, relationally (polyFingerprint holds no
    // lambda, so embedding it in transform is safe); used only to
    // resolve each fingerprint to its first gram index, then dropped
    val grams = transform(sequence(lit(1), length(t) - (k - 1)),
      p => ShingleExprs.polyFingerprint(t.substr(p, lit(k))))
    val fps = Parallelism.fanOutScan(docs
        .filter(col(textCol).isNotNull && length(col(textCol)) >= k)
        .select(col(idCol).as("_id"), col(textCol).as("_t")))
      .withColumn("_hs", grams)
      .select(col("_id"),
        explode(ShingleExprs.winnowSet(t, k, w)).as("_fp"),
        col("_hs"))
      .select(col("_id"), col("_fp"),
        array_position(col("_hs"), col("_fp")).cast("long").as("_pos"))
    postingPairs(fps, None, "_id", Seq("_fp"), carried = Seq("_pos"),
        maxPerKey = Some(maxDf))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("_pos_a")).as("a_from"), max(col("_pos_a")).as("a_to"),
        min(col("_pos_b")).as("b_from"), max(col("_pos_b")).as("b_to"))
      .filter(col("n_shared") >= minShared)
  }

  // ---- MinHash + LSH --------------------------------------------------

  /** Number of minhash permutations / LSH layout (16 bands × 4 rows
    * targets ~0.5 Jaccard). */
  val MinhashPerms = 64
  val Bands = 16
  private val RowsPerBand = MinhashPerms / Bands

  /** The full per-document dedup index relation — (id, sig, ng): minhash
    * signature for LSH banding plus the sorted distinct hashed-shingle set
    * for exact Jaccard verification. This is the relation to PERSIST
    * (parquet/table) on a growing corpus: [[minhashLshDelta]] dedups a new
    * batch against it without ever re-reading or re-shingling corpus
    * text. One doc-local projection pass, no shuffle. */
  def signatureTable(docs: DataFrame, shingleLen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
      ShingleExprs.minhashSignature(col(textCol), shingleLen).as("sig"),
      ShingleExprs.shingleSet(col(textCol), shingleLen).as("ng"))
      .filter(col("sig").isNotNull)

  /** Near-duplicate pairs via MinHash LSH, verified with shingle-set
    * Jaccard over hashed shingles. Flow: ONE shuffle-free projection
    * computes the signature (64 permutation mins) and the sorted distinct
    * hashed-shingle set per doc → 16 band keys → [[postingPairs]]
    * self-join on (band, bandHash) → distinct candidate pairs →
    * merge-intersect Jaccard verify from the same persisted relation.
    *
    * The per-doc relation is persisted: four join branches reference it
    * (two band sides, two verify sides) and Spark recomputes non-cached
    * lineage per branch — at scale you would likewise materialize
    * signatures before banding. Jaccard over 64-bit-hashed shingles
    * (xxhash64, see [[graft.functions.ShingleOps.shingleSet]]) equals
    * true Jaccard up to vanishing collision probability (~|union|²/2⁶⁴
    * per pair), and sorted-long-array merge intersection is far cheaper
    * than string-array hash intersection. */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.5,
      shingleLen: Int = 5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // eager checkpoint, not lazy persist: the four join branches below
    // are INDEPENDENT stages of one job — the scheduler launches them
    // concurrently, none finds cached blocks, and the signature kernel
    // ran four times (measured: 4 x 0.45 s single-task scans at sf0.1).
    // Eager materialization runs the kernel once, fanned out across
    // cores (Parallelism.fanOutScan — inert at production scan widths).
    val base = Materialize.eager(signatureTable(
      Parallelism.fanOutScan(docs.select(col(idCol), col(textCol))),
      shingleLen, idCol, textCol))
    lshPairs(base, None, threshold)
  }

  /** (id, sig, …) → (id, band, bh): the LSH band postings of
    * [[signatureTable]] rows, one per band — the bucketing key is the
    * band's xxhash64 (not 32-bit murmur3), which keeps band-collision
    * false positives at ~2⁻⁶⁴ per comparison. */
  private[graft] def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), explode(transform(sequence(lit(0), lit(Bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"),
          b * RowsPerBand + 1, lit(RowsPerBand))).as("bh")))).as("k"))
      .select(col("id"), col("k.band").as("band"), col("k.bh").as("bh"))

  /** The MinHash LSH pairs of [[signatureTable]] rows `sigs`, against
    * `corpus` signature rows when given ([[postingPairs]] on the band
    * keys): distinct candidate pairs, each verified once by the Jaccard
    * merge over shingle sets joined back from `sigs` ∪ `corpus`. */
  private def lshPairs(sigs: DataFrame, corpus: Option[DataFrame],
      threshold: Double): DataFrame = {
    def sets(s: DataFrame): DataFrame = s.select(col("id"), col("ng"))
    val ng = corpus.fold(sets(sigs))(c => sets(sigs).unionByName(sets(c)))
    val candidates = postingPairs(bandRows(sigs), corpus.map(bandRows), "id",
        Seq("band", "bh"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    jaccardVerify(candidates
      .join(ng.select(col("id"), col("ng").as("ng_a")),
        col("doc_a") === col("id")).drop("id")
      .join(ng.select(col("id"), col("ng").as("ng_b")),
        col("doc_b") === col("id")).drop("id"), threshold)
  }

  /** Incremental (delta) near-dedup: near-duplicate pairs TOUCHING a new
    * batch against a pre-built corpus index ([[signatureTable]],
    * typically persisted as parquet and read back) — [[minhashLsh]] on
    * (corpus ∪ delta) restricted to pairs with at least one delta doc,
    * the [[postingPairs]] increment on the band keys. Doc ids must be
    * disjoint between the two inputs.
    *
    * Scale shape — the "growing 100 TB corpus" path: the
    * shingle/minhash kernel runs over the DELTA only; the corpus side is
    * a column-pruned scan of its (id, sig) for banding plus (id, ng) for
    * the candidates' verify join — its text is never re-read, and only
    * 16 xxhash64 band keys per corpus row are recomputed from the
    * persisted signature. */
  def minhashLshDelta(delta: DataFrame, corpusSigs: DataFrame,
      threshold: Double = 0.5, shingleLen: Int = 5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = signatureTable(delta, shingleLen, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    minhashLshDeltaSigs(d, corpusSigs, threshold)
  }

  /** [[minhashLshDelta]] over an ALREADY-computed delta signature table
    * (the [[signatureTable]] relation) — the entry point for callers that
    * materialize delta signatures anyway, e.g. the streaming sink
    * ([[graft.streaming.StreamNearDedup]]) which both probes with and
    * then persists the same per-batch relation. Persist `deltaSigs`
    * before calling: three join branches reference it. */
  def minhashLshDeltaSigs(deltaSigs: DataFrame, corpusSigs: DataFrame,
      threshold: Double = 0.5): DataFrame =
    lshPairs(deltaSigs, Some(corpusSigs), threshold)

  /** Blocked n-gram Jaccard as a prefix-filtering set-similarity join
    * (SSJoin): within each block, candidate pairs must share a gram in
    * a rare-first prefix — lossless for Jaccard ≥ t under a global
    * token order — plus mutual size bounds (J(A,B) ≤ min|·|/max|·|).
    *
    * The whole join runs on 64-bit gram hashes. The per-doc sorted
    * distinct gram-hash set is ONE doc-local kernel pass (see
    * [[graft.functions.ShingleSetCharsExpr]]) — no gram explode, no
    * collect_set shuffle of string grams. Jaccard over hashed sets
    * equals string-gram Jaccard unless xxhash64 collides inside a
    * pair's union (probability ≈ |union|²/2⁶⁴ — vanishing at any
    * realistic scale; in practice the result equals the brute-force
    * within-block pairwise join, which is what the DuckDB oracle
    * computes), and the quadratic pair space is replaced by a
    * key-equality join on rare prefix grams: every stage is a shuffle
    * on a key, nothing is O(block²).
    *
    * The join is cost-routed per block (the standard hybrid of the
    * parallel SSJoin literature, cf. Vernica/Carey/Li 2010): a block
    * with ≤ `allPairsMaxDocs` documents runs a direct within-block pair
    * join with the Jaccard merge fused in — on dense, templated blocks
    * the prefix join enumerates each similar pair once per shared
    * prefix gram (measured 30× the pair count on an everything-similar
    * corpus), so below the bound the quadratic-but-bounded verify is
    * strictly cheaper and skips the prefix machinery entirely. Blocks
    * above the bound take the prefix-filtering path, whose candidates
    * scale with the output, not block². Per-block all-pairs work is
    * bounded by `allPairsMaxDocs²/2` merges; at corpus scale every real
    * block exceeds the bound and routes to the prefix join.
    *
    * Prefix ranking is doc-local: the per-block gram→df dictionary —
    * bounded by the gram universe, ≤ charset^n for character n-grams —
    * is aggregated once, broadcast, and each document ranks its own
    * grams against it in a kernel
    * ([[graft.functions.RankedPrefixGrams]]). The only token-table-wide
    * stage is the map-side-combined df count; there is no df join and
    * no per-doc `row_number` window over the token stream.
    *
    * ACCEPTED-BY-DESIGN scaling step (the standing x4 sf1 α-flag):
    * when the per-block df dictionary outgrows
    * `spark.sql.autoBroadcastJoinThreshold`, AQE flips the df join
    * from broadcast to shuffle — a ONE-TIME step in shuffle volume at
    * the SF where the flip lands (measured α_shuffle ≈ 6 across the
    * sf0.1→sf1 window that straddles it), not super-linear growth:
    * past the flip, shuffle is ∝ token stream and the exponent returns
    * to ~1. Pre-routing on a gram-universe estimate would just move
    * the same step behind a hand-rolled size model that duplicates
    * what AQE measures exactly at runtime — rejected. */
  def ngramJaccardBlocked(docs: DataFrame, blockCol: String,
      threshold: Double = 0.5, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text",
      allPairsMaxDocs: Int = 2048): DataFrame = {
    val g = Parallelism.fanOutScan(docs
        .select(col(idCol).as("id"), col(blockCol).as("blk"),
          col(textCol).as("_t")))
      .select(col("id"), col("blk"),
        ShingleExprs.shingleSetChars(col("_t"), n).as("ng"))
      .filter(col("ng").isNotNull)
      .withColumn("sz", size(col("ng")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // asymmetric prefixes (PPJoin, Xiao et al. 2008 Lemma 2): for a
    // qualifying pair with |a| ≤ |b|, the SMALLER doc's indexing prefix
    // sz−⌈(2t/(1+t))·sz⌉+1 and the LARGER doc's probing prefix
    // sz−⌈t·sz⌉+1 must share a gram — so the join restricts the a-side
    // (smaller) to its indexing prefix and leaves the b-side (larger) on
    // its full probing prefix, shrinking the pair space with no loss.
    // (Restricting b instead is NOT sound: the guarantee is one-sided.)
    //
    // All bounds are computed in EXACT decimal arithmetic on a
    // threshold nudged down by 1e-12. Double arithmetic here silently
    // shortens prefixes for thresholds that aren't FP-exact — e.g.
    // floor((1.0−0.8)·5)+1 = 1 instead of 2, dropping a J=4/5 pair at
    // t=0.8 — and the 1e-12 slack additionally covers pairs whose real
    // Jaccard sits within one double-rounding ulp below the threshold
    // yet passes the final double comparison. The slack only ever
    // lengthens prefixes (a handful of extra candidates, never a miss).
    val tLow = BigDecimal.valueOf(threshold) - BigDecimal("1e-12")
    // fixed scale 15, rounded DOWN: keeps the Spark-side decimal
    // multiply within exact precision (scale 15 + int32 < 38 digits)
    // and any rounding only lengthens the prefix (still conservative)
    val ixLow = (tLow * 2 / (1 + tLow))
      .setScale(15, scala.math.BigDecimal.RoundingMode.FLOOR)
    // prefix length sz−⌈f·sz⌉+1 ⇔ rn ≤ sz−⌈f·sz⌉+1; Spark decimal
    // multiply + ceil are exact, so the bound is the true integer one
    // (the kernel computes the identical bound with java BigDecimal)
    def prefLen(f: BigDecimal): Column =
      col("sz") - ceil(lit(f) * col("sz")) + 1
    // dense route: direct within-block pair join with the size bound as
    // a join predicate and the Jaccard merge fused into the same stage —
    // no prefix machinery, no distinct, no re-fetch of the gram sets
    def denseRoute(gd0: DataFrame): DataFrame = {
      val gd = gd0.withColumn("minSz", ceil(lit(tLow) * col("sz")))
      val pairs = gd.as("a").join(gd.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            greatest(col("a.minSz"), col("b.minSz")))
        .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
          col("a.ng").as("ng_a"), col("b.ng").as("ng_b"))
      jaccardVerify(pairs, threshold)
    }

    def prefixRoute(gs: DataFrame): DataFrame = {
    // per-(block, gram) document frequency — the rare-first order key.
    // Map-side partial aggregation shrinks the explode to distinct
    // grams before the shuffle.
    val gramDf = gs.select(col("blk"), explode(col("ng")).as("gram"))
      .groupBy(col("blk"), col("gram")).agg(count(lit(1)).as("df"))
    // dictionary per block: grams ascending, dfs aligned. Broadcast is
    // the contract of this path (dictionary ≤ gram universe); the join
    // attaches each block's dictionary row to its documents with zero
    // shuffle, and the kernel emits prefix grams already in rank order
    // — posexplode's position IS the rank.
    val dict = gramDf.groupBy(col("blk"))
      .agg(array_sort(collect_list(struct(col("gram"), col("df"))))
        .as("gd"))
      .select(col("blk"),
        transform(col("gd"), x => x.getField("gram")).as("dict_grams"),
        transform(col("gd"), x => x.getField("df")).as("dict_dfs"))
    val ranked = gs.join(broadcast(dict), Seq("blk"))
      .select(col("id"), col("blk"), col("sz"),
        posexplode(PrefixExprs.rankedPrefixGrams(
          col("ng"), col("dict_grams"), col("dict_dfs"), tLow)))
      .select(col("id"), col("blk"), col("col").as("gram"), col("sz"),
        (col("pos") + 1).as("rn"))
    // per-row join-condition ingredients, precomputed ONCE per prefix row
    // instead of per probed pair: the join condition below runs on every
    // per-gram pair the hash join probes (an order of magnitude more
    // often than there are prefix rows), so decimal ceil arithmetic
    // there dominates the probe loop — precompute `minSz` (the size
    // lower bound ⌈t·sz⌉) and `sfx` (the positional-filter suffix
    // budget sz−rn) as plain longs
    val prefix = ranked
      .withColumn("ixp", col("rn") <= prefLen(ixLow))
      .withColumn("minSz", ceil(lit(tLow) * col("sz")))
      .withColumn("sfx", col("sz") - col("rn"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // positional filter (PPJoin Lemma 3): all shared grams of a pair sit
    // at ranks ≥ the matched gram's rank in BOTH docs (global rare-first
    // order), so overlap ≤ 1 + min(szA−pa, szB−pb); a qualifying pair
    // needs overlap ≥ α = ⌈t/(1+t)·(szA+szB)⌉ and is kept via its FIRST
    // shared prefix gram, where the bound is loosest. Prunes most of the
    // per-gram pair space before the distinct.
    //
    // The α test runs in pure long arithmetic: with α′ = N/10⁹ a scale-9
    // FLOOR of t/(1+t), integer x satisfies x ≥ ⌈α′·s⌉ ⇔ x·10⁹ ≥ N·s
    // (x ≤ 2³¹ and s ≤ 2³² keep both products inside a long). The floor
    // only loosens the candidate bound — never the verified output.
    val alphaN9 = (tLow / (1 + tLow))
      .setScale(9, scala.math.BigDecimal.RoundingMode.FLOOR)
      .*(BigDecimal(1000000000L)).toLongExact
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.blk") === col("b.blk") && col("a.gram") === col("b.gram") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))) &&
          col("a.ixp") &&
          col("a.sz") >= col("b.minSz") &&
          (lit(1L) + least(col("a.sfx"), col("b.sfx"))) * lit(1000000000L) >=
            lit(alphaN9) * (col("a.sz").cast("long") + col("b.sz")))
      .select(least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"))
      .distinct()
    // verify: merge-intersect Jaccard over the same persisted hashed
    // sets — the sorted-long-array merge is the cheapest exact check
    // available, and no second per-doc aggregation is needed
    val withSets = candidates
      .join(gs.select(col("id"), col("ng").as("ng_a")),
        col("doc_a") === col("id")).drop("id")
      .join(gs.select(col("id"), col("ng").as("ng_b")),
        col("doc_b") === col("id")).drop("id")
    jaccardVerify(withSets, threshold)
    }

    // cost-based routing on block size: ONE aggregate job over the
    // persisted gram relation decides both existence bits; the per-route
    // block lists (needed only on mixed corpora) reuse the persisted
    // blockSizes instead of re-aggregating per reference. Single-route
    // corpora — the 100 TB case, all blocks large — keep a plan with no
    // routing join at all.
    if (allPairsMaxDocs <= 0) prefixRoute(g)
    else {
      val blockSizes = g.groupBy(col("blk")).agg(count(lit(1)).as("nb"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val routeRow = blockSizes.agg(
        sum(when(col("nb") <= allPairsMaxDocs, 1).otherwise(0)).as("d"),
        sum(when(col("nb") > allPairsMaxDocs, 1).otherwise(0)).as("s"))
        .collect().head
      val hasDense = Option(routeRow.get(0)).exists(_.asInstanceOf[Long] > 0)
      val hasSparse = Option(routeRow.get(1)).exists(_.asInstanceOf[Long] > 0)
      // single-route corpora never read blockSizes again — release the
      // cache instead of pinning dead per-block counts for the session
      if (!hasSparse) { blockSizes.unpersist(); denseRoute(g) }
      else if (!hasDense) { blockSizes.unpersist(); prefixRoute(g) }
      else {
        val dense = blockSizes.filter(col("nb") <= allPairsMaxDocs)
          .select(col("blk"))
        val sparse = blockSizes.filter(col("nb") > allPairsMaxDocs)
          .select(col("blk"))
        denseRoute(g.join(broadcast(dense), Seq("blk")))
          .union(prefixRoute(g.join(broadcast(sparse), Seq("blk"))))
      }
    }
  }

  /** Exact Jaccard over pre-sorted ngram-set columns `ng_a`/`ng_b` via a
    * codegen'd linear merge. The threshold test is fused into the
    * expression ([[graft.functions.JaccardGE]]): a separate
    * `filter(jaccard >= t)` gets inlined by predicate pushdown into the
    * preceding join condition and re-evaluated in the output projection
    * — three merge passes per candidate pair; the fused form pays one
    * per candidate plus one per surviving pair. */
  private def jaccardVerify(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("jaccard",
        SetExprs.jaccardGE(col("ng_a"), col("ng_b"), threshold))
      .filter(col("jaccard").isNotNull)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** N-gram CONTAINMENT join (quote / subset detection): ordered pairs
    * (doc_a, doc_b) with |g(A) ∩ g(B)| / |g(A)| ≥ `threshold` — doc_a's
    * gram set mostly inside doc_b's. Asymmetric by design (Broder's
    * containment, 1997): a short document quoted verbatim inside a long
    * one scores ~1.0 here while its Jaccard vs the long doc is tiny, so
    * this is the operator that catches quote farms, wrapper pages, and
    * benchmark questions embedded in longer crawl pages — the cases the
    * symmetric [[ngramJaccardBlocked]] threshold structurally misses.
    *
    * Route: [[containmentJoin]] against no corpus — the docs' gram sets
    * ([[gramSetRows]], materialized once for the join's four readers),
    * each doc's probing prefix ranked under the docs' OWN (gram, df)
    * order ([[rankPrefixes]]), and the plain prefix-vs-full-set
    * self-join: no union, no second route.
    *
    * Scale: probe rows ∝ (1−t)·|grams|; index rows = corpus gram
    * occurrences (the x36 inverted-index contract); rare-first ordering
    * keeps candidates ∝ output on templated corpora (hot grams land in
    * few prefixes); hot-gram index partitions are AQE-skew-splittable.
    * Self-containment (a = b) is excluded; docs shorter than `n` chars
    * have no gram set and never pair. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8,
      n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    requireContainmentThreshold("containmentPairs", threshold)
    val g = Materialize.eager(gramSetRows(docs, n, idCol, textCol))
    containmentJoin(g, rankPrefixes(g, None, probingPrefix(threshold)),
      None, threshold)
  }

  /** Incremental (delta) containment join: all ordered containment
    * pairs TOUCHING a new batch — delta-contained-in-(corpus ∪ delta)
    * and corpus-contained-in-delta, never corpus×corpus — against a
    * pre-built [[JaccardIndex]] (whose per-doc probing prefixes use
    * exactly the containment bound |A| − ⌈t·|A|⌉ + 1, so one index
    * serves both joins at the same threshold). Output contract:
    * [[containmentPairs]] over (corpus ∪ delta) restricted to pairs
    * with a delta endpoint (spec-proven).
    *
    * Route: [[containmentJoin]] with the index docs as its corpus. The
    * delta ranks under the index's FROZEN (gram, df) order, unseen
    * grams at df 0 (the x87 discipline); the index prefixes keep the
    * corpus order they were built with.
    *
    * Scale shape: per-batch cost ∝ delta size + its match rate — the
    * delta probes the full inverted gram relation (corpus side is a
    * column-pruned scan of the index), and the corpus side probes ONLY
    * delta grams (delta-sized inverted index). */
  def containmentPairsDelta(delta: DataFrame, index: JaccardIndex,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireContainmentThreshold("containmentPairsDelta", index.threshold)
    val d = Materialize.eager(gramSetRows(delta, index.n, idCol, textCol))
    containmentJoin(d,
      rankPrefixes(d, Some(index.gramDf), probingPrefix(index.threshold)),
      Some(index.docs), index.threshold)
  }

  private[graft] def requireContainmentThreshold(route: String,
      threshold: Double): Unit =
    require(threshold > 0 && threshold <= 1,
      s"$route: threshold must be in (0,1], got $threshold")

  /** The containment kernel behind every route: all ordered pairs
    * (a, b), a ≠ b, with |g(a) ∩ g(b)| / |g(a)| ≥ `threshold` among the
    * `probe` docs and, given a `corpus`, between probe and corpus docs
    * — never corpus×corpus. `probe` carries the probe docs' gram sets
    * `(id, ng, sz)`, `probePrefix` the same docs' `(id, sz, prefix)`
    * ([[rankPrefixes]]; one relation may serve both), `corpus` index
    * rows `(id, ng, sz, prefix)`. Routes pass their unranked gram sets
    * as `probe`, so the set-side reads never carry the dictionary join.
    *
    *  - Route 1: the probe prefixes join the full gram sets of
    *    probe ∪ corpus (probe docs as the CONTAINED side).
    *  - Route 2, only with a corpus: the corpus prefixes join the
    *    probe's full sets (corpus docs contained in probe docs).
    *
    * Exact with no order shared between the two sides: the prefix
    * filter is ONE-sided — the container side is always the full gram
    * set — and against a full set ANY |A| − ⌈t·|A|⌉ + 1 grams of A are
    * a lossless probe subset (if none hits B, overlap < ⌈t·|A|⌉), so
    * probe and corpus prefixes may rank under different orders;
    * rare-first is purely the candidate-cost choice. The lossless size
    * bound |B| ≥ ⌈t·|A|⌉ is fused into each candidate join (the 1e-12
    * slack keeps the exact-multiple boundary on the safe side of
    * double ceil). Candidates dedup to (a, b), fetch both gram sets by
    * two id-keyed joins, and verify with ONE [[SetExprs]] merge; the
    * int/int division is exactly rounded, so the score is
    * engine-portable bit-for-bit. Output: (doc_a, doc_b, containment). */
  private[graft] def containmentJoin(probe: DataFrame,
      probePrefix: DataFrame, corpus: Option[DataFrame],
      threshold: Double): DataFrame = {
    val tLow = (BigDecimal.valueOf(threshold) - BigDecimal("1e-12")).toDouble
    def cands(contained: DataFrame, containers: DataFrame): DataFrame =
      contained.select(col("id").as("_a"), col("sz").as("_sa"),
          prefixGrams.as("gram"))
        .join(containers.select(col("id").as("_b"), col("sz").as("_sb"),
          explode(col("ng")).as("gram")), Seq("gram"))
        .filter(col("_sb") >= ceil(lit(tLow) * col("_sa")) &&
          col("_a") =!= col("_b"))
        .select(col("_a"), col("_b"))
    val sets = probe.select(col("id"), col("ng"), col("sz"))
    val all = corpus.fold(sets)(
      _.select(col("id"), col("ng"), col("sz")).unionByName(sets))
    val pairs = corpus.fold(cands(probePrefix, sets))(c =>
      cands(probePrefix, all).unionByName(cands(c, sets)))
    pairs.distinct()
      .join(all.select(col("id").as("_a"), col("ng").as("_nga"),
        col("sz").as("_sza")), Seq("_a"))
      .join(all.select(col("id").as("_b"), col("ng").as("_ngb")), Seq("_b"))
      .select(col("_a").as("doc_a"), col("_b").as("doc_b"),
        (SetExprs.sortedIntersectSize(col("_nga"), col("_ngb"))
          .cast("double") / col("_sza").cast("double")).as("_c"))
      .filter(col("_c") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("_c"), 6).as("containment"))
  }

  /** `(id, extra…, ng, sz)` rows: each doc's sorted hashed char n-gram
    * set from one doc-local kernel pass, and its size. Docs shorter
    * than `n` chars have no gram set and drop. */
  private[graft] def gramSetRows(docs: DataFrame, n: Int, idCol: String,
      textCol: String, extra: Column*): DataFrame =
    docs
      .select((col(idCol).as("id") +: extra) :+
        ShingleExprs.shingleSetChars(col(textCol), n).as("ng"): _*)
      .filter(col("ng").isNotNull)
      .withColumn("sz", size(col("ng")))

  /** The persisted prefix index for incremental n-gram Jaccard joins
    * ([[ngramJaccardDelta]]) and containment joins
    * ([[containmentPairsDelta]]): `docs` carries one row per corpus doc
    * — (id, blk, ng sorted hashed gram set, sz, prefix probing-prefix
    * array under the corpus rare-first order); `gramDf` the corpus gram
    * document frequencies that FREEZE that order for later delta
    * probes. `threshold`/`n` are baked into the prefix arrays, so the
    * delta probe takes them from the index, not from arguments. Both
    * members are plain DataFrames — write as two parquet relations and
    * reconstruct on read-back. */
  final case class JaccardIndex(docs: DataFrame, gramDf: DataFrame,
      threshold: Double, n: Int)

  /** The one-row dictionary of a (gram, df) relation: grams ascending
    * with their dfs aligned, as the prefix-rank kernels' binary search
    * needs ([[graft.functions.RankedPrefixGrams]],
    * [[graft.functions.RankedPrefixGramsK]]). */
  private def jaccardDictRow(gramDf: DataFrame): DataFrame =
    gramDf
      .agg(array_sort(collect_list(struct(col("gram"), col("df"))))
        .as("gd"))
      .select(
        transform(col("gd"), x => x.getField("gram")).as("dict_grams"),
        transform(col("gd"), x => x.getField("df")).as("dict_dfs"))

  /** (gram, df) of gram-set rows: `ng` is a SET, so the count per gram
    * is its document frequency. */
  private[graft] def docFrequencies(rows: DataFrame): DataFrame =
    rows.select(explode(col("ng")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))

  /** The prefix-rank step every rare-first prefix filter shares
    * (x70/x87 edit distance, x101 Jaccard, x114/x117 containment and
    * their indexes): `rows` plus a `prefix` column — each doc's gram
    * set `ng` ranked (df asc, gram asc) and cut by the `prefix` kernel
    * ([[probingPrefix]] or [[graft.functions.RankedPrefixGramsK]]
    * applied to (ng, dict_grams, dict_dfs)). A null `ng` gets a null
    * prefix.
    *
    * The order: `None` ranks under the rows' OWN gram df (a batch route
    * or a corpus index); `Some(gramDf)` under a FROZEN corpus (gram, df)
    * relation — the rows' gram universe left-joined onto it, unseen
    * grams at df 0 (rarest; an unseen gram matches no indexed doc, so
    * freezing perturbs no stored prefix, and a delta ranked this way
    * shares the corpus total order the prefix-filter theorem needs).
    * The dictionary rides a one-row broadcast bounded by the gram
    * vocabulary (char n-grams: ≤ charset^n) and each doc ranks its own
    * grams in the kernel — no shuffle beyond the df count. */
  private[graft] def rankPrefixes(rows: DataFrame,
      order: Option[DataFrame],
      prefix: (Column, Column, Column) => Column): DataFrame = {
    val dict = order.fold(docFrequencies(rows))(frozen =>
      rows.select(explode(col("ng")).as("gram")).distinct()
        .join(frozen, Seq("gram"), "left")
        .select(col("gram"), coalesce(col("df"), lit(0L)).as("df")))
    rows.crossJoin(broadcast(jaccardDictRow(dict)))
      .select(rows.columns.map(col) :+ prefix(col("ng"),
        col("dict_grams"), col("dict_dfs")).as("prefix"): _*)
  }

  /** One row per gram of ranked rows' `prefix`. Outer on purpose: a
    * plain explode of the projected column lets the optimizer infer
    * `size(prefix) > 0` and push it, kernel inlined, into the
    * dictionary join — ranking every doc twice. The null gram an empty
    * prefix yields matches no equi-join key. */
  private[graft] def prefixGrams: Column = explode_outer(col("prefix"))

  /** The probing-prefix kernel at Jaccard/containment threshold `t`:
    * the first |A| − ⌈t·|A|⌉ + 1 ranked grams, on t nudged down by
    * 1e-12 in exact decimal (the [[ngramJaccardBlocked]] slack — it
    * only ever lengthens a prefix). */
  private[graft] def probingPrefix(
      t: Double): (Column, Column, Column) => Column =
    PrefixExprs.rankedPrefixGrams(_, _, _,
      BigDecimal.valueOf(t) - BigDecimal("1e-12"))

  /** Build the [[JaccardIndex]] for a corpus: one shingle projection,
    * one gram-df aggregate, one broadcast-ranked prefix projection
    * ([[rankPrefixes]] under the corpus's own order) — the
    * [[EditSimilarity.editIndex]] discipline for the Jaccard family.
    * Thresholds in (0, 1]: t = 1 is exact-set search.
    *
    * `blockCol` (recommended at corpus scale, matching
    * [[ngramJaccardBlocked]]'s contract): pairs are generated within a
    * block only (source, language, shard). The ranking order stays
    * GLOBAL — the prefix theorem needs any one total order, and a
    * global order keeps the index valid if blocks are later merged or
    * re-keyed. Pass None for the global single-block contract. */
  def jaccardIndex(corpus: DataFrame, threshold: Double = 0.5,
      n: Int = 3, blockCol: Option[String] = None,
      idCol: String = "doc_id", textCol: String = "text"): JaccardIndex = {
    require(threshold > 0 && threshold <= 1,
      s"jaccardIndex: threshold must be in (0,1], got $threshold")
    val g = Materialize.eager(gramSetRows(corpus, n, idCol, textCol,
      blockCol.map(c => col(c)).getOrElse(lit("")).as("blk")))
    // docs stays LAZY here (round-17 A/B): an eager materialization was
    // tried and lost on containmentPairsDelta (checkpoint blocks are
    // row-format, so the three consumers that prune `prefix` away
    // would pay full-row deserialization of the prefix arrays), while
    // consumers that DO reuse the prefix kernel (ngramJaccardDelta)
    // materialize at their own call site where the trade is positive.
    JaccardIndex(rankPrefixes(g, None, probingPrefix(threshold)),
      docFrequencies(g), threshold, n)
  }

  /** Incremental (delta) n-gram Jaccard similarity join: all pairs
    * with Jaccard ≥ `index.threshold` TOUCHING a new batch —
    * delta×corpus and delta×delta, never corpus×corpus — against a
    * pre-built [[JaccardIndex]] (typically two persisted parquet
    * relations read back). Output contract: [[ngramJaccardBlocked]]
    * over (corpus ∪ delta) with `blockCol` blocks (one global block
    * when None — both sides must use the same blocking the index was
    * built with), restricted to pairs with at least one delta doc;
    * doc ids must be disjoint between the two inputs.
    *
    * Scale shape: the shingle kernel and prefix ranking run over the
    * DELTA only; the corpus contributes (a) its persisted prefix
    * arrays to the gram-equality candidate join — a column-pruned
    * scan, no text, no kernel — and (b) gram sets for exactly the
    * candidate rows the delta-driven probe surfaces. The delta ranks
    * under the FROZEN corpus order (delta gram universe left-joined
    * onto the persisted df relation; unseen grams df = 0 — rarest,
    * and unseen grams cannot match any corpus gram, so freezing
    * perturbs no corpus doc's ranking). The prefix-filter theorem
    * needs only a total order common to both sides, so every
    * delta-touching pair is covered; the symmetric probing-prefix
    * form trades x4's asymmetric-prefix/positional pruning for an
    * index whose arrays never need rebuilding as batches arrive —
    * candidates stay ∝ delta matches either way, and the size filter
    * (min ≥ ⌈t·max⌉, exact long arithmetic) still prunes the gram
    * fan-out before the verify. */
  def ngramJaccardDelta(delta: DataFrame, index: JaccardIndex,
      blockCol: Option[String] = None, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tLow = BigDecimal.valueOf(index.threshold) - BigDecimal("1e-12")
    // the corpus index rows feed TWO consumers below (prefix explode +
    // verify gram fetch); when they arrive as a LIVE derived plan (the
    // x101 in-query build: dict broadcast + prefix kernel over the
    // shingle checkpoint) each consumer would re-evaluate that chain —
    // materialize once (§2.4; round-17 interleaved A/B: best 2.11→1.96
    // with the 3.5–4.5 s recompute outliers gone). A scan-backed index
    // (parquet read-back, the persisted-index contract) re-reads
    // column-pruned for free and is left untouched.
    val cDocs =
      if (Parallelism.scanOnly(index.docs.queryExecution.analyzed))
        index.docs
      else Materialize.eager(index.docs)
    val d = Materialize.eager(gramSetRows(delta, index.n, idCol, textCol,
      blockCol.map(c => col(c)).getOrElse(lit("")).as("blk")))
    val dPrefix =
      rankPrefixes(d, Some(index.gramDf), probingPrefix(index.threshold))
    // posexplode recovers each gram's rank in the doc's rare-first
    // prefix, from which the PPJoin pruning ingredients (indexing-
    // prefix membership `ixp`, size bound `minSz`, positional-filter
    // suffix budget `sfx`) derive — the stored index needs only the
    // probing-prefix arrays, never a schema change per knob
    val ixLow = (tLow * 2 / (1 + tLow))
      .setScale(15, scala.math.BigDecimal.RoundingMode.FLOOR)
    def explodePrefix(rel: DataFrame): DataFrame =
      rel.select(col("id"), col("blk"), col("sz"),
        posexplode(col("prefix")).as(Seq("_p0", "gram")))
        .withColumn("rn", col("_p0") + 1)
        .withColumn("ixp",
          col("rn") <= col("sz") - ceil(lit(ixLow) * col("sz")) + 1)
        .withColumn("minSz", ceil(lit(tLow) * col("sz")))
        .withColumn("sfx", col("sz").cast("long") - col("rn"))
        .drop("_p0")
    val preDelta = explodePrefix(dPrefix)
    val preAll = preDelta.unionByName(
      explodePrefix(cDocs
        .select(col("id"), col("blk"), col("sz"), col("prefix"))))
    // the full operator's candidate pruning, orientation-free (a
    // delta-corpus pair appears in ONE orientation, so the smaller
    // side's indexing-prefix requirement keys off the size comparison
    // instead of a fixed side): size bound, asymmetric prefix (Xiao
    // Lemma 2 — the ≤-side's indexing prefix must share the gram), and
    // the positional filter (Lemma 3) in the same exact long
    // arithmetic as ngramJaccardBlocked
    val alphaN9 = (tLow / (1 + tLow))
      .setScale(9, scala.math.BigDecimal.RoundingMode.FLOOR)
      .*(BigDecimal(1000000000L)).toLongExact
    val cands = preDelta.as("a").join(preAll.as("b"),
      col("a.blk") === col("b.blk") &&
        col("a.gram") === col("b.gram") && col("a.id") =!= col("b.id") &&
        least(col("a.sz"), col("b.sz")) >=
          greatest(col("a.minSz"), col("b.minSz")) &&
        when(col("a.sz") <= col("b.sz"), col("a.ixp"))
          .otherwise(col("b.ixp")) &&
        (lit(1L) + least(col("a.sfx"), col("b.sfx"))) * lit(1000000000L) >=
          lit(alphaN9) * (col("a.sz").cast("long") + col("b.sz")))
      .select(least(col("a.id"), col("b.id")).as("doc_a"),
        greatest(col("a.id"), col("b.id")).as("doc_b"))
      .distinct()
    val sets = d.select(col("id"), col("ng"))
      .unionByName(cDocs.select(col("id"), col("ng")))
    jaccardVerify(
      cands
        .join(sets.select(col("id"), col("ng").as("ng_a")),
          col("doc_a") === col("id")).drop("id")
        .join(sets.select(col("id"), col("ng").as("ng_b")),
          col("doc_b") === col("id")).drop("id"),
      index.threshold)
  }

  // ---- benchmark decontamination --------------------------------------

  /** Flag training documents that share at least `minSharedGrams`
    * character n-grams with ANY document of a benchmark/eval set — the
    * standard test-set-decontamination pass a training corpus runs
    * before a model ever sees it.
    *
    * Scale shape: the benchmark side collapses to ONE sorted distinct
    * hashed-gram array (benchmarks are small by nature — the aggregate
    * is bounded by benchmark content, not corpus size), attached to
    * every corpus partition by a single-row broadcast hash join; the
    * overlap test is then the same doc-local sorted-merge kernel the
    * Jaccard verify uses. The corpus is never shuffled and never pays
    * more than one projection pass. Output: idCol, `n_shared`,
    * `contaminated`. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      minSharedGrams: Int = 8, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text",
      maxBroadcastGrams: Long = 4L * 1000 * 1000): DataFrame = {
    require(minSharedGrams > 0,
      s"decontaminate: minSharedGrams must be > 0, got $minSharedGrams")
    require(maxBroadcastGrams > 0,
      s"decontaminate: maxBroadcastGrams must be > 0, got $maxBroadcastGrams" +
        " — the cap bounds the single-row broadcast of benchmark grams" +
        " (~8 bytes per gram per executor); raise it, don't disable it")
    val bg = benchmark
      .select(explode(ShingleExprs.shingleSetChars(col(textCol), n))
        .as("_g"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one benchmark-sized job decides the route; both routes reuse the
    // persisted distinct gram relation instead of re-shingling
    val nBench = bg.count()
    if (nBench <= maxBroadcastGrams) {
      // broadcast route: all benchmark grams collapse into ONE sorted
      // array on a single-row broadcast (bounded above by the cap —
      // ~32 MB of longs at the default), and the overlap test is the
      // doc-local sorted-merge kernel; the corpus never shuffles
      val benchGrams = bg
        .agg(sort_array(collect_list(col("_g"))).as("_bg"))
        .withColumn("_j", lit(1))
      val d = docs.select(col(idCol),
        ShingleExprs.shingleSetChars(col(textCol), n).as("_ng"))
        .withColumn("_j", lit(1))
      d.join(broadcast(benchGrams), Seq("_j"), "left")
        .withColumn("n_shared",
          coalesce(SetExprs.sortedIntersectSize(col("_ng"), col("_bg")),
            lit(0)).cast("long"))
        .withColumn("contaminated", col("n_shared") >= minSharedGrams)
        .select(col(idCol), col("n_shared"), col("contaminated"))
    } else {
      // oversized-benchmark route: hash-partitioned semi-join on the
      // gram — the corpus gram stream shuffles by gram key (the price
      // of a benchmark too big to broadcast), each (doc, gram) matches
      // at most once (both sides distinct), and docs with no hit
      // zero-fill through the left join
      val hits = docs
        .select(col(idCol),
          explode(ShingleExprs.shingleSetChars(col(textCol), n)).as("_g"))
        .join(bg, Seq("_g"))
        .groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
      docs.select(col(idCol)).join(hits, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("_n"), lit(0L)).cast("long").as("n_shared"),
          (coalesce(col("_n"), lit(0L)) >= minSharedGrams)
            .as("contaminated"))
    }
  }

  /** Continuous contamination SCORE: per-document fraction of its
    * distinct character `n`-grams that appear anywhere in the benchmark
    * set — the graded companion to [[decontaminate]]'s binary flag.
    * Production pipelines threshold the *fraction* (a 40-gram overlap
    * means something different in a tweet than in a book chapter), and
    * keep the raw score as a feature for downstream curation.
    *
    * Scale shape: identical to [[decontaminate]]'s two routes, decided
    * by the same benchmark-gram cap. The per-doc distinct-gram count
    * rides the SAME doc-local shingle projection that feeds the overlap
    * test — no second scan, no doc-keyed join-back. On the broadcast
    * route the corpus never shuffles at all; on the oversized route the
    * gram stream shuffles once and the count travels with the id.
    *
    * Output: idCol, `n_grams` (distinct grams in doc), `n_shared`,
    * `score` = n_shared / n_grams (0.0 for gram-less docs). */
  def contaminationScore(docs: DataFrame, benchmark: DataFrame,
      n: Int = 5, idCol: String = "doc_id", textCol: String = "text",
      maxBroadcastGrams: Long = 4L * 1000 * 1000): DataFrame = {
    require(maxBroadcastGrams > 0,
      s"contaminationScore: maxBroadcastGrams must be > 0, got " +
        s"$maxBroadcastGrams")
    val bg = benchmark
      .select(explode(ShingleExprs.shingleSetChars(col(textCol), n))
        .as("_g"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nBench = bg.count()
    val score = coalesce(
      col("n_shared").cast("double") /
        when(col("n_grams") > 0, col("n_grams").cast("double")),
      lit(0.0)).as("score")
    if (nBench <= maxBroadcastGrams) {
      val benchGrams = bg
        .agg(sort_array(collect_list(col("_g"))).as("_bg"))
        .withColumn("_j", lit(1))
      docs.select(col(idCol),
        ShingleExprs.shingleSetChars(col(textCol), n).as("_ng"))
        .withColumn("_j", lit(1))
        .join(broadcast(benchGrams), Seq("_j"), "left")
        .withColumn("n_grams",
          coalesce(size(col("_ng")), lit(0)).cast("long"))
        .withColumn("n_shared",
          coalesce(SetExprs.sortedIntersectSize(col("_ng"), col("_bg")),
            lit(0)).cast("long"))
        .select(col(idCol), col("n_grams"), col("n_shared"), score)
    } else {
      // oversized route: the doc-local projection computes the gram
      // count BEFORE the explode, so it tags every id exactly once and
      // the final join is the same single id-keyed left join the binary
      // operator pays
      val grams = docs
        .select(col(idCol),
          ShingleExprs.shingleSetChars(col(textCol), n).as("_ng"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hits = grams
        .select(col(idCol), explode(col("_ng")).as("_g"))
        .join(bg, Seq("_g"))
        .groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
      grams.select(col(idCol),
        coalesce(size(col("_ng")), lit(0)).cast("long").as("n_grams"))
        .join(hits, Seq(idCol), "left")
        .withColumn("n_shared", coalesce(col("_n"), lit(0L)).cast("long"))
        .select(col(idCol), col("n_grams"), col("n_shared"), score)
    }
  }

  /** [[decontaminate]] with a Bloom-filter prefilter on the gram stream —
    * the route for benchmark sets too large even for the hashed-gram
    * array broadcast, at 100 TB the common case (decontaminating against
    * every public eval suite at once easily exceeds 10⁸ distinct grams ≈
    * 1 GB of longs; the Bloom filter holds that at ~170 MB, and the
    * bits/key knob trades broadcast size against prefilter precision
    * smoothly, with correctness never at stake).
    *
    * Results are EXACT — identical to [[decontaminate]]: the filter is
    * built over all benchmark grams (one fixed-width mergeable
    * aggregate), so it has no false negatives, and every gram that
    * passes it still goes through the real semi-join, so false positives
    * die there instead of surfacing. What the filter buys is shuffle
    * volume: the per-doc gram array is filtered DOC-LOCALLY
    * ([[graft.functions.BloomRetain]], direct bit tests on the broadcast
    * bytes inside codegen) before explode+exchange, so the gram shuffle
    * carries true overlaps + an fpRate-sized sliver of the corpus
    * instead of every gram of every document. At the default ~14.4
    * bits/key with 10 probes (fp ≈ 0.1%), a clean corpus shuffles ~0.1%
    * of its gram volume.
    *
    * Cache lifecycle: the returned (lazy) plan references the persisted
    * distinct benchmark-gram relation twice (bloom build + exact verify
    * join) — the CALLER owns releasing it once the result is consumed,
    * the same contract as [[minhashLsh]]. */
  def decontaminateBloom(docs: DataFrame, benchmark: DataFrame,
      minSharedGrams: Int = 8, n: Int = 5, idCol: String = "doc_id",
      textCol: String = "text", bitsPerGram: Int = 14,
      numHashes: Int = 10): DataFrame = {
    require(minSharedGrams > 0,
      s"decontaminateBloom: minSharedGrams must be > 0, got $minSharedGrams")
    require(bitsPerGram >= 1 && bitsPerGram <= 64,
      s"decontaminateBloom: bitsPerGram must be in [1,64], got $bitsPerGram")
    val bg = benchmark
      .select(explode(ShingleExprs.shingleSetChars(col(textCol), n))
        .as("_g"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // size the filter to the actual distinct-gram count (one
    // benchmark-sized job — benchmarks are small relative to the corpus,
    // and the count also fixes the filter width deterministically)
    val nBench = bg.count().max(1L)
    val numBits = ((nBench * bitsPerGram + 63L) / 64L) * 64L
    val bloom = bg
      .agg(BloomExprs.bloomBuild(col("_g"), numBits, numHashes).as("_bloom"))
      .withColumn("_j", lit(1))
    val hits = docs
      .select(col(idCol),
        ShingleExprs.shingleSetChars(col(textCol), n).as("_ng"))
      .withColumn("_j", lit(1))
      .join(broadcast(bloom), Seq("_j"))
      // doc-local prefilter BEFORE the explode: only grams the filter
      // admits ever become shuffle rows
      .select(col(idCol),
        explode(BloomExprs.bloomRetain(col("_bloom"),
          coalesce(col("_ng"), array().cast("array<long>")))).as("_g"))
      .join(bg, Seq("_g"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).cast("long").as("n_shared"),
        (coalesce(col("_n"), lit(0L)) >= minSharedGrams)
          .as("contaminated"))
  }

  // ---- SimHash ---------------------------------------------------------

  /** SimHash per document — a document-local kernel (one projection
    * pass, no explode/shuffle). `poly = false` (default): 64-bit
    * fingerprint on xxhash64 token hashes ([[graft.functions.SimHash64]]
    * — the fast path). `poly = true`: 61-bit fingerprint on an
    * oracle-replayable polynomial token hash
    * ([[graft.functions.PolySimHash]]) whose exact value a SQL engine
    * can recompute — the variant the DuckDB correctness gate checks
    * end-to-end. Same kernel structure either way; only the leaf token
    * hash differs. */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", poly: Boolean = false): DataFrame = {
    val fp = if (poly) ShingleExprs.polySimhash(lower(col(textCol)))
    else ShingleExprs.simhash64(lower(col(textCol)))
    docs.select(col(idCol).as("id"), fp.as("simhash"))
  }

  /** Near-duplicate pairs with Hamming distance ≤ maxHamming, found by
    * chunk banding, then verified with bit_count(xor). Exact: the 64
    * fingerprint bits split into `nChunks` contiguous chunks, and by
    * pigeonhole `maxHamming < nChunks` differing bits cannot touch every
    * chunk — at least one chunk is equal, so the chunk-equality
    * [[postingPairs]] self-join generates every qualifying pair
    * (enforced by `require`).
    *
    * `nChunks` tunes bucket size vs candidate fan-out: expected bucket
    * population is I/2^(64/n) per chunk value, so larger corpora want
    * MORE chunks (SCALE.md prescribes 6–8 at ≥10⁹ docs — 10-bit chunks
    * put ~n·I²/2¹⁰ candidate pairs through the cheap xor verify, still
    * tiny relative to I²) while each document emits only n band rows. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      poly: Boolean = false, nChunks: Int = 4): DataFrame = {
    val chunks = toChunks(simhash(docs, idCol, textCol, poly), nChunks,
        maxHamming, "simhashPairs")
      .persist(StorageLevel.MEMORY_AND_DISK)
    hammingPairs(chunks, None, maxHamming)
  }

  /** (id, simhash) → (id, simhash, chunk, ck): the pigeonhole band rows
    * of [[simhashPairs]], a fixed-width projection off the persisted
    * fingerprint — the SimHash analog of [[bandRows]]. Chunk widths
    * differ by at most 1 when 64 % nChunks != 0; the offsets are their
    * running sum, so the chunks exactly partition bits 0..63. */
  private[graft] def toChunks(fps: DataFrame, nChunks: Int, maxHamming: Int,
      route: String): DataFrame = {
    require(nChunks >= 2 && nChunks <= 64,
      s"$route: nChunks must be in [2,64], got $nChunks")
    require(maxHamming >= 0 && maxHamming < nChunks,
      s"$route: the pigeonhole guarantee needs maxHamming < nChunks" +
        s" (got maxHamming=$maxHamming, nChunks=$nChunks) — raise nChunks")
    val widths = Array.tabulate(nChunks)(c =>
      64 / nChunks + (if (c < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    fps.select(col("id"), col("simhash"),
      explode(array((0 until nChunks).map { c =>
        val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), offsets(c)).bitwiseAND(lit(mask))
            .as("ck"))
      }: _*)).as("k"))
      .select(col("id"), col("simhash"), col("k.chunk").as("chunk"),
        col("k.ck").as("ck"))
  }

  /** The Hamming-≤-`maxHamming` pairs of `chunks` (against `corpus`
    * chunk rows when given): chunk-equality pairs from [[postingPairs]],
    * the fingerprints carried through the join for the xor verify,
    * one row per pair. */
  private def hammingPairs(chunks: DataFrame, corpus: Option[DataFrame],
      maxHamming: Int): DataFrame =
    postingPairs(chunks, corpus, "id", Seq("chunk", "ck"),
        carried = Seq("simhash"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(simhash_a ^ simhash_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)

  /** Incremental (delta) SimHash near-dedup: Hamming-≤-`maxHamming`
    * pairs TOUCHING a new batch against a pre-built corpus fingerprint
    * index (the [[simhash]] relation `(id, simhash)`, typically
    * persisted as parquet and read back) — [[simhashPairs]] on
    * (corpus ∪ delta) restricted to pairs with at least one delta doc,
    * the [[postingPairs]] increment on the chunk keys. Doc ids must be
    * disjoint between the two inputs.
    *
    * Scale shape (mirrors [[minhashLshDelta]]): the text-hashing kernel
    * runs over the DELTA only; the corpus side is a column-pruned scan
    * of its persisted 16-byte (id, simhash) rows, from which the chunk
    * keys are a fixed-width projection. Exactness is unchanged: the
    * pigeonhole guarantee (`maxHamming < nChunks`) holds for any
    * pair. */
  def simhashPairsDelta(delta: DataFrame, corpusFps: DataFrame,
      maxHamming: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", poly: Boolean = false,
      nChunks: Int = 4): DataFrame = {
    val d = simhash(delta, idCol, textCol, poly)
      .persist(StorageLevel.MEMORY_AND_DISK)
    simhashPairsDeltaFps(d, corpusFps, maxHamming, nChunks)
  }

  /** [[simhashPairsDelta]] over an ALREADY-computed delta fingerprint
    * relation — for callers that materialize per-batch fingerprints
    * anyway (streaming sinks; persist `deltaFps` first, two join
    * branches reference it). */
  def simhashPairsDeltaFps(deltaFps: DataFrame, corpusFps: DataFrame,
      maxHamming: Int = 3, nChunks: Int = 4): DataFrame = {
    def chunks(fps: DataFrame): DataFrame =
      toChunks(fps, nChunks, maxHamming, "simhashPairsDeltaFps")
    hammingPairs(chunks(deltaFps), Some(chunks(corpusFps)), maxHamming)
  }
}
