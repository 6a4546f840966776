package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extract / frame-sample run
  * as per-partition batch transforms over typed Datasets.
  *
  * The container has no image/audio codecs, so the decode step is STUBBED
  * behind [[MediaDecoder]] with a deterministic fake — the Spark-side
  * plumbing (schema, partitioning, batch iteration shape) is real and
  * tested. Swap [[FakeDecoder]] for a codec-backed implementation in a
  * real deployment; nothing else changes.
  *
  * Scale notes: payloads never pass through a shuffle — decode runs
  * map-side on the scan partition; only small feature rows (metadata +
  * fixed-width vectors) flow downstream. Partition sizing is controlled by
  * `spark.sql.files.maxPartitionBytes`, so a 100 TB media corpus splits
  * into bounded-memory decode tasks.
  */
object Multimodal {

  /** One media object: opaque payload + typed metadata. */
  case class MediaRecord(mediaId: Long, mediaType: String, payload: Array[Byte],
      width: Int, height: Int, durationMs: Long)

  /** Decoded/derived features (fixed-width — safe to shuffle/aggregate). */
  case class MediaFeatures(mediaId: Long, mediaType: String, byteLen: Long,
      nFrames: Int, meanLuma: Double, featureVec: Array[Float])

  /** Decode boundary. Implementations must be pure and thread-safe; they
    * are invoked once per record inside mapPartitions. */
  trait MediaDecoder extends Serializable {
    def decode(payload: Array[Byte], width: Int, height: Int): DecodedFrame
  }
  case class DecodedFrame(luma: Double, features: Array[Float])

  /** STUB decoder: deterministic arithmetic over raw bytes (no codec in
    * this environment). Real deployments plug javax.imageio / ffmpeg here.
    * Features are CENTERED ((byte − 128) / 128 ∈ [−1, 1)) so cosine over
    * them discriminates: uncentered byte samples of any two text-like
    * payloads are all-positive and near-collinear (cosine ≈ 1 for
    * everything), which would make feature-space near-dedup vacuous.
    * (b − 128)/128 is exact in Float — integer over a power of two — so
    * the SQL oracle's double arithmetic reproduces it bit-for-bit. */
  object FakeDecoder extends MediaDecoder {
    def decode(payload: Array[Byte], width: Int, height: Int): DecodedFrame = {
      var acc = 0L
      var i = 0
      while (i < payload.length) { acc += (payload(i) & 0xff); i += 1 }
      val luma = if (payload.isEmpty) 0.0
        else acc.toDouble / payload.length / 255.0
      val features = Array.tabulate(16) { j =>
        val b = if (payload.isEmpty) 0
          else payload((j * 31) % payload.length) & 0xff
        (b - 128) / 128.0f
      }
      DecodedFrame(luma, features)
    }
  }

  /** Frame-sample interval in bytes for the stub "video" path. */
  val FrameBytes = 256

  /** Decode + feature-extract pipeline: per-partition batch iteration,
    * one decoder instance per task, fixed-width outputs. */
  def extractFeatures(media: Dataset[MediaRecord],
      decoder: MediaDecoder = FakeDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val d = decoder.decode(m.payload, m.width, m.height)
        MediaFeatures(m.mediaId, m.mediaType, m.payload.length.toLong,
          nFrames = math.max(1, m.payload.length / FrameBytes),
          meanLuma = d.luma, featureVec = d.features)
      }
    }
  }

  /** One sampled frame: parent media id + frame index + per-frame
    * features (fixed-width — safe to shuffle/aggregate). */
  case class FrameSample(mediaId: Long, frameIdx: Int, luma: Double,
      features: Array[Float])

  /** Frame sampling: split the payload into fixed-size frame windows,
    * decode every `stride`-th one, emit one row per sampled frame. The
    * per-record fan-out happens map-side (one iterator pass, no
    * intermediate collection of all frames), so a long video expands
    * into frame rows without materializing them in executor memory. */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int = 4,
      decoder: MediaDecoder = FakeDecoder): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    require(stride >= 1, "stride must be >= 1")
    media.mapPartitions { it =>
      it.flatMap { m =>
        val nFrames = math.max(1, m.payload.length / FrameBytes)
        Iterator.range(0, nFrames, stride).map { f =>
          val from = f * FrameBytes
          val until = math.min(from + FrameBytes, m.payload.length)
          val frame = java.util.Arrays.copyOfRange(m.payload, from,
            math.max(until, from))
          val d = decoder.decode(frame, m.width, m.height)
          FrameSample(m.mediaId, f, d.luma, d.features)
        }
      }
    }
  }

  /** "Resize" stub: deterministic byte-domain downsample of the payload
    * to a target size (every ceil(len/target)-th byte). Real deployments
    * replace the byte loop with a codec resize; the Spark plumbing —
    * map-side transform, no shuffle, bounded output width — is the part
    * that survives the swap. */
  def resizePayload(media: Dataset[MediaRecord],
      targetBytes: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    require(targetBytes >= 1, "targetBytes must be >= 1")
    media.mapPartitions { it =>
      it.map { m =>
        if (m.payload.length <= targetBytes) m
        else {
          val step = math.ceil(m.payload.length.toDouble / targetBytes).toInt
          val out = Array.ofDim[Byte]((m.payload.length + step - 1) / step)
          var i = 0
          while (i < out.length) { out(i) = m.payload(i * step); i += 1 }
          m.copy(payload = out)
        }
      }
    }
  }

  /** Synthesize a media table from `documents` (text bytes as payload) —
    * lets the plumbing run against harness data. Pure column expressions,
    * so the byte-level stats are oracle-checkable. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text/blob").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Column-level byte stats over a binary payload column (the
    * SQL-expressible slice of the pipeline, used for the oracle query). */
  def payloadStats(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      length(col("payload")).cast("long").as("byte_len"),
      greatest(floor(length(col("payload")) / FrameBytes), lit(1))
        .cast("long").as("n_frames"))

  /** Perceptual (feature-level) near-duplicate media pairs — the pass
    * after [[dedupPayloads]]'s byte-identity: decode each payload to
    * its fixed-width feature vector, generate candidates through
    * quantized-feature CHUNK keys (the x3 SimHash pigeonhole
    * discipline at feature level), verify with exact cosine ≥
    * `threshold`. Catches re-encoded / resized / lightly-edited copies
    * that byte-identity misses — the second pass every scraped media
    * corpus runs after exact dedup.
    *
    * Blocking: the 16 feature coordinates split into 4 chunk keys of
    * 4 RAW coordinates each (exact float values — no quantization: a
    * byte-level edit moves a sampled byte arbitrarily, never by one
    * quantum, so a quantization band would add hot-key risk and buy
    * zero recall; measured on this corpus, 16-wide quantization
    * collapses ASCII letters into ~2 buckets per coordinate and
    * re-creates the quadratic). A pair is a candidate iff it shares
    * ANY chunk key, so by pigeonhole every pair whose feature vectors
    * differ in ≤ 3 of 16 coordinates is GUARANTEED a candidate —
    * byte-identical payloads agree everywhere, and a light edit moves
    * at most the few sampled coordinates it touches. More-divergent
    * pairs are best-effort (the declared one-sided LSH trade, same as
    * SimHash's Hamming pigeonhole — x3). Empty payloads carry no
    * perceptual content and never pair; zero-norm vectors drop via
    * the null cosine.
    *
    * Scale shape: decode is map-side on the scan partition and runs
    * ONCE (the feature relation is [[Materialize]]d); candidates are
    * [[Dedup.postingPairs]] on the vector-FREE chunk keys — ∝
    * duplicate mass, never corpus² (a single mean-luma band was
    * measured collapsing this corpus into a few hot bands → a 6M-pair
    * quadratic verify, 9 s at sf0.1). Id pairs DEDUPE BEFORE the
    * cosine ([[cosineVerify]]): with a real perceptual embedding (512+
    * dims) one-verify-per-pair and a vector-free key shuffle are the
    * difference between moving kilobytes or megabytes per candidate.
    * Output: (media_a, media_b, cosine). */
  def nearDupPairs(media: Dataset[MediaRecord], threshold: Double = 0.9,
      decoder: MediaDecoder = FakeDecoder): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"nearDupPairs: threshold must be in (0, 1], got $threshold")
    val feats = Materialize.eager(featureRelation(media, decoder))
    // a pair may share up to 4 chunk keys — verify once
    val pairs = Dedup.postingPairs(explodeChunkKeys(feats), None, "id",
        ChunkKeyCols)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"))
      .distinct()
    cosineVerify(pairs, "media_a", "media_b", feats, feats, threshold)
  }

  /** The deduped feature relation behind the pair routes: one row per
    * non-empty media — `(id, v)`. */
  private def featureRelation(media: Dataset[MediaRecord],
      decoder: MediaDecoder): DataFrame =
    extractFeatures(
        media.filter((m: MediaRecord) => m.payload.nonEmpty), decoder)
      .select(col("mediaId").as("id"), col("featureVec").as("v"))

  private val ChunkKeyCols = Seq("j", "k1", "k2", "k3", "k4")

  /** One row per (id, chunk j) — `(id, [v,] j, k1..k4)`. The candidate
    * join shuffles the vector-FREE form; the persisted index carries
    * `v` (`withVector`) so the index alone can verify candidates (the
    * delta probe joins on the key columns only and reads `v` back per
    * surviving pair). */
  private def explodeChunkKeys(feats: DataFrame,
      withVector: Boolean = false): DataFrame = {
    val carry = col("id") +: (if (withVector) Seq(col("v")) else Nil)
    feats.select(carry :+ posexplode(array((0 until 4).map(j => struct(
          (1 to 4).map(c =>
            element_at(col("v"), 4 * j + c).as(s"k$c")): _*)): _*)): _*)
      .select(carry ++ Seq(col("pos").as("j"),
        col("col.k1").as("k1"), col("col.k2").as("k2"),
        col("col.k3").as("k3"), col("col.k4").as("k4")): _*)
  }

  /** Exact cosine verify of distinct candidate pairs `(a, b)`: the
    * vectors (`(id, v)` rows) join back per pair — one cosine per pair
    * — and pairs at ≥ `threshold` are kept, as `(a, b, cosine)`. */
  private def cosineVerify(pairs: DataFrame, a: String, b: String,
      vecsA: DataFrame, vecsB: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(vecsA.select(col("id").as(a), col("v").as("_va")), Seq(a))
      .join(vecsB.select(col("id").as(b), col("v").as("_vb")), Seq(b))
      .select(col(a), col(b),
        round(Similarity.cosine(col("_va"), col("_vb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)

  /** The persistable media near-dup index: [[nearDupPairs]]'s
    * feature/chunk-key relation of the CORPUS — what an incremental
    * pipeline writes once (bucket or sort by the chunk key so the
    * delta probe co-locates) and probes per batch
    * ([[graft.operators.Dedup.cdcChunkIndex]]'s contract on the
    * binary modality). Columns: `(media_id, v, j, k1..k4)`. */
  def nearDupIndex(media: Dataset[MediaRecord],
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    explodeChunkKeys(featureRelation(media, decoder), withVector = true)
      .withColumnRenamed("id", "media_id")

  /** Incremental perceptual near-dedup: decode ONLY the delta batch
    * and probe a persisted [[nearDupIndex]] — cost ∝ |delta| plus
    * the matching postings, the corpus is never re-decoded (the
    * [[graft.operators.Dedup.cdcOverlapDelta]] discipline on the
    * binary modality). Output `(media_delta, media_corpus, cosine)` —
    * equal to [[nearDupPairs]] over (corpus ∪ delta) restricted to
    * cross pairs, with the delta id first (law-tested). Media ids
    * must be disjoint across the two sides, the same precondition as
    * every delta route. */
  def nearDupDelta(delta: Dataset[MediaRecord], index: DataFrame,
      threshold: Double = 0.9,
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    nearDupProbe("nearDupDelta", threshold, crossOnly = true,
        "media_delta", "media_corpus")(
      explodeChunkKeys(Materialize.eager(featureRelation(delta, decoder)),
        withVector = true).withColumnRenamed("id", "media_id"), index)

  /** One micro-batch step of streaming perceptual media dedup
    * ([[graft.streaming.StreamMediaDedup]]): all near-dup pairs
    * TOUCHING the batch — [[Dedup.postingPairs]]`(batch, corpus)` over
    * feature/chunk-key relations (the [[nearDupIndex]] schema
    * `(media_id, v, j, k1..k4)` on both sides), so each pair is
    * emitted exactly once, when its later member arrives. The
    * corpus-side SCAN is the caller's concern:
    * [[graft.streaming.StreamMediaDedup]] partition-prunes it by feature
    * bucket. Output: `(media_a, media_b, cosine)`, media_a < media_b.
    * Ids must be globally unique across batches. */
  def nearDupIncrement(batchKeys: DataFrame, corpusKeys: DataFrame,
      threshold: Double = 0.9): DataFrame =
    nearDupProbe("nearDupIncrement", threshold, crossOnly = false,
      "media_a", "media_b")(batchKeys, corpusKeys)

  /** The body of [[nearDupDelta]] (`crossOnly`: batch × corpus pairs
    * only) and [[nearDupIncrement]] (every pair touching the batch),
    * over [[nearDupIndex]]-schema relations. Corpus postings are
    * key-restricted to the batch's chunk keys and materialized once —
    * the kernel's probe and the vector join-back both read them — so
    * per-batch shuffle is ∝ batch keys + matching postings, never the
    * corpus. `batchKeys` is built only after `threshold` is checked. */
  private def nearDupProbe(route: String, threshold: Double,
      crossOnly: Boolean, a: String, b: String)(
      batchKeys: => DataFrame, corpusKeys: DataFrame): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"$route: threshold must be in (0, 1], got $threshold")
    val cols = col("media_id").as("id") +: col("v") +: ChunkKeyCols.map(col)
    val bk = batchKeys.select(cols: _*)
    val hits = Materialize.eager(corpusKeys.select(cols: _*).join(
      broadcast(bk.select(ChunkKeyCols.map(col): _*)), ChunkKeyCols,
      "left_semi"))
    val pairs = Dedup.postingPairs(bk, Some(hits), "id", ChunkKeyCols,
        crossOnly = crossOnly)
      .select(col("doc_a").as(a), col("doc_b").as(b))
      .distinct()
    // one (id, v) row per media, computed once: cosineVerify reads it
    // on both sides of the pair
    val vecs = Materialize.eager(bk.select(col("id"), col("v"))
      .unionByName(hits.select(col("id"), col("v")))
      .dropDuplicates("id"))
    cosineVerify(pairs, a, b, vecs, vecs, threshold)
  }

  /** Sub-file (frame-level) media overlap: pairs of media sharing ≥
    * `minSharedFrames` DISTINCT near-identical frames — the
    * [[graft.operators.Dedup.cdcOverlapPairs]] shape on the video
    * modality, where the natural sub-document unit is the FRAME (a
    * fixed window is the right model here, unlike byte streams where
    * CDC earns its shift-robustness: frames are positionally defined
    * by the container, so an inserted frame shifts nothing). Catches
    * re-cut / re-intro'd / partially-reused footage that whole-file
    * routes ([[nearDupPairs]]) miss.
    *
    * Frame identity = the decoder's per-frame feature vector, used as
    * the key itself (exact equality; the stub's 16-point byte sample —
    * a real deployment swaps in a perceptual frame hash and nothing
    * else changes). Frames present in more than `maxMediaPerFrame`
    * media are dropped BEFORE pairing — the [[Dedup.removeBoilerplate]]
    * rule: an intro/outro card in k videos would emit k² pairs and is
    * not reuse evidence.
    *
    * Scale shape: frame decode is map-side fan-out (one iterator pass,
    * payloads never shuffle — only (id, feature-key) rows move);
    * per-media frame keys dedupe map-side; the pairs are
    * [[Dedup.postingPairs]] on the frame key, capped — candidates ∝
    * shared-frame mass, never corpus². Output: (media_a, media_b,
    * shared_frames). */
  def frameOverlapPairs(media: Dataset[MediaRecord], stride: Int = 1,
      minSharedFrames: Int = 2, maxMediaPerFrame: Int = 64,
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    sharedFrames("frameOverlapPairs", minSharedFrames, maxMediaPerFrame,
        "media_a", "media_b") {
      Dedup.postingPairs(Materialize.eager(frameIndex(media, stride,
        decoder)), None, "media_id", Seq("fk"), maxPerKey = Some(maxMediaPerFrame))
    }

  /** Per-pair frame overlap `(a, b, shared_frames)` at ≥
    * `minSharedFrames` from once-per-(pair, key) frame `pairs`, which
    * are built only after the arguments are checked. */
  private def sharedFrames(route: String, minSharedFrames: Int,
      maxMediaPerFrame: Int, a: String, b: String)(
      pairs: => DataFrame): DataFrame = {
    require(minSharedFrames >= 1,
      s"$route: minSharedFrames must be >= 1, got $minSharedFrames")
    require(maxMediaPerFrame >= 2,
      s"$route: maxMediaPerFrame must be >= 2, got $maxMediaPerFrame")
    pairs.groupBy(col("doc_a").as(a), col("doc_b").as(b))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  /** The persistable frame-level index: [[frameOverlapPairs]]'s
    * (frame-key → media) posting relation — one row per DISTINCT
    * `(fk, media_id)`, what an incremental pipeline writes once and
    * probes per batch ([[graft.operators.Dedup.cdcChunkIndex]]'s
    * contract at frame granularity). Frame decode is map-side
    * fan-out; only fixed-width (media_id, feature-key) rows flow. */
  def frameIndex(media: Dataset[MediaRecord], stride: Int = 1,
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    sampleFrames(media.filter((m: MediaRecord) => m.payload.nonEmpty),
        stride, decoder)
      .select(col("mediaId").as("media_id"), col("features").as("fk"))
      .distinct()

  /** Incremental frame-level overlap: decode ONLY the delta batch and
    * probe a persisted [[frameIndex]] — re-cut detection over a
    * growing video corpus never re-decodes the corpus. Output
    * `(media_delta, media_corpus, shared_frames)` — EQUAL to
    * [[frameOverlapPairs]] over (corpus ∪ delta) restricted to cross
    * pairs, with the delta id first (law-tested): the cross-only
    * [[Dedup.postingPairs]] of the delta against the index, whose cap
    * counts equal the union counts for every key that can pair. Media
    * ids must be disjoint across the two sides. */
  def frameOverlapDelta(delta: Dataset[MediaRecord], index: DataFrame,
      stride: Int = 1, minSharedFrames: Int = 2,
      maxMediaPerFrame: Int = 64,
      decoder: MediaDecoder = FakeDecoder): DataFrame =
    sharedFrames("frameOverlapDelta", minSharedFrames, maxMediaPerFrame,
        "media_delta", "media_corpus") {
      Dedup.postingPairs(Materialize.eager(frameIndex(delta, stride,
          decoder)), Some(index), "media_id", Seq("fk"),
        maxPerKey = Some(maxMediaPerFrame), crossOnly = true)
    }

  /** One micro-batch step of streaming frame-level overlap
    * ([[graft.streaming.StreamFrameOverlap]]): all overlap pairs
    * TOUCHING the batch — [[Dedup.postingPairs]]`(batch, corpus)` over
    * [[frameIndex]]-schema `(media_id, fk)` relations, so each shared
    * key counts once and `shared_frames` matches
    * [[frameOverlapPairs]]'s distinct-key count. Output `(media_a,
    * media_b, shared_frames)`, media_a < media_b.
    *
    * The cap counts each key as of THIS batch. A key can cross
    * `maxMediaPerFrame` in a LATER batch, after pairs sharing it were
    * already emitted; the deviation from the batch law is one-sided
    * (the stream may keep pairs / count keys a full recompute would
    * drop, never the reverse) — [[graft.streaming.StreamCdc]]'s
    * cap-crossing contract, law-tested in StreamFrameOverlapSpec. (The
    * corpus-side SCAN is the caller's concern:
    * [[graft.streaming.StreamFrameOverlap]] partition-prunes it by key
    * bucket.) */
  def frameOverlapIncrement(batchKeys: DataFrame, corpusKeys: DataFrame,
      minSharedFrames: Int = 2, maxMediaPerFrame: Int = 64): DataFrame =
    sharedFrames("frameOverlapIncrement", minSharedFrames,
        maxMediaPerFrame, "media_a", "media_b") {
      Dedup.postingPairs(batchKeys, Some(corpusKeys), "media_id", Seq("fk"),
        maxPerKey = Some(maxMediaPerFrame))
    }

  /** Cross-modal duplicate clusters: connected components over the
    * UNION of two edge modalities —
    *
    *  - '''text''': documents sharing a normalized paragraph of ≥
    *    `minParaLen` chars (split on `delimiter`, lower/trim, df-capped
    *    at `maxParaDf` — partial textual overlap the sampled-byte
    *    media features cannot see);
    *  - '''media''': perceptual near-dup pairs over the documents'
    *    payloads ([[nearDupPairs]] at `threshold` — byte-level
    *    similarity that survives textual rewording of unsampled
    *    regions).
    *
    * A re-encoded copy B of A and a quote-heavy derivative C of B land
    * in ONE cluster even though no single modality links all three —
    * the dedup decision a multimodal training pipeline actually needs
    * (drop/keep per CLUSTER, not per pairwise detector). Output:
    * `(node, component)` — [[Graph.connectedComponents]]'s contract,
    * component = min doc_id reachable; singleton docs (no edge in
    * either modality) are omitted, the x55 convention.
    *
    * Scale shape: text edges are [[starEdges]] (df-capped —
    * boilerplate paragraphs drop before the join-back); media edges are [[nearDupPairs]]'s chunk-key
    * candidates (∝ duplicate mass); components run on the edge union
    * (∝ edges, the x24 discipline — driver union-find under the
    * bounded-edges gate, label propagation beyond it). */
  def crossModalComponents(docs: DataFrame, delimiter: String = " the ",
      minParaLen: Int = 20, maxParaDf: Int = 16,
      threshold: Double = 0.999,
      decoder: MediaDecoder = FakeDecoder): DataFrame = {
    require(maxParaDf >= 2,
      s"crossModalComponents: maxParaDf must be >= 2, got $maxParaDf")
    val textEdges = starEdges(paragraphKeys(docs, delimiter, minParaLen),
      maxParaDf)
    val mediaEdges = nearDupPairs(docsAsMedia(docs), threshold, decoder)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    Graph.connectedComponents(textEdges.unionByName(mediaEdges))
  }

  /** [[mediaFromDocuments]] lifted to the typed [[MediaRecord]] shape
    * the perceptual routes consume. */
  def docsAsMedia(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    mediaFromDocuments(docs)
      .select(col("media_id").as("mediaId"),
        col("media_type").as("mediaType"), col("payload"),
        lit(0).as("width"), lit(0).as("height"),
        lit(0L).as("durationMs"))
      .as[MediaRecord]
  }

  /** The normalized-paragraph posting relation behind the cross-modal
    * text edges: one row per distinct (doc, paragraph hash) —
    * `(doc_id, h)`. Only the 64-bit xxhash64 of the lower/trimmed
    * paragraph ever shuffles (the [[SpanDedup]] collision stance);
    * paragraph text stays doc-local. */
  def paragraphKeys(docs: DataFrame, delimiter: String = " the ",
      minParaLen: Int = 20): DataFrame = {
    require(minParaLen >= 1,
      s"paragraphKeys: minParaLen must be >= 1, got $minParaLen")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(split(col("text"), java.util.regex.Pattern
          .quote(delimiter))).as("_p"))
      .select(col("doc_id"), lower(trim(col("_p"))).as("_p"))
      .filter(length(col("_p")) >= minParaLen)
      .select(col("doc_id"), xxhash64(col("_p")).as("h"))
      .distinct()
  }

  /** One micro-batch step of streaming paragraph-sharing edges
    * ([[graft.streaming.StreamCrossModal]]'s text modality): the
    * star edges (canonical = min doc_id → member) of every paragraph
    * key TOUCHING the batch, df-capped over batch ∪ matching corpus
    * postings (the union frequency as of this batch). Emitting the
    * full current star per qualifying key — corpus members included —
    * keeps the accumulated edge relation connectivity-equal to the
    * batch star over the final union for every key that never crosses
    * `maxParaDf` (a doc that arrived before its key qualified is
    * wired in when the key's second member lands); a later crossing
    * deviates one-sided only (emitted edges stay — the stream's
    * clusters may be coarser than the recompute's, never finer). The
    * same edge can re-emit across batches as a key gains members —
    * the product is the LABELS relation, where duplicates are free.
    *
    * Scale shape: corpus postings are key-restricted to the batch's
    * paragraph hashes before any counting (per-batch shuffle ∝ batch
    * paragraphs + matching postings, never the index; the corpus-side
    * SCAN is the caller's concern — the sink partition-prunes it by
    * hash bucket), then [[starEdges]]. */
  def paragraphEdgeIncrement(batchKeys: DataFrame,
      corpusKeys: DataFrame, maxParaDf: Int = 16): DataFrame = {
    require(maxParaDf >= 2,
      s"paragraphEdgeIncrement: maxParaDf must be >= 2, got $maxParaDf")
    val bk = batchKeys.select(col("doc_id"), col("h"))
    val hits = corpusKeys.select(col("doc_id"), col("h"))
      .join(bk.select(col("h")).distinct(), Seq("h"))
    // materialized once for its two consumers (canonical/df aggregate
    // + edge join-back)
    starEdges(Materialize.eager(bk.unionByName(hits)), maxParaDf)
  }

  /** The star edges (canonical = min doc_id → member) of every
    * paragraph key held by 2..`maxParaDf` of the `(doc_id, h)`
    * postings: one map-side-combinable hash aggregate plus one
    * key-equality join-back, never the within-group quadratic. */
  private def starEdges(postings: DataFrame, maxParaDf: Int): DataFrame = {
    val canon = postings.groupBy(col("h"))
      .agg(min(col("doc_id")).as("_c"), count(lit(1)).as("_df"))
      .filter(col("_df") > 1 && col("_df") <= maxParaDf)
      .select(col("h"), col("_c"))
    postings.join(canon, Seq("h"))
      .filter(col("doc_id") =!= col("_c"))
      .select(col("_c").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact payload dedup: group BYTE-identical payloads (md5 over the
    * raw binary — no text normalization; a payload is opaque), keep the
    * smallest id — [[Dedup.exact]]'s contract for the binary modality.
    * Same scale shape: one hash aggregate on 16-byte keys; payload
    * bytes reduce map-side and never shuffle. The standard first pass
    * over a scraped image/audio corpus, where byte-identical dupes
    * (mirrors, re-uploads, CDN copies) dominate. */
  def dedupPayloads(media: DataFrame, idCol: String = "media_id",
      payloadCol: String = "payload"): DataFrame =
    media.groupBy(unhex(md5(col(payloadCol))).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
}
