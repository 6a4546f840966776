package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** The incremental corpus loop, ONLINE: one `foreachBatch` sink that
  * maintains all three dedup artifacts per micro-batch — the streaming
  * composition of the per-operator delta contracts that
  * `IncrementalLoopSpec` proves batch-by-batch (SCALE.md "The
  * incremental corpus loop"):
  *
  *   1. content-hash index (x48 probe → append): each batch exact-dedups
  *      against the growing index and contributes its NEW hashes;
  *   2. fingerprint relation (x86 probe → append): each batch's simhash
  *      pairs form against corpus + batch fingerprints — corpus×corpus
  *      pairs structurally cannot re-form;
  *   3. cluster labels ([[StreamClusters]] generations): the batch's
  *      pairs fold into the persisted (node, component) labeling.
  *
  * Storage protocol: stores 1, 2 and the accepted-ids output are
  * one-bucket [[TieredIndex]] stores under `dir/hash`, `dir/fps` and
  * `dir/accepted` — per-batch delta-sized appends (never an O(corpus)
  * snapshot), folded every `compactEvery` triggers into LSM base
  * epochs by the sink itself; store 3 reuses [[StreamClusters]]'
  * full-snapshot generations (O(labeled nodes) ∝ duplicates), which
  * prune themselves. Restart safety: every read for batch N sees only
  * rows STRICTLY BELOW N, and every write overwrites batch N's own
  * directory — a replayed batch rebuilds from exactly the content its
  * first attempt saw, so the sink is replay-idempotent store-by-store
  * and a crash between stores heals on replay. Maintenance runs only
  * inside the serialized `foreachBatch` (the [[TieredIndex]]
  * single-writer contract), so no compaction ever races a batch.
  * Arrival-order contract: batches are ingestion slices (the x48
  * replay contract), so the first-arrival keep equals batch
  * [[Dedup.exact]]'s min-id keep when ids are arrival-ordered.
  */
object StreamCorpusLoop {

  private def hashStore(dir: String) =
    new TieredIndex(s"$dir/hash", "h binary")
  private def fpStore(dir: String) =
    new TieredIndex(s"$dir/fps", "id bigint, simhash bigint")
  private def acceptedStore(dir: String, idCol: String) =
    new TieredIndex(s"$dir/accepted", s"`$idCol` bigint")
  private def labelsDir(dir: String) = s"$dir/labels"

  /** The loop's [[TieredIndex]] stores (labels are not one). */
  private[graft] def stores(dir: String,
      idCol: String = "doc_id"): Seq[TieredIndex] =
    Seq(hashStore(dir), fpStore(dir), acceptedStore(dir, idCol))

  /** Fold one micro-batch of documents through all three artifacts
    * (the testable core; [[sink]] adapts it to `foreachBatch` and
    * runs the stores' maintenance after it). */
  def foldBatch(dir: String, batch: DataFrame, batchId: Long,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3): Unit = {
    val spark = batch.sparkSession
    val (hash, fps, accepted) =
      (hashStore(dir), fpStore(dir), acceptedStore(dir, idCol))
    val b = batch.select(col(idCol), col(textCol))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // 1. exact dedup against the growing hash index, then append the
    // batch's NEW hashes (left_anti keeps the index a set across deltas)
    val idx = hash.corpusKeys(spark, batchId)
    accepted.append(Dedup.exactDelta(b, idx, idCol, textCol), batchId)
    hash.append(Dedup.hashIndex(b, textCol).join(idx, Seq("h"), "left_anti"),
      batchId)

    // 2. near-dup pairs against corpus + batch fingerprints (delta
    // probes; corpus×corpus pairs structurally cannot form), then
    // append the batch's fingerprints
    // 3. fold the batch's pairs into the labels store (StreamClusters'
    // generation protocol is itself replay-idempotent)
    val dFps = Dedup.simhash(b, idCol, textCol, poly = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup
      .simhashPairsDeltaFps(dFps, fps.corpusKeys(spark, batchId),
        maxHamming)
      .persist(StorageLevel.MEMORY_AND_DISK)
    StreamClusters.foldBatch(labelsDir(dir),
      pairs.select(col("doc_a"), col("doc_b")), batchId)
    fps.append(dFps, batchId)
    pairs.unpersist(false)
    dFps.unpersist(false)
    b.unpersist(false)
  }

  /** `foreachBatch` adapter: `docsStream.writeStream.foreachBatch(
    * StreamCorpusLoop.sink(dir)).start()`. After folding batch N it
    * runs each store's [[TieredIndex.maintain]]: once `compactEvery`
    * committed batch dirs accumulate they fold into a base epoch, so
    * a forever-running loop keeps O(compactEvery) recent dirs and
    * O(log n) epochs per store without any external maintenance job.
    * The stores' layout is checked once, when the function is built
    * ([[TieredIndex.trigger]]). */
  def sink(dir: String, idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3, compactEvery: Int = 16): (DataFrame, Long) => Unit = {
    TieredIndex.trigger[Row]("StreamCorpusLoop", stores(dir, idCol),
      compactEvery)(foldBatch(dir, _, _, idCol, textCol, maxHamming))
  }

  /** Accepted (first-arrival unique-content) doc ids across every
    * complete batch. */
  def acceptedIds(spark: SparkSession, dir: String,
      idCol: String = "doc_id"): DataFrame =
    acceptedStore(dir, idCol).corpusKeys(spark, Long.MaxValue)

  /** The growing content-hash index (one 16-byte row per distinct
    * accepted content). */
  def hashIndex(spark: SparkSession, dir: String): DataFrame =
    hashStore(dir).corpusKeys(spark, Long.MaxValue)

  /** The growing fingerprint relation (id, simhash). */
  def fps(spark: SparkSession, dir: String): DataFrame =
    fpStore(dir).corpusKeys(spark, Long.MaxValue)

  /** Current cluster labels (delegates to [[StreamClusters]]). */
  def labels(spark: SparkSession, dir: String): DataFrame =
    StreamClusters.labels(spark, labelsDir(dir))
}
