package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Graph, Multimodal}
import graft.operators.Multimodal.{MediaDecoder, FakeDecoder}

/** Streaming cross-modal duplicate clustering — the ingestion-time
  * face of [[Multimodal.crossModalComponents]], closing the
  * incremental dedup story ACROSS modalities: as documents arrive,
  * paragraph-sharing text edges and perceptual media edges accumulate
  * delta-driven, and [[labelsView]] resolves them into the
  * per-cluster drop/keep decision. Per micro-batch:
  *
  *  1. one doc-local pass each for the batch's paragraph postings
  *     ([[Multimodal.paragraphKeys]]) and media feature/chunk keys
  *     ([[Multimodal.nearDupIndex]] — payloads never shuffle);
  *  2. probe BOTH accumulated indexes bucket-pruned: text star edges
  *     via [[Multimodal.paragraphEdgeIncrement]] (df-capped over the
  *     union frequency as of the batch), media pairs via
  *     [[Multimodal.nearDupIncrement]] (exact);
  *  3. the tagged edge union appends to the one-bucket `outDir/pairs`
  *     store; the batch's postings append to their indexes — all
  *     [[TieredIndex]] stores, so a replayed batch overwrites exactly
  *     its own contribution.
  *
  * Both indexes are [[TieredIndex]]es (LSM fold/merge, bucket-pruned
  * probes, crash-safe epochs — the [[StreamCdc]] contract), bucketed
  * by their own keys: the paragraph hash `h` and the media chunk key
  * `(j, k1..k4)`; `nBuckets` is immutable per outDir.
  *
  * '''Law''': after any prefix of batches, [[labelsView]] EQUALS
  * batch [[Multimodal.crossModalComponents]] over the union of those
  * batches, PROVIDED no paragraph key crossed `maxParaDf` after its
  * edges were emitted (the media modality is exact; a crossing
  * deviates one-sided — the stream's clusters can be coarser than
  * the recompute's, never finer). Text edges may re-emit across
  * batches as keys gain members (the product is labels — duplicate
  * edges are free); media pairs emit exactly once. Doc ids must be
  * globally unique across batches. Views are consistent only between
  * batches. */
object StreamCrossModal {

  /** The paragraph-posting index, bucketed by paragraph hash. */
  private[graft] def textIndex(outDir: String, nBuckets: Int = 64) =
    new TieredIndex(s"$outDir/text", "doc_id bigint, h bigint",
      bucketKey = Some(col("h")), nBuckets = nBuckets)
  /** The media feature index: [[StreamMediaDedup]]'s, under `media`. */
  private[graft] def mediaIndex(outDir: String, nBuckets: Int = 64) =
    StreamMediaDedup.index(s"$outDir/media", nBuckets)
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs", "doc_a bigint, doc_b bigint, modality string")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String,
      nBuckets: Int = 64): Seq[TieredIndex] =
    Seq(textIndex(outDir, nBuckets), mediaIndex(outDir, nBuckets),
      pairStore(outDir))

  /** One micro-batch: probe both indexes, append the tagged edges and
    * the batch's postings ([[sink]] runs it per trigger, then the
    * stores' maintenance). */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long, delimiter: String = " the ", minParaLen: Int = 20,
      maxParaDf: Int = 16, threshold: Double = 0.999,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val (tIdx, mIdx, pairs) = (textIndex(outDir, nBuckets),
      mediaIndex(outDir, nBuckets), pairStore(outDir))
    val paras = Multimodal
      .paragraphKeys(batch, delimiter, minParaLen)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mkeys = Multimodal
      .nearDupIndex(Multimodal.docsAsMedia(batch), decoder)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val textEdges = Multimodal.paragraphEdgeIncrement(paras,
        tIdx.probe(spark, paras, batchId), maxParaDf)
      val mediaEdges = Multimodal.nearDupIncrement(mkeys,
          mIdx.probe(spark, mkeys, batchId), threshold)
        .select(col("media_a").as("doc_a"),
          col("media_b").as("doc_b"))
      pairs.append(textEdges.withColumn("modality", lit("text"))
        .unionByName(
          mediaEdges.withColumn("modality", lit("media"))), batchId)
      tIdx.append(paras, batchId)
      mIdx.append(mkeys, batchId)
    } finally { paras.unpersist(); mkeys.unpersist(); () }
  }

  /** Start the sink over a stream of `(doc_id, text)` rows. */
  def sink(docs: DataFrame, outDir: String, checkpoint: String,
      delimiter: String = " the ", minParaLen: Int = 20,
      maxParaDf: Int = 16, threshold: Double = 0.999,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64,
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("StreamCrossModal",
        stores(outDir, nBuckets), compactEvery)(foldBatch(outDir, _, _,
          delimiter, minParaLen, maxParaDf, threshold, decoder,
          nBuckets)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The accumulated cross-modal edge relation — `(doc_a, doc_b,
    * modality)`; text edges may repeat across batches (see object
    * doc). Empty (with the right schema) before the first batch. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue)

  /** The cross-modal duplicate clusters over everything ingested so
    * far: components of [[pairsView]] — equal to batch
    * [[Multimodal.crossModalComponents]] over the union of committed
    * batches under the cap proviso (object doc). `(node, component)`,
    * component = min reachable doc id; singletons omitted. */
  def labelsView(spark: SparkSession, outDir: String): DataFrame =
    Graph.connectedComponents(
      pairsView(spark, outDir).select(col("doc_a"), col("doc_b")))
}
