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
  * probes, crash-safe epochs — the [[StreamCdc]] contract);
  * `nBuckets` is immutable per outDir.
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

  private def textIndex(outDir: String) =
    new TieredIndex(s"$outDir/text", "doc_id bigint, h bigint")
  private def mediaIndex(outDir: String) =
    new TieredIndex(s"$outDir/media", "media_id bigint, v array<float>, " +
      "j int, k1 float, k2 float, k3 float, k4 float")
  private def pairStore(outDir: String) = new TieredIndex(
    s"$outDir/pairs", "doc_a bigint, doc_b bigint, modality string")

  /** The sink's [[TieredIndex]] stores. */
  private[graft] def stores(outDir: String): Seq[TieredIndex] =
    Seq(textIndex(outDir), mediaIndex(outDir), pairStore(outDir))

  /** One micro-batch: probe both indexes, append the tagged edges and
    * the batch's postings ([[sink]] runs it per trigger, then the
    * stores' maintenance). */
  private[graft] def foldBatch(outDir: String, batch: DataFrame,
      batchId: Long, delimiter: String = " the ", minParaLen: Int = 20,
      maxParaDf: Int = 16, threshold: Double = 0.999,
      decoder: MediaDecoder = FakeDecoder, nBuckets: Int = 64): Unit = {
    val spark = batch.sparkSession
    val (tIdx, mIdx, pairs) =
      (textIndex(outDir), mediaIndex(outDir), pairStore(outDir))
    val paras = Multimodal
      .paragraphKeys(batch, delimiter, minParaLen)
      .withColumn("bucket",
        pmod(col("h"), lit(nBuckets)).cast("int"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mkeys = Multimodal
      .nearDupIndex(Multimodal.docsAsMedia(batch), decoder)
      .withColumn("bucket",
        pmod(hash(col("j"), col("k1"), col("k2"), col("k3"),
          col("k4")), lit(nBuckets)).cast("int"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the batch's buckets (≤ nBuckets values each — bounded
      // collects) become partition filters on the index reads
      val tBuckets = paras.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val mBuckets = mkeys.select(col("bucket")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val textEdges = Multimodal.paragraphEdgeIncrement(
        paras.drop("bucket"),
        tIdx.corpusKeys(spark, batchId, Some(tBuckets)),
        maxParaDf)
      val mediaEdges = Multimodal.nearDupIncrement(
        mkeys.drop("bucket"),
        mIdx.corpusKeys(spark, batchId, Some(mBuckets)),
        threshold)
        .select(col("media_a").as("doc_a"),
          col("media_b").as("doc_b"))
      pairs.append(textEdges.withColumn("modality", lit("text"))
        .unionByName(
          mediaEdges.withColumn("modality", lit("media")))
        .withColumn("bucket", lit(0)), batchId)
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
    require(nBuckets >= 1,
      s"StreamCrossModal: nBuckets must be >= 1, got $nBuckets")
    Seq(textIndex(outDir), mediaIndex(outDir))
      .foreach(_.ensureNBuckets(docs.sparkSession, nBuckets))
    pairStore(outDir).ensureNBuckets(docs.sparkSession, 1)
    docs.writeStream
      .foreachBatch(TieredIndex.trigger[Row]("StreamCrossModal",
        stores(outDir), compactEvery)(foldBatch(outDir, _, _, delimiter,
          minParaLen, maxParaDf, threshold, decoder, nBuckets)))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The corpus paragraph-posting relation visible to batch `batchId`,
    * bucket-pruned — see [[TieredIndex.corpusKeys]]. */
  private[graft] def textCorpusKeys(spark: SparkSession, outDir: String,
      batchId: Long, buckets: Option[Seq[Int]]): DataFrame =
    textIndex(outDir).corpusKeys(spark, batchId, buckets)

  /** The corpus media feature relation visible to batch `batchId`,
    * bucket-pruned — see [[TieredIndex.corpusKeys]]. */
  private[graft] def mediaCorpusKeys(spark: SparkSession,
      outDir: String, batchId: Long,
      buckets: Option[Seq[Int]]): DataFrame =
    mediaIndex(outDir).corpusKeys(spark, batchId, buckets)

  /** The accumulated cross-modal edge relation — `(doc_a, doc_b,
    * modality)`; text edges may repeat across batches (see object
    * doc). Empty (with the right schema) before the first batch. */
  def pairsView(spark: SparkSession, outDir: String): DataFrame =
    pairStore(outDir).corpusKeys(spark, Long.MaxValue, None)

  /** The cross-modal duplicate clusters over everything ingested so
    * far: components of [[pairsView]] — equal to batch
    * [[Multimodal.crossModalComponents]] over the union of committed
    * batches under the cap proviso (object doc). `(node, component)`,
    * component = min reachable doc id; singletons omitted. */
  def labelsView(spark: SparkSession, outDir: String): DataFrame =
    Graph.connectedComponents(
      pairsView(spark, outDir).select(col("doc_a"), col("doc_b")))
}
