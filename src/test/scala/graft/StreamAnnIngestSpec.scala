package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}
import graft.streaming.StreamAnnIngest

/** Streaming ANN ingestion mirrors batch [[IvfIndex.append]]: after
  * any prefix of micro-batches, searching the stream-fed index equals
  * the frozen-quantizer recompute over seed ∪ streamed vectors;
  * appends are exactly-once under replay (a batch id rewrites its own
  * store dirs); the sink refuses to start on an absent or older index. */
class StreamAnnIngestSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def tmpPath(name: String): String =
    new java.io.File(
      new java.io.File(tempDir("ann_ingest_spec")), name).toString

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private type Vec = (Long, Array[Float])

  test("search through the stream-fed index equals the frozen-" +
    "quantizer recompute over seed + all streamed batches, and a " +
    "restart from checkpoint keeps appending") {
    implicit val sql = spark.sqlContext
    val seed = emb.filter(col("vec_id") % 10 =!= 0)
    val streamedRows = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
      .as[Vec].collect().toSeq.sortBy(_._1)
    val (b0, rest) = streamedRows.splitAt(streamedRows.size / 3)
    val (b1, b2) = rest.splitAt(rest.size / 2)
    val path = tmpPath("ivf_stream")
    val ckpt = tempDir("ann_ingest_ckpt")
    IvfIndex.build(seed, path, nLists = 16)

    val input = MemoryStream[Vec]
    def toDF(ds: org.apache.spark.sql.Dataset[Vec]) =
      ds.toDF("vec_id", "embedding")
    val q1 = StreamAnnIngest.sink(toDF(input.toDS()), path, ckpt)
    try {
      input.addData(b0); q1.processAllAvailable()
      input.addData(b1); q1.processAllAvailable()
    } finally q1.stop()
    // restart against the same checkpoint — the next batch id
    // continues, the sink keeps appending
    val q2 = StreamAnnIngest.sink(toDF(input.toDS()), path, ckpt)
    try {
      input.addData(b2); q2.processAllAvailable()
    } finally q2.stop()

    val queries = emb.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 50)
    val viaIndex = IvfIndex.search(spark, path, queries, k = 10,
      nProbe = 12)
    val recompute = frozenIvfTopK(Similarity.ivfCentroids(seed),
      seed.select(col("vec_id"), col("embedding"))
        .unionAll((b0 ++ b1 ++ b2).toDF("vec_id", "embedding")),
      queries, k = 10, nProbe = 12)
    assert(collectSorted(viaIndex) === collectSorted(recompute))
  }

  test("the same batch id twice equals one append") {
    val seed = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val path = tmpPath("ivf_replay")
    IvfIndex.build(seed, path, nLists = 8)
    def lists = IvfIndex.open(spark, path).lists
      .corpusKeys(spark, Long.MaxValue).count()
    def masses = IvfIndex.open(spark, path).cellMasses(spark).toSeq
    IvfIndex.append(spark, path, delta, batchId = 1)
    val (once, onceMasses) = (lists, masses)
    // the foreachBatch replay: same batch, same id
    IvfIndex.append(spark, path, delta, batchId = 1)
    assert(lists === once)
    assert(masses === onceMasses)
    assert(onceMasses.sum === once)
    // a new batch id still appends
    IvfIndex.append(spark, path, delta.limit(5), batchId = 2)
    assert(lists === once + 5)
  }

  test("the sink refuses to start without a pre-built index (the " +
    "frozen-quantizer contract)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Vec]
    def start(path: String) = intercept[IllegalArgumentException] {
      StreamAnnIngest.sink(input.toDS().toDF("vec_id", "embedding"), path,
        tempDir("ann_noidx_ckpt"))
    }.getMessage
    val missing = start(tmpPath("missing"))
    assert(missing.contains("build one from"), missing)
    // an index in the older epoch layout (version 2 meta) fails at
    // start with a rebuild message, before any trigger runs
    val old = tmpPath("v2")
    Seq((2, 8, 64, 450L, 0, 16, 1, "batch_0"))
      .toDF("version", "n_lists", "dim", "n_vecs", "m", "ksub", "n_epochs",
        "last_tag").write.parquet(s"$old/meta")
    val v2 = start(old)
    assert(v2.contains("version 2") && v2.contains("rebuild"), v2)
  }
}
