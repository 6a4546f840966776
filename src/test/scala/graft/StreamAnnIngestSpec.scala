package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}
import graft.streaming.StreamAnnIngest

/** Streaming ANN ingestion mirrors batch [[IvfIndex.append]]: after
  * any prefix of micro-batches, searching the stream-fed index equals
  * the frozen-quantizer recompute over seed ∪ streamed vectors;
  * appends are exactly-once under replay (the tag commits with the
  * epoch bump); a leftover staged meta dir from a crashed commit
  * never corrupts the index. */
class StreamAnnIngestSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def tmpPath(name: String): String =
    new java.io.File(
      Files.createTempDirectory("ann_ingest_spec").toFile, name).toString

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
    val ckpt = Files.createTempDirectory("ann_ingest_ckpt").toString
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

  test("a replayed append under the same tag is a no-op: the tag " +
    "commits atomically with the epoch bump, so retrying a committed " +
    "batch never duplicates vectors") {
    val seed = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val path = tmpPath("ivf_tag")
    IvfIndex.build(seed, path, nLists = 8)
    IvfIndex.append(spark, path, delta, tag = Some("batch_0"))
    val once = spark.read.parquet(s"$path/lists").count()
    val epochs = spark.read.parquet(s"$path/meta")
      .select("n_epochs").collect()(0).getInt(0)
    // the foreachBatch replay: same batch, same tag
    IvfIndex.append(spark, path, delta, tag = Some("batch_0"))
    assert(spark.read.parquet(s"$path/lists").count() === once)
    assert(spark.read.parquet(s"$path/meta")
      .select("n_epochs").collect()(0).getInt(0) === epochs)
    // an UNtagged append still appends (batch semantics unchanged)
    IvfIndex.append(spark, path, delta.limit(5))
    assert(spark.read.parquet(s"$path/lists").count() === once + 5)
  }

  test("a leftover staged meta dir (crashed commit) is overwritten by " +
    "the next append, and readers never see it") {
    val seed = emb.filter(col("vec_id") % 10 =!= 0)
    val path = tmpPath("ivf_metanext")
    IvfIndex.build(seed, path, nLists = 8)
    // plant a torn staged-meta attempt
    val stale = new java.io.File(s"$path/meta_next")
    assert(stale.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(stale, "garbage").toPath, Array[Byte](1, 2, 3))
    IvfIndex.append(spark, path,
      emb.filter(col("vec_id") % 10 === 0), tag = Some("b1"))
    // the append committed through the staged rename; the index loads
    val queries = emb.filter(col("vec_id") < 30)
    assert(IvfIndex.search(spark, path, queries, k = 5,
      nProbe = 8).count() > 0)
  }

  test("the sink refuses to start without a pre-built index (the " +
    "frozen-quantizer contract)") {
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Vec]
    val err = intercept[IllegalArgumentException] {
      StreamAnnIngest.sink(input.toDS().toDF("vec_id", "embedding"),
        tmpPath("missing"),
        Files.createTempDirectory("ann_noidx_ckpt").toString)
    }
    assert(err.getMessage.contains("build one from"), err.getMessage)
  }
}
