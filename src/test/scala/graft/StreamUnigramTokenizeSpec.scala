package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Unigram
import graft.streaming.StreamUnigramTokenize

/** Streaming unigram tokenization: a frozen vocabulary applied as a
  * pure projection equals the batch Viterbi encode over the closed
  * corpus — including via a saved/loaded tokenizer artifact. */
class StreamUnigramTokenizeSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed annotate over micro-batches equals batch encode on " +
    "the closed corpus; ids variant consumes a LOADED artifact") {
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = Unigram.seedVocab(docs, col("text"), maxPieceLen = 4,
      minCount = 2, vocabSize = 32)
    val rows = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq

    val in = MemoryStream[(Long, String)]
    val annotated = StreamUnigramTokenize.annotate(
      in.toDF().toDF("doc_id", "text"), vocab)
    val q = annotated
      .select($"doc_id", concat_ws("", $"pieces").as("enc"),
        $"n_tokens")
      .writeStream.format("memory")
      .queryName("uni_annotated").outputMode("append").start()
    try {
      in.addData(rows.take(rows.length / 2))
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2))
      q.processAllAvailable()
      val got = spark.table("uni_annotated")
        .as[(Long, String, Long)].collect().toSet
      val want = Unigram.encode(docs, col("doc_id"), col("text"), vocab)
        .select($"id", concat_ws("", $"pieces").as("enc"),
          $"n_tokens")
        .as[(Long, String, Long)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
      // segmentation is live: some piece is multi-char
      assert(got.exists(_._2.split('').exists(_.length > 1)))
    } finally q.stop()

    // artifact round trip + ids variant: encodeIds from the LOADED
    // vocabulary equals encodeIds from the trained one, and the
    // streaming ids projection agrees
    val dir = tempDir("graft_unigram_artifact_")
    Unigram.saveUnigramTokenizer(vocab, dir)
    val loaded = Unigram.loadUnigramTokenizer(spark, dir)
    val wantIds = Unigram.encodeIds(docs, col("doc_id"), col("text"),
        vocab)
      .select($"id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .as[(Long, String, Long)].collect().toSet
    val loadedIds = Unigram.encodeIds(docs, col("doc_id"), col("text"),
        loaded)
      .select($"id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .as[(Long, String, Long)].collect().toSet
    assert(loadedIds === wantIds)

    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamUnigramTokenize.annotate(
        in2.toDF().toDF("doc_id", "text"), loaded, asIds = true)
      .select($"doc_id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("uni_annotated_ids").outputMode("append").start()
    try {
      in2.addData(rows)
      q2.processAllAvailable()
      val gotIds = spark.table("uni_annotated_ids")
        .as[(Long, String, Long)].collect().toSet
      assert(gotIds === wantIds)
    } finally q2.stop()
  }

  test("null text annotates as empty (0 tokens) instead of dropping; " +
    "a corrupt artifact stamp fails loudly") {
    implicit val sql = spark.sqlContext
    val vocab = Seq(("ab", 5L), ("a", 3L), ("b", 2L))
      .toDF("piece", "freq")
    val in = MemoryStream[(Long, String)]
    val q = StreamUnigramTokenize.annotate(
        in.toDF().toDF("doc_id", "text"), vocab)
      .select($"doc_id", concat_ws("", $"pieces").as("enc"),
        $"n_tokens")
      .writeStream.format("memory")
      .queryName("uni_null_text").outputMode("append").start()
    try {
      in.addData(Seq((1L, "ab zb"), (2L, null.asInstanceOf[String])))
      q.processAllAvailable()
      val got = spark.table("uni_null_text")
        .as[(Long, String, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(got(1L) === (("abzb", 3L)))
      assert(got(2L) === (("", 0L)))
    } finally q.stop()

    val dir = tempDir("graft_unigram_bad_")
    Unigram.saveUnigramTokenizer(vocab, dir)
    // corrupt the stamp: drop a row from the vocab parquet
    val v = spark.read.parquet(s"$dir/vocab").filter($"piece" =!= "a")
    v.coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab2")
    // overwrite vocab with the truncated copy (separate read to avoid
    // overwriting an input path mid-plan)
    val rows2 = spark.read.parquet(s"$dir/vocab2")
    rows2.coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    val e = intercept[IllegalArgumentException](
      Unigram.loadUnigramTokenizer(spark, dir))
    assert(e.getMessage.contains("stamp"))
  }

}
