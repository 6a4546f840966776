package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Unigram
import graft.streaming.StreamWordpieceTokenize

/** Streaming WordPiece tokenization: a frozen vocabulary applied as a
  * pure max-munch projection equals the batch encode over the closed
  * corpus — including the ids variant via a saved/loaded tokenizer
  * artifact (the x138 contract). */
class StreamWordpieceTokenizeSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed annotate over micro-batches equals batch wordpiece " +
    "encode; ids variant consumes a LOADED artifact") {
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val vocab = Unigram.seedVocab(docs, col("text"), maxPieceLen = 4,
      minCount = 2, vocabSize = 32)
    val rows = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq

    val in = MemoryStream[(Long, String)]
    val annotated = StreamWordpieceTokenize.annotate(
      in.toDF().toDF("doc_id", "text"), vocab)
    val q = annotated
      .select($"doc_id", concat_ws("", $"pieces").as("enc"),
        $"n_tokens")
      .writeStream.format("memory")
      .queryName("wp_annotated").outputMode("append").start()
    try {
      in.addData(rows.take(rows.length / 2))
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2))
      q.processAllAvailable()
      val got = spark.table("wp_annotated")
        .as[(Long, String, Long)].collect().toSet
      val want = Unigram.wordpieceEncode(docs, col("doc_id"),
          col("text"), vocab)
        .select($"id", concat_ws("", $"pieces").as("enc"),
          $"n_tokens")
        .as[(Long, String, Long)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()

    // artifact round trip + ids variant: wordpieceEncodeIds from the
    // LOADED vocabulary equals the trained one, and the streaming ids
    // projection agrees (stream ≡ batch on a loaded artifact)
    val dir = tempDir("graft_wordpiece_artifact_")
    Unigram.saveUnigramTokenizer(vocab, dir)
    val loaded = Unigram.loadUnigramTokenizer(spark, dir)
    val wantIds = Unigram.wordpieceEncodeIds(docs, col("doc_id"),
        col("text"), vocab)
      .select($"id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .as[(Long, String, Long)].collect().toSet
    val loadedIds = Unigram.wordpieceEncodeIds(docs, col("doc_id"),
        col("text"), loaded)
      .select($"id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .as[(Long, String, Long)].collect().toSet
    assert(loadedIds === wantIds)

    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamWordpieceTokenize.annotate(
        in2.toDF().toDF("doc_id", "text"), loaded, asIds = true)
      .select($"doc_id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("wp_annotated_ids").outputMode("append").start()
    try {
      in2.addData(rows)
      q2.processAllAvailable()
      val gotIds = spark.table("wp_annotated_ids")
        .as[(Long, String, Long)].collect().toSet
      assert(gotIds === wantIds)
    } finally q2.stop()
  }

  test("wordpiece ids agree with the unigram id space (same sorted " +
    "artifact) and UNK single chars map to 0; null text = 0 tokens") {
    implicit val sql = spark.sqlContext
    val vocab = Seq(("ab", 5L), ("a", 3L), ("b", 2L), ("abc", 4L))
      .toDF("piece", "freq")
    // sorted piece order: a=1, ab=2, abc=3, b=4; 'z' is UNK -> 0;
    // max-munch on "abcb" takes abc then b
    val docs = Seq((1L, "abcb az"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ids = Unigram.wordpieceEncodeIds(docs, col("doc_id"),
        col("text"), vocab)
      .select($"id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .as[(Long, String, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(ids(1L) === (("3,4,1,0", 4L)))
    assert(!ids.contains(2L)) // batch encode drops null text

    // the stream keeps the null-text row as 0 tokens instead
    val in = MemoryStream[(Long, String)]
    val q = StreamWordpieceTokenize.annotate(
        in.toDF().toDF("doc_id", "text"), vocab, asIds = true)
      .select($"doc_id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("wp_null_text").outputMode("append").start()
    try {
      in.addData(Seq((1L, "abcb az"), (2L, null.asInstanceOf[String])))
      q.processAllAvailable()
      val got = spark.table("wp_null_text")
        .as[(Long, String, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(got(1L) === (("3,4,1,0", 4L)))
      assert(got(2L) === (("", 0L)))
    } finally q.stop()
  }

  test("bert mode streams the full BERT rule: ## continuation ids " +
    "and whole-word [UNK]=0, stream equals batch") {
    implicit val sql = spark.sqlContext
    val vocab = Seq(("ab", 5L), ("a", 3L), ("##b", 2L), ("##cd", 2L))
      .toDF("piece", "freq")
    val docs = Seq((1L, "abcd abb ab"), (2L, "ba abq"), (3L, "a"))
      .toDF("doc_id", "text")
    val want = Unigram.wordpieceBertEncodeIds(docs, col("doc_id"),
        col("text"), vocab)
      .select($"id", concat_ws(",", $"ids"), $"n_tokens")
      .as[(Long, String, Long)].collect().toSet
    val in = MemoryStream[(Long, String)]
    val q = StreamWordpieceTokenize.annotate(
        in.toDF().toDF("doc_id", "text"), vocab, asIds = true,
        bert = true)
      .select($"doc_id", concat_ws(",", $"ids").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("wp_bert_ids").outputMode("append").start()
    try {
      in.addData(Seq((1L, "abcd abb ab"), (2L, "ba abq"), (3L, "a")))
      q.processAllAvailable()
      val got = spark.table("wp_bert_ids")
        .as[(Long, String, Long)].collect().toSet
      assert(got === want)
      // the [UNK] collapse is live: doc 2 is two zero ids
      assert(got.exists(t => t._1 === 2L && t._2 === "0,0"))
    } finally q.stop()
  }
}
