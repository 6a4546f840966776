package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Vocab
import graft.streaming.StreamBpeTokenize

/** Streaming subword tokenization: a frozen char-BPE table applied as
  * a pure projection equals the batch encode over the closed corpus. */
class StreamBpeTokenizeSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed annotate over all micro-batches equals batch " +
    "bpeEncodeChar on the same closed corpus") {
    implicit val sql = spark.sqlContext
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Vocab.bpeMergesChar(docs, col("text"), nMerges = 6)
    val rows = docs.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq

    val in = MemoryStream[(Long, String)]
    val annotated = StreamBpeTokenize.annotate(
      in.toDF().toDF("doc_id", "text"), merges)
    val q = annotated
      .select($"doc_id", concat_ws("", $"bpe").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("bpe_annotated").outputMode("append").start()
    try {
      in.addData(rows.take(rows.length / 2))
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2))
      q.processAllAvailable()
      val got = spark.table("bpe_annotated")
        .as[(Long, String, Long)].collect().toSet
      val want = Vocab.bpeEncodeChar(docs, col("doc_id"), col("text"),
          merges)
        .select($"id", concat_ws("", $"bpe").as("enc"), $"n_tokens")
        .as[(Long, String, Long)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
      // subword segmentation is live (some doc has a merged multi-char
      // symbol, i.e. fewer symbols than marked chars)
      assert(got.exists(_._2.split('').exists(_.length > 5)))
    } finally q.stop()
  }

  test("byteLevel annotate over micro-batches equals batch " +
    "bpeEncodeByte, multibyte text included") {
    implicit val sql = spark.sqlContext
    val rows = Seq((1L, "héllo héllo €uro"), (2L, "héllo a😀b a😀b"),
      (3L, "€uro plain plain"), (4L, null.asInstanceOf[String]))
    val docs = rows.toDF("doc_id", "text")
    val merges = Vocab.bpeMergesByte(docs, col("text"), nMerges = 6)

    val in = MemoryStream[(Long, String)]
    val annotated = StreamBpeTokenize.annotate(
      in.toDF().toDF("doc_id", "text"), merges, byteLevel = true)
    val q = annotated
      .select($"doc_id", concat_ws("", $"bpe").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("bpe_annotated_byte").outputMode("append").start()
    try {
      in.addData(rows.take(2))
      q.processAllAvailable()
      in.addData(rows.drop(2))
      q.processAllAvailable()
      val got = spark.table("bpe_annotated_byte")
        .as[(Long, String, Long)].collect().toSet
      val want = Vocab.bpeEncodeByte(docs, col("doc_id"), col("text"),
          merges)
        .select($"id", concat_ws("", $"bpe").as("enc"), $"n_tokens")
        .as[(Long, String, Long)].collect().toSet
      // the batch encode drops null-text rows; the stream annotates
      // them (null bpe → empty concat, 0 tokens)
      assert(got.filter(_._1 != 4L) === want)
      assert(got.find(_._1 == 4L).get === ((4L, "", 0L)))
      // byte alphabet live: some symbol run is longer than one byte
      assert(want.exists(_._2.contains("</w>")))
    } finally q.stop()
  }

  test("null text annotates (null bpe, 0 tokens); guards fire") {
    val merges = Seq((0L, "a", "b</w>", 2L))
      .toDF("merge_idx", "left", "right", "n_occurrences")
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "ab ab"))
      .toDF("doc_id", "text")
    val got = StreamBpeTokenize.annotate(df, merges)
      .select($"doc_id", $"bpe", $"n_tokens")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getSeq[String](1).toList,
          r.getLong(2)))).toMap
    assert(got(1L) === ((null, 0L)))
    assert(got(2L) === ((List("ab</w>", "ab</w>"), 2L)))
    intercept[IllegalArgumentException] { // name collision
      StreamBpeTokenize.annotate(
        StreamBpeTokenize.annotate(df, merges), merges)
    }
    // over-cap merge relation fails fast via the bounded probe
    val huge = spark.range(0, 5000000L)
      .select(col("id").as("merge_idx"),
        concat(lit("l"), col("id")).as("left"),
        concat(lit("r"), col("id")).as("right"))
    val e = intercept[IllegalArgumentException] {
      StreamBpeTokenize.annotate(df, huge, maxMerges = 100)
    }
    assert(e.getMessage.contains("bounded fetch hit cap"))
  }

  test("annotate from a LOADED tokenizer artifact equals annotate from " +
    "the trained table (the shipped-artifact path end to end)") {
    implicit val sql = spark.sqlContext
    val rows = Seq((1L, "héllo héllo €uro"), (2L, "héllo a😀b a😀b"),
      (3L, "€uro plain plain"))
    val docs = rows.toDF("doc_id", "text")
    val trained = Vocab.bpeMergesByte(docs, col("text"), nMerges = 6)
    val dir = tempDir("bpe-artifact-stream-")
    Vocab.saveBpeTokenizer(trained, dir, "byte", "</w>")
    val art = Vocab.loadBpeTokenizer(spark, dir)

    val in = MemoryStream[(Long, String)]
    val q = StreamBpeTokenize.annotate(
        in.toDF().toDF("doc_id", "text"), art.merges,
        eow = art.marker, byteLevel = art.level == "byte")
      .select($"doc_id", concat_ws("", $"bpe").as("enc"), $"n_tokens")
      .writeStream.format("memory")
      .queryName("bpe_annotated_artifact").outputMode("append").start()
    try {
      in.addData(rows)
      q.processAllAvailable()
      val got = spark.table("bpe_annotated_artifact")
        .as[(Long, String, Long)].collect().toSet
      val want = Vocab.bpeEncodeByte(docs, col("doc_id"), col("text"),
          trained)
        .select($"id", concat_ws("", $"bpe").as("enc"), $"n_tokens")
        .as[(Long, String, Long)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
    } finally q.stop()
  }
}
