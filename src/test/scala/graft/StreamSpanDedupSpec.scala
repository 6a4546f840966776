package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.SpanDedup
import graft.streaming.StreamSpanDedup

/** Streaming span dedup mirrors batch [[SpanDedup.excise]]: after any
  * prefix of micro-batches the clean view equals arrival-order excision
  * over their union, with untouched docs passed through verbatim. Ids
  * increase across batches so plain id-ordered excise IS arrival order.
  */
class StreamSpanDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("clean view equals arrival-order batch excision over the union; " +
    "duplicates within and across batches are excised once") {
    implicit val sql = spark.sqlContext
    val run = toks("dup", 6)   // L = 4: duplicated 6-token run
    val runB = toks("bbb", 7)
    val batches = Seq(
      Seq((1L, s"${toks("a", 3)} $run"),          // canonical holder
        (2L, s"$run ${toks("c", 3)}")),           // within-batch dup
      Seq((3L, s"${toks("d", 4)} $run"),          // cross-batch dup
        (4L, runB)),                              // canonical holder
      Seq((5L, s"${toks("e", 2)} $runB ${toks("f", 2)}"), // cross-batch
        (6L, toks("solo", 9))))                   // untouched
    val out = tempDir("span_dedup_out")
    val ckpt = tempDir("span_dedup_ckpt")

    val input = MemoryStream[(Long, String)]
    val q = StreamSpanDedup.sink(input.toDF().toDF("doc_id", "text"),
      out, ckpt, windowTokens = 4)
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    val streamed = StreamSpanDedup.cleanView(spark, out)
      .as[(Long, Long, Long, String)].collect().toSet

    val union = batches.flatten.toDF("doc_id", "text")
    val modified = SpanDedup.excise(union, windowTokens = 4)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    val expected = batches.flatten.map { case (id, text) =>
      modified.getOrElse(id,
        (id, text.split(" ").length.toLong, 0L, text))
    }.toSet
    assert(streamed === expected)
    // the planted dups actually excised: docs 2, 3, 5 lost their runs
    assert(modified.keySet === Set(2L, 3L, 5L))
  }

  test("replayed batch overwrites its own contribution (idempotent): " +
    "re-running the sink over the same checkpointed data changes nothing") {
    implicit val sql = spark.sqlContext
    val run = toks("z", 5)
    val out = tempDir("span_replay_out")
    val ckpt = tempDir("span_replay_ckpt")

    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamSpanDedup.sink(in1.toDF().toDF("doc_id", "text"),
      out, ckpt, windowTokens = 5)
    try {
      in1.addData(Seq((1L, s"$run ${toks("a", 2)}")))
      q1.processAllAvailable()
      in1.addData(Seq((2L, s"${toks("b", 2)} $run")))
      q1.processAllAvailable()
    } finally q1.stop()
    val before = StreamSpanDedup.cleanView(spark, out)
      .as[(Long, Long, Long, String)].collect().toSet

    // second run, fresh checkpoint, same batches replayed into the same
    // outDir: dynamic partition overwrite + strictly-older probe must
    // leave the views identical
    val ckpt2 = tempDir("span_replay_ckpt2")
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamSpanDedup.sink(in2.toDF().toDF("doc_id", "text"),
      out, ckpt2, windowTokens = 5)
    try {
      in2.addData(Seq((1L, s"$run ${toks("a", 2)}")))
      q2.processAllAvailable()
      in2.addData(Seq((2L, s"${toks("b", 2)} $run")))
      q2.processAllAvailable()
    } finally q2.stop()
    val after = StreamSpanDedup.cleanView(spark, out)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(after === before)
    assert(before.exists(r => r._1 == 2L && r._3 == 5L))
  }
}
