package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** N-gram containment join (x114): asymmetric quote/subset detection. */
class ContainmentSpec extends SparkTestBase {
  import spark.implicits._

  test("a quoted document scores ~1.0 inside its container while the " +
    "reverse direction and Jaccard-sized pairs stay below threshold") {
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    val container = s"PREFIX CONTENT AROUND >> $quote << MORE TRAILING " +
      "CONTENT THAT MAKES THE CONTAINER MUCH LONGER THAN THE QUOTE " +
      "SO JACCARD IS SMALL BUT CONTAINMENT IS TOTAL"
    val docs = Seq(
      (1L, quote),
      (2L, container),
      (3L, "completely unrelated text with nothing shared at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, threshold = 0.8, n = 8)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.contains((1L, 2L)), s"quote→container missing: $got")
    assert(got((1L, 2L)) === 1.0)
    assert(!got.contains((2L, 1L)), "container must NOT be contained " +
      "in the quote (asymmetry)")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("matches a brute-force driver reference on the sf0.001 corpus " +
    "(prefix filter is lossless)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val got = Dedup.containmentPairs(docs, threshold = 0.8, n = 8)
      .as[(Long, Long, Double)].collect().toSet
    // brute force over string grams (hashed-set sizes equal string-set
    // sizes absent 64-bit collisions)
    val sets = docs.as[(Long, String)].collect()
      .filter(r => r._2 != null && r._2.codePointCount(0, r._2.length) >= 8)
      .map { case (id, t) =>
        val cps = t.codePoints().toArray
        id -> (0 to cps.length - 8)
          .map(i => new String(cps, i, 8)).toSet
      }
    val want = (for {
      (a, ga) <- sets; (b, gb) <- sets if a != b
      c = (ga & gb).size.toDouble / ga.size if c >= 0.8
    } yield (a, b,
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)).toSet
    assert(got === want)
    assert(got.nonEmpty, "fixture must plant containment pairs")
    // a stricter threshold over longer grams still finds planted pairs
    assert(Dedup.containmentPairs(docs, threshold = 0.9, n = 12)
      .count() > 0)
  }

  test("delta route equals the full join restricted to delta-touching " +
    "pairs (corpus×corpus structurally excluded)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    val got = Dedup.containmentPairsDelta(delta,
      Dedup.jaccardIndex(corpus, threshold = 0.8, n = 8))
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.containmentPairs(docs, threshold = 0.8, n = 8)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => p._1 % 7 == 0 || p._2 % 7 == 0)
    assert(got === want)
    assert(got.nonEmpty, "fixture must plant delta-touching containment")
    // no corpus×corpus pair can appear even when one exists in full
    assert(got.forall(p => p._1 % 7 == 0 || p._2 % 7 == 0))
  }

  test("threshold bounds enforced") {
    val df = Seq((1L, "aaaaaaaaaa")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, threshold = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, threshold = 1.5)
    }
  }

  test("cache lifecycle: containmentPairs/Delta leave no CacheManager " +
    "pin — their materialization releases on GC (context cleaner), " +
    "unlike a Dataset.persist the caller could never unpersist") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    // scope the query so the returned plan (and its checkpointed RDD)
    // becomes unreachable afterwards
    def run(): Unit = {
      val out = Dedup.containmentPairs(docs, threshold = 0.9, n = 12)
      assert(out.count() >= 0)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      val d = Dedup.containmentPairsDelta(delta,
        Dedup.jaccardIndex(corpus, threshold = 0.8, n = 8))
      assert(d.count() >= 0)
      // x101: the Jaccard delta route over an in-query index
      val j = Dedup.ngramJaccardDelta(delta,
        Dedup.jaccardIndex(corpus, threshold = 0.5, n = 3))
      assert(j.count() >= 0)
    }
    run()
    // a CacheManager entry (Dataset.persist) holds a strong reference
    // and would survive GC forever; checkpoint-style materialization
    // is released by the async context cleaner once unreachable
    var waited = 0
    def leftover(): Set[Int] =
      (spark.sparkContext.getPersistentRDDs.keySet -- baseline).toSet
    while (leftover().nonEmpty && waited < 60000) {
      System.gc()
      Thread.sleep(500); waited += 500
    }
    assert(leftover().isEmpty,
      s"unreleasable persisted RDDs remain after GC: ${leftover()}")
  }
}
