package graft

import org.apache.spark.sql.functions._

import graft.operators.EditSimilarity

class EditSimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private def brute(docs: org.apache.spark.sql.DataFrame, d: Int) =
    docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.text"), col("b.text"), d))
      .filter(col("dist") >= 0)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("dist"))
      .as[(Long, Long, Int)].collect().toSet

  test("edit-distance join equals brute force on the sf0.001 corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val got = EditSimilarity.editDistancePairs(docs, maxDist = 20, q = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute(docs, 20))
    assert(got.nonEmpty) // the corpus plants near-duplicates
    // a tighter bound: a longer prefix relative to the distance budget
    assert(EditSimilarity.editDistancePairs(docs, maxDist = 8, q = 4)
      .as[(Long, Long, Int)].collect().toSet === brute(docs, 8))
  }

  test("short strings (below the gram length and below the prefix " +
    "guarantee) pair through the length-bucket pool") {
    val docs = Seq(
      (1L, "ab"), (2L, "ac"),          // len < q: no grams at all
      (3L, "abcdefgh"), (4L, "abcdxfgh"), // few grams, both short-pool
      (5L, "zzzzzzzzzzzzzzzzzzzzzzzzz") // unrelated
    ).toDF("doc_id", "text")
    val got = EditSimilarity.editDistancePairs(docs, maxDist = 2, q = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute(docs, 2))
    assert(got.contains((1L, 2L, 1)) && got.contains((3L, 4L, 1)))
  }

  test("maxDist = 0 degenerates to exact-equality pairs") {
    val docs = Seq(
      (1L, "same text here"), (2L, "same text here"),
      (3L, "same text herE")
    ).toDF("doc_id", "text")
    val got = EditSimilarity.editDistancePairs(docs, maxDist = 0, q = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 0)))
  }

  test("null texts are ignored; invalid parameters are rejected") {
    val docs = Seq((1L, "abcde"), (2L, null: String), (3L, "abcde"))
      .toDF("doc_id", "text")
    val got = EditSimilarity.editDistancePairs(docs, maxDist = 1, q = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 3L, 0)))
    intercept[IllegalArgumentException] {
      EditSimilarity.editDistancePairs(docs, maxDist = -1)
    }
    intercept[IllegalArgumentException] {
      EditSimilarity.editDistancePairs(docs, q = 1)
    }
  }
}
