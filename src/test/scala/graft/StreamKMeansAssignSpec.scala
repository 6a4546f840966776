package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.KMeans
import graft.streaming.StreamKMeansAssign

/** Streaming k-means assignment: frozen centroids applied as a pure
  * projection equal the batch assignment over the closed corpus —
  * including via a saved/loaded centroid artifact — and invalid
  * vectors annotate as NULL instead of dropping. */
class StreamKMeansAssignSpec extends SparkTestBase {
  import spark.implicits._

  test("streamed annotate equals batch assign on the closed corpus, " +
    "via a LOADED centroid artifact; invalid rows annotate NULL") {
    implicit val sql = spark.sqlContext
    val base = (0 until 80).map(i =>
      (i.toLong, Seq.tabulate(6)(j =>
        (math.sin(i * 1.9 + j * 0.3) * 0.45).toFloat)))
    val embs = base.toDF("vec_id", "embedding")
    val cents = KMeans.trainCentroids(embs, k = 3, iters = 2)

    // artifact round trip: assign(loaded) must equal assign(trained)
    val dir = tempDir("graft_kmeans_artifact_")
    KMeans.saveCentroids(cents, dir)
    val loaded = KMeans.loadCentroids(spark, dir)
    val want = KMeans.assign(embs, cents)
      .as[(Long, Int, Double)].collect().toSet
    val wantLoaded = KMeans.assign(embs, loaded)
      .as[(Long, Int, Double)].collect().toSet
    assert(wantLoaded === want)

    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamKMeansAssign.annotate(
        in.toDF().toDF("vec_id", "embedding"), loaded)
      .select($"vec_id", $"cluster", $"d2")
      .writeStream.format("memory")
      .queryName("km_assigned").outputMode("append").start()
    try {
      in.addData(base.take(40))
      q.processAllAvailable()
      in.addData(base.drop(40))
      in.addData(Seq((999L, null.asInstanceOf[Seq[Float]]),
        (998L, Seq.empty[Float])))
      q.processAllAvailable()
      val rows = spark.table("km_assigned")
        .as[(Long, Option[Int], Option[Double])].collect()
      val valid = rows.filter(_._1 < 900)
        .map(r => (r._1, r._2.get, r._3.get)).toSet
      assert(valid === want)
      // invalid rows kept, annotated NULL
      assert(rows.filter(_._1 >= 900).toSeq
        .forall(r => r._2.isEmpty && r._3.isEmpty))
      assert(rows.count(_._1 >= 900) === 2)
    } finally q.stop()
  }

  test("a corrupt centroid artifact fails loudly on load") {
    val embs = (0 until 10).map(i =>
      (i.toLong, Seq.tabulate(3)(j => (i * 0.1f + j))))
      .toDF("vec_id", "embedding")
    val cents = KMeans.trainCentroids(embs, k = 2, iters = 1)
    val dir = tempDir("graft_kmeans_bad_")
    KMeans.saveCentroids(cents, dir)
    // truncate the centroid table under the stamp
    val keep = spark.read.parquet(s"$dir/centroids")
      .filter(col("cluster") === 0)
    keep.coalesce(1).write.mode("overwrite").parquet(s"$dir/c2")
    spark.read.parquet(s"$dir/c2").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val e = intercept[IllegalArgumentException](
      KMeans.loadCentroids(spark, dir))
    assert(e.getMessage.contains("stamp"))
  }
}
