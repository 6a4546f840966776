package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Dev tool (test scope, not part of the library): sweep the ANN knob
  * space at a given SF and print the recall/cost frontier as a
  * markdown table — the evidence behind SCALE.md's "ANN recall
  * frontier" section and the SparkEntry recall floors.
  *
  * Run: sbt "Test/runMain graft.RecallSweep /root/testdata/sf0.1"
  */
object RecallSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Engine.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-recall-sweep")
    val emb = Tables.embeddings(spark, sfDir).cache()
    val n = emb.count()
    val qs = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, qs, k = 10).cache()
    exact.count()

    def recalls(approx: DataFrame): (Double, Double, Double) = {
      val t0 = System.nanoTime()
      val hits = exact.select(col("query_id"), col("vec_id"))
        .join(approx.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
      val base = exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"))
      val rs = base.join(hits, Seq("query_id"), "left")
        .select((coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n").cast("double")).as("r"))
        .collect().map(_.getDouble(0))
      val dt = (System.nanoTime() - t0) / 1e9
      (rs.min, rs.sum / rs.length, dt)
    }

    // --rerank-only: skip the other families (fast iteration on the
    // IVFADC refinement frontier)
    val rerankOnly = args.contains("--rerank-only")
    val massOnly = args.contains("--mass-only")

    println(s"# ANN recall sweep @ $sfDir ($n vectors, 5 queries, k=10)")
    println("| family | config | min recall | mean recall | sec |")
    println("|---|---|---|---|---|")
    for (nBits <- Seq(6, 8, 10); nTables <- Seq(2, 4, 8);
         probe <- Seq(1, 2) if !rerankOnly && !massOnly) {
      val (mn, mean, dt) = recalls(Similarity.annTopK(emb, qs, k = 10,
        nBits = nBits, nTables = nTables, probeHamming = probe))
      println(f"| LSH | nBits=$nBits nTables=$nTables probe=$probe " +
        f"| $mn%.2f | $mean%.2f | $dt%.1f |")
    }
    for (nLists <- Seq(8, 16, 32); nProbe <- Seq(4, 6, 8, 12)
         if nProbe <= nLists && !rerankOnly && !massOnly) {
      val (mn, mean, dt) = recalls(Similarity.ivfTopK(emb, qs, k = 10,
        nLists = nLists, nProbe = nProbe))
      println(f"| IVF | nLists=$nLists nProbe=$nProbe " +
        f"| $mn%.2f | $mean%.2f | $dt%.1f |")
    }
    for (m <- Seq(8, 16, 32); ksub <- Seq(16, 64, 256) if !rerankOnly && !massOnly) {
      val (mn, mean, dt) = recalls(Similarity.ivfTopK(emb, qs, k = 10,
        nLists = 1, nProbe = 1, m = m, ksub = ksub))
      println(f"| PQ | m=$m ksub=$ksub | $mn%.2f | $mean%.2f | $dt%.1f |")
    }
    for (nLists <- Seq(8, 16); nProbe <- Seq(4, 6, 8)
         if nProbe <= nLists && !rerankOnly && !massOnly; m <- Seq(16, 32);
         ksub <- Seq(64, 256)) {
      val (mn, mean, dt) = recalls(Similarity.ivfTopK(emb, qs, k = 10,
        nLists = nLists, nProbe = nProbe, m = m, ksub = ksub))
      println(f"| IVF+PQ | nLists=$nLists nProbe=$nProbe m=$m ksub=$ksub " +
        f"| $mn%.2f | $mean%.2f | $dt%.1f |")
    }
    // the IVFADC refinement stage: exact re-rank of the ADC shortlist
    for ((nLists, nProbe) <- Seq((8, 4), (8, 6), (16, 8), (16, 10),
           (16, 12)); rr <- Seq(20, 50, 100) if !massOnly) {
      val (mn, mean, dt) = recalls(Similarity.ivfTopK(emb, qs, k = 10,
        nLists = nLists, nProbe = nProbe, m = 32, ksub = 256, rerank = rr))
      println(f"| IVF+PQ+rerank | nLists=$nLists nProbe=$nProbe m=32 " +
        f"ksub=256 rerank=$rr | $mn%.2f | $mean%.2f | $dt%.1f |")
    }
    // adaptive mass-based probing + re-rank: probe until the covered
    // corpus mass reaches tau — the probe ratio IS tau, so the row
    // reads as recall-at-coverage
    for (nLists <- Seq(16, 32, 64); tau <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val (mn, mean, dt) = recalls(Similarity.ivfTopK(emb, qs, k = 10,
        nLists = nLists, nProbe = 1, m = 32, ksub = 256, rerank = 50,
        probeMass = tau))
      println(f"| IVF+PQ+mass | nLists=$nLists tau=$tau m=32 ksub=256 " +
        f"rerank=50 | $mn%.2f | $mean%.2f | $dt%.1f |")
    }
    spark.stop()
  }
}
