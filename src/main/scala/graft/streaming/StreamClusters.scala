package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming duplicate-CLUSTER maintenance — the final step of the
  * incremental dedup story, online: each micro-batch's near-dup pairs
  * (from [[StreamNearDedup]], or any pair-producing stream) fold into a
  * persisted (node, component) labels relation via
  * [[graft.operators.Graph.connectedComponentsDelta]], so cluster
  * membership is queryable after every trigger without ever re-reading
  * historic pairs.
  *
  * Storage protocol (the relation-not-state design of
  * [[StreamNearDedup]]/[[StreamSpanDedup]]): each batch writes a FULL
  * labels snapshot under `dir/gen=<batchId>`; [[labels]] reads the
  * highest complete generation (parquet `_SUCCESS` marker). Replaying a
  * batch overwrites its own generation from the previous one — and
  * re-folding the same edges is a no-op for connectivity — so the sink
  * is replay-idempotent; a crash mid-write leaves an incomplete
  * generation that readers skip. Snapshots cost O(labeled nodes) per
  * batch: labeled nodes are ∝ DUPLICATES (nodes that appeared in some
  * pair), not corpus — the same bound as the batch pair graph. Old
  * generations prune themselves: once batch N's generation commits,
  * every generation older than the base N read (N−1's, normally) is
  * deleted, so at most two remain and a replay of N still finds its
  * base.
  */
object StreamClusters {

  private val schema = StructType(Seq(
    StructField("node", LongType), StructField("component", LongType)))

  /** The current labels relation: highest complete `gen=` snapshot
    * under `dir`, or an empty (node, component) frame if none. */
  def labels(spark: SparkSession, dir: String): DataFrame =
    latestGen(spark, dir) match {
      case Some(g) => spark.read.parquet(s"$dir/gen=$g")
        .select("node", "component")
      case None =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Generation dirs under `dir` as (id, path, complete); a foreign
    * `gen=<non-number>` dir is skipped. */
  private def gens(spark: SparkSession,
      dir: String): Seq[(Long, Path, Boolean)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("gen="))
      .flatMap(gp => gp.getName.stripPrefix("gen=").toLongOption
        .map(g => (g, gp, fs.exists(new Path(gp, "_SUCCESS")))))
  }

  /** Highest complete generation strictly below `below` (None = no
    * bound — the read path). */
  private def latestGen(spark: SparkSession, dir: String,
      below: Option[Long] = None): Option[Long] =
    gens(spark, dir)
      .collect { case (g, _, true) if below.forall(g < _) => g }
      .maxOption

  /** Fold one batch of pairs into the labels relation (the testable
    * core; [[sink]] adapts it to `foreachBatch`). Reads the latest
    * complete generation STRICTLY BELOW `batchId` so a replayed batch
    * rebuilds from the same base it saw the first time; once the new
    * generation commits, the generations older than that base are
    * deleted (no reader or replay can reach them again). */
  def foldBatch(dir: String, pairs: DataFrame, batchId: Long,
      srcCol: String = "doc_a", dstCol: String = "doc_b"): Unit = {
    val spark = pairs.sparkSession
    val baseGen = latestGen(spark, dir, below = Some(batchId))
    val base = baseGen match {
      case Some(g) => spark.read.parquet(s"$dir/gen=$g")
        .select("node", "component")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    graft.operators.Graph
      .connectedComponentsDelta(base, pairs, srcCol, dstCol)
      .write.mode("overwrite").parquet(s"$dir/gen=$batchId")
    baseGen.foreach { b =>
      val fs = new Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      gens(spark, dir).collect { case (g, gp, _) if g < b => gp }
        .foreach(gp => { fs.delete(gp, true); () })
    }
  }

  /** `foreachBatch` adapter: `pairsStream.writeStream.foreachBatch(
    * StreamClusters.sink(dir)).start()`. */
  def sink(dir: String, srcCol: String = "doc_a",
      dstCol: String = "doc_b"): (DataFrame, Long) => Unit =
    (pairs, batchId) => foldBatch(dir, pairs, batchId, srcCol, dstCol)
}
