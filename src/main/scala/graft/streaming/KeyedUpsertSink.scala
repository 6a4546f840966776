package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, hash, lit, max, pmod}
import org.apache.spark.storage.StorageLevel

/** Keyed upsert into a hash-bucketed parquet table — the engine's
  * replacement for the reference's per-row `insert … on duplicate key
  * update` into MySQL `qz_point_detail` (QzPointStreaming.scala:179-182,
  * via SqlProxy.scala:27-41).
  *
  * Each upsert merges a batch of full-state rows into the table:
  * existing rows whose key appears in the batch are replaced
  * (last-writer-wins), others are kept. Because the streaming mastery
  * rows are complete per-key snapshots (not deltas), replaying a batch
  * rewrites identical rows — idempotent, unlike the reference's
  * read-add-write which double-counts on replay (SURVEY.md §2.8).
  *
  * The table is partitioned into `bucket=<hash(key) mod N>` directories
  * and an upsert reads, merges and rewrites only the buckets holding
  * batch keys; untouched buckets are not opened and their files stay
  * byte-identical. A batch of K distinct keys touches the fraction
  * 1−e^{−K/N} of the N buckets, so its I/O is that fraction of the
  * table — O(batch) only while K ≪ N. Each touched bucket is rewritten
  * as one file, so a batch costs one file per touched bucket. The
  * default N = 16 is sized on J2's traffic: ≤3,000 lines per batch
  * (the reference's rate cap, SURVEY.md §6) over the 1,000-key domain
  * of 50 users × 4 courses × 5 points the fixtures draw from
  * (`FixtureProducers.qzLines`). There K is in the hundreds, every
  * batch touches nearly every bucket whatever N is, and fewer buckets
  * mean fewer files per batch. N also stays ≤ 32, Spark's
  * parallel-listing threshold, so reading the touched directories
  * never launches a listing job. The bucket count is fixed at table
  * creation (persisted in `_graft_nbuckets`), so the key→bucket mapping
  * never shifts: a table created with another count keeps it.
  *
  * Crash safety is the same recoverable-generation protocol as before,
  * now per bucket: the batch's merged buckets are written to
  * `<dir>.tmp` (partitioned, one `_SUCCESS` for the whole batch), and
  * only after that commit marker exists does the swap loop run per
  * bucket — retire live to `<dir>.retired/bucket=i`, move the new
  * generation in, drop the retired one. `recover()` rolls an
  * interrupted swap forward when `.tmp` is committed and backward when
  * it is not, so the next upsert always merges against a complete prior
  * generation of every bucket. Renames are still not atomic for
  * *concurrent readers* on a plain filesystem; production deployments
  * put a transactional table format underneath the same `upsert`
  * contract. State-of-record remains the state store — the table is a
  * queryable projection.
  */
object KeyedUpsertSink {

  /** Partition column added to the stored table (visible to readers —
    * it is honest layout metadata; `read` drops it for convenience). */
  val BucketCol = "bucket"

  private val MetaFile = "_graft_nbuckets"

  /** The table with the bucket column dropped. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    spark.read.parquet(tableDir).drop(BucketCol)

  private def bucketDirs(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(BucketCol + "="))

  private def readMeta(fs: FileSystem, dir: Path): Option[Int] = {
    val p = new Path(dir, MetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](256)
        var r = in.read(chunk)
        while (r > 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
        Some(new String(buf.toByteArray, "UTF-8").trim.toInt)
      } finally in.close()
    }
  }

  private def writeMeta(fs: FileSystem, dir: Path, n: Int): Unit = {
    val out = fs.create(new Path(dir, MetaFile), true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Restore every bucket to a complete generation after a crashed
    * swap. With a committed `.tmp` (`_SUCCESS` present) the swap rolls
    * FORWARD — the new generation of every bucket still in `.tmp`
    * replaces the live one, exactly as the interrupted loop would have;
    * without the marker it rolls BACK — any retired bucket is restored
    * and the incomplete `.tmp` is dropped. */
  private def recover(fs: FileSystem, dir: Path, tmp: Path,
      retired: Path): Unit = {
    if (fs.exists(new Path(tmp, "_SUCCESS"))) {
      for (b <- bucketDirs(fs, tmp))
        swapBucket(fs, dir, retired, b)
      fs.delete(tmp, true)
    } else {
      for (b <- bucketDirs(fs, retired)) {
        val live = new Path(dir, b.getName)
        if (!fs.exists(live) && !fs.rename(b, live))
          throw new java.io.IOException(s"recovery rename $b -> $live failed")
      }
      fs.delete(tmp, true)
    }
    fs.delete(retired, true)
  }

  /** Move one committed bucket generation into place: retire live →
    * move new in → drop retired. Idempotent under replay from any
    * intermediate crash point. */
  private def swapBucket(fs: FileSystem, dir: Path, retired: Path,
      tmpBucket: Path): Unit = {
    val live = new Path(dir, tmpBucket.getName)
    val ret = new Path(retired, tmpBucket.getName)
    fs.mkdirs(retired)
    if (fs.exists(live) && !fs.exists(ret)) {
      if (!fs.rename(live, ret))
        throw new java.io.IOException(s"retire $live -> $ret failed")
    }
    if (!fs.exists(live)) {
      if (!fs.rename(tmpBucket, live))
        throw new java.io.IOException(s"swap $tmpBucket -> $live failed")
    }
    fs.delete(ret, true)
  }

  /** Merge `rows` into the keyed parquet table at `tableDir`.
    * `nBuckets` applies at table creation; existing tables keep their
    * persisted bucket count. */
  def upsert(rows: DataFrame, tableDir: String, keys: Seq[String],
      nBuckets: Int = 16): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(!rows.columns.contains(BucketCol),
      s"upsert: rows already carry a '$BucketCol' column — it is the " +
        "sink's partition column")
    val spark = rows.sparkSession
    val dir = new Path(tableDir)
    val tmp = new Path(tableDir + ".tmp")
    val retired = new Path(tableDir + ".retired")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

    recover(fs, dir, tmp, retired)

    val existingN = readMeta(fs, dir)
    val n = existingN.getOrElse(nBuckets)
    def withBucket(df: DataFrame): DataFrame =
      df.withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(n)))
    // the batch is read twice (touched-bucket collect + merged write);
    // persisting pins ONE evaluation, so a stateful or nondeterministic
    // batch lineage runs once and cannot place a row in a bucket the
    // collect never saw (whose swap would then drop that bucket's
    // pre-existing keys)
    val rowsB = withBucket(rows).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one job, no shuffle: each partition's distinct buckets
      val touched = rowsB.select(col(BucketCol)).as(Encoders.scalaInt)
        .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
        .collect().toSet
      // root-level parquet files = a pre-bucketing (flat-layout) table:
      // fold them into this merge (one-time O(table) migration) and
      // remove them after the swap — otherwise their rows would be
      // silently dropped from the keyed view
      val legacy = if (fs.exists(dir))
        fs.listStatus(dir).toSeq.filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
          .map(_.getPath)
      else Seq.empty
      if (touched.isEmpty && legacy.isEmpty) return

      // steady state reads only the touched buckets' directories,
      // named on the driver and read with the batch's schema: no
      // listing job, no schema-inference job, and untouched buckets are
      // never opened. A migration folds every bucket and the flat files
      // into one full rewrite.
      val buckets = bucketDirs(fs, dir).filter(b => legacy.nonEmpty ||
        touched.exists(t => b.getName == s"$BucketCol=$t"))
      // every source row carries a precedence; per key only the rows of
      // the highest one survive: the batch replaces stored rows, and on
      // the replay of a migration that crashed after its swap, a
      // bucketed row (always at least as new) beats the stale legacy
      // copy of its key
      val sources =
        (if (legacy.isEmpty) Nil
        else Seq(0 -> spark.read.parquet(legacy.map(_.toString): _*))) ++
        (if (buckets.isEmpty) Nil
        else Seq(1 -> spark.read.schema(rows.schema)
          .parquet(buckets.map(_.toString): _*)))
      val rank = "_graft_rank"
      val top = "_graft_top"
      // the window's keys include the bucket, so it runs inside the
      // bucket exchange and the merge adds no shuffle of its own; each
      // bucket lands in one task and is written as one file
      val merged = sources
        .map { case (r, df) => withBucket(df).withColumn(rank, lit(r)) }
        .foldLeft(rowsB.withColumn(rank, lit(2)))(_ unionByName _)
        .repartition(col(BucketCol))
        .withColumn(top, max(col(rank)).over(
          Window.partitionBy((BucketCol +: keys).map(col): _*)))
        .filter(col(rank) === col(top))
        .drop(rank, top)
      if (existingN.isEmpty) {
        fs.mkdirs(dir)
        writeMeta(fs, dir, n)
      }

      merged.write.mode("overwrite").partitionBy(BucketCol)
        .parquet(tmp.toString)
      // commit point: _SUCCESS exists. From here the swap (or its
      // recovery replay) always completes forward.
      for (b <- bucketDirs(fs, tmp))
        swapBucket(fs, dir, retired, b)
      fs.delete(tmp, true)
      fs.delete(retired, true)
      // legacy files last: their content now lives in the buckets
      legacy.foreach(fs.delete(_, false))
    } finally { rowsB.unpersist(); () }
  }

  /** foreachBatch hook: upsert every micro-batch of full-state rows. */
  def foreachBatchUpsert(tableDir: String, keys: Seq[String])
      : (DataFrame, Long) => Unit =
    (batch, _) => upsert(batch, tableDir, keys)
}
