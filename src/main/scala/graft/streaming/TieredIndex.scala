package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A bucket-partitioned, LSM-tiered parquet store — the one persisted
  * store every streaming sink that keeps state on disk reads, appends
  * to and compacts: the key indexes of [[StreamCdc]],
  * [[StreamMediaDedup]], [[StreamFrameOverlap]] and [[StreamCrossModal]],
  * the `pairs` output of each, the stores of [[StreamCorpusLoop]],
  * [[StreamContainment]], [[StreamNearDedup]] and [[StreamSpanDedup]],
  * J1's counts ([[RegisterStream.dualSink]]), J2's detail table
  * ([[KeyedUpsertSink]]), and the inverted lists and cell masses of
  * the persisted IVF index ([[graft.operators.IvfIndex]], fed by
  * [[StreamAnnIngest]]). One instance manages one `outDir`; rows
  * follow `keySchema` plus a `bucket` partition column.
  *
  * '''Buckets belong to the store.''' A store is built with its bucket
  * key and modulus — `bucket = pmod(bucketKey, nBuckets)` — and is the
  * only code that computes, prunes or validates buckets: [[append]]
  * takes plain key rows and writes `bucket` itself, [[probe]] reads
  * only the buckets a batch's own keys fall in, and
  * [[TieredIndex.trigger]] checks the on-disk layout and the recorded
  * modulus and row schema once, at sink start. The modulus is baked
  * into every partition value, so it is immutable per outDir. A store
  * with no key has one bucket (`bucket = 0`): it is only ever read
  * whole (an output view, or a relation a full join probes), shares
  * the layout, the meta and the legacy checks of the bucketed stores,
  * and its [[probe]] runs no job.
  *
  * '''Fold/merge function.''' `combine` rewrites the rows a fold or a
  * merge writes: the key columns, `batch_id` and `bucket`, all of
  * which it must keep. `batch_id` is the batch a row was appended in
  * (an epoch row keeps the one it was folded from). `combine` is
  * identity for most stores; the companion object has the two others:
  * [[TieredIndex.summed]] for additive stores ([[StreamContainment]]'s
  * gram df, J1's counts, the IVF cell masses: every epoch holds one
  * row per group, and readers still sum across tiers) and
  * [[TieredIndex.latestPerKey]] for keyed snapshots (J2: every epoch
  * holds each key's newest row, and readers keep the newest across
  * tiers).
  *
  * '''Layout''' (two tiers):
  *
  *  - '''recent tier''' `outDir/chunks/batch_id=N/bucket=B/` — one dir
  *    per micro-batch, written with dynamic partition overwrite so a
  *    replayed batch overwrites exactly its own contribution. The
  *    batch id lives only in the directory name (readers get it back
  *    by partition discovery), never as a literal in the write's
  *    plan, so every batch runs the same generated code. A batch with
  *    no rows leaves no dir. Only numeric `batch_id=` dirs are read; a
  *    foreign one is skipped.
  *  - '''base tier''' `outDir/chunks_base/e<E>_from<M>_upto<N>/bucket=B/`
  *    — folded epochs, each covering the contiguous batch-id range
  *    [M, N]. Epoch numbers E are globally monotone (one per fold or
  *    merge, never reused — `nextEpoch` counts torn dirs too, so a
  *    crashed attempt never collides with a later one).
  *
  * '''LSM maintenance, off the O(corpus) hot path.''' Every
  * `compactEvery` committed recent dirs FOLD into one new epoch —
  * reading ONLY those recent dirs, an O(compactEvery batches) step,
  * never the base. Separately, at most ONE size-tiered MERGE runs per
  * maintenance call: the newest adjacent live-epoch pair (by batch
  * range) with `size(newer) >= size(older)` (sizes in covered
  * batches) folds into one epoch — reading ONLY those two dirs. The
  * binary-counter invariant keeps O(log n) live epochs, total write
  * amplification O(log n) per key, and the per-trigger maintenance
  * stall bounded by one similar-sized merge — a full-base rewrite
  * happens only at corpus-doubling points, amortized O(1) rows per
  * batch. Merges that lag a burst of folds only lengthen the
  * live-epoch list temporarily — probes read a LIST of epochs, so
  * correctness never depends on the merge schedule.
  *
  * '''Crash safety''' (single maintaining writer per outDir — the
  * streaming sink, which calls [[maintain]] once per trigger inside
  * its serialized `foreachBatch`; readers are free):
  *
  *  - an epoch becomes visible only when its parquet `_SUCCESS`
  *    lands; a torn fold/merge is invisible to [[liveEpochs]];
  *  - the live set = committed epochs, newest epoch first, greedily
  *    keeping each epoch whose batch range does not overlap an
  *    already-kept one — so a committed merge supersedes exactly the
  *    epochs it covered, even before they are deleted;
  *  - every delete removes data that is already unreadable: committed
  *    epochs outside the live set, torn dirs with epoch ≤ the highest
  *    live epoch (higher-numbered torn dirs may belong to the
  *    in-flight attempt of this same writer and are left alone —
  *    they become sweepable once a later epoch commits), and recent
  *    dirs at batch_id ≤ the live set's high-water mark;
  *  - only checkpoint-committed batches (strictly older than the
  *    in-flight one) are ever folded, so a replayed batch never meets
  *    its own rows in the base tier. A folded batch loses its
  *    per-batch identity, so re-running a stream over the same outDir
  *    with a FRESH checkpoint is supported only before the first fold
  *    — wipe outDir and checkpoint together.
  *
  * '''Older layouts''' fail loudly at [[checkLayout]]: the pre-bucket
  * FLAT index (batch dirs without `bucket=` children, no meta — its
  * postings carry no bucket value, so a pruned probe would silently
  * drop every legacy row), and a store root holding an older store's
  * own layout — reading past it would silently drop its rows from
  * every view: `delta=`/`base=` children, `batch_id=` children
  * directly under it, `bucket=` children (the swap-protocol keyed
  * table J2 used to write), or J1's `windowed`/`totals` contribution
  * stores. So does a store whose meta records another modulus or
  * another row schema, or whose meta is the parquet directory an
  * older build wrote, which records no schema: J1's older tagged rows,
  * read under its per-slide schema, would give null tumbles and
  * totals about 11× too high, with no error.
  */
private[graft] final class TieredIndex(outDir: String, keySchema: String,
    combine: DataFrame => DataFrame = identity,
    bucketKey: Option[Column] = None, nBuckets: Int = 1) {

  private val keyCols: Seq[String] =
    StructType.fromDDL(keySchema).fields.map(_.name).toSeq
  require(!keyCols.exists(Set("bucket", "batch_id")),
    s"TieredIndex: rows at $outDir may not carry a 'bucket' or " +
      "'batch_id' column — they are the store's")
  require(nBuckets >= 1 && (bucketKey.isDefined || nBuckets == 1),
    s"TieredIndex: nBuckets must be >= 1, and > 1 needs a bucket key; " +
      s"got $nBuckets at $outDir")
  private val bucket: Column =
    bucketKey.fold(lit(0))(k => pmod(k, lit(nBuckets)).cast("int"))
  // both tiers: the recent tier's batch_id comes from the directory,
  // an epoch's is a data column
  private val rowSchema = s"$keySchema, batch_id bigint, bucket int"
  private val storedCols = (keyCols :+ "batch_id" :+ "bucket").map(col)
  private val recentRoot = s"$outDir/chunks"

  private def fs(spark: SparkSession) =
    new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `paths` under the partition root `basePath`, or an empty relation
    * with `schema` when there are none. */
  private def readOrEmpty(spark: SparkSession, schema: String,
      basePath: String, paths: Seq[String]): DataFrame =
    if (paths.nonEmpty)
      spark.read.schema(schema).option("basePath", basePath)
        .parquet(paths: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(schema))

  /** Batch ids of the recent tier's `batch_id=N` dirs; a foreign
    * `batch_id=<non-number>` dir is skipped, never fatal. */
  private[graft] def recentIds(spark: SparkSession): Seq[Long] = {
    val root = new Path(recentRoot)
    val f = fs(spark)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
      .flatMap(_.getPath.getName.stripPrefix("batch_id=").toLongOption)
  }

  /** Recent-tier rows of the batches whose ids satisfy `keep`. */
  private def readRecent(spark: SparkSession,
      keep: Long => Boolean): DataFrame =
    readOrEmpty(spark, rowSchema, recentRoot,
      recentIds(spark).filter(keep).map(b => s"$recentRoot/batch_id=$b"))

  /** One committed base-tier epoch: covers batch ids [from, upto]. */
  private[graft] case class Epoch(epoch: Long, from: Long, upto: Long,
      path: String) {
    def size: Long = upto - from + 1
    def overlaps(o: Epoch): Boolean = from <= o.upto && o.from <= upto
  }

  private val EpochDir = """e(\d+)_from(\d+)_upto(\d+)""".r

  /** All epoch-named dirs, committed or torn:
    * `(epoch, from, upto, path, committed)`. */
  private[graft] def epochDirs(spark: SparkSession)
      : Seq[(Long, Long, Long, String, Boolean)] = {
    val root = new Path(s"$outDir/chunks_base")
    val f = fs(spark)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val committed = f.exists(new Path(st.getPath, "_SUCCESS"))
      st.getPath.getName match {
        case EpochDir(e, m, n) =>
          Some((e.toLong, m.toLong, n.toLong, st.getPath.toString,
            committed))
        case _ => None
      }
    }
  }

  /** The committed epochs a reader uses, newest first: greedy
    * non-overlap selection by descending epoch — a committed merge
    * supersedes the epochs it covers even before cleanup deletes
    * them. */
  private[graft] def liveEpochs(spark: SparkSession): Seq[Epoch] = {
    val committed = epochDirs(spark).filter(_._5)
      .map { case (e, m, n, p, _) => Epoch(e, m, n, p) }
      .sortBy(-_.epoch)
    committed.foldLeft(Vector.empty[Epoch]) { (kept, c) =>
      if (kept.exists(_.overlaps(c))) kept else kept :+ c
    }
  }

  /** Highest batch id folded into the base tier (-1 = nothing). */
  private[graft] def maxUpto(spark: SparkSession): Long =
    liveEpochs(spark).map(_.upto).maxOption.getOrElse(-1L)

  private def nextEpoch(spark: SparkSession): Long =
    epochDirs(spark).map(_._1).maxOption.getOrElse(0L) + 1

  /** The rows visible to batch `batchId` (`Long.MaxValue` = every
    * batch — the view read), bucket-pruned to `buckets` (None = all
    * buckets), as the key columns plus `batch_id`: every live base
    * epoch ∪ recent batch dirs in (maxUpto, batchId). The bucket
    * predicates are PARTITION filters on every scan — only
    * directories that can hold a matching key are read. */
  private[graft] def rows(spark: SparkSession, batchId: Long,
      buckets: Option[Seq[Int]]): DataFrame = {
    val upto = maxUpto(spark)
    def pruned(df: DataFrame): DataFrame = (buckets match {
      case Some(bs) => df.filter(col("bucket").isin(bs.map(Int.box): _*))
      case None => df
    }).select((keyCols :+ "batch_id").map(col): _*)
    val base = liveEpochs(spark)
      .map(e => pruned(spark.read.schema(rowSchema).parquet(e.path)))
      .reduceOption(_ unionByName _)
      .getOrElse(pruned(readOrEmpty(spark, rowSchema, outDir, Nil)))
    base.unionByName(pruned(readRecent(spark, b => b > upto && b < batchId)))
  }

  /** [[rows]] without `batch_id`: the key columns only. */
  private[graft] def corpusKeys(spark: SparkSession, batchId: Long,
      buckets: Option[Seq[Int]] = None): DataFrame =
    rows(spark, batchId, buckets).drop("batch_id")

  /** The corpus rows batch `batchId` probes with `batchKeys` (rows
    * carrying the bucket key's columns): [[corpusKeys]] pruned to the
    * buckets those keys fall in. Collecting them is one job with no
    * shuffle — each task returns its own ≤ nBuckets distinct values; a
    * one-bucket store is read whole, with no job. */
  private[graft] def probe(spark: SparkSession, batchKeys: DataFrame,
      batchId: Long): DataFrame = {
    import spark.implicits._
    corpusKeys(spark, batchId, if (nBuckets == 1) None else Some(
      batchKeys.select(bucket).as[Int].mapPartitions(_.toSet.iterator)
        .collect().distinct.toSeq))
  }

  /** Append one micro-batch's key rows into its own `batch_id=N` dir,
    * partitioned by their bucket — dynamic partition overwrite, so a
    * replayed batch overwrites exactly its own contribution. A batch
    * with no rows leaves no dir. */
  private[graft] def append(keys: DataFrame, batchId: Long): Unit = {
    val dir = new Path(s"$recentRoot/batch_id=$batchId")
    keys.select(keyCols.map(col) :+ bucket.as("bucket"): _*)
      .write.mode("overwrite").partitionBy("bucket")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dir.toString)
    val f = fs(keys.sparkSession)
    if (f.exists(dir) && !f.listStatus(dir)
        .exists(_.getPath.getName.startsWith("bucket=")))
      f.delete(dir, true)
  }

  /** Fold committed recent batches (ids in (maxUpto, upTo]) into ONE
    * new epoch through `combine` — reads only those recent dirs, never
    * the base. Idempotent: a crashed attempt that already committed
    * (maxUpto ≥ upTo) is a no-op on retry. */
  private[graft] def fold(spark: SparkSession, upTo: Long): Unit = {
    val upto = maxUpto(spark)
    if (upto >= upTo) return
    val target =
      s"$outDir/chunks_base/e${nextEpoch(spark)}_from${upto + 1}_upto$upTo"
    combine(readRecent(spark, b => b > upto && b <= upTo)
        .select(storedCols: _*))
      .write.mode("overwrite").partitionBy("bucket").parquet(target)
  }

  /** At most one size-tiered merge: the newest adjacent live pair with
    * `size(newer) >= size(older)` folds into one epoch through
    * `combine`, reading ONLY those two dirs (law-tested — the older,
    * larger epochs are never touched until their own doubling point). */
  private[graft] def mergeOnce(spark: SparkSession): Unit = {
    val live = liveEpochs(spark).sortBy(_.from)
    val candidate = live.zip(live.drop(1)).reverseIterator
      .find { case (older, newer) => newer.size >= older.size }
    candidate.foreach { case (older, newer) =>
      val target = s"$outDir/chunks_base/" +
        s"e${nextEpoch(spark)}_from${older.from}_upto${newer.upto}"
      // separate reads per root: multi-path partition discovery
      // rejects sibling roots as conflicting directory structures
      combine(spark.read.schema(rowSchema).parquet(older.path)
          .unionByName(spark.read.schema(rowSchema).parquet(newer.path))
          .select(storedCols: _*))
        .write.mode("overwrite").partitionBy("bucket").parquet(target)
    }
  }

  /** Delete everything already unreadable: committed epochs outside
    * the live set, torn epoch dirs at epoch ≤ the highest live epoch
    * (a crashed fold/merge — higher-numbered torn dirs may be this
    * writer's in-flight attempt and become sweepable once a later
    * epoch commits), and recent dirs folded into the base. */
  private def cleanup(spark: SparkSession): Unit = {
    val f = fs(spark)
    val live = liveEpochs(spark)
    val livePaths = live.map(_.path).toSet
    val maxLiveEpoch = live.map(_.epoch).maxOption.getOrElse(-1L)
    epochDirs(spark).foreach { case (e, _, _, p, committed) =>
      val superseded = committed && !livePaths.contains(p)
      val tornStale = !committed && e <= maxLiveEpoch
      if (superseded || tornStale) { f.delete(new Path(p), true); () }
    }
    val upto = maxUpto(spark)
    recentIds(spark).filter(_ <= upto).foreach { b =>
      f.delete(new Path(s"$recentRoot/batch_id=$b"), true); ()
    }
  }

  /** Per-trigger maintenance: fold once `compactEvery` committed
    * recent dirs accumulate (strictly older than the in-flight
    * `batchId` — they can never replay), then at most one size-tiered
    * merge, then sweep unreadable dirs. Every step is bounded by the
    * tiers it touches; the base is never rewritten wholesale except
    * at its own doubling point. */
  private[graft] def maintain(spark: SparkSession, batchId: Long,
      compactEvery: Int): Unit = {
    val upto = maxUpto(spark)
    if (recentIds(spark).count(b => b > upto && b < batchId) >=
        compactEvery)
      fold(spark, upTo = batchId - 1)
    mergeOnce(spark)
    cleanup(spark)
  }

  // ---- layout metadata -------------------------------------------

  private def metaPath = new Path(s"$outDir/index_meta")

  private def hasMeta(spark: SparkSession): Boolean = fs(spark).exists(metaPath)

  private val Rebuild = "Rebuild the store: wipe outDir + checkpoint " +
    "and replay the stream."

  /** What the meta records: the bucket modulus and the row schema. */
  private val meta =
    s"nBuckets=$nBuckets\nschema=${StructType.fromDDL(keySchema).toDDL}\n"

  /** Check the recorded meta against this store's: the modulus is
    * baked into every on-disk partition value, and rows of another
    * schema would be read as this one's. */
  private def validate(spark: SparkSession): Unit = {
    val f = fs(spark)
    if (f.getFileStatus(metaPath).isDirectory)
      throw new IllegalStateException(s"TieredIndex: the meta at " +
        s"$metaPath is a directory — the parquet meta of an older build " +
        "(or a torn one), which recorded no row schema, so this build " +
        s"cannot tell whether the store's rows are its own. $Rebuild")
    val in = f.open(metaPath)
    val stored = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def show(m: String) = m.trim.replace("\n", ", ")
    require(stored == meta, s"TieredIndex: the store at $outDir was " +
      s"built with ${show(stored)}, got ${show(meta)} — the bucket " +
      s"modulus and the row schema cannot change. $Rebuild")
  }

  /** Detect the layouts this store cannot read correctly:
    *  - an older store's own layout at the root — `delta=`/`base=`,
    *    `batch_id=` or `bucket=` children directly under outDir, or
    *    J1's `windowed`/`totals` contribution stores;
    *  - the pre-bucket FLAT layout: recent batch dirs whose children
    *    are data files rather than `bucket=` subdirs, or an index with
    *    chunk data but no meta. Such postings carry no bucket
    *    partition value — a pruned probe would silently drop them. */
  private def rejectLegacyLayout(spark: SparkSession): Unit = {
    val f = fs(spark)
    val root = new Path(outDir)
    val rootDirs =
      if (f.exists(root)) f.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
      else Nil
    rootDirs.find(n => Seq("delta=", "base=", "batch_id=", "bucket=")
        .exists(n.startsWith) || n == "windowed" || n == "totals")
      .foreach(n => throw new IllegalStateException(
        s"TieredIndex: the store at $outDir holds an older store " +
          s"layout ($n) that this store does not read — ignoring it " +
          s"would silently drop its rows from every view. $Rebuild"))
    val chunksRoot = new Path(recentRoot)
    val batchDirs =
      if (!f.exists(chunksRoot)) Nil
      else f.listStatus(chunksRoot).toSeq.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
    val hasBase = f.exists(new Path(s"$outDir/chunks_base"))
    def fail(what: String) = throw new IllegalStateException(
      s"TieredIndex: the index at $outDir uses the legacy FLAT layout " +
        s"($what) — its postings carry no bucket partition value, so " +
        "bucket-pruned probes would silently drop every legacy row. " +
        "Rebuild the index (wipe outDir + checkpoint and replay), or " +
        "migrate: rewrite each batch_id dir partitioned by " +
        "bucket = pmod(<fingerprint>, nBuckets) and write the meta.")
    if ((batchDirs.nonEmpty || hasBase) && !hasMeta(spark))
      fail("no bucket-count meta")
    batchDirs.headOption.foreach { st =>
      val children = f.listStatus(st.getPath)
      val hasBucketDirs = children.exists(c => c.isDirectory &&
        c.getPath.getName.startsWith("bucket="))
      val hasLooseData = children.exists(c => !c.isDirectory &&
        !c.getPath.getName.startsWith("_") &&
        !c.getPath.getName.startsWith("."))
      if (!hasBucketDirs && hasLooseData)
        fail(s"${st.getPath.getName} has data files but no bucket= " +
          "partitions")
    }
  }

  /** Reject the legacy layouts ([[rejectLegacyLayout]]), then record
    * the store's `nBuckets` and row schema once per outDir in a small
    * text file, `index_meta` (atomically — write a temp file, rename it
    * into place; if another sink won the race, validate against the
    * winner); later sinks must match. File-system calls only: no Spark
    * job. */
  private[graft] def checkLayout(spark: SparkSession): Unit = {
    rejectLegacyLayout(spark)
    if (hasMeta(spark)) { validate(spark); return }
    val f = fs(spark)
    val tmp = new Path(s"$outDir/index_meta.tmp")
    val out = f.create(tmp, true) // overwrites a crashed attempt's
    try out.write(meta.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, metaPath)) {
      // another sink created the meta concurrently — theirs is
      // authoritative
      f.delete(tmp, false)
      validate(spark)
    }
  }
}

private[graft] object TieredIndex {

  /** The `combine` of an additive store: one row per group of the
    * other columns (`bucket` included), `n` summed, stamped with the
    * newest batch it covers. */
  def summed(n: String): DataFrame => DataFrame = df =>
    df.groupBy(df.columns.filterNot(Set(n, "batch_id")).map(col).toSeq: _*)
      .agg(sum(col(n)).as(n), max(col("batch_id")).as("batch_id"))

  /** The `combine` of a keyed-snapshot store, and its read: per key,
    * the row of the newest batch. */
  def latestPerKey(keys: Seq[String]): DataFrame => DataFrame = df =>
    df.withColumn("_newest", max(col("batch_id"))
        .over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("batch_id") === col("_newest")).drop("_newest")

  /** A route's `foreachBatch` body: `fold` the batch into the route's
    * stores, then run each store's [[TieredIndex.maintain]] — inside the
    * serialized callback, which is the stores' single-writer contract.
    * Built once, at sink start, where it checks each store's layout,
    * modulus and schema ([[TieredIndex.checkLayout]]) in the active
    * session. */
  def trigger[T](route: String, stores: Seq[TieredIndex],
      compactEvery: Int)(
      fold: (Dataset[T], Long) => Unit): (Dataset[T], Long) => Unit = {
    require(compactEvery >= 2,
      s"$route: compactEvery must be >= 2, got $compactEvery")
    stores.foreach(_.checkLayout(SparkSession.active))
    (batch, batchId) => {
      fold(batch, batchId)
      stores.foreach(_.maintain(batch.sparkSession, batchId, compactEvery))
    }
  }
}
