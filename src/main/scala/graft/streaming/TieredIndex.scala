package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A bucket-partitioned, LSM-tiered parquet store — the one persisted
  * store every streaming delta route reads, appends to and compacts:
  * the key indexes of [[StreamCdc]], [[StreamMediaDedup]],
  * [[StreamFrameOverlap]] and [[StreamCrossModal]], the `pairs` output
  * of each, and the stores of [[StreamCorpusLoop]],
  * [[StreamContainment]], [[StreamNearDedup]] and [[StreamSpanDedup]].
  * One instance manages one `outDir`; rows follow `keySchema` plus a
  * precomputed `bucket` partition column whose modulus is immutable
  * per outDir.
  *
  * '''One bucket.''' A store that is only ever read whole (an output
  * view, or a relation a full join probes) uses `nBuckets = 1` and
  * appends every row with `bucket = 0`; it shares the layout, the meta
  * and the legacy checks of the bucketed stores, and reads with
  * `corpusKeys(…, buckets = None)`.
  *
  * '''Fold/merge function.''' `combine` rewrites the rows a fold or a
  * merge writes (key columns + `bucket`, both of which it must keep).
  * It is identity for every store but an aggregated one:
  * [[StreamContainment]]'s gram-df store sums its per-batch counts by
  * gram, so every epoch holds one row per gram (readers still sum
  * across tiers).
  *
  * '''Layout''' (two tiers, the [[graft.operators.IvfIndex]]
  * discipline):
  *
  *  - '''recent tier''' `outDir/chunks/batch_id=N/bucket=B/` — one dir
  *    per micro-batch, written with dynamic partition overwrite so a
  *    replayed batch overwrites exactly its own contribution. Only
  *    numeric `batch_id=` dirs are read; a foreign one is skipped.
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
  * '''Legacy layouts.''' Round-15 indexes (`e<E>_upto<N>` epoch names,
  * `cdc_meta`) read and maintain transparently (`from` defaults to 0 —
  * the old single-epoch base covered [0, N]). Two layouts fail loudly
  * at [[ensureNBuckets]]: the pre-bucket FLAT index (batch dirs
  * without `bucket=` children, no meta — its postings carry no bucket
  * value, so a pruned probe would silently drop every legacy row), and
  * a store root holding an older store's own layout (`delta=`/`base=`
  * children, or `batch_id=` children directly under it — reading past
  * them would silently drop their rows from every view).
  */
private[graft] final class TieredIndex(outDir: String, keySchema: String,
    combine: DataFrame => DataFrame = identity) {

  private val keyCols: Seq[String] =
    StructType.fromDDL(keySchema).fields.map(_.name).toSeq
  private val epochSchema = s"$keySchema, bucket int"
  private val recentSchema = s"$keySchema, batch_id bigint, bucket int"
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
    readOrEmpty(spark, recentSchema, recentRoot,
      recentIds(spark).filter(keep).map(b => s"$recentRoot/batch_id=$b"))

  /** One committed base-tier epoch: covers batch ids [from, upto]. */
  private[graft] case class Epoch(epoch: Long, from: Long, upto: Long,
      path: String) {
    def size: Long = upto - from + 1
    def overlaps(o: Epoch): Boolean = from <= o.upto && o.from <= upto
  }

  private val EpochDir = """e(\d+)_from(\d+)_upto(\d+)""".r
  private val LegacyDir = """e(\d+)_upto(\d+)""".r

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
        case LegacyDir(e, n) => // round-15 naming: one epoch from 0
          Some((e.toLong, 0L, n.toLong, st.getPath.toString, committed))
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
    * buckets): every live base epoch ∪ recent batch dirs in (maxUpto,
    * batchId). The bucket predicates are PARTITION filters on every
    * scan — only directories that can hold a matching key are read. */
  private[graft] def corpusKeys(spark: SparkSession, batchId: Long,
      buckets: Option[Seq[Int]]): DataFrame = {
    val upto = maxUpto(spark)
    def pruned(df: DataFrame): DataFrame = buckets match {
      case Some(bs) => df.filter(col("bucket").isin(bs.map(Int.box): _*))
      case None => df
    }
    val keys = keyCols.map(col)
    val base = liveEpochs(spark)
      .map(e => pruned(spark.read.schema(epochSchema).parquet(e.path))
        .select(keys: _*))
      .reduceOption(_ unionByName _)
      .getOrElse(readOrEmpty(spark, epochSchema, outDir, Nil)
        .select(keys: _*))
    val recent = pruned(readRecent(spark, b => b > upto && b < batchId))
      .select(keys: _*)
    base.unionByName(recent)
  }

  /** Append one micro-batch's rows (key columns + `bucket`) — dynamic
    * partition overwrite, so a replayed batch overwrites exactly its
    * own contribution. */
  private[graft] def append(keys: DataFrame, batchId: Long): Unit =
    keys.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").partitionBy("batch_id", "bucket")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(recentRoot)

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
        .select((keyCols :+ "bucket").map(col): _*))
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
      combine(spark.read.schema(epochSchema).parquet(older.path)
          .unionByName(spark.read.schema(epochSchema).parquet(newer.path))
          .select((keyCols :+ "bucket").map(col): _*))
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

  // ---- bucket-count metadata ------------------------------------

  private def metaPath = s"$outDir/index_meta"
  private def legacyMetaPath = s"$outDir/cdc_meta"

  private def existingMetaPath(spark: SparkSession): Option[String] = {
    val f = fs(spark)
    if (f.exists(new Path(metaPath))) Some(metaPath)
    else if (f.exists(new Path(legacyMetaPath))) Some(legacyMetaPath)
    else None
  }

  private[graft] def readNBuckets(spark: SparkSession): Int = {
    val p = existingMetaPath(spark).getOrElse(metaPath)
    try spark.read.parquet(p)
      .select(col("n_buckets").cast("int")).collect()(0).getInt(0)
    catch {
      case e: Exception => throw new IllegalStateException(
        s"TieredIndex: cannot read bucket-count metadata at $p — the " +
          "meta is torn or corrupt (a crash between meta-dir creation " +
          "and parquet commit leaves an unreadable dir); delete the " +
          "meta dir and restart the sink with the original nBuckets, " +
          "or rebuild the index", e)
    }
  }

  /** Detect the layouts this store cannot read correctly:
    *  - an older store's own layout at the root — `delta=`/`base=`
    *    children, or `batch_id=` children directly under outDir;
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
    rootDirs.find(n => Seq("delta=", "base=", "batch_id=")
        .exists(n.startsWith))
      .foreach(n => throw new IllegalStateException(
        s"TieredIndex: the store at $outDir holds an older store " +
          s"layout ($n) that this store does not read — ignoring it " +
          "would silently drop its rows from every view. Rebuild the " +
          "store: wipe outDir + checkpoint and replay the stream."))
    val chunksRoot = new Path(recentRoot)
    val hasChunks = f.exists(chunksRoot) &&
      f.listStatus(chunksRoot).exists(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_id="))
    val hasBase = f.exists(new Path(s"$outDir/chunks_base"))
    def fail(what: String) = throw new IllegalStateException(
      s"TieredIndex: the index at $outDir uses the legacy FLAT layout " +
        s"($what) — its postings carry no bucket partition value, so " +
        "bucket-pruned probes would silently drop every legacy row. " +
        "Rebuild the index (wipe outDir + checkpoint and replay), or " +
        "migrate: rewrite each batch_id dir partitioned by " +
        "bucket = pmod(<fingerprint>, nBuckets) and write the meta.")
    if ((hasChunks || hasBase) && existingMetaPath(spark).isEmpty)
      fail("no bucket-count meta")
    if (hasChunks) {
      val firstBatch = f.listStatus(chunksRoot)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("batch_id=")).headOption
      firstBatch.foreach { st =>
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
  }

  /** Record `nBuckets` once per outDir (atomically — write to a temp
    * dir, rename into place; if another sink won the race, validate
    * against the winner); later sinks must match, since the modulus
    * is baked into every on-disk partition value. Also rejects the
    * legacy layouts — see [[rejectLegacyLayout]]. */
  private[graft] def ensureNBuckets(spark: SparkSession,
      nBuckets: Int): Unit = {
    rejectLegacyLayout(spark)
    val f = fs(spark)
    def validate(): Unit = {
      val stored = readNBuckets(spark)
      require(stored == nBuckets,
        s"TieredIndex: index at $outDir was built with " +
          s"nBuckets=$stored, got $nBuckets — the bucket modulus " +
          "cannot change")
    }
    if (existingMetaPath(spark).isDefined) { validate(); return }
    import spark.implicits._
    val tmp = new Path(s"$outDir/index_meta__tmp")
    f.delete(tmp, true) // a crashed previous attempt
    Seq(nBuckets).toDF("n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (!f.rename(tmp, new Path(metaPath))) {
      // another sink created the meta concurrently — theirs is
      // authoritative
      f.delete(tmp, true)
      validate()
    }
  }
}

private[graft] object TieredIndex {

  /** A route's `foreachBatch` body: `fold` the batch into the route's
    * stores, then run each store's [[TieredIndex.maintain]] — inside the
    * serialized callback, which is the stores' single-writer contract. */
  def trigger[T](route: String, stores: Seq[TieredIndex],
      compactEvery: Int)(
      fold: (Dataset[T], Long) => Unit): (Dataset[T], Long) => Unit = {
    require(compactEvery >= 2,
      s"$route: compactEvery must be >= 2, got $compactEvery")
    (batch, batchId) => {
      fold(batch, batchId)
      stores.foreach(_.maintain(batch.sparkSession, batchId, compactEvery))
    }
  }
}
