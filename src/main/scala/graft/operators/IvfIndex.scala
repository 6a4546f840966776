package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED IVF index — inverted lists included.
  *
  * [[Similarity.ivfTopK]] trains and assigns inside every query plan;
  * this object is the layout every production IVF system (FAISS,
  * ScaNN, Milvus) actually ships: at build time the corpus is assigned
  * ONCE and written as a `(vec_id, v[, codes])` relation PARTITIONED
  * BY CELL, so a probe is a partition-pruned read of nProbe/nLists of
  * the data — delta-batch cost is ∝ probed cells, never ∝ corpus.
  *
  * On-disk layout under `path` (committed ATOMICALLY — built in a
  * sibling temp directory and renamed into place, so a torn build can
  * never be mistaken for an index):
  *
  *   - `meta/`      one row: (version, n_lists, dim, n_vecs, m, ksub,
  *                  n_epochs) — m = 0 marks a plain (non-PQ) index;
  *   - `quantizer/` a [[KMeans.saveCentroids]] artifact (quantized
  *                  units, version + k stamp) — ONE artifact format
  *                  for clustering models and coarse quantizers;
  *   - `cellstats/` (cell, n) — the inverted-list lengths, the
  *                  statistic adaptive mass-probing needs, carried by
  *                  the index for free instead of recomputed per batch
  *                  (the Σn == n_vecs stamp also validates the lists
  *                  without scanning them at load);
  *   - `lists/`     parquet `partitionBy("epoch", "cell")`: (vec_id,
  *                  v) plus, when m > 0, the PQ `codes`. The epoch
  *                  level makes [[append]] crash-safe: meta commits
  *                  the epoch COUNT last, so files of a torn append
  *                  sit in an epoch the readers never select;
  *   - `codebooks/` (m > 0 only) the PQ codebooks as a dense
  *                  (j, c, pos, cval) relation.
  *
  * Training is [[Similarity.ivfTopK]]'s ([[Similarity.trainIvf]]:
  * smallest-id byte-budgeted sample, one grouped Lloyd run for the
  * coarse quantizer and all m codebooks), and [[search]] runs the same
  * kernel ([[Similarity.probeTopK]]) over the persisted lists, so the
  * index is a pure function of the corpus and [[search]] is row-for-row
  * EQUAL to [[Similarity.ivfTopK]] at the same geometry (the
  * IvfIndexSpec load-path equality laws).
  *
  * Scale shape of a probe: centroids ride the plan as literals
  * (bounded nLists×dim collect); the probed CELL SET — ≤ nLists
  * values, from one tiny query-side job — becomes a LITERAL `IN`
  * filter on the partition column, so the scan's PartitionFilters
  * prune to the probed directories (asserted by IvfIndexSpec); the
  * candidate join is cell-equality against the broadcast probe set.
  * No full-corpus projection, no assignment scan, anywhere.
  */
object IvfIndex {

  // v2: epoch-partitioned lists + the n_epochs commit stamp ([[append]])
  private val IndexVersion = 2

  /** Build and atomically persist the index at `path` (overwrites any
    * complete index already there only if the final rename wins; a
    * concurrent winner's index is left intact). `m > 0` adds PQ codes
    * (dim must divide by m) and codebooks — the IVF+PQ layout. */
  def build(embeddings: DataFrame, path: String, nLists: Int = 16,
      m: Int = 0, ksub: Int = 16, trainSample: Int = 100000,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxTrainBytes: Long = 64L << 20): Unit = {
    require(nLists >= 1 && nLists <= 65536,
      s"IvfIndex.build: nLists must be in [1, 65536], got $nLists")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val corpus = Similarity.vectors(embeddings, idCol, embCol)
    val (centers, pq) = Similarity.trainIvf(corpus, nLists, m, ksub,
      trainSample, maxTrainBytes, "IvfIndex.build")
    val assigned = Similarity.assign(corpus, centers, pq, "IvfIndex.build")
      .withColumn("epoch", lit(0))

    // build in a sibling temp dir, rename into place: the committed
    // path either holds a COMPLETE index or nothing — a crash between
    // the table writes can never leave a loadable-looking torn artifact
    val tmp = path + ".build-" + ProcessHandle.current().pid()
    sweepTornBuilds(path, keep = tmp)
    deleteRecursively(new java.io.File(tmp))
    try {
      KMeans.saveCentroids(Similarity.centroidRelation(spark, centers),
        s"$tmp/quantizer")
      assigned.write.mode("overwrite").partitionBy("epoch", "cell")
        .parquet(s"$tmp/lists")
      // stats from the WRITTEN lists — a stamp of what is on disk, not
      // of what the plan intended (column-pruned: reads cell only)
      val nVecs = writeCellStats(spark, tmp)
      pq.foreach { p =>
        val rows = for {
          j <- 0 until p.m; c <- 0 until p.ksub; d <- 0 until p.dsub
        } yield (j, c, d, p.cb((j * p.ksub + c) * p.dsub + d))
        rows.toDF("j", "c", "pos", "cval")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/codebooks")
      }
      writeMeta(spark, tmp, nLists, centers(0).length, nVecs, m, ksub,
        nEpochs = 1)

      val target = new java.io.File(path)
      deleteRecursively(target)
      if (!new java.io.File(tmp).renameTo(target)) {
        // a concurrent builder won the rename race: keep the winner's
        // index (same deterministic build), drop ours
        require(new java.io.File(path, "meta").isDirectory,
          s"IvfIndex.build: rename to $path failed and no index exists")
      }
    } finally deleteRecursively(new java.io.File(tmp))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Newest mtime in the tree — an in-flight builder keeps touching
    * leaf files even when the root dir's own mtime stays put. */
  private def deepMtime(f: java.io.File): Long = {
    val own = f.lastModified()
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foldLeft(own)((m, c) => math.max(m, deepMtime(c)))
    else own
  }

  /** Sweep torn `.build-<pid>` tmp dirs left by CRASHED builders: the
    * normal path deletes its own tmp in the `finally`, but a killed
    * JVM's dir would otherwise survive forever next to the index. Run
    * at build entry; a sibling is deleted only when the pid embedded in
    * its name is no longer a live process (so a concurrent cross-JVM
    * builder's in-flight tmp is never touched; `keep` — the current
    * builder's own tmp name — is skipped regardless and recreated by
    * the caller).
    *
    * SCOPE: the pid liveness check is SAME-MACHINE, same pid
    * namespace. On a shared filesystem a live builder on another host
    * would look dead — so a recent-mtime age guard additionally skips
    * any dir modified in the last [[SweepMinAgeMs]] (an in-flight
    * build keeps writing; a torn one goes stale). The guard is a
    * HEURISTIC with a clock-skew assumption: it compares this host's
    * clock against mtimes stamped by the writer's filesystem, so it
    * holds only when |skew| + mtime-propagation lag stays well under
    * the age floor — a sweeper minutes AHEAD of a writer whose last
    * mtime landed at file close (one long write) could still sweep a
    * live cross-host build. Deployments with skewed clocks or lazy
    * mtime propagation should raise the floor via
    * `spark.graft.ivf.sweepMinAgeMs` (or the JVM system property of
    * the same name; the Spark conf wins), sized ≥ several × the
    * worst-case skew. A recycled pid can still keep a torn dir alive
    * indefinitely — acceptable garbage, never a correctness hazard
    * (tmp dirs are invisible to readers). */
  private[graft] def SweepMinAgeMs: Long = {
    val key = "spark.graft.ivf.sweepMinAgeMs"
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption(key))
      .orElse(sys.props.get(key))
    conf.flatMap(_.toLongOption).getOrElse(10L * 60L * 1000L)
  }

  private def sweepTornBuilds(path: String, keep: String): Unit = {
    val base = new java.io.File(path)
    val prefix = base.getName + ".build-"
    val parent = base.getAbsoluteFile.getParentFile
    val siblings = Option(parent).flatMap(p => Option(p.listFiles()))
      .getOrElse(Array.empty[java.io.File])
    siblings.foreach { f =>
      if (f.isDirectory && f.getName.startsWith(prefix) &&
          f.getName != new java.io.File(keep).getName) {
        val alive = f.getName.stripPrefix(prefix).toLongOption.exists {
          pid =>
            pid > 0 && {
              val h = ProcessHandle.of(pid)
              h.isPresent && h.get.isAlive
            }
        }
        // age guard: never touch a dir still being written (covers
        // builders this machine's pid namespace cannot see)
        val recentlyTouched =
          System.currentTimeMillis() - deepMtime(f) < SweepMinAgeMs
        if (!alive && !recentlyTouched) deleteRecursively(f)
      }
    }
  }

  /** Recompute `cellstats` from the WRITTEN lists (all epochs present
    * on disk — callers stamp the committed epoch count in meta
    * afterwards) and return the total row count. */
  private def writeCellStats(spark: SparkSession, path: String): Long = {
    val stats = spark.read.parquet(s"$path/lists")
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n"))
    stats.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/cellstats_next")
    // overwrite-in-place via the staged copy: the stats job READS the
    // old cellstats' sibling lists only, so this is safe; the staged
    // dir then replaces cellstats atomically (local-fs rename)
    val next = new java.io.File(s"$path/cellstats_next")
    val cur = new java.io.File(s"$path/cellstats")
    deleteRecursively(cur)
    require(next.renameTo(cur),
      s"IvfIndex: could not move cellstats into place at $path")
    spark.read.parquet(s"$path/cellstats")
      .agg(coalesce(sum(col("n")), lit(0L))).collect()(0).getLong(0)
  }

  /** Meta is the index's COMMIT POINT, so it is replaced via a staged
    * copy + rename (the cellstats discipline) — a plain overwrite
    * deletes the old dir before writing the new one, and a crash in
    * that window would leave the whole index unreadable. `lastTag`
    * rides the same commit: [[append]] stamps its caller-supplied tag
    * atomically with the epoch bump, which is what makes a replayed
    * streaming batch detectable (see [[append]]). The residual window
    * is the delete+rename pair itself (microseconds, no job inside —
    * the cellstats discipline), not the meta-building Spark job. */
  private def writeMeta(spark: SparkSession, path: String, nLists: Int,
      dim: Int, nVecs: Long, m: Int, ksub: Int, nEpochs: Int,
      lastTag: Option[String] = None): Unit = {
    import spark.implicits._
    Seq((IndexVersion, nLists, dim, nVecs, m, ksub, nEpochs,
        lastTag.orNull))
      .toDF("version", "n_lists", "dim", "n_vecs", "m", "ksub",
        "n_epochs", "last_tag")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta_next")
    val next = new java.io.File(s"$path/meta_next")
    val cur = new java.io.File(s"$path/meta")
    deleteRecursively(cur)
    require(next.renameTo(cur),
      s"IvfIndex: could not move meta into place at $path")
  }

  private case class Meta(nLists: Int, dim: Int, nVecs: Long, m: Int,
      ksub: Int, nEpochs: Int, lastTag: Option[String])

  private def loadMeta(spark: SparkSession, path: String): Meta = {
    val rows = spark.read.parquet(s"$path/meta").collect()
    require(rows.length == 1,
      s"IvfIndex: expected 1 meta row at $path/meta, got ${rows.length}")
    val r = rows(0)
    val version = r.getAs[Int]("version")
    require(version == IndexVersion,
      s"IvfIndex: unsupported index version $version (this build " +
        s"reads $IndexVersion)")
    // pre-round-16 metas carry no last_tag column
    val tag =
      if (r.schema.fieldNames.contains("last_tag"))
        Option(r.getAs[String]("last_tag"))
      else None
    Meta(r.getAs[Int]("n_lists"), r.getAs[Int]("dim"),
      r.getAs[Long]("n_vecs"), r.getAs[Int]("m"), r.getAs[Int]("ksub"),
      r.getAs[Int]("n_epochs"), tag)
  }

  /** Append a delta batch under the FROZEN quantizer — incremental
    * index maintenance, the other half of the delta story next to the
    * pruned probe: new vectors are assigned (and, on a PQ index,
    * encoded) with the artifact's own centroids/codebooks — so
    * assignments stay consistent with every previous batch by
    * construction — and land in a NEW epoch under their cell
    * partitions. Commit order makes the append crash-safe: list files
    * first, then the cellstats restamp, then meta with the bumped
    * epoch count LAST — a crash before the meta write leaves the new
    * epoch's files invisible to every reader (epoch ≥ n_epochs is
    * never selected), and a crash between cellstats and meta is a
    * stamp mismatch that fails loudly at load (and self-heals through
    * [[graft.Artifacts.cached]]).
    *
    * Equality law (IvfIndexSpec): searching an appended index ≡
    * the search kernel over (corpus ∪ delta) assigned by the same
    * frozen quantizer, row for row.
    *
    * Scale shape: one assignment/encode projection over the DELTA
    * only plus a cell-keyed write — cost ∝ |delta|; the restamp is a
    * column-pruned cell read. No training, no corpus pass.
    *
    * @param tag optional idempotence handle: a tag equal to the
    *   index's last committed one makes the call a no-op. Streaming
    *   callers ([[graft.streaming.StreamAnnIngest]]) pass their batch
    *   id so a checkpoint replay never appends twice; the tag commits
    *   atomically with the epoch bump. */
  def append(spark: SparkSession, path: String, embeddings: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      tag: Option[String] = None): Unit = {
    val meta = loadMeta(spark, path)
    // idempotence handle for replayed appends (streaming foreachBatch):
    // the tag commits atomically with the epoch bump in the meta
    // write, so "this tag is already the last applied" means the
    // append fully committed — a retried batch is a no-op. Batches
    // apply in order, so checking only the LAST tag suffices.
    if (tag.isDefined && meta.lastTag == tag) return
    val centers = loadCenters(spark, path, meta)
    val pq = loadCodebooks(spark, path, meta)
    // sweep uncommitted epochs from a previously crashed append: their
    // files share the epoch number this append is about to write and
    // would otherwise be adopted (possibly duplicating the delta)
    val listsDir = new java.io.File(s"$path/lists")
    if (listsDir.isDirectory)
      listsDir.listFiles()
        .filter(f => f.getName.startsWith("epoch=") &&
          f.getName.drop("epoch=".length).toIntOption
            .exists(_ >= meta.nEpochs))
        .foreach(deleteRecursively)
    Similarity.assign(Similarity.vectors(embeddings, idCol, embCol),
        centers, pq, "IvfIndex.append")
      .withColumn("epoch", lit(meta.nEpochs))
      .write.mode("append").partitionBy("epoch", "cell")
      .parquet(s"$path/lists")
    val nVecs = writeCellStats(spark, path)
    writeMeta(spark, path, meta.nLists, meta.dim, nVecs, meta.m,
      meta.ksub, meta.nEpochs + 1, lastTag = tag)
  }

  /** Dequantized centroid matrix from the quantizer artifact —
    * validated ([[KMeans.collectCentroids]]) and checked against the
    * meta geometry. */
  private def loadCenters(spark: SparkSession, path: String,
      meta: Meta): Array[Array[Double]] = {
    val centers = KMeans.collectCentroids(
        KMeans.loadCentroids(spark, s"$path/quantizer"))
      .map(_.map(_ / KMeans.Scale).toArray).toArray
    require(centers.length == meta.nLists &&
        centers.head.length == meta.dim,
      s"IvfIndex: quantizer is ${centers.length}×${centers.head.length}, " +
        s"meta says ${meta.nLists}×${meta.dim} — mixed artifact")
    centers
  }

  /** The validated PQ codebooks of an `m > 0` index (None for m = 0),
    * checked against the meta geometry. */
  private def loadCodebooks(spark: SparkSession, path: String,
      meta: Meta): Option[Similarity.Pq] =
    Option.when(meta.m > 0) {
      val pq = Similarity.collectCodebooks(
        spark.read.parquet(s"$path/codebooks"), "IvfIndex")
      require(pq.m == meta.m && pq.ksub == meta.ksub &&
          pq.m * pq.dsub == meta.dim,
        s"IvfIndex: codebooks are m=${pq.m} ksub=${pq.ksub} " +
          s"dsub=${pq.dsub}, meta says m=${meta.m} ksub=${meta.ksub} " +
          s"dim=${meta.dim} — mixed artifact")
      pq
    }

  /** Bounded validated cell masses (inverted-list lengths): dense over
    * observed cells, Σn must equal the meta row-count stamp — the
    * lists are validated WITHOUT scanning them. */
  private def loadCellMasses(spark: SparkSession, path: String,
      meta: Meta): Array[Long] = {
    val rows = spark.read.parquet(s"$path/cellstats")
      .select(col("cell").cast("int"), col("n").cast("long"))
      .take(meta.nLists + 1)
    require(rows.length <= meta.nLists,
      s"IvfIndex: cellstats has more rows than n_lists=${meta.nLists}")
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "IvfIndex: null cellstats row — the artifact is corrupt")
    val mass = new Array[Long](meta.nLists)
    rows.foreach { r =>
      val c = r.getInt(0)
      require(c >= 0 && c < meta.nLists,
        s"IvfIndex: cellstats cell $c outside [0, ${meta.nLists})")
      mass(c) = r.getLong(1)
    }
    require(mass.sum == meta.nVecs,
      s"IvfIndex: cellstats total ${mass.sum} != n_vecs stamp " +
        s"${meta.nVecs} — incomplete or mixed artifact")
    mass
  }

  /** The pruned candidate read: the probed cell set (≤ nLists values,
    * one bounded query-side job) becomes a LITERAL IN-filter on the
    * partition column, so the parquet scan reads only the probed cell
    * directories (PartitionFilters — the whole point of the index).
    * Only COMMITTED epochs are selected (`epoch < n_epochs` — also a
    * partition filter), so files of a torn [[append]] are invisible. */
  private def prunedLists(spark: SparkSession, path: String, meta: Meta,
      probes: DataFrame): DataFrame = {
    val cells = probes.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0))
    spark.read.parquet(s"$path/lists")
      .filter(col("epoch") < meta.nEpochs &&
        col("cell").isin(cells.map(Int.box): _*))
  }

  /** [[Similarity.ivfTopK]] through the persisted index: exact cosine
    * on a plain index, ADC `pq_cosine` (+ optional IVFADC exact
    * re-rank) on a PQ index (`m` comes from the meta), with adaptive
    * mass probing over the persisted `cellstats` — every per-batch
    * corpus pass replaced by index reads. Candidates, their codes and
    * the re-rank's raw vectors all come from the pruned cell
    * partitions. The bounded artifact loads run one after another on
    * the caller's thread. Row-for-row EQUAL to [[Similarity.ivfTopK]]
    * at the same geometry (IvfIndexSpec). */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = 4, rerank: Int = 0,
      probeMass: Double = 0.0, nProbeMax: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val meta = loadMeta(spark, path)
    val centers = loadCenters(spark, path, meta)
    val pq = loadCodebooks(spark, path, meta)
    val masses = loadCellMasses(spark, path, meta) // validates the stamp
    Similarity.probeTopK(queries, centers, pq,
      probes => prunedLists(spark, path, meta, probes), masses, k, nProbe,
      nProbeMax, probeMass, rerank, idCol, embCol, "IvfIndex.search")
  }
}
