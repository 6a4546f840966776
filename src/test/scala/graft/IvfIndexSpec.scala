package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}

/** The persisted-IVF-index contracts:
  *
  *   1. LOAD-PATH EQUALITY — searching through the on-disk lists
  *      equals the recompute route (ivfTopK, or the search kernel
  *      under a frozen quantizer) row for row, because build-time
  *      assignment and query-time scoring share one deterministic
  *      training path and one search kernel.
  *   2. PRUNED PROBE PLAN — the search physical plan reads the lists
  *      relation with PartitionFilters on `cell` and NEVER scans the
  *      corpus table: delta-batch cost is ∝ probed cells (the
  *      round-12 scale fix).
  *   3. ARTIFACT LIFECYCLE — builds commit atomically (temp + rename;
  *      no .build- residue), loads validate stamps eagerly, and
  *      Artifacts.cached self-heals a torn artifact by rebuilding.
  */
class IvfIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def tmpPath(name: String): String =
    new java.io.File(
      Files.createTempDirectory("ivfindex_spec").toFile, name).toString

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("search through the persisted lists equals ivfTopK on the " +
    "same corpus, row for row") {
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
    val path = tmpPath("ivf")
    IvfIndex.build(corpus, path, nLists = 16)
    val viaIndex = IvfIndex.search(spark, path, delta, k = 10, nProbe = 12)
    val recompute = Similarity.ivfTopK(corpus, delta, k = 10, nLists = 16,
      nProbe = 12)
    assert(collectSorted(viaIndex) === collectSorted(recompute))
  }

  test("search through the persisted PQ codes equals ivfTopK at the " +
    "same geometry (incl. adaptive mass probing + IVFADC re-rank)") {
    val qs = emb.filter(col("vec_id") < 5)
    val path = tmpPath("ivfpq")
    IvfIndex.build(emb, path, nLists = 16, m = 32, ksub = 256)
    val viaIndex = IvfIndex.search(spark, path, qs, k = 10,
      nProbe = 1, rerank = 50, probeMass = 0.9)
    val recompute = Similarity.ivfTopK(emb, qs, k = 10, nLists = 16,
      nProbe = 1, m = 32, ksub = 256, rerank = 50, probeMass = 0.9)
    assert(collectSorted(viaIndex) === collectSorted(recompute))
  }

  test("search through a PQ index without re-rank (pure ADC) also " +
    "equals the recompute route — the code path x146 does not exercise") {
    val qs = emb.filter(col("vec_id") < 5)
    val path = tmpPath("ivfpq_adc")
    IvfIndex.build(emb, path, nLists = 16, m = 32, ksub = 256)
    val viaIndex = IvfIndex.search(spark, path, qs, k = 10, nProbe = 4)
    val recompute = Similarity.ivfTopK(emb, qs, k = 10, nLists = 16,
      nProbe = 4, m = 32, ksub = 256)
    assert(collectSorted(viaIndex) === collectSorted(recompute))
  }

  test("one cell is the brute-force ADC scan (x83): ivfTopK with " +
    "nLists = 1 scores all |corpus| - 1 non-self vectors per query and " +
    "equals search on an index built with the same geometry") {
    val qs = emb.filter(col("vec_id") < 3)
    val n = emb.count()
    val path = tmpPath("pq_one_cell")
    IvfIndex.build(emb, path, nLists = 1, m = 32, ksub = 256)
    val recompute = Similarity.ivfTopK(emb, qs, k = n.toInt, nLists = 1,
      nProbe = 1, m = 32, ksub = 256)
    assert(recompute.groupBy("query_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(0L -> (n - 1), 1L -> (n - 1), 2L -> (n - 1)))
    val viaIndex = IvfIndex.search(spark, path, qs, k = n.toInt, nProbe = 1)
    assert(collectSorted(viaIndex) === collectSorted(recompute))
  }

  test("the probe plan is PARTITION-PRUNED: the lists scan carries a " +
    "cell PartitionFilter and the corpus table is never scanned — " +
    "no per-batch assignment projection anywhere") {
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") < 50)
    val path = tmpPath("ivf_plan")
    IvfIndex.build(corpus, path, nLists = 16)
    val p = IvfIndex.search(spark, path, delta, k = 10, nProbe = 4)
      .queryExecution.executedPlan.toString
    // the candidate side reads the lists relation through partition
    // pruning on the literal probed-cell set
    val listScan = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("lists"))
      .toSeq
    assert(listScan.nonEmpty, p)
    assert(listScan.exists(l =>
      l.substring(l.indexOf("PartitionFilters:")).takeWhile(_ != ']')
        .contains("cell")), p)
    // the query side reads the (tiny) delta slice of the corpus table
    // (twice pre-AQE: the probe relation feeds both the pruning
    // subquery and the broadcast); the CANDIDATE side must never touch
    // it — every embeddings scan in the plan carries the delta
    // DataFilter, so no corpus-wide scan or cell projection exists
    val embScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("embeddings")).toSeq
    assert(embScans.nonEmpty, p)
    assert(embScans.forall(_.contains("< 50)")), p)
  }

  test("append under the frozen quantizer: searching the appended " +
    "index equals the frozen-quantizer kernel over the union, row for " +
    "row — " +
    "and appended vectors are first-class neighbors") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val queries = emb.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 50)
    val path = tmpPath("ivf_append")
    IvfIndex.build(base, path, nLists = 16)
    IvfIndex.append(spark, path, delta)
    val viaIndex = IvfIndex.search(spark, path, queries, k = 10,
      nProbe = 12)
    // the reference: the SAME frozen quantizer (trained on base only)
    // assigning the union inline
    val recompute = frozenIvfTopK(Similarity.ivfCentroids(base),
      base.unionAll(delta), queries, k = 10, nProbe = 12)
    assert(collectSorted(viaIndex) === collectSorted(recompute))
    // delta vectors actually surface as neighbors (delta queries have
    // near-identical delta siblings only when vec_id % 10 == 0 pairs
    // exist — assert at least one hit from the delta id space)
    assert(viaIndex.filter(col("vec_id") % 10 === 0).count() > 0)
  }

  test("append on a PQ index re-encodes the delta with the persisted " +
    "codebooks: searches stay well-formed (no null scores) over the " +
    "appended rows") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val qs = emb.filter(col("vec_id") < 5)
    val path = tmpPath("ivfpq_append")
    IvfIndex.build(base, path, nLists = 16, m = 32, ksub = 256)
    IvfIndex.append(spark, path, delta)
    val viaIndex = IvfIndex.search(spark, path, qs, k = 10, nProbe = 4)
    assert(viaIndex.count() > 0)
    // every returned candidate must carry a REAL pq_cosine (codes were
    // written for the appended rows too — a missing codes column would
    // have failed the scan; null codes would null the score)
    assert(viaIndex.filter(col("pq_cosine").isNull).count() === 0)
  }

  test("a torn append is invisible: files in an uncommitted epoch are " +
    "never selected, and the next append sweeps them (no duplicates)") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val queries = emb.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 30)
    val path = tmpPath("ivf_torn_append")
    IvfIndex.build(base, path, nLists = 8)
    val before = collectSorted(IvfIndex.search(spark, path, queries,
      k = 5, nProbe = 8))
    // simulate a crash mid-append: epoch-1 list files exist, but
    // cellstats and meta were never restamped
    delta.select(col("vec_id"), col("embedding").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("epoch", lit(1))
      .withColumn("cell", lit(0))
      .write.mode("append").partitionBy("epoch", "cell")
      .parquet(s"$path/lists")
    val torn = collectSorted(IvfIndex.search(spark, path, queries,
      k = 5, nProbe = 8))
    assert(torn === before) // the orphan epoch is never read
    // a real append now sweeps the orphans and commits exactly one
    // copy of the delta: results equal a clean build+append
    IvfIndex.append(spark, path, delta)
    val appended = collectSorted(IvfIndex.search(spark, path,
      queries, k = 5, nProbe = 8))
    val cleanPath = tmpPath("ivf_clean_append")
    IvfIndex.build(base, cleanPath, nLists = 8)
    IvfIndex.append(spark, cleanPath, delta)
    assert(appended === collectSorted(IvfIndex.search(spark,
      cleanPath, queries, k = 5, nProbe = 8)))
  }

  test("build is atomic: a committed path holds a complete index, no " +
    ".build- temp residue is left, and rebuilding over an existing " +
    "index replaces it") {
    val path = tmpPath("ivf_atomic")
    IvfIndex.build(emb, path, nLists = 8)
    val parent = new java.io.File(path).getParentFile
    assert(parent.listFiles().forall(!_.getName.contains(".build-")),
      parent.listFiles().map(_.getName).mkString(", "))
    assert(new java.io.File(path, "meta").isDirectory)
    // rebuild with different geometry: the new index wins cleanly
    IvfIndex.build(emb, path, nLists = 4)
    val delta = emb.filter(col("vec_id") < 5)
    assert(IvfIndex.search(spark, path, delta, k = 5,
      nProbe = 4).count() > 0)
    assert(parent.listFiles().forall(!_.getName.contains(".build-")),
      parent.listFiles().map(_.getName).mkString(", "))
  }

  test("a crashed builder's torn .build- dir is swept by the next " +
    "build (dead pid), while a live concurrent builder's tmp dir " +
    "survives the sweep") {
    val path = tmpPath("ivf_sweep")
    val parent = new java.io.File(path).getParentFile
    // torn residue of a CRASHED builder: pid that no longer exists,
    // backdated past the sweep age guard (a real torn dir is stale;
    // the guard protects in-flight builders the pid check can't see)
    val dead = new java.io.File(path + ".build-999999999")
    assert(new java.io.File(dead, "lists").mkdirs())
    val stale = System.currentTimeMillis() - IvfIndex.SweepMinAgeMs - 60000L
    assert(new java.io.File(dead, "lists").setLastModified(stale))
    assert(dead.setLastModified(stale))
    // in-flight tmp of a LIVE foreign builder: pid 1 is always alive
    // and never this JVM
    val live = new java.io.File(path + ".build-1")
    assert(new java.io.File(live, "lists").mkdirs())
    // dead pid but RECENT mtime: the age guard keeps it (covers a
    // live cross-host builder this pid namespace cannot see)
    val fresh = new java.io.File(path + ".build-999999998")
    assert(new java.io.File(fresh, "lists").mkdirs())
    IvfIndex.build(emb, path, nLists = 4)
    val names = parent.listFiles().map(_.getName).toSet
    assert(!names.contains(dead.getName), names.mkString(", "))
    assert(names.contains(live.getName), names.mkString(", "))
    assert(names.contains(fresh.getName), names.mkString(", "))
    deleteDir(live)
    deleteDir(fresh)
    // rebuild after the live builder "finished": now exactly one
    // directory remains — the committed index
    IvfIndex.build(emb, path, nLists = 4)
    assert(parent.listFiles().map(_.getName).toSeq ===
      Seq(new java.io.File(path).getName),
      parent.listFiles().map(_.getName).mkString(", "))
  }

  test("loads validate eagerly: a truncated lists relation (cellstats " +
    "stamp mismatch) and a missing quantizer both fail loudly") {
    val path = tmpPath("ivf_torn")
    IvfIndex.build(emb, path, nLists = 8)
    val qs = emb.filter(col("vec_id") < 3)
    // poison the cellstats stamp: drop the meta n_vecs agreement by
    // rewriting cellstats with one row removed
    val stats = spark.read.parquet(s"$path/cellstats")
    val poisoned = stats.limit(
      stats.count().toInt - 1)
    poisoned.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/cellstats_new")
    deleteDir(new java.io.File(s"$path/cellstats"))
    assert(new java.io.File(s"$path/cellstats_new")
      .renameTo(new java.io.File(s"$path/cellstats")))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.search(spark, path, qs, k = 5, nProbe = 2)
    }
    assert(e.getMessage.contains("n_vecs stamp"))
    deleteDir(new java.io.File(s"$path/quantizer"))
    intercept[Exception] {
      IvfIndex.search(spark, path, qs, k = 5, nProbe = 2)
    }
  }

  test("Artifacts.cached self-heals: a torn artifact directory is " +
    "deleted and rebuilt once; build runs exactly once when the " +
    "artifact is healthy") {
    val root = Artifacts.root(spark)
    val key = "spec_selfheal"
    val dirF = new java.io.File(root, s"ivfspec_$key")
    deleteDir(dirF)
    var builds = 0
    def run(): Long = Artifacts.cached(spark, "ivfspec", key) { p =>
      builds += 1
      IvfIndex.build(emb, p, nLists = 4)
    } { p =>
      IvfIndex.search(spark, p,
        emb.filter(col("vec_id") < 3), k = 5, nProbe = 2).count()
    }
    assert(run() > 0 && builds === 1)
    assert(run() > 0 && builds === 1) // healthy: load only, no rebuild
    // tear the artifact: nuke the quantizer so the eager load fails
    deleteDir(new java.io.File(dirF, "quantizer"))
    assert(run() > 0 && builds === 2) // self-healed with ONE rebuild
    deleteDir(dirF)
  }

  test("tableFingerprint changes with the data and is stable " +
    "otherwise — the staleness key of the warehouse artifact cache") {
    val a = Artifacts.tableFingerprint(dir, "embeddings")
    val b = Artifacts.tableFingerprint(dir, "embeddings")
    assert(a === b)
    assert(a !== Artifacts.tableFingerprint(dir, "documents"))
    assert(a !== Artifacts.tableFingerprint("/root/testdata/sf0.01",
      "embeddings"))
  }
}
