package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}
import graft.streaming.StreamAnnIngest

/** The persisted-IVF-index contracts:
  *
  *   1. LOAD-PATH EQUALITY — searching through the on-disk lists
  *      equals the recompute route (ivfTopK, or the search kernel
  *      under a frozen quantizer) row for row, because build-time
  *      assignment and query-time scoring share one deterministic
  *      training path and one search kernel.
  *   2. PRUNED PROBE PLAN — the search physical plan reads the lists
  *      store with PartitionFilters on its cell `bucket` and NEVER
  *      scans the corpus table: delta-batch cost is ∝ probed cells
  *      (the round-12 scale fix); the cell masses are read only by a
  *      mass probe.
  *   3. ARTIFACT LIFECYCLE — a build commits by writing its meta last,
  *      a replayed batch id is one append, loads validate eagerly, and
  *      Artifacts.cached self-heals a torn artifact by rebuilding.
  */
class IvfIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.embeddings(spark, dir)

  private def tmpPath(name: String): String =
    new java.io.File(tempDir("ivfindex_spec"), name).toString

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
    // the lists store's partition column is `bucket`, and bucket = cell
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
        .contains("bucket")), p)
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
    IvfIndex.append(spark, path, delta, batchId = 1)
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
    IvfIndex.append(spark, path, delta, batchId = 1)
    val viaIndex = IvfIndex.search(spark, path, qs, k = 10, nProbe = 4)
    assert(viaIndex.count() > 0)
    // every returned candidate must carry a REAL pq_cosine (codes were
    // written for the appended rows too — a missing codes column would
    // have failed the scan; null codes would null the score)
    assert(viaIndex.filter(col("pq_cosine").isNull).count() === 0)
  }

  test("a torn list/mass pair is replayed: the batch rewritten equals " +
    "one clean append") {
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val queries = emb.filter(col("vec_id") % 10 === 0 &&
      col("vec_id") < 30)
    def view(path: String) = (collectSorted(IvfIndex.search(spark, path,
      queries, k = 5, nProbe = 1, probeMass = 0.5)),
      IvfIndex.open(spark, path).cellMasses(spark).toSeq)
    val path = tmpPath("ivf_torn_append")
    IvfIndex.build(base, path, nLists = 8)
    // a crash inside batch 1: part of its lists landed, its masses did not
    IvfIndex.append(spark, path, delta.limit(3), batchId = 1)
    deleteDir(new java.io.File(s"$path/masses/chunks/batch_id=1"))
    // the replay writes the whole batch over its own dirs in both stores
    IvfIndex.append(spark, path, delta, batchId = 1)
    val cleanPath = tmpPath("ivf_clean_append")
    IvfIndex.build(base, cleanPath, nLists = 8)
    IvfIndex.append(spark, cleanPath, delta, batchId = 1)
    assert(view(path) === view(cleanPath))
  }

  test("search reads the cell masses only when it probes by mass") {
    val path = tmpPath("ivf_masses")
    IvfIndex.build(emb, path, nLists = 8)
    val qs = emb.filter(col("vec_id") < 3)
    def search(mass: Double) = IvfIndex.search(spark, path, qs, k = 5,
      nProbe = 2, probeMass = mass)
    val (_, fixed) = jobsOf("ivf-fixed-probe")(search(0.0))
    val (_, byMass) = jobsOf("ivf-mass-probe")(search(0.5))
    assert(byMass.size === fixed.size + 1, (fixed, byMass))
    // without the masses store a fixed probe still searches, and a mass
    // probe fails loudly
    deleteDir(new java.io.File(s"$path/masses"))
    assert(search(0.0).count() > 0)
    val e = intercept[IllegalArgumentException](search(0.5))
    assert(e.getMessage.contains("no cell masses"), e.getMessage)
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

  test("loads validate eagerly: a missing quantizer fails loudly") {
    val path = tmpPath("ivf_torn")
    IvfIndex.build(emb, path, nLists = 8)
    val qs = emb.filter(col("vec_id") < 3)
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
    // a build torn before its meta write: search and sink start both
    // fail loudly, and the cache rebuilds it once
    deleteDir(new java.io.File(dirF, "meta"))
    val stream = {
      import spark.implicits._
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      MemoryStream[(Long, Array[Float])].toDF().toDF("vec_id", "embedding")
    }
    for (e <- Seq(
        intercept[IllegalArgumentException](IvfIndex.search(spark,
          dirF.toString, emb.filter(col("vec_id") < 3), k = 5, nProbe = 2)),
        intercept[IllegalArgumentException](StreamAnnIngest.sink(stream,
          dirF.toString, tempDir("ivf_ckpt")))))
      assert(e.getMessage.contains("no committed index"), e.getMessage)
    assert(run() > 0 && builds === 3)
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
