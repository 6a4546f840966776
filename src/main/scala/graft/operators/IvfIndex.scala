package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.TieredIndex

/** The PERSISTED IVF index — inverted lists included.
  *
  * [[Similarity.ivfTopK]] trains and assigns inside every query plan;
  * this object is the layout every production IVF system (FAISS,
  * ScaNN, Milvus) actually ships: at build time the corpus is assigned
  * ONCE and written as a `(vec_id, v[, codes])` relation BUCKETED BY
  * CELL, so a probe is a bucket-pruned read of nProbe/nLists of the
  * data — delta-batch cost is ∝ probed cells, never ∝ corpus.
  *
  * On-disk layout under `path`:
  *
  *   - `lists/`     a [[TieredIndex]] of (vec_id, v, cell[, codes])
  *                  with `bucket = cell` over nLists buckets — `v` as
  *                  array&lt;double&gt; (every scoring kernel computes in
  *                  doubles, so any numeric input is stored losslessly),
  *                  the PQ `codes` when m > 0;
  *   - `masses/`    a one-bucket [[TieredIndex]] of (cell, n) summed
  *                  across batches ([[TieredIndex.summed]]) — the
  *                  inverted-list lengths adaptive mass probing needs,
  *                  carried by the index instead of recomputed per
  *                  query;
  *   - `quantizer/` a [[KMeans.saveCentroids]] artifact (quantized
  *                  units, version + k stamp) — ONE artifact format
  *                  for clustering models and coarse quantizers;
  *   - `codebooks/` (m > 0 only) the PQ codebooks as a dense
  *                  (j, c, pos, cval) relation;
  *   - `meta/`      one row (version, n_lists, dim, m, ksub), written
  *                  LAST by [[build]] and never again: the build's only
  *                  commit point. A path without a committed meta is no
  *                  index, so a build torn before it fails every load
  *                  loudly (and [[graft.Artifacts.cached]] rebuilds it).
  *
  * [[build]] writes the seed corpus as batch 0 of both stores and
  * [[append]] writes batch N ≥ 1; each batch overwrites exactly its own
  * directories, so a replayed batch id is one append, and the stores'
  * folds, merges and crash safety are [[TieredIndex]]'s.
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
  * filter on the `bucket` partition column, so every scan's
  * PartitionFilters prune to the probed directories (asserted by
  * IvfIndexSpec); the candidate join is cell-equality against the
  * broadcast probe set. No full-corpus projection, no assignment scan,
  * anywhere.
  */
object IvfIndex {

  // v3: lists and masses are TieredIndex stores, meta is written once
  private val IndexVersion = 3

  /** A committed index opened once: its frozen quantizer and codebooks,
    * validated against the meta geometry, and its two stores. */
  private[graft] final class Index(path: String, nLists: Int,
      val centers: Array[Array[Double]], val pq: Option[Similarity.Pq]) {
    val lists = new TieredIndex(s"$path/lists",
      "vec_id bigint, v array<double>, cell int" +
        pq.fold("")(_ => ", codes array<int>"),
      bucketKey = Some(col("cell")), nBuckets = nLists)
    private val masses = new TieredIndex(s"$path/masses",
      "cell int, n bigint", TieredIndex.summed("n"))
    def stores: Seq[TieredIndex] = Seq(lists, masses)

    /** Assign (and, on a PQ index, encode) `(vec_id, v)` rows under the
      * frozen quantizer into batch `batchId` of both stores. */
    private[IvfIndex] def write(vectors: DataFrame, batchId: Long): Unit = {
      val rows = Similarity.assign(vectors, centers, pq, "IvfIndex")
      lists.append(rows.withColumn("vec_id", col("vec_id").cast("bigint"))
        .withColumn("v", col("v").cast("array<double>")), batchId)
      masses.append(rows.groupBy(col("cell")).agg(count(lit(1)).as("n")),
        batchId)
    }

    /** Append one delta batch as batch `batchId` (≥ 1; batch 0 is the
      * seed corpus) — see [[IvfIndex.append]]. */
    def append(embeddings: DataFrame, batchId: Long, idCol: String,
        embCol: String): Unit = {
      require(batchId >= 1, "IvfIndex.append: batch ids start at 1 (0 " +
        s"is the seed corpus), got $batchId")
      write(Similarity.vectors(embeddings, idCol, embCol), batchId)
    }

    /** The inverted-list lengths: each cell's count summed over every
      * epoch and batch dir of the masses store (≤ nLists rows each). */
    def cellMasses(spark: SparkSession): Array[Long] = {
      val mass = new Array[Long](nLists)
      masses.corpusKeys(spark, Long.MaxValue).collect().foreach { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          "IvfIndex: null cell-mass row — the artifact is corrupt")
        val c = r.getInt(0)
        require(c >= 0 && c < nLists,
          s"IvfIndex: cell-mass cell $c outside [0, $nLists)")
        mass(c) += r.getLong(1)
      }
      require(mass.sum > 0, s"IvfIndex: no cell masses at $path — the " +
        "artifact is torn")
      mass
    }
  }

  /** Build and persist the index at `path`, replacing whatever is
    * there. `m > 0` adds PQ codes (dim must divide by m) and codebooks
    * — the IVF+PQ layout. The meta is written last: until it lands the
    * path holds no index. */
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
    val root = new Path(path)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(root, true)
    val index = new Index(path, nLists, centers, pq)
    index.stores.foreach(_.checkLayout(spark))
    index.write(corpus, 0L)
    KMeans.saveCentroids(Similarity.centroidRelation(spark, centers),
      s"$path/quantizer")
    pq.foreach { p =>
      val rows = for {
        j <- 0 until p.m; c <- 0 until p.ksub; d <- 0 until p.dsub
      } yield (j, c, d, p.cb((j * p.ksub + c) * p.dsub + d))
      rows.toDF("j", "c", "pos", "cval")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    }
    Seq((IndexVersion, nLists, centers(0).length, m, ksub))
      .toDF("version", "n_lists", "dim", "m", "ksub")
      .coalesce(1).write.parquet(s"$path/meta")
  }

  /** Open the committed index at `path`: the meta (version and
    * geometry), the quantizer, the codebooks and the two stores'
    * layouts, each validated eagerly — a missing or torn build, an
    * older index version or store layout, or a mixed artifact fails
    * here, loudly. */
  private[graft] def open(spark: SparkSession, path: String): Index = {
    val meta = new Path(s"$path/meta")
    require(meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new Path(meta, "_SUCCESS")),
      s"IvfIndex: no committed index at $path (never built, or its build " +
        "crashed before the meta commit) — build one from a seed corpus " +
        "first (IvfIndex.build)")
    val rows = spark.read.schema("version int, n_lists int, dim int, " +
      "m int, ksub int").parquet(meta.toString).collect()
    require(rows.length == 1 && !rows(0).anyNull,
      s"IvfIndex: expected 1 complete meta row at $meta, got " +
        rows.mkString(", "))
    val Array(version, nLists, dim, m, ksub) =
      Array.tabulate(5)(rows(0).getInt)
    require(version == IndexVersion,
      s"IvfIndex: the index at $path is version $version, this build " +
        s"reads $IndexVersion — rebuild it from its corpus (IvfIndex.build)")
    val centers = KMeans.collectCentroids(
        KMeans.loadCentroids(spark, s"$path/quantizer"))
      .map(_.map(_ / KMeans.Scale).toArray).toArray
    require(centers.length == nLists && centers.head.length == dim,
      s"IvfIndex: quantizer is ${centers.length}×${centers.head.length}, " +
        s"meta says $nLists×$dim — mixed artifact")
    val pq = Option.when(m > 0) {
      val pq = Similarity.collectCodebooks(
        spark.read.parquet(s"$path/codebooks"), "IvfIndex")
      require(pq.m == m && pq.ksub == ksub && pq.m * pq.dsub == dim,
        s"IvfIndex: codebooks are m=${pq.m} ksub=${pq.ksub} " +
          s"dsub=${pq.dsub}, meta says m=$m ksub=$ksub dim=$dim — mixed " +
          "artifact")
      pq
    }
    val index = new Index(path, nLists, centers, pq)
    index.stores.foreach(_.checkLayout(spark))
    index
  }

  /** Append a delta batch under the FROZEN quantizer — incremental
    * index maintenance, the other half of the delta story next to the
    * pruned probe: new vectors are assigned (and, on a PQ index,
    * encoded) with the artifact's own centroids/codebooks — so
    * assignments stay consistent with every previous batch by
    * construction — and land as batch `batchId` (≥ 1) of the lists and
    * masses stores. Appending the same batch id again overwrites that
    * batch's directories — the same batch twice equals one append —
    * until a stream's trigger folds it ([[TieredIndex.maintain]]).
    * Batch ids belong to one writer: a stream feeding this index owns
    * ids from 1 up ([[graft.streaming.StreamAnnIngest]]).
    *
    * Equality law (IvfIndexSpec): searching an appended index ≡
    * the search kernel over (corpus ∪ delta) assigned by the same
    * frozen quantizer, row for row.
    *
    * Scale shape: the assignment/encode projection over the DELTA
    * only, a cell-bucketed write and a ≤ nLists-row mass write — cost
    * ∝ |delta|. No training, no corpus pass. */
  def append(spark: SparkSession, path: String, embeddings: DataFrame,
      batchId: Long, idCol: String = "vec_id",
      embCol: String = "embedding"): Unit =
    open(spark, path).append(embeddings, batchId, idCol, embCol)

  /** [[Similarity.ivfTopK]] through the persisted index: exact cosine
    * on a plain index, ADC `pq_cosine` (+ optional IVFADC exact
    * re-rank) on a PQ index (`m` comes from the meta), with adaptive
    * mass probing over the persisted cell masses, read only when
    * `probeMass > 0` — every per-batch corpus pass replaced by index
    * reads. Candidates, their codes and the re-rank's raw vectors all
    * come from the pruned cell buckets. Row-for-row EQUAL to
    * [[Similarity.ivfTopK]] at the same geometry (IvfIndexSpec). */
  def search(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 10, nProbe: Int = 4, rerank: Int = 0,
      probeMass: Double = 0.0, nProbeMax: Int = 0,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val index = open(spark, path)
    Similarity.probeTopK(queries, index.centers, index.pq,
      index.lists.probe(spark, _, Long.MaxValue), index.cellMasses(spark),
      k, nProbe, nProbeMax, probeMass, rerank, idCol, embCol,
      "IvfIndex.search")
  }
}
