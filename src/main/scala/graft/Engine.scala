package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Local-mode defaults tuned for the test harness (`local[32]`, 32 shuffle
  * partitions) but every setting is scale-motivated: AQE handles runtime
  * re-planning (coalescing small shuffle partitions, splitting skewed ones —
  * replacing the reference's hand-rolled salting, dead code at
  * RegisterStreaming.scala:105-118), and the broadcast threshold keeps
  * dimension joins shuffle-free.
  */
object Engine {
  /** Broadcast-join threshold, env-tunable (SPARK_GRAFT_BROADCAST_MB).
    * Default = Spark's 10 MB: in single-JVM local mode, building hash
    * relations for tables in the 10–64 MB band (e.g. the ngram join's
    * per-block gram-frequency table at bench scale) measurably loses to
    * a key-equality shuffle. On a multi-executor cluster broadcasting
    * that band saves shuffling the fact side — raise the env var there. */
  private def broadcastThreshold: String =
    (sys.env.getOrElse("SPARK_GRAFT_BROADCAST_MB", "10").toLong
      * 1024 * 1024).toString

  /** AQE coalesce floor (spark.sql.adaptive.coalescePartitions
    * .minPartitionSize), env-tunable (SPARK_GRAFT_MIN_PARTITION_SIZE).
    * Spark's default (1m) sizes partitions by BYTES, which serializes
    * CPU-dense byte-small stages: a 2.9 MB shuffle of q-gram candidate
    * pairs coalesces to 2 tasks and the verify kernel runs on 2 of 32
    * cores (measured on x70: the verify stage fell 0.99 s → 0.40 s at
    * 64k, identical results — OPTIMIZATION_r16.md). 64k only bites when
    * a stage's whole shuffle is megabytes — at production scale
    * partitions sit at the advisory size (coalescing targets
    * advisoryPartitionSizeInBytes) and this floor is inert. */
  private def minPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k")

  /** Hadoop's `file:` filesystem, for both of its APIs, is [[LocalFs]].
    * Without `libhadoop` (Spark's stock Hadoop ships none) the stock one
    * starts a `chmod` process for every file and directory it creates
    * and four `readlink`s for every FileContext rename, and streaming
    * writes an offset-log entry, a commit-log entry, state files and
    * sink output per micro-batch. On 4 vCPUs a seed-4 `stream_ingest`
    * run started 1,727 processes (1,000 `readlink`, 637 `chmod`, 87
    * `rm -rf`) and J1–J4 took 31–64 ms (p50) to write each one-file log
    * entry; on [[LocalFs]] it starts 114 (111 of them Spark's own
    * `rm -rf`) and those writes take 3–4 ms. Inert for other schemes
    * (HDFS, S3) and where `libhadoop` is loaded. Read at context start,
    * so the session that starts the context must carry it. */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[LocalFs].getName)

  /** The streaming state store. RocksDB keeps state off-heap:
    * HDFSBackedStateStore keeps every key on the JVM heap (executor OOM
    * once keyed state outgrows memory); RocksDB spills to local disk,
    * the only state store that survives 100 TB-scale key cardinality.
    * Changelog checkpointing makes a commit write the version's
    * changed keys as one changelog file, where it would otherwise
    * flush RocksDB, take a full checkpoint of its files, zip and copy
    * it, and start an `rm -rf` per stateful partition to clean up.
    * RocksDB still uploads a snapshot every 10 versions
    * (`minDeltasForSnapshot`), so recovery loads the latest snapshot
    * and replays at most 10 changelogs; Spark turns this on for an
    * existing checkpoint too. Validated by the streaming specs, whose
    * test session applies the same map. */
  val stateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"),
    ("spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled") -> "true")

  def session(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      shufflePartitions: Int =
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        minPartitionSize)
      // reliable checkpoints (the Materialize discipline) must be
      // garbage-collected with their plans — Spark's default (false)
      // would retain every checkpoint directory forever on a cluster
      // with a checkpoint dir configured
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
      .config(stateStore)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(localFs)
      .getOrCreate()
    // getOrCreate returns any pre-existing session with builder configs
    // silently ignored — re-assert the runtime-settable ones so engine
    // semantics (UTC, AQE, shuffle width) hold regardless of who created
    // the JVM's session first
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      minPartitionSize)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastThreshold)
    stateStore.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
