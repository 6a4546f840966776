package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Keyed upsert into a parquet table — the engine's replacement for the
  * reference's per-row `insert … on duplicate key update` into MySQL
  * `qz_point_detail` (QzPointStreaming.scala:179-182, via
  * SqlProxy.scala:27-41).
  *
  * The table is a one-bucket [[TieredIndex]]. Each micro-batch of
  * full-state rows is appended as it is, by the job that computes it,
  * into its own `batch_id=N` dir; nothing is read or rewritten at
  * append time. The table's view keeps, per key, the row of the newest
  * batch ([[TieredIndex.latestPerKey]]), which is also the store's
  * fold/merge function, so every epoch holds one row per key. Because
  * the streaming mastery rows are complete per-key snapshots (not
  * deltas), replaying a batch rewrites its own dir with identical rows
  * — idempotent, unlike the reference's read-add-write which
  * double-counts on replay (SURVEY.md §2.8). Superseded rows stay on
  * disk until a fold drops them: at most 16 recent batch dirs (the
  * fold cadence) plus one row per key per live epoch. Crash safety is
  * the store's commit protocol. State-of-record remains the state
  * store — the table is a queryable projection.
  *
  * The row schema and the key columns are recorded at sink start in
  * `_upsert_meta`, next to the store's bucket meta, since [[read]] is
  * given neither; a restarted sink must pass the same. A table in the
  * older swap-protocol layout (`bucket=` dirs at its root) fails
  * loudly at sink start and asks for a rebuild.
  */
object KeyedUpsertSink {

  private val CompactEvery = 16

  private def metaPath(tableDir: String) = new Path(tableDir, "_upsert_meta")

  private def store(tableDir: String, schema: StructType,
      keys: Seq[String]): TieredIndex =
    new TieredIndex(tableDir, schema.toDDL, TieredIndex.latestPerKey(keys))

  /** The (row schema, key columns) recorded at sink start, if any. */
  private def readMeta(spark: SparkSession,
      tableDir: String): Option[(StructType, Seq[String])] = {
    val p = metaPath(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val Array(keys, json) = text.split("\n", 2)
      Some((DataType.fromJson(json).asInstanceOf[StructType],
        keys.split(",").toSeq))
    }
  }

  /** Open the table: record the row schema and key columns, or check
    * them against the recorded ones. */
  private[graft] def open(spark: SparkSession, tableDir: String,
      schema: StructType, keys: Seq[String]): TieredIndex = {
    val s = store(tableDir, schema, keys)
    def check(stored: (StructType, Seq[String])): Unit =
      require(stored == ((schema, keys)), s"KeyedUpsertSink: the table " +
        s"at $tableDir holds rows $stored, got ${(schema, keys)} — " +
        "the schema and keys cannot change")
    readMeta(spark, tableDir) match {
      case Some(stored) => check(stored)
      case None =>
        val p = metaPath(tableDir)
        val tmp = new Path(tableDir, "_upsert_meta.tmp")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(tmp, true)
        try out.write(s"${keys.mkString(",")}\n${schema.json}"
          .getBytes("UTF-8"))
        finally out.close()
        // another sink won the race: theirs is authoritative
        if (!fs.rename(tmp, p)) {
          fs.delete(tmp, false)
          readMeta(spark, tableDir).foreach(check)
        }
    }
    s
  }

  /** The table: per key, the row of the newest batch. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val (schema, keys) = readMeta(spark, tableDir).getOrElse(
      throw new IllegalStateException(
        s"KeyedUpsertSink: no table at $tableDir — no sink started there"))
    TieredIndex.latestPerKey(keys)(
      store(tableDir, schema, keys).rows(spark, Long.MaxValue, None))
      .drop("batch_id")
  }

  /** The opened table's store, for maintenance and fault injection. */
  private[graft] def stores(spark: SparkSession,
      tableDir: String): Seq[TieredIndex] =
    readMeta(spark, tableDir).toSeq.map { case (schema, keys) =>
      store(tableDir, schema, keys)
    }

  /** The sink's `foreachBatch` body, built at sink start: the store's
    * trigger checks the table's layout, and only then is the table
    * opened; every micro-batch of full-state `schema` rows is then
    * upserted and the store maintained. */
  def foreachBatchUpsert(spark: SparkSession, tableDir: String,
      schema: StructType, keys: Seq[String]): (DataFrame, Long) => Unit = {
    val table = store(tableDir, schema, keys)
    val run = TieredIndex.trigger[Row]("KeyedUpsertSink", Seq(table),
      CompactEvery)(table.append)
    open(spark, tableDir, schema, keys)
    run
  }
}
