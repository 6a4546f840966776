package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.analytics.QzMastery
import graft.sources.Models.QzEvent

/** J2 — per-(user, course, point) quiz mastery as keyed streaming state
  * (reference QzPointStreaming.scala:124-184).
  *
  * The reference round-trips MySQL once per key per batch (SELECT history,
  * merge in Scala, UPSERT back) — at-least-once, so replays double-count
  * `qz_sum`/`qz_istrue` (SURVEY.md §7.5). Here the history lives in the
  * state store: exactly-once under checkpointing, no external round-trips,
  * and state is partitioned by the grouping key across executors. The
  * question-id set is bounded by the 30-questions-per-point domain
  * (QzPointStreaming.scala:171); for open-ended domains switch the set to a
  * sketch and add a state TTL (ProcessingTimeTimeout).
  */
object QzMasteryStream {

  case class QzKey(uid: Int, courseid: Int, pointid: Int)

  case class MasteryState(questionIds: Set[String], attempts: Long,
      correct: Long, firstSeen: String)

  /** Mirrors the reference's 11-column qz_point_detail row
    * (QzPointStreaming.scala:179-182), minus sink-local updatetime. */
  case class MasteryRow(uid: Int, courseid: Int, pointid: Int,
      questionids: String, qz_sum: Long, qz_count: Long, qz_istrue: Long,
      createtime: String, correct_rate: Double, qz_detail_rate: Double,
      mastery_rate: Double)

  /** State merge. `firstSeen` is null until the first event; events'
    * createtime values — including empty strings from dirty data — take
    * part in the min exactly as batch `min(createtime)` does, so the
    * streaming and batch paths agree on any input. */
  def merge(state: MasteryState,
      batch: Seq[QzEvent]): MasteryState =
    MasteryState(
      questionIds = state.questionIds ++ batch.iterator.map(_.questionid),
      attempts = state.attempts + batch.size,
      correct = state.correct + batch.count(_.istrue == "1"),
      firstSeen = {
        val ts = Option(state.firstSeen) ++ batch.map(_.createtime)
        if (ts.isEmpty) null else ts.min
      })

  def toRow(key: QzKey, st: MasteryState): MasteryRow = {
    val correctRate = st.correct.toDouble / st.attempts.toDouble
    val detailRate = st.questionIds.size.toDouble / QzMastery.QuestionsPerPoint
    MasteryRow(key.uid, key.courseid, key.pointid,
      st.questionIds.toSeq.sorted.mkString(","), st.attempts,
      st.questionIds.size.toLong, st.correct, st.firstSeen,
      correctRate, detailRate, detailRate * correctRate)
  }

  private[graft] def update(stateTtl: Option[String])(
      key: QzKey, events: Iterator[QzEvent],
      state: GroupState[MasteryState]): Iterator[MasteryRow] = {
    if (state.hasTimedOut) {
      // inactive key evicted — the detail row already reached the sink on
      // its last update; dropping state loses only future history merges
      // for a key that stopped producing events
      state.remove()
      Iterator.empty
    } else {
      val batch = events.toSeq
      if (batch.isEmpty) Iterator.empty
      else {
        val prev =
          state.getOption.getOrElse(MasteryState(Set.empty, 0L, 0L, null))
        val next = merge(prev, batch)
        state.update(next)
        stateTtl.foreach(state.setTimeoutDuration)
        Iterator.single(toRow(key, next))
      }
    }
  }

  /** Streaming mastery: one stateful aggregation, Update output mode —
    * each batch emits refreshed rows only for keys it touched.
    *
    * `stateTtl` bounds state for open-ended key universes (SURVEY.md §7.4
    * risk 3): keys idle longer than the TTL are evicted via
    * ProcessingTimeTimeout. None = reference-parity unbounded history. */
  def mastery(events: Dataset[QzEvent],
      stateTtl: Option[String] = None): Dataset[MasteryRow] = {
    import events.sparkSession.implicits._
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    // the state is stored kryo-encoded: the product encoder's
    // deserializer for the question-id set gets fresh lambda-variable
    // names each batch, so its code would be compiled again every batch
    events
      .groupByKey(e => QzKey(e.uid, e.courseid, e.pointid))
      .flatMapGroupsWithState(OutputMode.Update(), timeout)(update(stateTtl))(
        Encoders.kryo[MasteryState], implicitly[Encoder[MasteryRow]])
  }

  /** End-to-end J2: mastery state → keyed-upsert detail table (the
    * reference's qz_point_detail, minus the MySQL round-trips). Each
    * micro-batch appends the full-state rows it refreshed in the same
    * job that runs the state update: one job, one [[TieredIndex]]
    * append ([[KeyedUpsertSink]]). */
  def startDetailSink(events: Dataset[QzEvent], tableDir: String,
      checkpoint: String, stateTtl: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val rows = mastery(events, stateTtl).toDF()
    rows.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch(KeyedUpsertSink.foreachBatchUpsert(rows.sparkSession,
        tableDir, rows.schema, Seq("uid", "courseid", "pointid")))
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
