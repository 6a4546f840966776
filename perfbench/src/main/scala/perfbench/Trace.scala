package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. Times are epoch milliseconds (fractional), so
  * benchmark spans, Spark jobs, stages and tasks share one clock. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Double, var end: Double = Double.NaN,
    attrs: mutable.LinkedHashMap[String, Double] =
      mutable.LinkedHashMap.empty)

/** In-memory span recorder for the benchmark's own layer boundaries.
  *
  * The main thread opens nested spans around each call into the engine
  * (run → pass/phase → query → construct/execute); when tracing is on, a
  * [[JobListener]] attaches Spark jobs and stages to whichever benchmark
  * span was open when the job was submitted. Nothing is written until
  * [[Tracer.write]] at the end of the run. With tracing off, spans are
  * still kept for the benchmark's own arithmetic (pass and query times)
  * but no listener is registered. */
final class Tracer(val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  /** A wall-clock time reported by Spark, on this tracer's monotonic
    * clock: a wall-clock step during the run (clock sync) would otherwise
    * shift every later Spark time against the benchmark's own spans. */
  def fromWall(wallMs: Double): Double =
    wallMs + (nowMs - System.currentTimeMillis())

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = sc = Some(context)

  def current: Int = stack.headOption.map(_.id).getOrElse(-1)

  def open(name: String, kind: String): Span = synchronized {
    val s = Span(spans.size, current, name, kind, nowMs)
    spans += s
    stack.push(s)
    sc.foreach(_.setLocalProperty(Tracer.SpanProp, s.id.toString))
    s
  }

  def close(s: Span): Unit = synchronized {
    s.end = nowMs
    while (stack.nonEmpty && stack.pop().id != s.id) {}
    sc.foreach(_.setLocalProperty(Tracer.SpanProp,
      stack.headOption.map(_.id.toString).orNull))
  }

  def span[T](name: String, kind: String)(body: Span => T): T = {
    val s = open(name, kind)
    try body(s) finally close(s)
  }

  /** Record a finished interval (Spark jobs/stages, micro-batches). */
  def add(parent: Int, name: String, kind: String, start: Double,
      end: Double, attrs: (String, Double)*): Span = synchronized {
    val s = Span(spans.size, parent, name, kind, start, end)
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    spans += s
    s
  }

  /** Spans as JSON lines: id, parent, name, kind, start_ms, end_ms, attrs. */
  def write(path: String): Unit = {
    val sb = new StringBuilder
    synchronized {
      spans.foreach { s =>
        sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}","start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},"attrs":${Json.obj(s.attrs.toSeq)}}"""
        sb += '\n'
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark scheduler listener for the traced run: one span per job (parent:
  * the benchmark span open at submission) and per stage (parent: its
  * job), carrying task counts and the stage's task metrics, plus every
  * task's run interval for the busy/idle arithmetic. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** (launch ms, finish ms) of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = tracer.add(parent, s"job ${e.jobId}", "job",
      tracer.fromWall(e.time.toDouble), Double.NaN)
    e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { s =>
      s.end = tracer.fromWall(e.time.toDouble)
      s.attrs("failed") = if (e.jobResult == JobSucceeded) 0 else 1
    }
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).flatMap(jobSpan.get)
        .map(_.id).getOrElse(-1)
      val m = info.taskMetrics
      val attrs = Seq("tasks" -> info.numTasks.toDouble) ++ (if (m == null)
        Nil
      else Seq(
        "task_run_ms" -> m.executorRunTime.toDouble,
        "task_cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble))
      val start = tracer.fromWall(info.submissionTime.getOrElse(0L).toDouble)
      val end = info.completionTime.map(t => tracer.fromWall(t.toDouble))
        .getOrElse(start)
      tracer.add(parent, s"stage ${info.stageId}", "stage", start, end,
        attrs: _*)
      events += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskIntervals += ((tracer.fromWall(e.taskInfo.launchTime.toDouble),
      tracer.fromWall(e.taskInfo.finishTime.toDouble)))
    events += 1
  }

  /** Wait until the asynchronous listener bus has gone quiet, so every
    * job of the code just run has been recorded. */
  def settle(): Unit = {
    var prev = -1L
    var quiet = 0
    var waited = 0
    while (quiet < 3 && waited < 5000) {
      val cur = events
      if (cur == prev) quiet += 1 else { quiet = 0; prev = cur }
      Thread.sleep(20)
      waited += 20
    }
  }
}

/** Minimal JSON rendering (the harness emits flat records only). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
