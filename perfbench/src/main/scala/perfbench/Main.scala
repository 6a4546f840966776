package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the engine's public entry
  * points and writes a result record (and, when traced, a span file).
  *
  *   perfbench.Main --workload reference_batch|stream_ingest --seed 1
  *     --seconds 8 --trace 0 --work <scratch dir> --result <json>
  *     [--data <tables dir>] [--spans <jsonl>] [--wrong-expected]
  *
  * `run.py` builds this, generates the tables, launches it, checks the
  * batch outputs against the DuckDB oracles and prints the final line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args(argv)
    val tracer = new Tracer(args.flag("trace"))
    val ctx = new Ctx(args, tracer)
    val wl = args("workload")
    val session = tracer.span("engine.session", "engine") { _ =>
      graft.Engine.session(appName = s"perfbench-$wl")
    }
    ctx.spark = session
    ctx.metric("engine.session_s", tracer.spans.head.end / 1e3 -
      tracer.spans.head.start / 1e3, "s")
    if (tracer.enabled) {
      val l = new JobListener(tracer)
      session.sparkContext.addSparkListener(l)
      tracer.attach(session.sparkContext)
      ctx.jobs = Some(l)
    }
    try {
      wl match {
        case "reference_batch" => BatchWorkload.run(ctx, Workloads.referenceBatch)
        case "stream_ingest" => StreamWorkload.run(ctx)
        case other => sys.error(s"unknown workload $other")
      }
    } catch { case e: Throwable =>
      ctx.fail("workload", s"${e.getClass.getSimpleName}: ${e.getMessage}")
      e.printStackTrace()
    }
    ctx.metric("peak_rss_mb", Env.peakRssMb, "MB")
    ctx.writeResult()
    args.get("spans").foreach(tracer.write)
    session.stop()
  }
}

/** `--key value` / `--flag` command line. */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String =
    kv.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = kv.get(k)
  def flag(k: String): Boolean = kv.get(k).exists(v => v == "1" || v == "true")
}
object Args {
  def apply(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (i + 1 < a.length && !a(i + 1).startsWith("--")) {
        m(k) = a(i + 1); i += 2
      } else { m(k) = "true"; i += 1 }
    }
    Args(m.toMap)
  }
}

/** Shared state of one run: the session, the tracer, and the result
  * record being built (metrics, checks, the attempted/failed counts). */
final class Ctx(val args: Args, val tracer: Tracer) {
  var spark: SparkSession = _
  var jobs: Option[JobListener] = None
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val work: String = args("work")
  val wrongExpected: Boolean = args.flag("wrong-expected")
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** One operation that can fail (a query run, a phase, a check). */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    op(ok)
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def fail(name: String, detail: String): Unit = check(name, ok = false, detail)

  /** Seconds since the JVM started (the set-up clock). */
  def sinceProcessStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def writeResult(): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val c = checks.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}"
    }.mkString("[", ",", "]")
    val env = Env.describe(spark).map { case (k, v) =>
      s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    val x = extra.map { case (k, v) => s"${Json.str(k)}:$v" }
      .mkString(if (extra.isEmpty) "" else ",", ",", "")
    val json = s"""{"attempted":$attempted,"failed":$failed,"metrics":$m,"checks":$c,"env":$env$x}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(args("result")),
      json.getBytes("UTF-8"))
  }
}

/** The environment stamped on every result: runs from different
  * environments are never compared. */
object Env {
  def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally status.close()
  }

  def describe(spark: SparkSession): Seq[(String, String)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Seq(
      "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> Option(spark).map(_.sparkContext.master).getOrElse(""),
      "shuffle_partitions" -> Option(spark)
        .map(_.conf.get("spark.sql.shuffle.partitions")).getOrElse(""),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jvm_args" -> rt.getInputArguments.toArray.mkString(" ")
        .replaceAll("--add-opens \\S+ ?", ""),
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "warehouse" -> "fresh")
  }
}
