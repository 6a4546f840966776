package perfbench

import scala.collection.mutable

/** A batch workload: the queries it runs (by `SparkEntry.queries` name)
  * and the `Tables` loaders they read. */
final case class BatchSpec(queries: Seq[String], tables: Seq[String])

object Workloads {
  /** `reference_batch`: the paper's J1–J4 analytics as batch (q1–q6 and
    * q15, all over `events`) plus two TPC-H queries that add the star
    * schema's scans and joins (q7 scan and aggregate, q8 a five-table
    * join). */
  val referenceBatch = BatchSpec(Seq(
    "q1_platform_agg", "q2_sliding_window", "q3_cumulative_daily",
    "q4_qz_mastery", "q5_props_extract", "q6_day_buckets",
    "q15_page_conversion", "q7_pricing_summary", "q8_region_revenue"),
    Seq("region", "nation", "customer", "orders", "lineitem", "events"))
}

/** Batch workloads, run as a daily batch application runs them: in a
  * fresh JVM, after the session is created and every input table has been
  * resolved once (set-up), one pass runs each query once and writes its
  * result for the oracle check. Each query is timed in two parts:
  * construction (the `fn(spark, dir)` call, which runs any eager trainer
  * or index jobs) and execution (the result write). The pass is cold on
  * purpose: the application pays JIT and code generation on every run. */
object BatchWorkload {
  def run(ctx: Ctx, spec: BatchSpec): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.args("data")
    val outDir = s"${ctx.work}/out"
    val fns = spec.queries.map(q => q -> graft.SparkEntry.queries(q))

    tr.span("tables", "tables") { _ =>
      spec.tables.foreach(t => tr.span(t, "resolve") { _ =>
        resolve(spark, dir, t)
      })
    }
    ctx.metric("setup_s", ctx.sinceProcessStart, "s")

    val pass = tr.span("pass", "pass") { p =>
      fns.foreach { case (q, fn) =>
        // operators persist reused intermediates; one query's cache must
        // not carry into the next
        spark.catalog.clearCache()
        ctx.op(tr.span(q, "query") { _ =>
          try {
            val df = tr.span("construct", "construct")(_ => fn(spark, dir))
            tr.span("execute", "execute") { _ =>
              df.write.mode("overwrite").parquet(s"$outDir/$q")
            }
            true
          } catch { case e: Throwable =>
            ctx.fail(s"query $q",
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
        })
      }
      p
    }
    ctx.extra("oracle") = spec.queries.map(q =>
      s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}")
      .mkString("{", ",", "}")
    ctx.extra("outputs") = Json.str(outDir)
    ctx.extra("queries") = spec.queries.map(Json.str).mkString("[", ",", "]")

    // every job of the pass must be on record before the span tree is read
    ctx.jobs.foreach(_.settle())
    val stats = new SpanStats(tr, ctx.jobs)
    ctx.metric("pass_s", Stats.durS(pass), "s")
    // typical latency: every query weighs the same (a median over nine
    // queries jumps between neighbouring queries from run to run)
    ctx.metric("lat_p50_ms", Stats.geomean(stats.children(pass.id, "query")
      .map(Stats.durS(_) * 1e3)), "ms")

    if (tr.enabled) layerMetrics(ctx, stats, pass)
  }

  /** The loader behind `name` — the same call the queries make. */
  private def resolve(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): Unit = {
    import graft.Tables
    val df = name match {
      case "region" => Tables.region(spark, dir)
      case "nation" => Tables.nation(spark, dir)
      case "customer" => Tables.customer(spark, dir)
      case "supplier" => Tables.supplier(spark, dir)
      case "part" => Tables.part(spark, dir)
      case "orders" => Tables.orders(spark, dir)
      case "lineitem" => Tables.lineitem(spark, dir)
      case "events" => Tables.events(spark, dir)
    }
    df.schema
    ()
  }

  /** Per-layer metrics of the set-up and the pass. */
  private def layerMetrics(ctx: Ctx, st: SpanStats, pass: Span): Unit = {
    val tr = ctx.tracer
    def jobsIn(spans: Seq[Span]) = spans.flatMap(s => st.children(s.id, "job"))
    def stagesIn(spans: Seq[Span]) =
      jobsIn(spans).flatMap(j => st.children(j.id, "stage"))
    def sumAttr(spans: Seq[Span], k: String) =
      spans.map(_.attrs.getOrElse(k, 0.0)).sum

    val tables = tr.spans.filter(_.kind == "tables").toSeq
    ctx.metric("tables.resolve_s", tables.map(Stats.durS).sum, "s")
    ctx.metric("tables.resolve_jobs", tables.map(t =>
      jobsIn(st.descendants(t.id, "resolve")).size.toDouble).sum, "count")

    val construct = st.descendants(pass.id, "construct")
    val execute = st.descendants(pass.id, "execute")
    ctx.metric("construct_s", construct.map(Stats.durS).sum, "s")
    ctx.metric("construct_jobs", jobsIn(construct).size.toDouble, "count")
    ctx.metric("driver_only_s", construct.map(st.idleS).sum, "s")

    ctx.metric("exec_s", execute.map(Stats.durS).sum, "s")
    ctx.metric("exec_jobs", jobsIn(execute).size.toDouble, "count")
    ctx.metric("exec_stages", stagesIn(execute).size.toDouble, "count")
    ctx.metric("exec_tasks", sumAttr(stagesIn(execute), "tasks"), "count")
    val mb = 1024.0 * 1024.0
    for ((name, attr, scale, unit) <- Seq(
        ("task_cpu_s", "task_cpu_ms", 1e3, "s"),
        ("gc_s", "gc_ms", 1e3, "s"),
        ("shuffle_read_mb", "shuffle_read_bytes", mb, "MB"),
        ("shuffle_write_mb", "shuffle_write_bytes", mb, "MB"),
        ("spill_mb", "spill_bytes", mb, "MB")))
      ctx.metric(name, sumAttr(stagesIn(execute), attr) / scale, unit)
    val cores = Runtime.getRuntime.availableProcessors.toDouble
    val wall = execute.map(Stats.durS).sum
    ctx.metric("cpu_busy_frac", if (wall <= 0) 0.0
      else sumAttr(stagesIn(execute), "task_cpu_ms") / 1e3 / (wall * cores),
      "fraction")
    ctx.metric("trace.pass_coverage", st.children(pass.id, "query")
      .map(Stats.durS).sum / Stats.durS(pass), "fraction")

    for (q <- st.children(pass.id, "query")) {
      def part(kind: String) =
        st.children(q.id, kind).map(Stats.durS).sum
      ctx.metric(s"${q.name}.construct_s", part("construct"), "s")
      ctx.metric(s"${q.name}.exec_s", part("execute"), "s")
    }
  }
}

/** Span-tree queries over a finished trace. */
final class SpanStats(tr: Tracer, jobs: Option[JobListener]) {
  private val byParent: Map[Int, Seq[Span]] =
    tr.synchronized(tr.spans.toSeq).groupBy(_.parent)

  def children(id: Int, kind: String): Seq[Span] =
    byParent.getOrElse(id, Nil).filter(_.kind == kind)

  def descendants(id: Int, kind: String): Seq[Span] =
    byParent.getOrElse(id, Nil).flatMap(c =>
      (if (c.kind == kind) Seq(c) else Nil) ++ descendants(c.id, kind))

  private lazy val busy: Seq[(Double, Double)] =
    Stats.union(jobs.map(l => l.synchronized(l.taskIntervals.toSeq))
      .getOrElse(Nil))

  /** Seconds of `s` during which no task was running anywhere. */
  def idleS(s: Span): Double = {
    val covered = busy.iterator.map { case (a, b) =>
      math.max(0.0, math.min(b, s.end) - math.max(a, s.start))
    }.sum
    math.max(0.0, Stats.durS(s) - covered / 1e3)
  }
}

object Stats {
  def durS(s: Span): Double = (s.end - s.start) / 1e3

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0
    else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile (numpy's default); 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** (rows of `got` not in `want`, rows of `want` not in `got`), counting
    * duplicates. */
  def multisetDiff[T](got: Seq[T], want: Seq[T]): (Int, Int) = {
    val g = got.groupMapReduce(identity)(_ => 1)(_ + _)
    val w = want.groupMapReduce(identity)(_ => 1)(_ + _)
    def over(a: Map[T, Int], b: Map[T, Int]) =
      a.iterator.map { case (k, n) => math.max(0, n - b.getOrElse(k, 0)) }.sum
    (over(g, w), over(w, g))
  }

  /** Merge intervals into a sorted disjoint cover. */
  def union(iv: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }
}
