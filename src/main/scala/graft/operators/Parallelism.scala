package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias}

/** Adaptive scan fan-out for CPU-dense kernel passes (guide §2.5,
  * "input skew: one huge unsplittable file … repartition immediately
  * after the read").
  *
  * The harness fixtures are single-file / single-row-group parquet, so
  * a file scan yields ONE task no matter the split config (parquet
  * splits only at row-group boundaries) and every doc-local kernel
  * (q-grams, tokenizer encode, winnowing, signatures) runs on 1 of N
  * cores until the first exchange. Round-robin repartitioning the
  * pruned scan output to `defaultParallelism` spreads the kernel at the
  * cost of shuffling the (already column-pruned) rows once — measured
  * on x70 at sf0.1: the 2.5 s single-task gram+prefix stage becomes a
  * 0.1 s shuffle plus a ~0.2 s 32-way stage (OPTIMIZATION_r16.md).
  *
  * WHERE IT PAYS (round-17 A/B, OPTIMIZATION_r17.md): only before
  * kernels whose per-row cost dwarfs a row's shuffle cost — shingles,
  * winnowing, Levenshtein grams, MinHash signatures, full-corpus
  * tokenizer encodes. Cheap passes (word explode + count, distinct-word
  * dictionary builds) measured FASTER single-task than fanned out
  * (0.26 s vs 0.41 s at 32 cores): the repartition's sort+shuffle plus
  * 32-way small-task overhead exceeds the kernel win, so those call
  * sites were removed rather than gated here.
  *
  * SCALE SHAPE: the fan-out fires only when the physical scan yields
  * fewer partitions than cores. Production corpus scans split into
  * thousands of tasks, so the condition is false and the plan is
  * byte-identical to the un-wrapped one — no extra exchange at 100 TB.
  *
  * PROBE DISCIPLINE (round-16 advisory): the width probe
  * (`df.rdd.getNumPartitions`) builds a throwaway physical plan, and on
  * a plan containing exchanges AQE would EXECUTE the upstream shuffle
  * stages as real jobs whose results are never reused. The probe is
  * therefore gated on the analyzed plan being a scan-only subtree
  * (project / filter / subquery-alias over a leaf): anything wider —
  * joins, aggregates, generators, repartitions — returns `df`
  * untouched, which is also semantically right (post-exchange width is
  * already the session's shuffle parallelism).
  *
  * Correctness: round-robin repartition permutes rows across
  * partitions only; every consumer here is declarative (the driver
  * already validates all queries at BOTH 8 and 32 cores, i.e. under
  * different partitionings). Spark's sort-before-repartition default
  * keeps the row→partition map deterministic under task retries.
  */
object Parallelism {

  /** Scan-only check: project/filter chains over a leaf relation — the
    * shapes whose `.rdd` probe plans cheaply and runs no job. Also used
    * by operators deciding whether a multi-consumer input needs a
    * materialization (a scan re-reads cheaply; a derived plan pays its
    * kernels once per consumer). A subquery in any expression is a
    * second plan the probe would plan (and may run), so it disqualifies. */
  private[graft] def scanOnly(p: LogicalPlan): Boolean =
    !p.expressions.exists(SubqueryExpression.hasSubquery) && (p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: SubqueryAlias =>
        p.children.forall(scanOnly)
      case _ => false
    })

  /** `df` repartitioned to the session's core count when it is a plain
    * scan whose physical plan would execute in fewer partitions; `df`
    * unchanged otherwise (wider-than-scan plans are already at shuffle
    * parallelism — and probing them would run throwaway jobs). Call on
    * the COLUMN-PRUNED input right before a CPU-HEAVY kernel, never on
    * a raw table (it would block predicate pushdown for filters applied
    * above it) and never before a cheap pass (the fan-out costs more
    * than it spreads — see the object doc). */
  def fanOutScan(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batch plans manage their own width
    if (!scanOnly(df.queryExecution.analyzed)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => target }
    if (parts > 0 && parts < target) df.repartition(target) else df
  }
}
