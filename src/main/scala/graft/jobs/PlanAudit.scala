package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Sweep every catalog query's PHYSICAL plan for scale-hostile shapes.
  *
  * This is the plan-level audit the per-operator OpsSpec asserts sample:
  * instead of asserting a handful of known-fixed plans, it prints one line
  * per catalog query with the operators that become bottlenecks at 100 TB —
  * CartesianProduct (a join that lost its equi-condition), Window (a per-key
  * sort funnel unless the key cardinality provably scales; the node prints
  * WITHOUT the Exec suffix — grepping "WindowExec" passes vacuously),
  * BroadcastNestedLoopJoin (fine for a tiny side, fatal for two big ones),
  * and the Exchange / SortMergeJoin counts. Counting walks the plan TREE,
  * not the pretty-printed string: a cached subplan prints once per
  * InMemoryTableScan reference (q_warc_rank's 10 rank rounds re-print the
  * edge subplan 43×, inflating a string grep to 170 "exchanges" where the
  * tree has a handful), and AQE's isFinalPlan=false wrapper hides the tree
  * from traversal — so the audit session plans with AQE off. Usage:
  *
  *   PlanAudit [sfDir]            — plan-only sweep (no query execution
  *                                  beyond what a builder runs eagerly)
  *   PlanAudit [sfDir] dump <q>   — print one query's full physical plan
  *
  * The output is for HUMAN review: Window over (doc_id) is fine (bounded
  * rows per doc), Window over (q_id) against a corpus cross product is the
  * round-2 funnel. The audit surfaces them; the operator's comment must
  * justify them. WindowGroupLimit is reported separately because it is the
  * GOOD shape (rank predicates pre-limited before the per-key sort).
  */
object PlanAudit {
  private val Interesting = Seq(
    "CartesianProduct",
    "Window",
    "WindowGroupLimit",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "Exchange",
    "InMemoryTableScan")

  /** nodeName counts over the whole tree, treating InMemoryTableScan as a
    * leaf (its cached plan executes once, not once per reference). Public:
    * PlanAuditSpec reuses it to gate the same sweep in `sbt test`.
    */
  def nodeCounts(plan: SparkPlan): Map[String, Int] =
    plan.collect { case p => p.nodeName }
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** The STATIC physical plan: AQE off on the session that owns `df`. The
    * streaming queries build their result on a cloned session
    * (`StreamOps.streamSession`), which inherits the builder confs but not
    * the audit session's runtime `conf.set`.
    */
  private def staticPlan(df: DataFrame): SparkPlan = {
    df.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    df.queryExecution.executedPlan
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.filter(_ != "dump").getOrElse("/root/testdata/sf0.001")
    val spark = ExtractJob.session("8")
    // AQE off: AdaptiveSparkPlanExec has no children pre-execution, so a
    // tree walk under AQE sees nothing; the audit inspects STATIC shapes
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // both documented spellings work: `PlanAudit [sfDir] dump <q>` AND
    // `PlanAudit dump <q>` (sfDir optional) — previously the 2-arg form
    // used "dump" as the sfDir and swept the whole catalog against it
    val dumpQuery =
      if (args.length >= 3 && args(1) == "dump") Some(args(2))
      else if (args.length >= 2 && args(0) == "dump") Some(args(1))
      else None
    if (dumpQuery.isDefined) {
      val df = graft.SparkEntry.queries(dumpQuery.get)(spark, sfDir)
      println(staticPlan(df).toString)
      graft.ops.Queries.releaseCaches()
      spark.stop()
      return
    }

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val line =
        try {
          val counts = nodeCounts(staticPlan(fn(spark, sfDir)))
          val hits = Interesting.flatMap { k =>
            counts.get(k).map(n => s"$k=$n")
          }
          if (hits.isEmpty) s"$name: clean" else s"$name: ${hits.mkString(" ")}"
        } catch { case e: Throwable => s"$name: ERROR ${e.getClass.getSimpleName}: ${e.getMessage}" }
        finally graft.ops.Queries.releaseCaches()
      println(s"PLAN $line")
    }
    spark.stop()
  }
}
