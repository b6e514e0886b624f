package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Catalog-wide physical-plan regression gate. Every `SparkEntry.queries`
  * entry is planned (AQE off, so the static tree is walkable) and checked
  * against an explicit allowlist of the shapes that become single-task
  * funnels or quadratic blowups at 100 TB. The per-operator OpsSpec asserts
  * pin a handful of known-fixed plans; this suite makes the CLASS of
  * regression impossible to reintroduce anywhere in the catalog without
  * editing the allowlist and justifying the entry.
  *
  *  - `CartesianProduct`: a join that lost its equi-condition AND its
  *    broadcast hint — quadratic work on two distributed sides. Never
  *    allowed (a bounded-side cross product plans as
  *    BroadcastNestedLoopJoin instead).
  *  - `Window`: a per-key sort funnel — every row of a key through ONE
  *    task's sort. Allowed only where the partition key's cardinality
  *    provably scales with the data AND per-key row counts are bounded
  *    (per-user event windows), never as a corpus-wide ranking device
  *    (the round-2/round-4 defect class TopM replaces).
  *  - `BroadcastNestedLoopJoin`: fine exactly when one side is a bounded
  *    constant (the ≤5-row ANN query set against the candidate corpus);
  *    fatal when both sides scale.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // AQE off: AdaptiveSparkPlanExec hides its tree pre-execution, so the
    // sweep inspects the static physical plan
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  /** nodeName counts over the whole tree, with InMemoryTableScan a leaf
    * (its cached plan executes once, not once per reference).
    */
  private def nodeCounts(plan: SparkPlan): Map[String, Int] =
    plan.collect { case p => p.nodeName }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Per-key Window funnels that are justified: the key scales with the
    * data and rows-per-key are bounded by construction.
    *  - q_window_rank: row_number per (user_id) — users grow with the
    *    corpus, events-per-user bounded; WindowGroupLimit pre-limits.
    *  - q_window_running: running sum per (user_id) ordered by time —
    *    same cardinality argument; inherently sequential per key.
    */
  private val windowAllowed = Set("q_window_rank", "q_window_running")

  /** Broadcast cross products whose broadcast side is a bounded constant:
    * the ANN family's ≤5-row query set (vs the candidate corpus) and
    * pHash's planted-probe set. The corpus side never broadcasts.
    */
  private val bnljAllowed = Set(
    "q_ann_recall", "q_embed_ivf_fixed", "q_embed_lsh_topk",
    "q_embed_topk", "q_image_phash")

  test("no catalog query plans a scale-hostile shape outside the allowlist") {
    val failures = mutable.Buffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val counts =
        try nodeCounts(fn(spark, sfDir).queryExecution.executedPlan)
        catch {
          case e: Throwable =>
            failures += s"$name: failed to plan — ${e.getClass.getSimpleName}: ${e.getMessage}"
            Map.empty[String, Int]
        }
        finally graft.ops.Queries.releaseCaches()
      if (counts.contains("CartesianProduct"))
        failures += s"$name: CartesianProduct (join lost its keys AND its broadcast)"
      if (counts.contains("Window") && !windowAllowed(name))
        failures += s"$name: Window=${counts("Window")} outside the justified per-key set"
      if (counts.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        failures += s"$name: BroadcastNestedLoopJoin outside the bounded-broadcast set"
    }
    assert(failures.isEmpty,
      s"scale-hostile plan shapes (justify + allowlist, or fix the plan):\n${failures.mkString("\n")}")
    // teardown backstop, same as Bench: the sweep must not leak persists
    assert(graft.ops.CacheTracker.sweepStray() == 0)
  }

  test("the allowlists stay pruned to queries that still exist") {
    (windowAllowed ++ bnljAllowed).foreach { name =>
      assert(SparkEntry.queries.contains(name), s"stale allowlist entry: $name")
    }
  }
}
