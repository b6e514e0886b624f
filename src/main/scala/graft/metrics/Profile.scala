package graft.metrics

import graft.SparkEntry
import graft.jobs.ExtractJob
import graft.ops.Queries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.graftshim.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The library's one profiler. Its SparkListener files each job under the
  * tag its driver thread carried in the local property [[Profile.TagKey]]
  * ("" when none) and counts the work per tag ([[Profile.Counters]]),
  * keeping each completed stage. Its QueryExecutionListener reads shuffle
  * files (map tasks × reduce partitions, the per-file cost of Hyper
  * Dimension Shuffle) and plan nodes from each execution's final plan; an
  * execution arrives after its thread moved on, so it goes to the
  * [[tagged]] body running then.
  */
final class Profile extends SparkListener with QueryExecutionListener {
  import Profile._

  private val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
  private val stageTag = mutable.Map.empty[Int, String]
  private val done = mutable.ArrayBuffer.empty[Stage]
  @volatile private var current = ""
  // a cached relation's plan runs once, so only its first scan enters it
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private def add(tag: String, ns: (String, Long)*): Unit = ns.foreach { case (k, n) => counts((tag, k)) += n }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
    e.stageIds.foreach(stageTag(_) = tag)
    add(tag, "jobs" -> 1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized(add(stageTag.getOrElse(e.stageId, ""), "tasks" -> 1L))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    val s = Stage(stageTag.getOrElse(i.stageId, ""), i.stageId, i.name.takeWhile(_ != '\n'),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.fold(0L)(_.shuffleWriteMetrics.recordsWritten), m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
      m.fold(0L)(x => x.diskBytesSpilled + x.memoryBytesSpilled))
    done += s
    add(s.tag, "stages" -> 1L, "shuffle_records" -> s.shuffleRecords,
      "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ns = nodes(qe.executedPlan)
    def count(name: String) = ns.count(_.nodeName == name).toLong
    add(current,
      "shuffle_files" -> ns.collect { case x: ShuffleExchangeExec => x.numMappers.toLong * x.numPartitions }.sum,
      "exchanges" -> count("Exchange"), "sort_aggregates" -> count("SortAggregate"),
      "broadcast_joins" -> count("BroadcastHashJoin"))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** An executed plan's nodes, entering final, stage, subquery and (once) cached plans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec if !q.plan.isInstanceOf[ReusedExchangeExec] => q +: nodes(q.plan)
    case c: InMemoryTableScanExec if seen.add(c.relation.cachedPlan) => c +: nodes(c.relation.cachedPlan)
    case _: QueryStageExec | _: ReusedExchangeExec | _: InMemoryTableScanExec => Seq(p)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Completed stages of the jobs tagged `tag`, in completion order. */
  def stages(tag: String): Seq[Stage] = synchronized(done.filter(_.tag == tag).toSeq)

  /** [[Counters]] of the work tagged `tag`, or of all work when `tag` is None. */
  def work(tag: Option[String] = None): Seq[(String, Long)] = synchronized {
    Counters.map(c => c -> counts.collect { case ((t, `c`), n) if tag.forall(_ == t) => n }.sum)
  }

  /** Runs `body` with this profile listening to `spark` and the jobs it
    * submits tagged `tag`; the tag's work is complete on return (the
    * listener bus is drained before and after). */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(TagKey)
    ListenerBus.drain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    sc.setLocalProperty(TagKey, tag)
    current = tag
    try body
    finally {
      ListenerBus.drain(sc)
      sc.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      sc.setLocalProperty(TagKey, outer)
    }
  }
}

object Profile {

  /** The driver-thread local property that tags jobs. */
  val TagKey = "graft.profile"

  /** Work counters per tag: Spark jobs, completed stages, ended tasks, shuffle files,
    * records and bytes written, bytes spilled, and final-plan Exchange /
    * SortAggregate / BroadcastHashJoin nodes. */
  val Counters: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_files", "shuffle_records",
    "shuffle_bytes", "spill_bytes", "exchanges", "sort_aggregates", "broadcast_joins")

  /** One completed stage attempt: its shuffle write and spill. */
  final case class Stage(tag: String, id: Int, name: String, submittedMs: Long, completedMs: Long,
      tasks: Int, shuffleRecords: Long, shuffleBytes: Long, spillBytes: Long)

  /** One JSON object: doubles to 4 places, strings quoted, sequences as arrays. */
  private[graft] def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val s = v match {
      case d: Double => (math.round(d * 10000) / 10000.0).toString
      case s: String => "\"" + s + "\""
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case other => other.toString
    }
    s""""$k":$s"""
  }.mkString("{", ",", "}")

  /** `graft.metrics.Profile <query> ...`: each catalog query runs cold, then
    * warm, in one JVM on [[ExtractJob.session]] over SPARK_GRAFT_SF_DIR
    * (default sf0.1). Per run it prints one JSON line per completed stage,
    * and per query one rollup: the row count and, prefixed `cold_`/`warm_`,
    * each run's wall time, idle time (wall minus the union of its stage
    * intervals) and [[Counters]].
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: Profile <query> ...; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ExtractJob.session()
    val profile = new Profile
    args.zipWithIndex.foreach { case (name, i) =>
      val fn = SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))
      val runs = Seq("cold", "warm").map { run =>
        val tag = s"$i/$name/$run" // a repeated query gets its own rollup
        val t0 = System.currentTimeMillis()
        val rows = profile.tagged(spark, tag)(try fn(spark, sfDir).count() finally Queries.releaseCaches())
        val t1 = System.currentTimeMillis()
        val stages = profile.stages(tag)
        stages.foreach(s => println(json(Seq("query" -> name, "run" -> run, "stage" -> s.id,
          "name" -> s.name, "tasks" -> s.tasks, "sec" -> (s.completedMs - s.submittedMs) / 1e3,
          "shuffle_records" -> s.shuffleRecords, "shuffle_bytes" -> s.shuffleBytes,
          "spill_bytes" -> s.spillBytes))))
        // busy: the union of the stage intervals
        val busy = stages.map(s => (s.submittedMs, s.completedMs)).sorted.foldLeft((0L, t0)) {
          case ((sum, end), (a, b)) => (sum + math.max(0L, b - math.max(a, end)), math.max(end, b)) }._1
        (rows, Seq(s"${run}_sec" -> (t1 - t0) / 1e3, s"${run}_idle_sec" -> math.max(0L, t1 - t0 - busy) / 1e3) ++
          profile.work(Some(tag)).map { case (k, n) => s"${run}_$k" -> n })
      }
      println(json(Seq("query" -> name, "rows" -> runs.head._1) ++ runs.flatMap(_._2)))
    }
    spark.stop()
  }
}
