package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Local properties the benchmark sets on its driver thread; every job a
  * run submits carries them, so each stage is attributed to its run and
  * (for the catalog workload) to its query.
  */
object Tags {
  val Run = "perfbench.run"
  val Leaf = "perfbench.leaf"
}

/** One completed stage, attributed to a run, a catalog leaf and the module
  * (source file) of the innermost `graft` frame of its call site.
  */
final case class StageRec(
    stageId: Int, jobId: Int, run: String, leaf: String, module: String, name: String,
    submittedMs: Long, completedMs: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, fetchWaitMs: Long,
    spillBytes: Long, peakExecMem: Long, failedTasks: Int, taskMs: Array[Long]) {
  def durationS: Double = (completedMs - submittedMs) / 1000.0
}

/** SparkListener that keeps a [[StageRec]] per completed stage attempt.
  *
  * A stage's module comes from the call site of the SQL execution that ran
  * it, when there is one: adaptive execution submits query stages from its
  * own threads, so their own call sites name no caller.
  */
final class StageRecorder extends SparkListener {
  private val execModule = TrieMap.empty[Long, String]
  private val jobModule = TrieMap.empty[Int, String]
  private val jobTags = TrieMap.empty[Int, (String, String)]
  private val stageJob = TrieMap.empty[Int, Int]
  private val taskMs = TrieMap.empty[(Int, Int), ArrayBuffer[Long]]
  private val peakMem = TrieMap.empty[(Int, Int), Long]
  private val failed = TrieMap.empty[(Int, Int), Int]
  val stages: ArrayBuffer[StageRec] = ArrayBuffer.empty
  val jobs: ArrayBuffer[(Int, String, String)] = ArrayBuffer.empty

  private val graftFrame = """^\s*(?:at\s+)?graft\.[\w.$]+\(([\w]+)\.scala:\d+\)""".r.unanchored

  /** Module of a stage: file of the innermost `graft.` frame in its long
    * call site, or "bench" when the job was submitted from benchmark code.
    */
  def moduleOf(details: String): String =
    details.linesIterator.collectFirst { case graftFrame(file) => file }.getOrElse("bench")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execModule(s.executionId) = moduleOf(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    Option(p).flatMap(x => Option(x.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => execModule.get(id.toLong)).foreach(jobModule(e.jobId) = _)
    val tag = if (p == null) ("", "")
              else (Option(p.getProperty(Tags.Run)).getOrElse(""), Option(p.getProperty(Tags.Leaf)).getOrElse(""))
    jobTags(e.jobId) = tag
    e.stageIds.foreach(stageJob(_) = e.jobId)
    synchronized { jobs += ((e.jobId, tag._1, tag._2)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = (e.stageId, e.stageAttemptId)
    synchronized { taskMs.getOrElseUpdate(k, ArrayBuffer.empty) += e.taskInfo.duration }
    if (e.taskMetrics != null)
      peakMem(k) = math.max(peakMem.getOrElse(k, 0L), e.taskMetrics.peakExecutionMemory)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
      failed(k) = failed.getOrElse(k, 0) + 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val k = (i.stageId, i.attemptNumber())
    val job = stageJob.getOrElse(i.stageId, -1)
    val (run, leaf) = jobTags.getOrElse(job, ("", ""))
    val m = i.taskMetrics
    val times = synchronized(taskMs.remove(k).map(_.toArray).getOrElse(Array.empty[Long]))
    val rec = StageRec(
      i.stageId, job, run, leaf, jobModule.getOrElse(job, moduleOf(i.details)), i.name.takeWhile(_ != '\n'),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime,
      if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
      peakMem.remove(k).getOrElse(0L), failed.remove(k).getOrElse(0), times)
    synchronized { stages += rec }
  }

  def stagesOf(run: String): Seq[StageRec] = synchronized(stages.filter(_.run == run).toSeq)
  def jobsOf(run: String, leaf: String): Int = synchronized(jobs.count(j => j._2 == run && j._3 == leaf))
}

/** Physical-plan facts gathered per executed query: shuffle files (map
  * tasks × reduce partitions of each exchange that ran) and the plan nodes
  * of a given kind.
  */
object Plans {

  /** Every node of an executed plan, entering adaptive final plans, query
    * stages and subqueries; a cached relation's plan is entered once per
    * `seen` set, because only its first use runs it.
    */
  def nodes(p: SparkPlan, seen: java.util.Set[AnyRef]): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, seen)
    case q: QueryStageExec => q.plan match {
      case _: ReusedExchangeExec => Seq(q)
      case inner => q +: nodes(inner, seen)
    }
    case _: ReusedExchangeExec => Seq(p)
    case c: InMemoryTableScanExec =>
      val cached = c.relation.cachedPlan
      if (seen.add(cached)) c +: nodes(cached, seen) else Seq(c)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes(_, seen))
  }

  def shuffleFiles(p: SparkPlan, seen: java.util.Set[AnyRef]): Long =
    nodes(p, seen).collect { case e: ShuffleExchangeExec =>
      val dep = e.shuffleDependency
      dep.rdd.getNumPartitions.toLong * dep.partitioner.numPartitions
    }.sum

  def count(p: SparkPlan, nodeName: String): Int =
    nodes(p, java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))
      .count(_.nodeName == nodeName)
}

/** Counts shuffle files of every query execution that succeeds while a run
  * tag is set. Executions are delivered on the listener bus, so the caller
  * drains the bus before reading or retagging.
  */
final class QueryRecorder extends QueryExecutionListener {
  @volatile var run: String = ""
  private val files = TrieMap.empty[String, Long]
  private val seen = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val r = run
    if (r.nonEmpty) {
      val n = try Plans.shuffleFiles(qe.executedPlan, seen) catch { case _: Throwable => 0L }
      files(r) = files.getOrElse(r, 0L) + n
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def shuffleFilesOf(run: String): Long = files.getOrElse(run, 0L)
}
