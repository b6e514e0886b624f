package perfbench

import graft.jobs.ExtractJob
import graft.ops.CacheTracker
import org.apache.spark.BenchAccess

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM: one workload, one seed, one session at
  * `local[Cores]`. It sets up (session, inputs, warm-up runs), then makes
  * timed runs until `--seconds` of wall time have passed, checking each
  * run's output after its timing. With `--trace 1` it alternates untraced
  * and traced runs (a stage listener, a query listener and spans), then
  * times the extraction layers single-threaded.
  *
  * Writes one JSON object to `--result`; `perfbench/run.py` turns it into
  * the benchmark's report.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --result <file>
  */
object Main {
  val Cores = 4
  /** Docs per run of the extraction workload (0.1% of them folios). */
  val ExtractDocs = 10000L
  /** Size of the corpus the catalog workload warms up on. */
  val WarmCorpusDocs = 500
  /** The layer probes' sample: docs 0 until LayerDocs of the seed. */
  val LayerDocs = 2000

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val work = new File(a("work")); work.mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = ExtractJob.session(Cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val trace = new Trace
    val stages = new StageRecorder
    val queries = new QueryRecorder
    val wl = Workload(workload, new Ctx(spark, seed, Cores, work, trace, stages))
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0

    /** One timed run, then its per-run output checks. Returns the wall
      * time, the result (if it did not throw) and the failed checks.
      */
    def attempt(tag: String, traced: Boolean): (Double, Option[AnyRef], Seq[String]) = {
      if (traced) {
        sc.addSparkListener(stages)
        spark.listenerManager.register(queries)
        queries.run = tag
      }
      sc.setLocalProperty(Tags.Run, tag)
      val confLeak = spark.conf.getAll.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      val t0 = System.nanoTime()
      val result =
        try Right(if (traced) trace.span("run", tag)(wl.run(tag)) else wl.run(tag))
        catch { case e: Throwable => Left(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Tags.Run, null)
      if (traced) {
        BenchAccess.drainListeners(sc)
        sc.removeSparkListener(stages)
        spark.listenerManager.unregister(queries)
        queries.run = ""
      }
      val errs = mutable.ArrayBuffer.empty[String]
      result match {
        case Left(e) => errs += s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        case Right(r) =>
          try errs ++= wl.check(tag, r, full = false)
          catch { case e: Throwable => errs += s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      val stray = CacheTracker.sweepStray()
      if (stray != 0) errs += s"$stray stray cached frames after the run"
      if (workload != "dedup_catalog" && confLeak.isDefined)
        errs += s"session carries parallelismFirst=${confLeak.get} from a catalog query"
      errs.foreach(e => failures += s"$tag: $e")
      (wallS, result.toOption, errs.toSeq)
    }

    // inputs (the extraction workload also heats its code on the driver
    // thread), then one untimed, checked run for JIT, codegen and file
    // caches; the catalog workload's warm-up pass runs on a small corpus
    wl.prepare()
    sc.setLocalProperty(Tags.Run, "warmup")
    failures ++= wl.warmup("warmup").map(e => s"warmup: $e")
    sc.setLocalProperty(Tags.Run, null)
    if (CacheTracker.sweepStray() != 0) failures += "warmup: stray cached frames after the run"
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // wall times of the runs that passed their checks; `everyRun` keeps the
    // untraced ones that did not, reported only when none passed
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val everyRun = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    var last: Option[(String, AnyRef, Boolean)] = None
    val loopStart = System.nanoTime()
    var i = 0
    // trace mode alternates untraced and traced runs and stops only after at
    // least one of each
    def more: Boolean =
      (System.nanoTime() - loopStart) / 1e9 < seconds || attempted < (if (tracing) 2 else 1)
    while (more) {
      val traced = tracing && i % 2 == 1
      val tag = s"run-$i"
      val runSpan = trace.size
      val (s, result, errs) = attempt(tag, traced)
      attempted += 1
      if (errs.nonEmpty) failed += 1
      result.foreach(r => last = Some((tag, r, errs.isEmpty)))
      if (traced) {
        if (errs.isEmpty) tracedS += s
        result.foreach { r =>
          stages.stagesOf(tag).foreach { st =>
            trace.add(s"stage ${st.stageId} ${st.module}: ${st.name}", st.submittedMs * 1000, st.completedMs * 1000,
              runSpan, tag)
          }
          perRun += (sparkMetrics(stages.stagesOf(tag), queries.shuffleFilesOf(tag), s) ++ wl.traced(tag, r, s)).toMap
        }
      } else {
        everyRun += s
        if (errs.isEmpty) untracedS += s
      }
      i += 1
    }
    // the slow checks (read-backs, samples, goldens) run on the warm-up run
    // and on the last timed run, outside the timed window
    last.foreach { case (tag, r, passed) =>
      val errs =
        try wl.check(tag, r, full = true)
        catch { case e: Throwable => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      errs.foreach(e => failures += s"$tag: $e")
      if (errs.nonEmpty && passed) failed += 1
    }

    val perLayer: Seq[(String, Double)] =
      if (!tracing) Nil
      else {
        val keys = perRun.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
        val runMetrics = keys.map(k => k -> Stats.median(perRun.map(_.getOrElse(k, 0.0)).toSeq))
        val layers = Layers.measure(seed, LayerDocs, 8, trace, "layers")
        val after = wl.afterTrace(untracedS.toSeq)
        val overhead = Seq("trace.overhead_ratio" -> Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq))
        runMetrics ++ layers ++ after ++ overhead
      }
    if (tracing) trace.write(Paths.get(work.getPath, "trace.jsonl"))

    val peakRssMb = vmHwmKb() / 1024.0
    // host weather, measured after everything else so it disturbs nothing
    val gbps = graft.jobs.ScalingBench.memBandwidthGbps(Cores, 500)
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> Json.str(spark.conf.getOption(k).getOrElse("")))
    val context = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "loadavg" -> Json.str(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "mem_bandwidth_gbps_4t" -> Json.num(gbps),
      "session" -> Json.obj(conf),
      "spans" -> trace.size.toString) ++ wl.context
    spark.stop()

    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "input_docs" -> wl.inputDocs.toString,
      "setup_s" -> Json.num(setupS),
      "run_s" -> (if (untracedS.nonEmpty) untracedS else everyRun).map(Json.num).mkString("[", ",", "]"),
      "traced_run_s" -> tracedS.map(Json.num).mkString("[", ",", "]"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "per_layer" -> Json.nums(perLayer),
      "context" -> Json.obj(context)))
    Files.write(Paths.get(a("result")), (out + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Spark execution figures of one traced run. */
  def sparkMetrics(st: Seq[StageRec], shuffleFiles: Long, wallS: Double): Seq[(String, Double)] = {
    val runS = st.map(_.runMs).sum / 1000.0
    val slowest = if (st.isEmpty) None else Some(st.maxBy(_.durationS))
    val skew = slowest.filter(_.taskMs.nonEmpty).map { s =>
      s.taskMs.max / math.max(Stats.median(s.taskMs.map(_.toDouble).toSeq), 1.0)
    }.getOrElse(1.0)
    Seq(
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "spark.busy_ratio" -> runS / (wallS * Cores),
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
      "spark.shuffle_files" -> shuffleFiles.toDouble,
      "spark.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1000.0,
      "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "spark.peak_exec_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakExecMem).max / 1048576.0),
      "spark.task_skew" -> skew,
      "spark.failed_tasks" -> st.map(_.failedTasks).sum.toDouble)
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble }
      .getOrElse(0.0)
}
