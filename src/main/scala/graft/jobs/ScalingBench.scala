package graft.jobs

import graft.layout.ExtractConfig
import graft.model.Doc
import graft.pipeline.{DocsGen, Extract}
import org.apache.spark.sql.functions._

/** Two-parallelism scaling-efficiency evidence (north_rule: ≥0.8 throughput
  * scaling efficiency between N and 4N executors; sandbox proxy is the same
  * job at `local[N]` pinned to N cores and `local[4N]` pinned to 4N cores on
  * the same input — see BASELINE.md protocol).
  *
  * Shape matches the production job: the docs table is materialized to
  * parquet ONCE (untimed; it plays the role of the input Iceberg snapshot),
  * then each timed run does read → extract (narrow mapPartitions) → count
  * consume. Two untimed warm-ups absorb JIT/codegen; best-of-`repeats` is
  * reported.
  *
  * Run: `sbt "runMain graft.jobs.ScalingBench <cores> <nDocs> <repeats>"`
  * (pin with `taskset -c 0-<cores-1>` for a faithful N-core proxy).
  */
object ScalingBench {

  /** Achievable DRAM copy bandwidth (GB/s) with `threads` copiers — a
    * STREAM-style probe logged next to every throughput figure. The sandbox
    * is a VM on a SHARED host: co-tenant pressure on the socket's memory
    * controller is invisible from inside (no steal accounting for
    * bandwidth) and was measured swinging the 8-core extract leg between
    * 34k and 58k docs/s within one hour. Publishing the probe with each
    * leg makes host weather a visible variable instead of silent noise.
    */
  def memBandwidthGbps(threads: Int, millis: Long = 1500): Double = {
    val bytes = 64 * 1024 * 1024
    val counts = new java.util.concurrent.atomic.AtomicLong()
    // allocation + zeroing of the buffers must NOT eat the timed window:
    // every thread allocates and warms first (barrier 1), THEN the deadline
    // is set, THEN all start together (barrier 2) — setting the deadline
    // before the first barrier let slow multi-GB allocation consume the
    // whole window (probe read 0.0 at 8 threads)
    val ready = new java.util.concurrent.CyclicBarrier(threads + 1)
    val go = new java.util.concurrent.CyclicBarrier(threads + 1)
    @volatile var deadline = 0L
    val lastEnd = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        // allocate inside try: a thread that dies before its barriers (e.g.
        // OOME on the 128MB pair in a small heap) would otherwise leave the
        // main thread parked on the CyclicBarrier forever — the failed
        // thread still reaches both awaits and just contributes 0 copies
        var src: Array[Long] = null
        var dst: Array[Long] = null
        try {
          src = new Array[Long](bytes / 8)
          dst = new Array[Long](bytes / 8)
          System.arraycopy(src, 0, dst, 0, src.length) // touch all pages
        } catch { case _: Throwable => src = null }
        ready.await()
        go.await()
        if (src != null) {
          var n = 0L
          while (System.nanoTime() < deadline) {
            System.arraycopy(src, 0, dst, 0, src.length)
            n += 1
          }
          counts.addAndGet(n)
        }
        lastEnd.getAndAccumulate(System.nanoTime(), math.max(_, _))
      })
      t.start(); t
    }
    ready.await() // all threads allocated + warm
    val start = System.nanoTime()
    deadline = start + millis * 1000000L
    go.await()
    ts.foreach(_.join())
    // each copy touches 2×bytes (read + write). Divide by the ACTUAL window
    // (last thread's finish, not the nominal millis): a copy admitted 1ns
    // before the deadline still runs to completion, and under heavy
    // contention that overshoot is largest exactly when bandwidth is lowest
    // — dividing by the nominal window would compress the measured swing.
    val elapsedSec = math.max(lastEnd.get() - start, 1L) / 1e9
    counts.get().toDouble * 2 * bytes / elapsedSec / 1e9
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("probe")) {
      // probe-only mode: bandwidth at 1..32 copier threads, no Spark
      Seq(1, 2, 4, 8, 16, 32).foreach { t =>
        println(f"""{"probe_threads":$t,"gbps":${memBandwidthGbps(t)}%.1f}""")
      }
      return
    }
    if (argv.headOption.contains("probeonce")) {
      // one probe line at the given thread count — run in a SEPARATE JVM
      // before a scaling leg (tools/scalingbench.sh does): measured in-JVM,
      // the probe's humongous buffers + bus saturation cost the 8-thread
      // leg ~20% (40.7k docs/s with in-run probes vs 51.6k without, same
      // window), so the probe must never share the measurement JVM
      val t = argv(1).toInt
      println(f"""{"probe_threads":$t,"gbps":${memBandwidthGbps(t)}%.1f}""")
      return
    }
    require(argv.length <= 3,
      "usage: ScalingBench [<cores> [<nDocs> [<repeats>]]] | probe | probeonce <threads>")
    val cores = if (argv.length > 0) argv(0) else "8"
    val nDocs = if (argv.length > 1) argv(1).toLong else 50000L
    val repeats = if (argv.length > 2) argv(2).toInt else 3
    val spark = ExtractJob.session(cores)
    import spark.implicits._

    val input = s"/tmp/graft_bench_docs_$nDocs"
    if (!new java.io.File(s"$input/_SUCCESS").exists()) {
      DocsGen.docs(spark, nDocs, seed = 42L, partitions = 256)
        .write.mode("overwrite").parquet(input)
    }

    def once(): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val res = Extract.run(spark.read.parquet(input).as[Doc], ExtractConfig.Default)
        .select(count(lit(1)).as("docs"), sum(size(col("spans"))).as("spans"))
        .collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, res.getLong(0), res.getLong(1))
    }

    once(); once() // warm-ups (JIT, codegen, parquet footers, page cache)
    val runs = (1 to repeats).map { i =>
      val (sec, d, s) = once()
      println(f"""{"bench":"scaling","cores":$cores,"run":$i,"docs":$d,"spans":$s,"sec":$sec%.3f,"docs_per_sec":${d / sec}%.1f,"spans_per_sec":${s / sec}%.1f}""")
      sec -> d
    }
    val best = runs.map(_._1).min
    val docs = runs.head._2
    println(f"""{"bench":"scaling-best","cores":$cores,"docs":$docs,"sec":$best%.3f,"docs_per_sec":${docs / best}%.1f}""")
    spark.stop()
  }
}
