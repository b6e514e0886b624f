package graft.jobs

/** Host-weather probe for the N-vs-4N scaling protocol (north_rule: ≥0.8
  * throughput scaling efficiency between N and 4N executors, proxied by
  * legs pinned to N and 4N cores on the same input — BASELINE.md). The
  * legs are `graft.jobs.Tier extract <nDocs> <cores>` (tools/scalingbench.sh).
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

  /** `probe`: 1..32 copier threads. `probeonce <threads>`: one line, run in a SEPARATE
    * JVM before a scaling leg — in-JVM it cost the 8-thread leg ~20% (40.7k vs 51.6k docs/s). */
  def main(argv: Array[String]): Unit = (argv match {
    case Array("probe") => Seq(1, 2, 4, 8, 16, 32)
    case Array("probeonce", t) => Seq(t.toInt)
    case _ => throw new IllegalArgumentException("usage: ScalingBench probe | probeonce <threads>")
  }).foreach(t => println(f"""{"probe_threads":$t,"gbps":${memBandwidthGbps(t)}%.1f}"""))
}
