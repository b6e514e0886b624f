package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry for caches created inside query builders, released by the
  * CALLER after the terminal action.
  *
  * A query function returns a LAZY DataFrame, so it cannot unpersist its own
  * intermediates (the action hasn't run yet); instead every persist is
  * tracked here and Bench/Verify/specs call [[releaseAll]] after each
  * query. Round-2 lesson: five untracked persists accumulated across the
  * 45-query bench session and degraded unrelated queries (q_json_extract
  * 0.7s → 6.4s); OpsSpec now asserts `getPersistentRDDs.isEmpty` after
  * every catalog query.
  *
  * Scoping (round-4 hardening): the registry is THREAD-LOCAL, not
  * JVM-global. Build → action → release for one logical query happens on
  * one caller thread (Bench, Verify and the specs all work this way), so a
  * `releaseAll()` can only ever drop caches the SAME logical query
  * registered — two sessions or two concurrent queries on different
  * threads no longer unpersist each other's working set mid-flight, which
  * the round-3 global queue allowed. [[releaseAll]] also skips handles
  * whose SparkContext has already stopped (their blocks died with the
  * executor store; unpersisting them NPEs inside BlockManagerMaster) —
  * observed when a suite leaked tracked caches past its session's stop().
  *
  * Round-5 hardening: alongside the thread-local scoping a GLOBAL weak
  * registry records every tracked handle, so a handle tracked on one
  * thread and orphaned there (e.g. a parallelized bench worker, a Spark
  * listener-thread callback) is still reachable by [[sweepStray]] — the
  * session-teardown backstop. Weak keys: a frame that was released (or
  * simply dropped and GC'd) costs nothing. Without this, a cross-thread
  * leak silently recreates the round-2 accumulating-persist degradation
  * with no assertion able to see it.
  */
object CacheTracker {

  private val live = new ThreadLocal[java.util.ArrayDeque[DataFrame]] {
    override def initialValue(): java.util.ArrayDeque[DataFrame] =
      new java.util.ArrayDeque[DataFrame]()
  }

  /** All tracked handles across threads, weakly held (identity semantics —
    * WeakHashMap hashes by the key's own hashCode, which for a DataFrame is
    * Object identity since Dataset does not override it).
    */
  private val global =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, java.lang.Boolean]())

  def track(df: DataFrame): DataFrame = {
    val p = df.persist()
    // idempotent per handle: re-tracking the same frame (a caller persists
    // for a count, then hands it to a builder that tracks its input) must
    // not register a second deque entry — liveCount would double-count one
    // cache and releaseAll would unpersist it twice
    val q = live.get()
    if (!q.contains(p)) q.add(p)
    global.put(p, java.lang.Boolean.TRUE)
    p
  }

  /** Unpersist ONE tracked handle immediately (eager mid-query release —
    * iterative queries drop round r−1's caches as soon as round r is
    * materialized instead of accumulating 2×rounds handles to the end).
    * No-op if the handle was never tracked on this thread.
    */
  def release(df: DataFrame): Unit =
    if (live.get().remove(df)) {
      global.remove(df)
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking = false)
    }

  /** Number of live tracked handles on this thread (spec observability). */
  def liveCount: Int = live.get().size()

  def releaseAll(): Unit = {
    val q = live.get()
    var d = q.poll()
    while (d != null) {
      global.remove(d)
      if (!d.sparkSession.sparkContext.isStopped) d.unpersist(blocking = false)
      d = q.poll()
    }
  }

  /** Final-sweep backstop: unpersist every handle any thread tracked and
    * never released, and WARN loudly — a stray means some caller broke the
    * build→action→release-on-one-thread contract. Call at session teardown
    * (Bench/Verify end, spec afterAll); returns the number of strays so
    * callers can assert on it.
    */
  def sweepStray(): Int = global.synchronized {
    var n = 0
    val it = global.keySet().iterator()
    while (it.hasNext) {
      val d = it.next()
      if (d != null) {
        n += 1
        if (!d.sparkSession.sparkContext.isStopped) d.unpersist(blocking = false)
      }
      it.remove()
    }
    // also clear this thread's deque so liveCount agrees with the sweep
    live.get().clear()
    if (n > 0)
      System.err.println(
        s"[CacheTracker] sweepStray released $n orphaned cache handle(s) — " +
          "a caller tracked caches on a thread that never released them")
    n
  }
}
