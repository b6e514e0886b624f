package graft.metrics

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Per-run progress surface — the Spark-native analogue of the reference's
  * tqdm heartbeat thread (`tooling/benchmarking/benchmark.py:454-475`, 1 s
  * postfix refresh): a driver-side daemon thread appends one JSON line per
  * tick to `<out>/progress.jsonl`, readable mid-run by any consumer
  * (`tail -f`). [[graft.jobs.ExtractJob.resumable]] runs one per job run,
  * so every resumable job writes it, and per lineage commit bumps `groups`
  * by one and `rows` by the group's committed `span_count`, so `rows` moves
  * in every job. `docs`/`spans` are extraction counters: executors bump them
  * as documents complete in `Extract.run`, so they stay 0 in jobs that do
  * not extract. Completed stages and ended tasks come from a [[Profile]],
  * so the surface also moves in shuffle/write phases.
  */
final class Heartbeat(spark: SparkSession, outDir: String, intervalMs: Long = 1000L) {

  val docsDone: LongAccumulator = spark.sparkContext.longAccumulator("graft.docs_done")
  val spansDone: LongAccumulator = spark.sparkContext.longAccumulator("graft.spans_done")
  val groupsDone: LongAccumulator = spark.sparkContext.longAccumulator("graft.groups_done")
  val rowsDone: LongAccumulator = spark.sparkContext.longAccumulator("graft.rows_done")

  private val profile = new Profile

  private val path = Paths.get(s"$outDir/progress.jsonl")
  private val t0 = System.nanoTime()
  @volatile private var running = false

  private def tick(): Unit = {
    val w = profile.work().toMap
    val line = Profile.json(Seq("elapsed_sec" -> (System.nanoTime() - t0) / 1e9,
      "docs" -> docsDone.value, "spans" -> spansDone.value, "groups" -> groupsDone.value,
      "rows" -> rowsDone.value, "stages" -> w("stages"), "tasks" -> w("tasks"))) + "\n"
    Files.writeString(path, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private val thread = new Thread(() => {
    var interrupted = false
    while (running && !interrupted) {
      try tick() catch { case _: Throwable => () }
      try Thread.sleep(intervalMs) catch { case _: InterruptedException => interrupted = true }
    }
  }, "graft-heartbeat")
  thread.setDaemon(true)

  def start(): Heartbeat = {
    Files.createDirectories(Paths.get(outDir))
    spark.sparkContext.addSparkListener(profile)
    running = true
    thread.start()
    this
  }

  /** Stop the ticker and write one final line with the closing totals. */
  def stop(): Unit = {
    running = false
    thread.interrupt()
    spark.sparkContext.removeSparkListener(profile)
    // stop() runs in callers' finally blocks: an IO failure writing the
    // closing line (out dir removed mid-run) must not REPLACE the real
    // exception that unwound the job
    try tick()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[heartbeat] closing tick failed: ${e.getMessage}")
    }
  }
}
