package graft.jobs

import graft.ops.CacheTracker
import graft.pipeline.DocsGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-stage shape adjudication for the north_rule's long-tail-folio
  * clause: the extraction job's partitioned span write must not let a
  * 5–10k-span folio serialize a shuffle task. Three shapes over the SAME
  * cached span table (the docs fixture's 0.1% folio tail included):
  *
  *  - `bucket`: `repartition(bucket)` — the naive write. Its parallelism
  *    is capped at the BUCKET count no matter how many reducers the
  *    cluster has (64 bucket keys → 64 non-empty partitions out of
  *    thousands), and every folio rides whole inside its bucket's task.
  *  - `salt` (the shipped [[ExtractJob.spanRows]] plan): a span-order salt
  *    multiplies the key space ×16, spreading each bucket — and each
  *    folio — across 16 tasks.
  *  - `range`: `repartitionByRange(bucket, doc_id, order)` — the
  *    mechanism the north_rule names. The range sampler draws even-sized
  *    partitions regardless of key cardinality, `order` in the key splits
  *    a folio at range boundaries, and rows arrive CLUSTERED by doc — the
  *    best file locality for downstream readers.
  *
  * The A/B models the PRODUCTION write unit — [[ExtractJob]] commits one
  * bucket GROUP at a time (resume granularity), so each write carries only
  * `groupBuckets` distinct bucket keys. That is where the naive shape
  * collapses: `repartition(bucket)` on a 2-bucket group gives 2 reduce
  * tasks no matter how many cores the cluster has. A whole-table write
  * (all 64 buckets ≥ cores, AQE coalescing absorbing granularity) hides
  * the effect entirely — an earlier draft of this bench measured that
  * shape and read the naive write as fastest. Every shape's output is
  * counted back and must equal the group's row count; the adjudication
  * numbers land in BENCH.md §17.
  *
  * CAVEAT the numbers alone don't show (BENCH.md §17 narrates it): this
  * bench writes from a CACHED span table, and that materialization is
  * load-bearing for the range shape — RangePartitioner samples its child,
  * so fused behind the un-cached generate→extract pipeline the range
  * write re-executes the whole extraction (HeartbeatSpec's exactly-once
  * docs counter read 2× when ExtractJob tried it). The production
  * conclusion is therefore split: salt for the fused extraction write,
  * range where the written table already exists on disk.
  *
  * Run: `runMain graft.jobs.WriteScaleBench [nDocs] [cores] [groupBuckets]`
  * → one JSON line {docs, group_buckets, spans, bucket_sec, salt_sec,
  *   range_sec}.
  */
object WriteScaleBench {

  /** The production bucket count — shared constant so the adjudication
    * cannot drift from the shipped plan.
    */
  val Buckets: Int = ExtractJob.DefaultBuckets

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val groupBuckets = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))

    // one bucket GROUP's spans — the production write unit (the filter
    // runs before the cache so only the group is materialized)
    val spans = CacheTracker.track(
      DocsGen.docs(spark, nDocs, partitions = spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("order", "s")))
        .select(col("doc_id"), col("order"), col("s.kind").as("kind"),
          col("s.media_ref").as("media_ref"), col("s.text").as("text"))
        .withColumn("bucket",
          graft.functions.ChurroFunctions.bucket_of(col("doc_id"), lit(Buckets)))
        .filter(col("bucket") < groupBuckets))
    val total = spans.count()

    val outRoot = java.nio.file.Files.createTempDirectory("writebench").toString
    def rm(p: java.io.File): Unit = {
      Option(p.listFiles()).getOrElse(Array.empty).foreach(rm); p.delete(); ()
    }
    def timed(name: String, df: DataFrame): Double = {
      val dir = s"$outRoot/$name"
      val t0 = System.nanoTime()
      df.write.partitionBy("bucket").parquet(dir)
      val sec = (System.nanoTime() - t0) / 1e9
      // correctness outside the timing: every shape must write every span
      val back = spark.read.parquet(dir).count()
      require(back == total, s"$name wrote $back of $total spans")
      rm(new java.io.File(dir))
      sec
    }
    val par = spark.sparkContext.defaultParallelism
    def shapes: Seq[(String, DataFrame)] = Seq(
      "bucket" -> spans.repartition(col("bucket")),
      "salt" -> spans.withColumn("salt", pmod(col("order"), lit(ExtractJob.WriteSaltFactor)))
        .repartition(col("bucket"), col("salt")).drop("salt"),
      "range" -> spans.repartitionByRange(par,
        col("bucket"), col("doc_id"), col("order")))

    shapes.foreach { case (n, df) => timed(s"warm_$n", df) } // JIT/codegen warm-up
    val best = shapes.map { case (n, df) =>
      n -> math.min(timed(s"a_$n", df), timed(s"b_$n", df))
    }.toMap
    CacheTracker.releaseAll()
    rm(new java.io.File(outRoot))

    println(s"""{"job":"write_scale","docs":$nDocs,"group_buckets":$groupBuckets,"spans":$total,""" +
      best.map { case (n, s) => s""""${n}_sec":${math.round(s * 1000) / 1000.0}""" }
        .mkString(",") + "}")
    spark.stop()
  }
}
