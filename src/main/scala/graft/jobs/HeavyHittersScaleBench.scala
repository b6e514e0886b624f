package graft.jobs

import graft.functions.ChurroFunctions
import graft.ops.CacheTracker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-tier evidence for the Misra-Gries heavy-hitters sketch
  * ([[graft.functions.HeavyHitters]]) in its target regime: top-k keys over
  * a key space that GROWS WITH THE CORPUS (top URLs/hosts over a crawl),
  * where the exact plan — groupBy(key).count + bounded top-k — must hash
  * every distinct key through the Exchange, while the sketch ships
  * partitions × (2m) summary rows no matter how many distinct keys exist.
  *
  * Deterministic corpus: each doc emits [[KeysPerDoc]] keys; a hash coin
  * sends ~1/3 of instances to one of [[HotKeys]] fixed hot hosts — with
  * TRIANGULAR weights (hot key i drawn ∝ i+1), so adjacent hot keys are
  * separated by ~N/(3·2080) counts, well above the sketch's ε = N/(m+1)
  * at [[M]] = 16384 and both scale linearly with N — and the rest to a
  * PER-INSTANCE-UNIQUE tail key (`u<doc*K+j>`), so distinct keys ≈
  * (2/3)·docs·K: the distinct set scales with the rows, the regime where
  * the exact plan's shuffle is the bottleneck. Both variants run; the
  * top-k sets are compared (separation > ε makes a mismatch a real
  * failure, not tie noise) and every sketch estimate is checked against
  * the exact count within the N/(m+1) bound; results land in BENCH.md.
  *
  * Run: `runMain graft.jobs.HeavyHittersScaleBench [nDocs] [cores]`
  * → one JSON line {docs, instances, distinct_keys, exact_sec, sketch_sec,
  *   topk_set_match, max_abs_err, eps_bound}.
  */
object HeavyHittersScaleBench {

  val KeysPerDoc = 8
  val HotKeys = 64
  val M = 16384
  val K = 20

  /** Triangular hot-key draw: idx uniform in [0, 2080) maps to key
    * i = ⌊(√(8·idx+1) − 1)/2⌋, giving key i weight (i+1)/2080 — hot key 63
    * is 64× hotter than hot key 0, adjacent keys ~N/(3·2080) apart.
    */
  def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      expr(
        s"""transform(sequence(0, ${KeysPerDoc - 1}), j ->
           |  IF(pmod(hash(CAST(id AS INT), j), 3) = 0,
           |     concat('h', CAST(floor((sqrt(8 * pmod(hash(CAST(id AS INT), j, 1), 2080) + 1) - 1) / 2) AS INT)),
           |     concat('u', id * $KeysPerDoc + j)))""".stripMargin).as("ks"))

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))

    val docs = CacheTracker.track(
      synth(spark, nDocs).repartition(spark.sparkContext.defaultParallelism))
    val nInstances = docs.select(sum(size(col("ks")))).collect()(0).getLong(0)

    // exact: every distinct key through the Exchange, then a bounded top-k
    // (TakeOrderedAndProject) — the right plan ONLY when distinct keys are
    // vocabulary-bounded; here they are ~2/3 of all instances
    val t0 = System.nanoTime()
    val exact = docs.select(explode(col("ks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(K)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val exactSec = (System.nanoTime() - t0) / 1e9

    // sketch: one 2m-entry summary per task, partitions×2m rows through the
    // single Exchange, bounded final merge
    val t1 = System.nanoTime()
    val sketch = docs
      .agg(ChurroFunctions.heavy_hitters(col("ks"), M, K).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token"), col("h.cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val sketchSec = (System.nanoTime() - t1) / 1e9

    val distinct = docs.select(explode(col("ks")).as("w"))
      .agg(countDistinct(col("w"))).collect()(0).getLong(0)

    val exactMap = exact.toMap
    val eps = nInstances.toDouble / (M + 1)
    val setMatch = exact.map(_._1).toSet == sketch.map(_._1).toSet
    val maxErr = sketch.map { case (w, est) =>
      math.abs(exactMap.getOrElse(w, 0L) - est)
    }.max
    // set equality FIRST: a sketch key outside the exact top-K has no
    // exactMap entry, so maxErr would read as its whole estimate and the
    // eps require would fire with a misleading per-key-bound message
    // instead of the set diff that actually explains the failure
    require(setMatch, // separation > ε by construction, so a miss is a bug
      s"top-$K sets differ:\n exact=${exact.map(_._1).mkString(",")}\n sketch=${sketch.map(_._1).mkString(",")}")
    require(maxErr <= eps, s"sketch estimate off by $maxErr > eps $eps")
    require(sketch.forall { case (w, est) => est <= exactMap.getOrElse(w, Long.MaxValue) },
      "sketch overestimated a key")

    CacheTracker.releaseAll()
    println(
      f"""{"bench":"heavy_hitters_scale","docs":$nDocs,"instances":$nInstances,"distinct_keys":$distinct,"exact_sec":$exactSec%.2f,"sketch_sec":$sketchSec%.2f,"topk_set_match":$setMatch,"max_abs_err":$maxErr,"eps_bound":$eps%.1f}""")
    spark.stop()
  }
}
