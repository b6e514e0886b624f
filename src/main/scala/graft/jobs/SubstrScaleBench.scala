package graft.jobs

import graft.ops.Queries
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Scale-tier evidence for EXACT-SUBSTRING dedup (the q_substring_dedup
  * plan): the duplicated-gram removal chain at a 10×-rows tier over the
  * same family-chain corpus [[DedupScaleBench.synth]] uses — family members
  * share most of their 40 words, so the corpus carries HEAVY natural
  * 10-gram duplication (every shared run across 16 family members), the
  * adversarial load for this operator: a large dup-gram set, wide coverage
  * explosion, and most of every document erased. Reports the gram volume,
  * dup-set size, surviving docs/tokens, and wall time so BENCH.md can state
  * the measured per-gram cost instead of narrating one.
  *
  * Run: `runMain graft.jobs.SubstrScaleBench [nDocs] [cores]`
  * → one JSON line.
  */
object SubstrScaleBench {

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val cpus = args.lift(1).getOrElse(ExtractJob.DefaultCores)
    val spark = ExtractJob.session(cpus)

    val docs = DedupScaleBench.synth(spark, nDocs)
      .repartition(spark.sparkContext.defaultParallelism)
    val gramsPerDoc = DedupScaleBench.WordsPerDoc - Queries.SubstrGramLen + 1

    val t0 = System.nanoTime()
    docs.persist()
    val nd = docs.count() // corpus synthesis off the clock of the operator
    require(nd == nDocs)
    val synthSec = (System.nanoTime() - t0) / 1e9

    def timed(): (Double, Row) = {
      val t = System.nanoTime()
      val r = Queries.substringDedupFrom(docs).agg(
        count(lit(1)).as("surviving_docs"),
        sum(col("n_kept")).as("tokens_kept")).collect()(0)
      val s = (System.nanoTime() - t) / 1e9
      Queries.releaseCaches()
      (s, r)
    }
    timed() // JIT/codegen warm pass
    val (sec1, stats) = timed()
    val (sec2, stats2) = timed()
    require(stats2 == stats, s"repeat pass diverged: $stats2 vs $stats")
    val sec = math.min(sec1, sec2)
    docs.unpersist()

    val surviving = stats.getLong(0)
    val kept = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val tokensTotal = nDocs * DedupScaleBench.WordsPerDoc
    println(s"""{"job":"substr_scale","docs":$nDocs,"grams":${nDocs * gramsPerDoc},""" +
      s""""surviving_docs":$surviving,"tokens_total":$tokensTotal,"tokens_kept":$kept,""" +
      s""""synth_sec":${math.round(synthSec * 1000) / 1000.0},""" +
      s""""sec":${math.round(sec * 1000) / 1000.0},""" +
      s""""docs_per_sec":${math.round(nDocs / sec)},"cores":"$cpus"}""")
    spark.stop()
  }
}
