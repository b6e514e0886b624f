package graft.jobs

import graft.ops.{CacheTracker, Queries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-tier evidence for the dedup family: the full
  * shingle → minhash → banded pairs → connected-components chain at a
  * 10×-rows tier (default 500k documents vs the sf0.1 catalog's ~50k),
  * with the propagation loop's per-round changed-label counts and wall
  * times recorded — the measured datapoint behind the O(log diameter)
  * claim (VERDICT r3 task 7). Results land in BENCH.md §6.
  *
  * The corpus is synthesized DISTRIBUTED (spark.range + hash-indexed vocab,
  * no driver loop, no files) with planted near-duplicate CHAINS: documents
  * form families of [[FamilySize]]; member m of a family mutates the first
  * m of its 40 words, so adjacent members differ by one word (near-dups the
  * banding must catch) while distant members drift apart — a family is a
  * similarity CHAIN of diameter ~[[FamilySize]], the structure that forces
  * multi-round label propagation and makes pointer jumping measurable
  * (star-shaped dup clusters converge in 1-2 rounds regardless).
  *
  * Run: `runMain graft.jobs.DedupScaleBench [nDocs] [cores]`
  * → one JSON line {docs, pairs, rounds, round_ms, changed, ...}.
  */
object DedupScaleBench {

  val FamilySize = 16
  val WordsPerDoc = 40

  private val Vocab: String = (0 until 64).map(i => s"w${i}x").mkString("array('", "','", "')")

  /** Deterministic family-chain corpus: word j of doc id is drawn from the
    * 64-word vocab by hash(family, j, mutated?), mutated for j < id mod
    * [[FamilySize]].
    */
  def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      expr(
        s"""concat_ws(' ', transform(sequence(0, ${WordsPerDoc - 1}), j ->
           |  element_at($Vocab,
           |    pmod(hash(CAST(id DIV $FamilySize AS INT), j,
           |              IF(j < id % $FamilySize, 1, 0)), 64) + 1)))""".stripMargin).as("text"))

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))

    val t0 = System.nanoTime()
    val docs = synth(spark, nDocs).repartition(spark.sparkContext.defaultParallelism)
    val pairs = CacheTracker.track(
      Queries.minhashPairsCore(Queries.minhashSigCoreFrom(Queries.shingledFrom(docs)))
        .select(col("a"), col("b")))
    val nPairs = pairs.count()
    val pairsSec = (System.nanoTime() - t0) / 1e9

    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val t1 = System.nanoTime()
    val comp = Queries.dedupComponentsFrom(spark, pairs,
      (r, changed, ms) => rounds += ((r, changed, ms)))
    val stats = comp.agg(
      count(lit(1)).as("nodes"),
      countDistinct(col("component")).as("components"),
      max(col("n_members")).as("max_component")).collect()(0)
    val ccSec = (System.nanoTime() - t1) / 1e9
    Queries.releaseCaches()

    val roundMs = rounds.map(_._3).mkString("[", ",", "]")
    val changed = rounds.map(_._2).mkString("[", ",", "]")
    println(s"""{"job":"dedup_scale","docs":$nDocs,"pairs":$nPairs,""" +
      s""""pairs_sec":${math.round(pairsSec * 1000) / 1000.0},""" +
      s""""rounds":${rounds.length},"round_ms":$roundMs,"changed":$changed,""" +
      s""""cc_sec":${math.round(ccSec * 1000) / 1000.0},""" +
      s""""nodes":${stats.getLong(0)},"components":${stats.getLong(1)},""" +
      s""""max_component":${stats.getLong(2)},""" +
      s""""total_sec":${math.round((System.nanoTime() - t0) / 1e6) / 1000.0}}""")
    spark.stop()
  }
}
