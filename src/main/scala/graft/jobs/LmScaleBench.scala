package graft.jobs

import graft.ops.{CacheTracker, Queries}
import org.apache.spark.sql.functions._

/** Scale-tier evidence for the LM quality filter's structural claim
  * ([[graft.ops.Queries.lmQualityFrom]]): the model is a FIXED
  * reference-corpus artifact, so scoring a 10× corpus pays 10× row-local
  * work and nothing else — the model trains once from the bounded slice,
  * broadcasts, and the scored corpus never shuffles on a gram key (the
  * only exchange is one collapsed row per doc into the per-doc mean).
  *
  * Setup mirrors the CCNet regime: a [[TrainDocs]]-doc reference slice
  * (CONSTANT across tiers — Wikipedia does not grow when the crawl does)
  * trains the bigram backoff model; the scored corpus is
  * [[BpeScaleBench.synth]]'s Zipf-headed text at the requested tier
  * with a deterministic 1-in-97 out-of-vocabulary gibberish plant
  * (md5-fragment tokens — the wrong-language/binary class the filter
  * drops). Every run REQUIRES the semantic invariant alongside the
  * timing: every plant scores the exact all-backoff floor of 0 with zero
  * model-bigram hits, every clean doc scores positive.
  *
  * Run: `runMain graft.jobs.LmScaleBench [nDocs] [cores]`
  * → one JSON line {docs, train_docs, model_bigrams, plants, sec,
  *   docs_per_sec}.
  */
object LmScaleBench {

  val TrainDocs = 20000L

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))

    // reference slice: constant size at every tier (ids disjoint from the
    // scored corpus — the model corpus is a separate curated artifact)
    val train = BpeScaleBench.synth(spark, TrainDocs)
    // scored corpus: clean tier + 1-in-97 OOV gibberish twins (flagged by
    // the id range, like the catalog query's +600000 plants)
    val clean = BpeScaleBench.synth(spark, nDocs)
    val plants = clean.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + nDocs).as("doc_id"),
        expr("array_join(transform(split(text, ' '), w -> substring(md5(w), 1, 6)), ' ')")
          .as("text"))
    val docs = CacheTracker.track(clean.unionAll(plants)
      .repartition(spark.sparkContext.defaultParallelism))
    val total = docs.count()
    val nPlants = total - nDocs

    val t0 = System.nanoTime()
    val scored = Queries.lmQualityFrom(train, docs)
    // one aggregation pass both times the work AND checks the invariant —
    // plants must sit at the exact backoff floor, clean docs above it
    val agg = scored.agg(
      sum(when(col("doc_id") >= nDocs && (col("mean_p_micro") > 0 || col("bigram_hits") > 0), 1L)
        .otherwise(0L)).as("bad_plants"),
      sum(when(col("doc_id") < nDocs && col("mean_p_micro") <= 0, 1L).otherwise(0L))
        .as("bad_clean"),
      count(lit(1)).as("rows")).collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    require(agg.getLong(0) == 0L, s"${agg.getLong(0)} plants scored above the backoff floor")
    require(agg.getLong(1) == 0L, s"${agg.getLong(1)} clean docs scored zero")
    require(agg.getLong(2) == total, s"scored ${agg.getLong(2)} of $total docs")

    // model size: the bounded artifact the broadcast claim rests on
    // (recomputed outside the timed pass, same construction as the core)
    val modelBigrams = train
      .select(split(col("text"), " ").as("words"))
      .select(explode(expr(
        """transform(sequence(0, size(words) - 2),
          |  i -> named_struct('w1', element_at(words, i + 1), 'w2', element_at(words, i + 2)))"""
          .stripMargin)).as("g"))
      .groupBy(col("g.w1"), col("g.w2")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= Queries.LmPruneMinCount)
      .count()
    CacheTracker.releaseAll()

    println(s"""{"job":"lm_scale","docs":$nDocs,"train_docs":$TrainDocs,""" +
      s""""model_bigrams":$modelBigrams,"plants":$nPlants,""" +
      s""""sec":${math.round(sec * 1000) / 1000.0},""" +
      s""""docs_per_sec":${math.round(total / sec)}}""")
    spark.stop()
  }
}
