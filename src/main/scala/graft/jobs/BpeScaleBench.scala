package graft.jobs

import graft.ops.{CacheTracker, Queries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-tier evidence for the BPE trainer's vocabulary-bounded loop: the
  * corpus-scale cost is ONE word-count aggregation, and every merge round
  * runs over the bounded distinct-word table. [[synth]]'s Zipf-headed
  * corpus has a ~50k-word vocabulary REGARDLESS of row count,
  * so scaling docs 10× should scale the corpus pass while the merge rounds
  * stay FLAT — the signature of the shape that lets tokenizer training run
  * over 10^12 docs (the loop never re-reads the corpus). Results land in
  * BENCH.md.
  *
  * Run: `runMain graft.jobs.BpeScaleBench [nDocs] [cores]` → one JSON line
  * {docs, vocab, merges, corpus_pass_sec, rounds_sec, round_avg_sec}.
  */
object BpeScaleBench {

  val WordsPerDoc = 40
  val TailVocab = 50000

  /** Deterministic Zipf-headed corpus: each word position draws h =
    * hash(id, j); h even → one of 4 head tokens (50% of ALL instances),
    * h odd → one of [[TailVocab]] tail tokens (~200 instances each at
    * 500k docs — the bounded tail).
    */
  def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      expr(
        s"""concat_ws(' ', transform(sequence(0, ${WordsPerDoc - 1}), j ->
           |  IF(pmod(hash(CAST(id AS INT), j), 2) = 0,
           |     element_at(array('the','of','and','to'), pmod(hash(CAST(id AS INT), j, 1), 4) + 1),
           |     concat('t', pmod(hash(CAST(id AS INT), j, 2), $TailVocab)))))""".stripMargin)
        .as("text"))

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))

    val docs = CacheTracker.track(synth(spark, nDocs))
    docs.count() // input off the clock

    var vocab = 0L
    var corpusPassMs = 0L
    var roundsMs = 0L
    var rounds = 0
    val merges = Queries.bpeMergesFrom(spark, docs, (step, detail, ms) =>
      if (step == 0) { vocab = detail; corpusPassMs = ms }
      else { roundsMs += ms; rounds = step }).collect()
    require(merges.length == Queries.BpeMergeRounds,
      s"expected ${Queries.BpeMergeRounds} merges, got ${merges.length}")
    CacheTracker.releaseAll()
    println(f"""{"bench":"bpe","docs":$nDocs,"vocab":$vocab,"merges":$rounds,""" +
      f""""corpus_pass_sec":${corpusPassMs / 1000.0}%.3f,"rounds_sec":${roundsMs / 1000.0}%.3f,""" +
      f""""round_avg_sec":${roundsMs / 1000.0 / math.max(1, rounds)}%.3f}""")
    spark.stop()
  }
}
