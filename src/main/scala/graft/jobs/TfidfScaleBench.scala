package graft.jobs

import graft.ops.{CacheTracker, Queries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-tier adjudication for the retrieval query's plan shape
  * ([[graft.ops.Queries.tfidfRankFrom]]): filter-before-aggregate — the
  * broadcast query-term list prunes the exploded postings MAP-SIDE, so the
  * term-frequency Exchange carries only query-term postings — measured
  * against the naive inverted-index build that aggregates tf over EVERY
  * (term, doc) pair first and joins the query terms afterwards. On a
  * corpus where query terms are a small fraction of all instances (the
  * production regime: a handful of probe terms against a web corpus), the
  * naive plan shuffles the whole token stream to build postings it then
  * throws away. Both plans produce the identical top-k (asserted exactly);
  * results land in BENCH.md.
  *
  * Run: `runMain graft.jobs.TfidfScaleBench [nDocs] [cores]`
  * → one JSON line {docs, tokens, hit_frac, filtered_sec, naive_sec}.
  */
object TfidfScaleBench {

  val WordsPerDoc = 40
  val TailVocab = 50000

  /** Deterministic corpus: each word position draws h = hash(id, j);
    * h ≡ 0 (mod 16) → one of the 7 catalog query terms (~6% of instances —
    * query-term postings stay a small fraction, the regime the map-side
    * filter exists for), otherwise one of [[TailVocab]] tail tokens.
    */
  def synth(spark: SparkSession, n: Long): DataFrame = {
    val qterms = Queries.TfidfQueries.map(_._2).distinct
    spark.range(n).select(col("id").as("doc_id"),
      expr(
        s"""concat_ws(' ', transform(sequence(0, ${WordsPerDoc - 1}), j ->
           |  IF(pmod(hash(CAST(id AS INT), j), 16) = 0,
           |     element_at(array(${qterms.map("'" + _ + "'").mkString(",")}),
           |                pmod(hash(CAST(id AS INT), j, 1), ${qterms.length}) + 1),
           |     concat('t', pmod(hash(CAST(id AS INT), j, 2), $TailVocab)))))""".stripMargin)
        .as("text"))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))
    import spark.implicits._

    val docs = CacheTracker.track(
      synth(spark, nDocs).repartition(spark.sparkContext.defaultParallelism))
    docs.count()

    val qterms = Queries.TfidfQueries.map(_._2).distinct
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val stats = toks.agg(count(lit(1)),
      sum(when(col("term").isin(qterms: _*), 1L).otherwise(0L))).collect()(0)
    val (nTok, nHit) = (stats.getLong(0), stats.getLong(1))

    // catalog plan: broadcast terms filter the postings before the tf Exchange.
    // NO release between the timed runs: releaseAll() drains the whole
    // thread-local registry, including the shared `docs` cache — the naive
    // leg would then re-synthesize and re-shuffle the corpus the filtered
    // leg read from cache, biasing the A/B (both legs must read the same
    // materialized input; everything is released once after both timings)
    val t0 = System.nanoTime()
    val filtered = Queries.tfidfRankFrom(spark, docs).collect()
    val filteredSec = (System.nanoTime() - t0) / 1e9

    // naive plan: full-corpus inverted index first (tf over EVERY (term,
    // doc) pair — the whole token stream rides the Exchange), query terms
    // joined after; the scoring tail is the SHARED Queries.tfidfScoreAndRank
    // core, so "identical arithmetic" holds by construction — only the tf
    // construction differs between the legs
    val t1 = System.nanoTime()
    val tfAll = CacheTracker.track(
      toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .join(broadcast(qterms.toDF("term")), "term"))
    val naive = Queries.tfidfScoreAndRank(tfAll, nDocs).collect()
    val naiveSec = (System.nanoTime() - t1) / 1e9
    CacheTracker.releaseAll()

    require(filtered.toSeq == naive.toSeq,
      "naive inverted-index result diverged from the filtered plan")

    println(s"""{"job":"tfidf_scale","docs":$nDocs,"tokens":$nTok,""" +
      s""""hit_frac":${math.round(nHit * 10000.0 / nTok) / 10000.0},""" +
      s""""filtered_sec":${math.round(filteredSec * 1000) / 1000.0},""" +
      s""""naive_sec":${math.round(naiveSec * 1000) / 1000.0}}""")
    spark.stop()
  }
}
