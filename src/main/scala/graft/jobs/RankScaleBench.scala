package graft.jobs

import graft.ops.Queries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-tier evidence for the link-authority loop (`q_warc_rank`): the same
  * [[graft.ops.Queries.linkRankFrom]] ten-iteration integer PageRank the
  * catalog runs on the fixture graph, driven over a synthetic web-shaped
  * host graph — uniform sources, QUADRATICALLY skewed targets (the head
  * host absorbs in-links from everywhere, the authority skew real link
  * graphs have), self-edges dropped, distinct. One tier per JVM so tiers
  * don't share JIT/page-cache state; run it at E and 4E edges and compare
  * wall growth (the loop's per-round cost is one node-table shuffle + one
  * map-side-combined contribution agg over cached never-reshuffled edges,
  * so wall should grow sub-linearly in edges until the agg dominates).
  *
  * Run: `runMain graft.jobs.RankScaleBench [hosts] [edges] [cores]`
  * → one JSON line {hosts, edges, iters, build_sec, rank_sec, edge_iters_per_sec}.
  */
object RankScaleBench {

  /** Deterministic skewed edge sample: src uniform over hosts, dst drawn by
    * inverse-CDF u² so host 0 is the max-authority head (hash-derived u —
    * no RNG state, same graph every run).
    */
  def synthEdges(spark: SparkSession, hosts: Long, edges: Long): DataFrame =
    spark.range(edges).select(
        expr(s"pmod(hash(id, 11), ${hosts}L)").as("src"),
        expr(s"CAST(pow(pmod(hash(id, 13), 1000000) / 1000000.0, 2.0) * $hosts AS BIGINT)")
          .as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  def main(args: Array[String]): Unit = {
    val hosts = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nEdges = args.lift(1).map(_.toLong).getOrElse(4000000L)
    val spark = ExtractJob.session(args.lift(2).getOrElse(ExtractJob.DefaultCores))

    val t0 = System.nanoTime()
    val edges = synthEdges(spark, hosts, nEdges)
    val realEdges = edges.count() // materialize the distinct graph
    val buildSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val ranks = Queries.linkRankFrom(spark, edges)
    // consume: total surviving mass + node count (order-independent sums)
    val row = ranks.agg(sum(col("rank")), count(lit(1))).collect()(0)
    val rankSec = (System.nanoTime() - t1) / 1e9
    val mass = if (row.isNullAt(0)) 0L else row.getLong(0)
    val nNodes = row.getLong(1)
    Queries.releaseCaches()

    println(
      f"""{"job":"rankscale","hosts":$nNodes,"edges":$realEdges,"iters":${Queries.RankIters},"build_sec":$buildSec%.3f,"rank_sec":$rankSec%.3f,"edge_iters_per_sec":${realEdges.toDouble * Queries.RankIters / rankSec}%.0f,"mass":$mass}""")
    spark.stop()
  }
}
