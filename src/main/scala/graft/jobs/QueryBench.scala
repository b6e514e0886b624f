package graft.jobs

/** Time individual catalog queries by name (cold + warm in one JVM) —
  * the per-query magnifying glass next to `graft.Bench`'s full catalog.
  *
  * `runMain graft.jobs.QueryBench <name> [<name> ...]`; data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1), session from [[ExtractJob.session]].
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: QueryBench <query> ...; known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ExtractJob.session()
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        graft.ops.Queries.releaseCaches()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"""{"query":"$name","rows":${times.head._2},"cold_sec":${times(0)._1}%.3f,"warm_sec":${times(1)._1}%.3f}""")
    }
    spark.stop()
  }
}
