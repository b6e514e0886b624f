package graft.jobs

import graft.sources.Warc
import org.apache.spark.sql.functions._

/** N-vs-4N scaling legs for the CRAWL chain (WARC → HTTP unwrap → charset →
  * LENIENT DOM parse → main-content spans + outlinks) — the round-5
  * ingestion path measured under the same executor-model protocol as
  * [[ScalingBench]] (BENCH.md §1): one leg per JVM, pinned cores,
  * ParallelGC via tools/crawlscale.sh, the host-weather probe in a
  * SEPARATE JVM. The measured loop MIRRORS [[WarcIngestJob]]'s shipped
  * per-page work exactly: one lenient parse feeding both main-content
  * extraction and resolved/canonicalized link extraction, broken pages
  * quarantined per page — so the throughput number is the chain users
  * actually run, links included.
  *
  * The synthetic crawl ([[graft.sources.WarcGen]]) is materialized ONCE,
  * untimed, shared across legs (idempotent atomic-rename writes make
  * concurrent materialization safe); each timed run does
  * read → parse → extract → count, no output write — isolating the
  * per-page extraction cost the north rule's throughput number is about.
  * `spark.sql.files.maxPartitionBytes` is set below the file size so the
  * binaryFile scan yields ONE FILE PER PARTITION without a repartition
  * shuffle (the file is the work unit; packing several per task would
  * serialize them).
  *
  * Run: `tools/crawlscale.sh <cpuset> <cores> <files> <pagesPerFile> <repeats>`
  */
object CrawlScaleBench {

  def main(argv: Array[String]): Unit = {
    val cores = if (argv.length > 0) argv(0) else "2"
    val files = if (argv.length > 1) argv(1).toInt else 256
    val pagesPerFile = if (argv.length > 2) argv(2).toInt else 200
    val repeats = if (argv.length > 3) argv(3).toInt else 3

    val spark = ExtractJob.session(cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", (4 * 1024 * 1024).toString)
    import spark.implicits._

    // shared, deterministic, untimed input (the role of the input snapshot)
    val root = s"/tmp/graft_crawlbench_${files}x$pagesPerFile"
    WarcIngestJob.materializeCrawl(spark,
      WarcIngestJob.Args(files = files, pagesPerFile = pagesPerFile, out = root))

    def once(): (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val row = spark.read.format("binaryFile")
        .load(WarcIngestJob.crawlDir(root))
        .select(col("content")).as[Array[Byte]]
        .flatMap { b =>
          Warc.records(b).filter(Warc.isHtml200).flatMap { r =>
            try {
              val dom = graft.text.HtmlDom.parse(Warc.decodeHtml(r), lenient = true)
              val spanRows = graft.text.MainContent.extract(dom).spans
                .map(s => (r.targetUri, s.offset, false))
              val linkRows = graft.text.PageMeta.of(dom).links.iterator
                .filterNot(_.noFollow)
                .flatMap(l => graft.text.UrlResolve.normalizeHttp(
                  graft.text.UrlResolve.resolve(r.targetUri, l.href)))
                .map(u => (u, 0, true))
              spanRows ++ linkRows
            } catch {
              case scala.util.control.NonFatal(_) => Seq((r.targetUri, -1, false))
            }
          }
        }
        .toDF("uri", "offset", "is_link")
        .agg(
          sum(when(!col("is_link") && col("offset") >= 0, 1L).otherwise(0L)).as("spans"),
          sum(when(!col("is_link") && col("offset") === 0, 1L).otherwise(0L)).as("pages"),
          sum(when(col("is_link"), 1L).otherwise(0L)).as("links"))
        .collect()(0)
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, row.getAs[Long]("pages"), row.getAs[Long]("spans"), row.getAs[Long]("links"))
    }

    once(); once() // JIT/codegen warm-up, untimed
    val runs = (1 to repeats).map(_ => once())
    val (sec, pages, spans, links) = runs.minBy(_._1)
    println(f"""{"bench":"crawl_scale","cores":"$cores","files":$files,"pages":$pages,"spans":$spans,"links":$links,"sec":$sec%.3f,"pages_per_sec":${pages / sec}%.1f,"spans_per_sec":${spans / sec}%.1f}""")
    spark.stop()
  }
}
