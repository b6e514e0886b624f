package graft.jobs

import graft.sources.{Warc, WarcGen}
import graft.storage.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable crawl ingestion: WARC files → HTTP unwrap → charset decode →
  * LENIENT DOM parse → main-content spans, with per-FILE lineage commits —
  * the north rule's checkpoint/resume shape applied at the crawl container
  * boundary (the [[ExtractJob]] pattern one source earlier). Pages that
  * fail even the lenient parse are QUARANTINED per page (`kind = "error"`
  * rows, counted in lineage `error_count`), never per file.
  *
  * The WARC FILE is the resume unit because it is the atomic unit of crawl
  * ingest: a gzip member stream has no safe split point, so a task owns a
  * whole file and `partition_id` = file index. Files run in groups through
  * [[ExtractJob.resumable]] (bucket = file index), so a kill loses at most
  * one group and a rerun skips committed files.
  *
  * Input synthesis ([[WarcGen]]) is itself resumable and idempotent: each
  * missing file writes via tmp + atomic rename, derived only from (seed,
  * file index), so a crashed materialization just fills the gaps on rerun.
  *
  * At production scale the same plan holds: the `binaryFile` scan of one
  * group reads exactly that group's paths (pruning by construction), each
  * 1 GiB segment parses STREAMING inside its task (peak memory one record,
  * see [[Warc]]), and per-file skew — one segment with huge pages — is
  * bounded by the crawl's own file-size cap, the property that makes
  * file-granular scheduling safe on a 1000-executor cluster.
  */
object WarcIngestJob {

  final case class Args(
      files: Int = 48,
      pagesPerFile: Int = 40,
      seed: Long = 42L,
      out: String = "/tmp/graft_warc",
      groupSize: Int = 16,
      cores: String = ExtractJob.DefaultCores,
      failAfterGroups: Int = -1, // test hook: crash BEFORE a group's write
      nest: Boolean = true, // publish the docs-shaped snapshot once complete
      clock: () => Long = () => System.currentTimeMillis())

  def crawlDir(out: String): String = s"$out/crawl"

  private type SpanRow = (Int, String, Int, String, String, String)

  /** Iterator-level quarantine for a TORN FILE: [[Warc.records]] inflates
    * and frames lazily, so a truncated gzip member or malformed record
    * header throws from the iterator's own advance — OUTSIDE any per-page
    * try. This guard turns that into "every good record before the tear,
    * plus ONE kind=error row", so a corrupt segment costs one row, never a
    * permanently-failing task that wedges the resumable job on the same
    * uncommitted file forever.
    */
  private def tornFileGuard(mkIt: => Iterator[SpanRow], fileIdx: Int,
      name: String): Iterator[SpanRow] = new Iterator[SpanRow] {
    private var pending: Option[SpanRow] = None
    private var dead = false
    private def errRow(e: Throwable): SpanRow =
      (fileIdx, s"warcfile:$name", -1, "error",
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}", "")
    // by-name: Warc.records eagerly parses record 0 (the record iterator's
    // constructor advances, and GZIPInputStream validates the gzip header
    // in ITS constructor) — a tear in the first record or a corrupt header
    // must quarantine exactly like a mid-file tear, not escape the guard
    private val it: Iterator[SpanRow] =
      try mkIt catch { case scala.util.control.NonFatal(e) =>
        pending = Some(errRow(e)); dead = true; Iterator.empty
      }
    def hasNext: Boolean = pending.nonEmpty || (!dead &&
      (try it.hasNext catch { case scala.util.control.NonFatal(e) =>
        pending = Some(errRow(e)); dead = true; true
      }))
    def next(): SpanRow = pending match {
      case Some(row) => pending = None; row
      case None =>
        try it.next() catch { case scala.util.control.NonFatal(e) =>
          dead = true; errRow(e)
        }
    }
  }

  def filePath(out: String, fileIdx: Int): String =
    f"${crawlDir(out)}/part-$fileIdx%05d.warc.gz"

  /** Idempotent distributed materialization of the synthetic crawl: every
    * missing file is generated from (seed, file index) and lands via
    * tmp + atomic rename, so concurrent tasks and rerun-after-crash both
    * converge on the same bytes.
    */
  def materializeCrawl(spark: SparkSession, args: Args): Unit = {
    import spark.implicits._
    new java.io.File(crawlDir(args.out)).mkdirs()
    val (out, pages, seed) = (args.out, args.pagesPerFile, args.seed)
    spark.range(args.files).as[Long].foreachPartition { it: Iterator[Long] =>
      it.foreach { f =>
        val target = java.nio.file.Paths.get(filePath(out, f.toInt))
        if (!java.nio.file.Files.exists(target)) {
          val tmp = java.nio.file.Paths.get(
            s"${target.toString}.tmp-${java.util.UUID.randomUUID()}")
          java.nio.file.Files.write(tmp, WarcGen.fileBytes(f.toInt, pages, seed))
          try java.nio.file.Files.move(tmp, target,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { // another attempt won the rename race: its bytes are identical
            case _: java.nio.file.FileAlreadyExistsException =>
              java.nio.file.Files.deleteIfExists(tmp)
          }
        }
      }
    }
  }

  /** The span and link rows of the crawl files at `paths`: columns
    * (bucket = file index, uri, offset, kind, text, media_ref). A
    * repartition would shuffle the file BYTES (gigabytes per group at
    * production segment sizes); instead the scan hands each task whole
    * files with zero data movement — `binaryFile` never splits a file, and
    * the planner packs files only up to its split size (at most 128 MiB,
    * at least the 4 MiB open cost), so a production segment is one task
    * and small files share one. The default split conf suffices, so there
    * is no conf to isolate on a cloned session (whose fresh session state
    * cost ~0.2 s per call).
    */
  def pageRows(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(paths: _*)
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (name, b) => fileRows(name, b) }
      .toDF("bucket", "uri", "offset", "kind", "text", "media_ref")
  }

  /** One crawl file's rows. LENIENT parse (real-web html omits close tags)
    * with a per-PAGE quarantine: a page whose decode/parse/extraction still
    * fails emits one `kind = "error"` row (offset −1) instead of killing
    * the file's task — at crawl scale a single broken capture must cost
    * one row, not a job. Error rows live in the same bucket partition
    * (downstream filters `offset >= 0`) and are counted per file in
    * lineage `error_count`. ONE parse per page feeds BOTH outputs:
    * main-content spans and the page's followable outlinks (resolved +
    * canonicalized here, where the page URI is in hand). Link rows share
    * the span table — `kind = "link"`, text = the canonical target,
    * media_ref = its host — so the crawl is read and parsed exactly once;
    * the frontier publish is a pure aggregation over committed rows.
    */
  private def fileRows(name: String, b: Array[Byte]): Iterator[SpanRow] = {
    val fileIdx = name.stripPrefix("part-").stripSuffix(".warc.gz").toInt
    tornFileGuard(Warc.records(b).filter(Warc.isHtml200).flatMap { r =>
      try {
        val dom = graft.text.HtmlDom.parse(Warc.decodeHtml(r), lenient = true)
        val spanRows = graft.text.MainContent.extract(dom).spans
          .map(s => (fileIdx, r.targetUri, s.offset, s.kind, s.text, s.media_ref))
        val linkRows = graft.text.PageMeta.of(dom).links.iterator
          .filterNot(_.noFollow)
          .flatMap(l => graft.text.UrlResolve.normalizeHttp(
            graft.text.UrlResolve.resolve(r.targetUri, l.href)))
          .zipWithIndex
          .map { case (u, i) =>
            (fileIdx, r.targetUri, i, "link", u, graft.text.UrlResolve.hostOf(u))
          }
        // a page that parses cleanly but yields ZERO content spans must
        // still be visible in lineage (doc_count) — without a marker it
        // vanished from the job's accounting entirely (neither a doc
        // nor an error). offset −1 keeps it out of every offset >= 0
        // consumer, like the error quarantine rows.
        val marker =
          if (spanRows.isEmpty)
            Seq((fileIdx, r.targetUri, -1, "empty", "", ""))
          else Seq.empty
        spanRows ++ linkRows ++ marker
      } catch { case scala.util.control.NonFatal(e) =>
        Seq((fileIdx, r.targetUri, -1,
          "error", s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(200), ""))
      }
    }, fileIdx, name)
  }

  /** One resumable run. Its input snapshot id hashes `seed` and
    * `pagesPerFile`, which fix every file's bytes, but not `files`: a grow
    * rerun extends the same crawl. The crawl is materialized once a file is
    * left to ingest, so a rerun over other input throws before writing.
    * Returns (processedFiles, extractedPages, quarantinedPages).
    */
  def run(spark: SparkSession, args: Args): (Int, Long, Long) = {
    lazy val crawl = materializeCrawl(spark, args)
    val stats = ExtractJob.UnitStats(
      spans = !col("kind").isin("error", "link", "empty"),
      // zero-span pages count as processed pages via their marker row
      docs = (col("offset") === 0 && col("kind") =!= "link") || col("kind") === "empty",
      errors = col("kind") === "error",
      hashed = col("offset") === 0 && col("kind") =!= "link",
      key = col("uri"))
    val rows = ExtractJob.resumable(spark, args.out, 0 until args.files, args.groupSize,
        Lineage.inputId(args.seed, args.pagesPerFile), args.failAfterGroups,
        failAfterWrite = -1, args.clock) { (group, _, _) =>
      crawl
      // the scan reads EXACTLY this group's files — path-list pruning
      ExtractJob.GroupWrite(pageRows(spark, group.map(f => filePath(args.out, f))),
        s"${args.out}/data", Some("bucket"), stats)
    }
    // once EVERY file is committed, publish the docs-shaped snapshot AND
    // the crawl frontier for the next fetch wave. Snapshot directories are
    // IMMUTABLE once committed, so a GROW rerun (--files larger over a
    // completed output) publishes at the NEXT id instead of overwriting
    // snapshot-<seed> in place (the first complete run still publishes at
    // the seed). The marker records how many files the last successful
    // publish covered, making the gate exact: a no-op rerun skips, a grow
    // rerun republishes, and a crash between the two publishes republishes
    // BOTH at a fresh id — a torn docs/frontier pair never becomes latest.
    if (args.nest &&
        Lineage.committedPartitions(spark, args.out).size == args.files) {
      val marker = java.nio.file.Paths.get(s"${args.out}/published_files")
      val published =
        if (java.nio.file.Files.exists(marker))
          java.nio.file.Files.readString(marker).trim.toLong
        else -1L
      if (published != args.files) {
        val id = graft.storage.Snapshots.latest(s"${args.out}/docs")
          .map(l => math.max(l + 1, args.seed)).getOrElse(args.seed)
        nestDocs(spark, args.out, id)
        publishFrontier(spark, args.out, id)
        val tmp = java.nio.file.Paths.get(s"${args.out}/.published_files.tmp")
        java.nio.file.Files.writeString(tmp, args.files.toString)
        java.nio.file.Files.move(tmp, marker,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    (rows.size, rows.map(_.doc_count).sum, rows.map(_.error_count).sum)
  }

  /** Publish the next fetch wave's input: every followable outlink the
    * ingest pass emitted, deduped with a reference count — `(url, host,
    * n_refs)`, the same shape the catalog's `q_warc_frontier` builds and
    * `q_warc_schedule`/`q_warc_robots` consume. Link extraction happened
    * inside the (resumable, committed) ingest pass, so this is one
    * hash-agg over committed rows — the crawl is never re-read or
    * re-parsed to build its own continuation.
    */
  def publishFrontier(spark: SparkSession, out: String, snapshotId: Long): Unit = {
    val frontier = spark.read.parquet(s"$out/data")
      .filter(col("kind") === "link")
      .groupBy(col("text").as("url"), col("media_ref").as("host"))
      .agg(count(lit(1)).as("n_refs"))
    graft.storage.Snapshots.commit(frontier, s"$out/frontier", snapshotId)
  }

  /** Bridge the committed flat span table into the input_hint DOCS shape —
    * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`
    * with doc_id = page uri and spans in offset order — committed as a
    * [[Snapshots]] snapshot, so the crawl output IS a valid input table
    * for every docs-shaped consumer (the extraction flagship's contract).
    * Quarantined `kind = "error"` rows are excluded. One shuffle, keyed by
    * uri — the grouping is per page, so skew is bounded by the largest
    * single page, and the nested row's size by that page's span count.
    */
  def nestDocs(spark: SparkSession, out: String, snapshotId: Long): Unit = {
    val flat = spark.read.parquet(s"$out/data")
      .filter(col("offset") >= 0 && col("kind") =!= "link")
    val docs = flat
      .groupBy(col("uri").as("doc_id"))
      // array_sort on the struct sorts by its FIRST field — offset — which
      // is why the collect struct leads with it; the transform then
      // reorders fields to the input_hint's (kind, text, media_ref, offset)
      .agg(array_sort(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("s0"))
      .select(col("doc_id"),
        expr("transform(s0, x -> struct(x.kind AS kind, x.text AS text, " +
          "x.media_ref AS media_ref, x.offset AS offset))").as("spans"))
    graft.storage.Snapshots.commit(docs, s"$out/docs", snapshotId)
  }

  def main(argv: Array[String]): Unit = {
    var args = Args()
    argv.sliding(2, 2).foreach {
      case Array("--files", v) => args = args.copy(files = v.toInt)
      case Array("--pages-per-file", v) => args = args.copy(pagesPerFile = v.toInt)
      case Array("--seed", v) => args = args.copy(seed = v.toLong)
      case Array("--out", v) => args = args.copy(out = v)
      case Array("--group-size", v) => args = args.copy(groupSize = v.toInt)
      case Array("--cores", v) => args = args.copy(cores = v)
      case Array("--fail-after", v) => args = args.copy(failAfterGroups = v.toInt)
      case Array("--nest", v) => args = args.copy(nest = v.toBoolean)
      case other => throw new IllegalArgumentException(other.mkString(" "))
    }
    val spark = ExtractJob.session(args.cores)
    val t0 = System.nanoTime()
    val (files, pages, errors) = run(spark, args)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"warcingest","files":$files,"pages":$pages,"quarantined":$errors,"sec":$sec%.3f,"pages_per_sec":${pages / math.max(sec, 1e-9)}%.1f}""")
    spark.stop()
  }
}
