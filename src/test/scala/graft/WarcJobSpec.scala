package graft

import graft.jobs.WarcIngestJob
import graft.sources.WarcGen
import graft.storage.Lineage
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Resumable crawl ingestion: crash/resume/no-op over file-granular lineage,
  * span content differential vs [[WarcGen]]'s construction-derived
  * expectation, and idempotent crawl materialization.
  */
class WarcJobSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String = Files.createTempDirectory("graft_warc").toString

  private val Files_ = 6
  private val Pages = 12

  private def args(out: String, failAfter: Int = -1) =
    WarcIngestJob.Args(files = Files_, pagesPerFile = Pages, out = out,
      groupSize = 2, failAfterGroups = failAfter, clock = () => 1000L)

  private def dataSorted(out: String): Vector[Seq[Any]] =
    spark.read.parquet(s"$out/data")
      .select("bucket", "uri", "offset", "kind", "text", "media_ref")
      .collect().map(_.toSeq.map {
        case i: Int => i.toLong // partition column may read back widened
        case l: Long => l
        case x => x
      }).toVector.sortBy(_.mkString("\u0000"))

  test("crash/resume/no-op over file-granular lineage; resumed output equals one-shot") {
    val outA = tmpDir() // crash + resume
    val outB = tmpDir() // single clean run
    intercept[RuntimeException](WarcIngestJob.run(spark, args(outA, failAfter = 1)))
    assert(Lineage.committedPartitions(spark, outA) == Set(0, 1)) // one group of 2
    val (resumedFiles, _, _) = WarcIngestJob.run(spark, args(outA))
    assert(resumedFiles == Files_ - 2) // committed files were NOT recomputed
    val (noopFiles, noopPages, _) = WarcIngestJob.run(spark, args(outA))
    assert(noopFiles == 0 && noopPages == 0L)

    val (cleanFiles, cleanPages, cleanErrors) = WarcIngestJob.run(spark, args(outB))
    assert(cleanFiles == Files_)
    assert(dataSorted(outA) == dataSorted(outB))

    // lineage: one row per file; page/error counts match the construction
    val rows = Lineage.read(spark, outA).collect().sortBy(_.partition_id)
    assert(rows.map(_.partition_id).toSeq == (0 until Files_))
    val expPages = (0 until Files_)
      .map(f => WarcGen.extractablePageIds(f, Pages).size.toLong)
    val expErrors = (0 until Files_)
      .map(f => WarcGen.htmlPageIds(f, Pages).count(WarcGen.isBroken).toLong)
    assert(rows.map(_.doc_count).toSeq == expPages)
    assert(rows.map(_.error_count).toSeq == expErrors)
    assert(cleanPages == expPages.sum)
    assert(expErrors.sum > 0 && cleanErrors == expErrors.sum) // quarantine exercised
  }

  test("extracted spans equal the construction-derived expectation; broken pages quarantine") {
    val out = tmpDir()
    WarcIngestJob.run(spark, args(out))
    val all = dataSorted(out)
    val (errRows, gotAll) = all.partition(_(3) == "error")
    val (linkRows, got) = gotAll.partition(_(3) == "link")
    val exp = (0 until Files_).flatMap { f =>
      WarcGen.extractablePageIds(f, Pages).flatMap { p =>
        WarcGen.expectedSpans(p, 42L).map(s =>
          Seq[Any](f.toLong, WarcGen.uriOf(p), s.offset.toLong, s.kind, s.text, s.media_ref))
      }
    }.toVector.sortBy(_.mkString(" "))
    // offsets read back as Int from parquet: normalize both sides
    val gotN = got.map(_.map { case l: Long => l; case i: Int => i.toLong; case x => x })
    val expN = exp.map(_.map { case l: Long => l; case i: Int => i.toLong; case x => x })
    assert(gotN == expN)
    // sloppy (unclosed-<p>) pages are IN the extracted set with full spans:
    // the lenient parser recovered the identical tree
    val sloppyUris = (0 until Files_ * Pages).map(_.toLong)
      .filter(WarcGen.isSloppy).map(WarcGen.uriOf).toSet
    assert(sloppyUris.nonEmpty)
    assert(sloppyUris.subsetOf(got.map(_(1).asInstanceOf[String]).toSet))
    // broken pages produced exactly one quarantine row each, offset -1
    val brokenUris = (0 until Files_ * Pages).map(_.toLong)
      .filter(WarcGen.isBroken).map(WarcGen.uriOf).toSet
    assert(brokenUris.nonEmpty)
    assert(errRows.map(_(1).asInstanceOf[String]).toSet == brokenUris)
    assert(errRows.size == brokenUris.size)
    assert(errRows.forall(r => r(2) == -1L && r(4).asInstanceOf[String].nonEmpty))
    // planted non-extractable pages (json / 404) produced no rows at all
    val jsonOr404 = (0 until Files_ * Pages).map(_.toLong)
      .filter(p => WarcGen.isJson(p) || WarcGen.is404(p)).map(WarcGen.uriOf).toSet
    assert(jsonOr404.nonEmpty)
    assert(!all.exists(r => jsonOr404.contains(r(1).asInstanceOf[String])))
    // link rows came from exactly the parsed pages (quarantined pages
    // contribute none) and carry canonical targets with their host
    assert(linkRows.map(_(1).asInstanceOf[String]).toSet ==
      got.map(_(1).asInstanceOf[String]).toSet)
    assert(linkRows.forall(_(4).asInstanceOf[String].startsWith("https://")))
  }

  test("published frontier equals the construction-derived outlink counts") {
    val out = tmpDir()
    WarcIngestJob.run(spark, args(out))
    val frontier = spark.read
      .parquet(s"$out/frontier/snapshot-42")
      .select("url", "host", "n_refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toVector
    // independent derivation: every parsed page's chrome + related hrefs,
    // resolved by construction, counted
    val counts = scala.collection.mutable.Map.empty[String, Long]
    (0 until Files_).foreach { f =>
      WarcGen.extractablePageIds(f, Pages).foreach { p =>
        WarcGen.expectedOutlinks(p, 42L).foreach { u =>
          counts(u) = counts.getOrElse(u, 0L) + 1L
        }
      }
    }
    val exp = counts.toVector
      .map { case (u, n) =>
        (u, u.stripPrefix("https://").takeWhile(_ != '/'), n)
      }
      .sortBy(_._1)
    assert(frontier == exp)
    // chrome URLs are referenced by every parsed page
    val parsed = (0 until Files_).map(WarcGen.extractablePageIds(_, Pages).size).sum
    assert(frontier.exists(r => r._1 == "https://crawl.example/legal" &&
      r._3 == parsed.toLong))
    // the partner-host cadence produced cross-host frontier rows
    assert(frontier.exists(_._2.startsWith("partner-")))
    // a second run is a no-op: the snapshot stays committed and unchanged
    val (files2, _, _) = WarcIngestJob.run(spark, args(out))
    assert(files2 == 0)
    assert(graft.storage.Snapshots.isCommitted(s"$out/frontier", 42L))
  }

  test("docs-shaped snapshot: input_hint schema, offset-ordered spans, no error rows") {
    import org.apache.spark.sql.functions.col
    val out = tmpDir()
    WarcIngestJob.run(spark, args(out))
    val docs = graft.storage.Snapshots.read(spark, s"$out/docs", 42L)
    // the input_hint shape: (doc_id, spans: array<struct<kind,text,media_ref,offset>>)
    assert(docs.schema.fieldNames.toSeq == Seq("doc_id", "spans"))
    val spanFields = docs.schema("spans").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(spanFields == Seq("kind", "text", "media_ref", "offset"))
    val expIds = (0 until Files_).flatMap(f => WarcGen.extractablePageIds(f, Pages))
    assert(docs.count() == expIds.size.toLong)
    // one full page differentially vs the construction, order included
    val p = expIds.find(WarcGen.hasFigure).get
    val row = docs.filter(col("doc_id") === WarcGen.uriOf(p)).collect()(0)
    val got = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    val exp = WarcGen.expectedSpans(p, 42L).map(s => (s.kind, s.text, s.media_ref, s.offset))
    assert(got == exp)
    // quarantined pages are absent from the docs table
    val brokenUris = (0 until Files_ * Pages).map(_.toLong)
      .filter(WarcGen.isBroken).map(WarcGen.uriOf)
    assert(docs.filter(col("doc_id").isInCollection(brokenUris)).count() == 0L)
  }

  test("crawl materialization is idempotent and self-healing") {
    val out = tmpDir()
    val a = args(out)
    WarcIngestJob.materializeCrawl(spark, a)
    val p3 = Paths.get(WarcIngestJob.filePath(out, 3))
    val original = Files.readAllBytes(p3)
    Files.delete(p3)
    WarcIngestJob.materializeCrawl(spark, a) // heals the gap, touches nothing else
    assert(java.util.Arrays.equals(Files.readAllBytes(p3), original))
    assert(java.util.Arrays.equals(original,
      WarcGen.fileBytes(3, Pages, 42L))) // bytes are the pure function of (seed, idx)
  }

  test("a torn gzip member quarantines as ONE file-level error row, never a dead task") {
    val out = tmpDir()
    WarcIngestJob.materializeCrawl(spark, args(out))
    // tear file 2 mid-member: the final record's inflate hits EOF inside
    // the record iterator itself — outside any per-page try
    val p2 = Paths.get(WarcIngestJob.filePath(out, 2))
    val b = Files.readAllBytes(p2)
    Files.write(p2, java.util.Arrays.copyOf(b, b.length - 10))

    val (files, _, errors) = WarcIngestJob.run(spark, args(out))
    assert(files == Files_) // the run COMPLETED — the tear cost a row, not the job
    val all = dataSorted(out)
    val torn = all.filter(r => r(3) == "error" &&
      r(1).asInstanceOf[String].startsWith("warcfile:"))
    assert(torn.size == 1, s"expected one file-level quarantine row, got $torn")
    assert(torn.head(0) == 2L && torn.head(2) == -1L &&
      torn.head(1) == "warcfile:part-00002.warc.gz")
    // every record BEFORE the tear was still extracted
    val file2Pages = all.filter(r => r(0) == 2L && r(3) != "error" && r(3) != "link")
      .map(_(1).asInstanceOf[String]).toSet
    assert(file2Pages.nonEmpty, "records before the tear were lost")
    // the other files are untouched: their page counts match the construction
    val lin = Lineage.read(spark, out).collect().sortBy(_.partition_id)
    (0 until Files_).filter(_ != 2).foreach { f =>
      assert(lin(f).doc_count == WarcGen.extractablePageIds(f, Pages).size.toLong)
    }
    assert(errors > 0)
  }

  test("a tear in the FIRST record or a corrupt gzip header quarantines like a mid-file tear") {
    // Warc.records parses record 0 EAGERLY (the record iterator's
    // constructor advances; GZIPInputStream validates the header in ITS
    // constructor) — both throw while the guard's argument is evaluated,
    // so tornFileGuard takes the iterator BY NAME. Pre-fix these escaped
    // the guard and wedged the resumable job on the same file forever.
    val out = tmpDir()
    WarcIngestJob.materializeCrawl(spark, args(out))
    // file 1: corrupt the compression-method byte AFTER the 1f 8b magic
    val p1 = Paths.get(WarcIngestJob.filePath(out, 1))
    val b1 = Files.readAllBytes(p1)
    b1(2) = 0xFF.toByte
    Files.write(p1, b1)
    // file 3: truncate INSIDE record 0 (past the 10-byte gzip header)
    val p3 = Paths.get(WarcIngestJob.filePath(out, 3))
    Files.write(p3, java.util.Arrays.copyOf(Files.readAllBytes(p3), 20))

    val (files, _, errors) = WarcIngestJob.run(spark, args(out))
    assert(files == Files_) // the run completed — each tear cost one row
    val torn = dataSorted(out).filter(r => r(3) == "error" &&
      r(1).asInstanceOf[String].startsWith("warcfile:"))
    assert(torn.map(_(0)).toSet == Set(1L, 3L),
      s"expected file-level quarantine rows for files 1 and 3, got $torn")
    assert(errors >= 2)
    // both broken files still COMMITTED (zero pages, one error each)
    val lin = Lineage.read(spark, out).collect().sortBy(_.partition_id)
    assert(lin.length == Files_)
    Seq(1, 3).foreach { f =>
      assert(lin(f).doc_count == 0L && lin(f).error_count >= 1L)
    }
  }

  test("a group whose every file yields zero rows commits zero counts, never an NPE") {
    // two VALID gzip members with zero WARC records fill group 0 entirely:
    // the group's span frame is EMPTY, so every Observation SUM is over
    // zero rows — NULL without the coalesce, and the asInstanceOf[Long]
    // unboxed it into an NPE that re-crashed every rerun
    val out = tmpDir()
    Files.createDirectories(Paths.get(WarcIngestJob.crawlDir(out)))
    for (f <- 0 until 2) {
      val bos = new java.io.ByteArrayOutputStream()
      new java.util.zip.GZIPOutputStream(bos).close()
      Files.write(Paths.get(WarcIngestJob.filePath(out, f)), bos.toByteArray)
    }
    val (files, pages, errors) = WarcIngestJob.run(spark, args(out))
    assert(files == Files_)
    val lin = Lineage.read(spark, out).collect().sortBy(_.partition_id)
    assert(lin.length == Files_)
    Seq(0, 1).foreach { f =>
      assert(lin(f).doc_count == 0L && lin(f).span_count == 0L &&
        lin(f).error_count == 0L && lin(f).partition_hash == "0")
    }
    // the untouched files extracted normally — including the construction's
    // PLANTED broken pages, which quarantine per page as usual
    assert(pages == (2 until Files_).map(f =>
      WarcGen.extractablePageIds(f, Pages).size.toLong).sum)
    assert(errors == (2 until Files_).map(f =>
      WarcGen.htmlPageIds(f, Pages).count(WarcGen.isBroken).toLong).sum)
  }

  test("rerun over another crawl (--seed, --pages-per-file) throws before writing") {
    val out = tmpDir()
    WarcIngestJob.run(spark, args(out))
    val before = JobSpec.outputState(out)
    // pre-fix both reruns were silent no-ops over the other crawl's output
    Seq(args(out).copy(seed = 7L), args(out).copy(pagesPerFile = Pages + 1)).foreach { changed =>
      val e = intercept[IllegalStateException](WarcIngestJob.run(spark, changed))
      assert(e.getMessage.contains("this run's input is snapshot"), e.getMessage)
      assert(JobSpec.outputState(out) == before, s"$changed wrote to $out")
    }
  }

  test("grow rerun: a larger --files over a completed output publishes the NEXT snapshot id") {
    val out = tmpDir()
    WarcIngestJob.run(spark, args(out)) // completes, publishes docs/frontier @ seed 42
    assert(graft.storage.Snapshots.latest(s"$out/docs").contains(42L))
    // rerun with MORE files: only the new files ingest (the lineage
    // anti-join), and the publish lands at the next id — committed snapshot
    // directories are immutable, so pre-fix this threw from Snapshots.stage's
    // immutability require and the published docs/frontier stayed stale
    val grown = args(out).copy(files = Files_ + 2)
    val (newFiles, _, _) = WarcIngestJob.run(spark, grown)
    assert(newFiles == 2)
    assert(graft.storage.Snapshots.latest(s"$out/docs").contains(43L))
    assert(graft.storage.Snapshots.latest(s"$out/frontier").contains(43L))
    val docs = graft.storage.Snapshots.read(spark, s"$out/docs", 43L)
    val expDocs = (0 until Files_ + 2)
      .map(f => WarcGen.extractablePageIds(f, Pages).size).sum
    assert(docs.count() == expDocs.toLong)
    // the superseded first publish stays time-travel readable
    assert(graft.storage.Snapshots.read(spark, s"$out/docs", 42L).count() <
      expDocs.toLong)
    // a further rerun at the same size is a full no-op: nothing reingested,
    // nothing republished
    val (noop, _, _) = WarcIngestJob.run(spark, grown)
    assert(noop == 0)
    assert(graft.storage.Snapshots.latest(s"$out/docs").contains(43L))
    assert(graft.storage.Snapshots.latest(s"$out/frontier").contains(43L))
  }
}
