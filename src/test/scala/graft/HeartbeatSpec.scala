package graft

import graft.jobs.{DataPrepJob, ExtractJob, WarcIngestJob}
import graft.metrics.Profile
import graft.storage.Lineage
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The per-run progress surface (reference tqdm heartbeat analogue,
  * benchmark.py:454-475): progress.jsonl is written during the run, counters
  * are monotone, and the closing line carries the exact final totals.
  */
class HeartbeatSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def field(l: String, k: String): Long =
    s""""$k":(\\d+)""".r.findFirstMatchIn(l).get.group(1).toLong

  /** The closing `rows` is the run's committed span_count total, and the
    * counter never decreases.
    */
  private def assertRowsMatchLineage(dir: String, lines: Seq[String]): Unit = {
    val rows = lines.map(field(_, "rows"))
    assert(rows.zip(rows.tail).forall { case (a, b) => a <= b }, s"$dir: rows decreased")
    val committed = Lineage.read(spark, dir).collect().map(_.span_count).sum
    assert(rows.last == committed && committed > 0, s"$dir: rows=${rows.last} lineage=$committed")
  }

  test("progress.jsonl: monotone counters, exact closing totals, mid-run stage activity") {
    val out = Files.createTempDirectory("graft_hb").toString
    // the run's work is also held to the extract_job line of the work budget
    val profile = new Profile
    profile.tagged(spark, "extract_job") {
      ExtractJob.run(spark, ExtractJob.Args(nDocs = 300, buckets = 4, groupSize = 2,
        out = out, clock = () => 1L))
    }
    val overBudget = WorkBudget.over("extract_job", profile.work(Some("extract_job")))
    assert(overBudget.isEmpty, overBudget.mkString("\n"))
    val lines = Files.readAllLines(Paths.get(s"$out/progress.jsonl")).asScala
    assert(lines.nonEmpty)
    val docs = lines.map(field(_, "docs"))
    assert(docs.zip(docs.tail).forall { case (a, b) => a <= b }, "docs counter must be monotone")
    val last = lines.last
    // extraction runs exactly ONCE per group (lineage stats come from the
    // written parquet, not a second extraction pass)
    assert(field(last, "docs") == 300, last)
    assert(field(last, "groups") == 2, last)
    assert(field(last, "stages") > 0 && field(last, "tasks") > 0, last)
    val spans = field(last, "spans")
    val actualSpans = spark.read.parquet(s"$out/data").count()
    assert(spans == actualSpans, s"spans=$spans actual=$actualSpans")
    assertRowsMatchLineage(out, lines.toSeq)

    // the crawl ingest and the data-prep stages commit through the same
    // loop, so they write the same surface: 6 files in groups of 2, 6 stages
    val warcOut = Files.createTempDirectory("graft_hb_warc").toString
    val prepOut = Files.createTempDirectory("graft_hb_prep").toString
    Seq(
      (warcOut, 3L, () => WarcIngestJob.run(spark, WarcIngestJob.Args(files = 6,
        pagesPerFile = 12, groupSize = 2, out = warcOut, clock = () => 1L))),
      (prepOut, 6L, () => DataPrepJob.run(spark, DataPrepJob.Args(out = prepOut, clock = () => 1L)))
    ).foreach { case (dir, committedGroups, runJob) =>
      runJob()
      val path = Paths.get(s"$dir/progress.jsonl")
      assert(Files.exists(path), s"$dir wrote no progress.jsonl")
      val lines = Files.readAllLines(path).asScala
      val groups = lines.map(field(_, "groups"))
      assert(groups.zip(groups.tail).forall { case (a, b) => a <= b }, s"$dir: groups decreased")
      assert(groups.last == committedGroups, lines.last)
      assert(field(lines.last, "stages") > 0 && field(lines.last, "tasks") > 0, lines.last)
      assertRowsMatchLineage(dir, lines.toSeq)
    }
  }
}
