package graft

import graft.jobs.ExtractJob
import graft.model.LineageRow
import graft.storage.{Lineage, Snapshots}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{concat, lit, md5}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Resumability + lineage + snapshot semantics (north_rule: resume from the
  * last committed checkpoint without recomputation; FIXTURES.md §5).
  */
class JobSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): String =
    Files.createTempDirectory("graft_job").toString

  test("kill-resume: rerun skips committed buckets and output is byte-identical") {
    import spark.implicits._
    val outA = tmpDir() // crash + resume
    val outB = tmpDir() // single clean run
    val base = ExtractJob.Args(nDocs = 400, buckets = 8, groupSize = 2,
      clock = () => 1000L)

    // clean run
    val (bCleanBuckets, bCleanDocs) = ExtractJob.run(spark, base.copy(out = outB))
    assert(bCleanBuckets == 8)
    assert(bCleanDocs == 400)

    // crashing run: fails after committing 2 of 4 groups
    val crashed = intercept[RuntimeException] {
      ExtractJob.run(spark, base.copy(out = outA, failAfterGroups = 2))
    }
    assert(crashed.getMessage.contains("injected failure"))
    val committedAfterCrash = Lineage.committedPartitions(spark, outA)
    assert(committedAfterCrash.size == 4, s"expected 2 groups x 2 buckets, got $committedAfterCrash")

    // resume: processes ONLY the remaining buckets (no recomputation)
    val (resumedBuckets, resumedDocs) = ExtractJob.run(spark, base.copy(out = outA, clock = () => 2000L))
    assert(resumedBuckets == 4, "resume must skip committed buckets")
    assert(resumedDocs < 400)
    assert(Lineage.committedPartitions(spark, outA).size == 8)

    // committed_at proves the first 4 buckets were not recomputed
    val byClock = Lineage.read(spark, outA).collect().groupBy(_.committed_at)
    assert(byClock(1000L).length == 4 && byClock(2000L).length == 4)

    // final outputs identical between crash+resume and clean run
    val a = spark.read.parquet(s"$outA/data").select("doc_id", "order", "kind", "media_ref", "text")
      .orderBy("doc_id", "order").collect().toSeq
    val b = spark.read.parquet(s"$outB/data").select("doc_id", "order", "kind", "media_ref", "text")
      .orderBy("doc_id", "order").collect().toSeq
    assert(a == b)

    // lineage covers every doc exactly once; per-bucket hashes match
    val lineA = Lineage.read(spark, outA).collect().sortBy(_.partition_id).toSeq
    val lineB = Lineage.read(spark, outB).collect().sortBy(_.partition_id).toSeq
    assert(lineA.map(_.doc_count).sum == 400)
    assert(lineA.map(r => (r.partition_id, r.partition_hash, r.doc_count, r.span_count)) ==
      lineB.map(r => (r.partition_id, r.partition_hash, r.doc_count, r.span_count)))

    // a second rerun is a no-op
    val (noop, noopDocs) = ExtractJob.run(spark, base.copy(out = outA))
    assert(noop == 0 && noopDocs == 0)
  }

  test("crash BETWEEN write and lineage commit: resume overwrites orphans, no duplicates") {
    val outA = tmpDir()
    val outB = tmpDir()
    val base = ExtractJob.Args(nDocs = 400, buckets = 8, groupSize = 2, clock = () => 1L)
    ExtractJob.run(spark, base.copy(out = outB)) // clean reference run

    // crash after group 1's data write but before its lineage commit:
    // group 1's bucket dirs now hold orphan files with no lineage row
    val crashed = intercept[RuntimeException] {
      ExtractJob.run(spark, base.copy(out = outA, failAfterWrite = 1))
    }
    assert(crashed.getMessage.contains("after write"))
    assert(Lineage.committedPartitions(spark, outA).size == 2, "only group 0 committed")
    val orphanRows = spark.read.parquet(s"$outA/data").count()
    assert(orphanRows > 0, "orphan rows from the uncommitted group must exist")

    // resume: the retried group OVERWRITES its own orphan partitions
    ExtractJob.run(spark, base.copy(out = outA, clock = () => 2L))
    val a = spark.read.parquet(s"$outA/data").select("doc_id", "order", "kind", "media_ref", "text")
      .orderBy("doc_id", "order").collect().toSeq
    val b = spark.read.parquet(s"$outB/data").select("doc_id", "order", "kind", "media_ref", "text")
      .orderBy("doc_id", "order").collect().toSeq
    assert(a == b, "crash-after-write + resume must be byte-identical to a clean run (no duplicates)")
    assert(Lineage.read(spark, outA).collect().map(_.doc_count).sum == 400)
  }

  test("rerun over other input (--seed, --docs, --buckets) throws before writing") {
    val out = tmpDir()
    val base = ExtractJob.Args(nDocs = 400, buckets = 8, groupSize = 4, out = out, clock = () => 1L)
    ExtractJob.run(spark, base)
    val before = JobSpec.outputState(out)
    val id = Lineage.read(spark, out).first().snapshot_id
    // pre-fix each rerun skipped every bucket already in lineage, whatever
    // its input: other seeds/docs kept the stale data, other buckets
    // re-extracted half the docs into new bucket dirs beside the old ones
    Seq(base.copy(seed = 7L), base.copy(nDocs = 500L), base.copy(buckets = 16)).foreach { changed =>
      val e = intercept[IllegalStateException](ExtractJob.run(spark, changed))
      assert(e.getMessage.contains(s"snapshot $id,") &&
        e.getMessage.contains(s"this run's input is snapshot "), e.getMessage)
      assert(JobSpec.outputState(out) == before, s"$changed wrote to $out")
    }
    assert(ExtractJob.run(spark, base) == ((0, 0L)), "the same input still resumes")
  }

  test("divergence metric: zero vs an identical run, positive vs a corrupted table") {
    import org.apache.spark.sql.functions._
    val outA = tmpDir()
    val outB = tmpDir()
    val base = ExtractJob.Args(nDocs = 200, buckets = 4, groupSize = 4, clock = () => 1L)
    ExtractJob.run(spark, base.copy(out = outA))
    // identical re-extraction vs A's data → divergence exactly 0 everywhere
    ExtractJob.run(spark, base.copy(out = outB, expected = Some(s"$outA/data")))
    val divB = Lineage.read(spark, outB).collect().map(_.divergence)
    assert(divB.forall(_ == 0.0), divB.toSeq.toString)
    // corrupt the expected text → divergence strictly positive
    val outC = tmpDir()
    val corrupted = tmpDir()
    spark.read.parquet(s"$outA/data")
      .withColumn("text", concat(col("text"), lit(" CORRUPTED DRIFT")))
      .write.mode("overwrite").parquet(corrupted)
    ExtractJob.run(spark, base.copy(out = outC, expected = Some(corrupted)))
    val divC = Lineage.read(spark, outC).collect().map(_.divergence)
    assert(divC.forall(_ > 0.0) && divC.forall(_ <= 1.0), divC.toSeq.toString)
  }

  test("write plan is codegen'd (no ScalaUDF), expected scan partition-pruned, folio salt splits tasks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = tmpDir()
    ExtractJob.run(spark, ExtractJob.Args(nDocs = 200, buckets = 4, groupSize = 4,
      out = out, clock = () => 1L))

    // divergence-path expected read: partition pruning on the bucket column —
    // the executed scan must touch only the 2 selected bucket directories'
    // files, not all 4 (inputFiles ignores pruning; the scan metric doesn't)
    val exp = spark.read.parquet(s"$out/data").filter(col("bucket").isInCollection(Seq(1, 2)))
    exp.collect()
    val scan = exp.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val filesIn = (b: Int) => new java.io.File(s"$out/data/bucket=$b")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(scan.metrics("numFiles").value == filesIn(1) + filesIn(2),
      s"scan read ${scan.metrics("numFiles").value} files; expected only bucket=1,2")

    // write-side span plan: native bucket expression, no ScalaUDF node
    val folio = graft.model.DocOut("doc_folio",
      (0 until 5000).map(i => graft.model.OutSpan("text", s"t$i", "", i)))
    val salted = ExtractJob.spanRows(Seq(folio).toDS(), 4)
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"), plan)

    // one 5k-span folio lands in >1 task after the order-based salt (AQE
    // coalescing disabled for the assert: at test scale the whole shuffle is
    // a few KB, so AQE would rightly merge it — the salt's job is to split
    // when a folio is NOT tiny, which is what the partitioning must allow).
    // A repartitionByRange write also passes this assert but fails
    // HeartbeatSpec's exactly-once-extraction contract: its sampler
    // re-executes the un-cached upstream (BENCH.md §17)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val folioParts = salted
        .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
        .distinct().count()
      assert(folioParts > 1, s"folio spans serialized into $folioParts task(s)")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  test("snapshot commit / time-travel read / latest pointer") {
    import spark.implicits._
    val root = tmpDir()
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val df2 = Seq((1L, "a2")).toDF("id", "v")
    Snapshots.commit(df1, root, 1L)
    Snapshots.commit(df2, root, 2L)
    assert(Snapshots.latest(root).contains(2L))
    assert(Snapshots.read(spark, root, 1L).count() == 2)
    assert(Snapshots.read(spark, root, 2L).count() == 1)
    assert(Snapshots.isCommitted(root, 1L))
    assert(!Snapshots.isCommitted(root, 3L))
    intercept[IllegalArgumentException](Snapshots.read(spark, root, 3L))
  }

  test("latest is marker-derived: a crash between marker and pointer cannot resurrect") {
    import spark.implicits._
    val root = tmpDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), root, 1L)
    // simulate publish() crashing AFTER the commit-marker rename but BEFORE
    // the LATEST flip: stage snapshot 2 and write only its marker
    Snapshots.stage(Seq((1L, "a2")).toDF("id", "v"), root, 2L)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/snapshot-2.committed"), "2")
    // pre-fix latest() read the stale LATEST file (1), so the next run
    // staged id 2 again — overwriting a committed, possibly concurrently
    // read snapshot directory in place
    assert(Snapshots.latest(root).contains(2L))
    // the immutability backstop: staging over a committed id is refused
    intercept[IllegalArgumentException](
      Snapshots.stage(Seq((9L, "x")).toDF("id", "v"), root, 2L))
  }

  test("lineage append is atomic and readable per group") {
    val root = tmpDir()
    Lineage.append(spark, root, Seq(LineageRow(42L, 0, "h0", 10, 100, 0.0, 1L)))
    Lineage.append(spark, root, Seq(LineageRow(42L, 1, "h1", 20, 200, 0.0, 2L)))
    val rows = Lineage.read(spark, root).collect().sortBy(_.partition_id)
    assert(rows.length == 2)
    assert(rows.map(_.span_count).sum == 300)
    assert(Lineage.committedPartitions(spark, root) == Set(0, 1))
  }

  test("dataprep rerun over a changed input dir throws before writing") {
    import graft.jobs.DataPrepJob
    import org.apache.spark.sql.functions.col
    val in = tmpDir()
    def writeCorpus(nDocs: Long): Unit = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(lit("document "), col("id").cast("string"), lit(" of the corpus")).as("text"),
        lit("en").as("lang"))
      .write.mode("overwrite").parquet(s"$in/documents.parquet")
    writeCorpus(200)
    val out = tmpDir()
    val base = DataPrepJob.Args(sfDir = in, out = out, failAfterStages = 1, clock = () => 1L)
    intercept[RuntimeException](DataPrepJob.run(spark, base)) // stage 0 commits
    val before = JobSpec.outputState(out)
    // another corpus under the same table name: pre-fix the rerun resumed
    // stages 1-5 from the old corpus's stage 0 snapshot
    writeCorpus(300)
    val e = intercept[IllegalStateException](DataPrepJob.run(spark, base.copy(failAfterStages = -1)))
    assert(e.getMessage.contains("this run's input is snapshot"), e.getMessage)
    assert(JobSpec.outputState(out) == before)
  }

  test("dataprep job: kill-resume skips committed stages; final chunks equal the lazy pipeline") {
    import graft.jobs.DataPrepJob
    val sfDir = "/root/testdata/sf0.001"
    val outA = tmpDir() // crash + resume
    val base = DataPrepJob.Args(sfDir = sfDir, out = outA, clock = () => 1000L)

    // crashing run: stages 0-1 commit, stage 2 never starts
    val crashed = intercept[RuntimeException](
      DataPrepJob.run(spark, base.copy(failAfterStages = 2)))
    assert(crashed.getMessage.contains("injected failure"))
    assert(Lineage.committedPartitions(spark, outA) == Set(0, 1))

    // resume: executes ONLY the remaining four stages
    val resumed = DataPrepJob.run(spark, base.copy(clock = () => 2000L))
    assert(resumed == 4, s"resume must run exactly the uncommitted stages, ran $resumed")
    assert(Lineage.committedPartitions(spark, outA) == Set(0, 1, 2, 3, 4, 5))
    // committed_at proves stages 0-1 were NOT recomputed on resume
    val byClock = Lineage.read(spark, outA).collect().groupBy(_.committed_at)
    assert(byClock(1000L).map(_.partition_id).toSet == Set(0, 1))
    assert(byClock(2000L).map(_.partition_id).toSet == Set(2, 3, 4, 5))
    // a third run is a no-op
    assert(DataPrepJob.run(spark, base) == 0)

    // per-stage monotonic shrink: every dedup/filter stage keeps ≤ its input
    val lin = Lineage.read(spark, outA).collect().sortBy(_.partition_id)
    // the stats observed during each stage write equal a read-back of the
    // committed snapshot: its row count and its order-insensitive id hash
    lin.foreach { r =>
      val snap = spark.read.parquet(s"$outA/stage_${r.partition_id}").agg(
        org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.expr("bit_xor(xxhash64(CAST(doc_id AS STRING)))"))
        .collect()(0)
      assert(r.span_count == snap.getLong(0), s"stage ${r.partition_id}: $r vs $snap")
      val hash = if (snap.isNullAt(1)) "0" else java.lang.Long.toHexString(snap.getLong(1))
      assert(r.partition_hash == hash, s"stage ${r.partition_id}: $r vs $snap")
    }
    lin.take(4).foreach(r =>
      assert(r.span_count <= r.doc_count || r.partition_id == 0,
        s"stage ${r.partition_id} grew: ${r.doc_count} -> ${r.span_count}"))

    // the job's final snapshot equals the lazy composed query (same rows)
    val fromJob = spark.read.parquet(s"$outA/stage_4")
      .orderBy("doc_id", "chunk_idx")
      .collect().map(_.toSeq).toSeq
    val fromQuery = graft.ops.Queries.dataprepPipeline(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    graft.ops.Queries.releaseCaches()
    assert(fromJob == fromQuery, "resumed job output diverges from the lazy pipeline")

    // the tokenize finisher: stage_5 equals BPE train+encode over stage_3's
    // decontaminated corpus (one token-stream row per surviving doc)
    val tokJob = spark.read.parquet(s"$outA/stage_5")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val tokQuery = graft.ops.Queries.bpeEncodeFrom(
      spark, spark.read.parquet(s"$outA/stage_3"))
      .collect().map(_.toSeq).toSeq
    graft.ops.Queries.releaseCaches()
    assert(tokJob == tokQuery, "tokenize stage diverges from the trainer+encoder")
    assert(tokJob.nonEmpty && tokJob.length ==
      spark.read.parquet(s"$outA/stage_3").count())
  }

  test("compaction: fewer files, identical rows, time travel intact, rerun no-op") {
    import spark.implicits._
    import graft.jobs.CompactJob
    val root = tmpDir()
    // a deliberately fragmented snapshot: 48 tiny files
    val df = spark.range(5000)
      .select($"id", md5(concat(lit("doc"), $"id")).as("sha"),
        ($"id" % 7).as("grp"))
    Snapshots.commit(df.repartition(48), root, 1)
    val before = Snapshots.read(spark, root, 1).orderBy("id").collect().map(_.toSeq).toSeq

    val r = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r.sourceId == 1 && r.newId == 2)
    assert(r.filesIn == 48 && r.filesOut < 12, s"files ${r.filesIn} -> ${r.filesOut}")
    assert(r.rows == 5000)
    // rows byte-identical; the superseded snapshot still readable (time travel)
    assert(Snapshots.read(spark, root, 2).orderBy("id").collect().map(_.toSeq).toSeq == before)
    assert(Snapshots.read(spark, root, 1).count() == 5000)
    assert(Snapshots.latest(root).contains(2L))
    // rerun against the already-compacted table: no-op, no snapshot 3
    val r2 = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r2.newId == -1L && !Snapshots.isCommitted(root, 3))
    // lineage carries the verified checksum (divergence 0)
    val lin = Lineage.read(spark, s"$root/compact").collect()
    assert(lin.length == 1 && lin.head.divergence == 0.0 && lin.head.doc_count == 5000)
  }

  test("compaction of a hive-partitioned snapshot merges within directories") {
    import spark.implicits._
    import graft.jobs.CompactJob
    val root = tmpDir()
    val df = spark.range(3000)
      .select($"id", ($"id" % 5).cast("string").as("grp"),
        md5($"id".cast("string")).as("sha"))
    // 16 writer tasks × 5 partition values ≈ 80 small files
    Snapshots.commit(df.repartition(16), root, 7, partitionBy = Seq("grp"))
    val before = Snapshots.read(spark, root, 7).orderBy("id").collect().map(_.toSeq).toSeq

    val r = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r.newId == 8 && r.rows == 3000)
    // exactly one data file per partition directory afterwards
    val dirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(Snapshots.snapshotDir(root, 8))).iterator()
    var partDirs = 0
    dirs.forEachRemaining { d =>
      if (java.nio.file.Files.isDirectory(d) && d.getFileName.toString.startsWith("grp=")) {
        partDirs += 1
        val files = java.nio.file.Files.list(d).iterator()
        var n = 0
        files.forEachRemaining(f => if (f.toString.endsWith(".parquet")) n += 1)
        assert(n == 1, s"$d still holds $n files")
      }
    }
    assert(partDirs == 5)
    // partition-pruned reads still see identical data
    assert(Snapshots.read(spark, root, 8).orderBy("id").collect().map(_.toSeq).toSeq == before)
  }

  test("compaction of a TWO-level hive-partitioned snapshot keeps both columns nested") {
    import spark.implicits._
    import graft.jobs.CompactJob
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = tmpDir()
    val df = spark.range(2000)
      .select($"id", ($"id" % 3).cast("string").as("c1"),
        ($"id" % 4).cast("string").as("c2"), md5($"id".cast("string")).as("sha"))
    Snapshots.commit(df.repartition(8), root, 1, partitionBy = Seq("c1", "c2"))
    val cols = Seq("id", "c1", "c2", "sha")
    val before = Snapshots.read(spark, root, 1)
      .select(cols.head, cols.tail: _*).orderBy("id").collect().map(_.toSeq).toSeq

    // must verify clean (the sorted-name checksum makes the read-back
    // partition-column reordering a non-event) and must NOT flatten c2
    val r = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r.newId == 2 && r.rows == 2000)
    val dir = JPaths.get(Snapshots.snapshotDir(root, 2))
    val l1 = JFiles.list(dir).iterator()
    var sawNested = false
    l1.forEachRemaining { d =>
      if (JFiles.isDirectory(d)) {
        assert(d.getFileName.toString.startsWith("c1="), s"unexpected level-1 dir $d")
        val l2 = JFiles.list(d).iterator()
        l2.forEachRemaining { dd =>
          if (JFiles.isDirectory(dd)) {
            assert(dd.getFileName.toString.startsWith("c2="), s"flattened layout: $dd")
            sawNested = true
          }
        }
      }
    }
    assert(sawNested, "compacted snapshot lost the inner partition column")
    assert(Snapshots.read(spark, root, 2)
      .select(cols.head, cols.tail: _*).orderBy("id").collect().map(_.toSeq).toSeq == before)
  }

  test("compaction crash window: sidecar no-ops a republish; staged stays invisible") {
    import spark.implicits._
    import graft.jobs.CompactJob
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = tmpDir()
    val df = spark.range(1000).select($"id", md5($"id".cast("string")).as("sha"))
    Snapshots.commit(df.repartition(16), root, 1)
    val r = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r.newId == 2)
    assert(JFiles.exists(
      JPaths.get(Snapshots.snapshotDir(root, 2)).resolve("_compacted_from")))

    // simulate a crash BETWEEN publish and the lineage append: wipe lineage.
    // The sidecar alone must make the next blind fire a no-op — without it
    // the scheduler would rewrite the already-compacted table.
    def rmr(p: java.nio.file.Path): Unit = {
      if (JFiles.isDirectory(p)) {
        val s = JFiles.list(p)
        try s.iterator().forEachRemaining(rmr) finally s.close()
      }
      JFiles.deleteIfExists(p)
    }
    rmr(JPaths.get(s"$root/compact"))
    val r2 = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r2.newId == -1L && !Snapshots.isCommitted(root, 3))

    // a STAGED snapshot is invisible: no marker, LATEST unchanged
    Snapshots.stage(df, root, 9)
    assert(Snapshots.latest(root).contains(2L) && !Snapshots.isCommitted(root, 9))
  }

  test("compaction keyed by a snapshot id beyond Int range: lineage no-op holds") {
    import spark.implicits._
    import graft.jobs.CompactJob
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = tmpDir()
    // clock-derived ids (the WarcIngestJob seed shape) exceed Int range;
    // pre-fix the lineage row stored (big+1).toInt and the no-op check
    // never matched once the sidecar was gone
    val big = 3000000000L
    val df = spark.range(500).select($"id", md5($"id".cast("string")).as("sha"))
    Snapshots.commit(df.repartition(8), root, big)
    val r = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r.newId == big + 1)
    val lin = Lineage.read(spark, s"$root/compact").collect()
    assert(lin.head.partition_id == big + 1, "published id must round-trip exactly")
    // delete the sidecar: the lineage row keyed by the published id must
    // alone no-op a blind rerun
    JFiles.delete(
      JPaths.get(Snapshots.snapshotDir(root, big + 1)).resolve("_compacted_from"))
    val r2 = CompactJob.compact(spark, root, targetBytes = 256L << 20)
    assert(r2.newId == -1L && !Snapshots.isCommitted(root, big + 2))
  }

  test("latest() ignores a marker-shaped file whose digits exceed Long range") {
    val root = tmpDir()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/snapshot-99999999999999999999.committed"), "")
    assert(Snapshots.latest(root).isEmpty)
    Snapshots.commit(spark.range(3).toDF("id"), root, 5)
    assert(Snapshots.latest(root).contains(5L))
  }

  test("lineage written before error_count existed still reads and resumes") {
    import spark.implicits._
    val root = tmpDir()
    // a legacy table: the LineageRow columns MINUS error_count — the typed
    // read must default it to 0, not fail encoder analysis and abort the
    // resume it exists to serve
    val legacy = Seq((42L, 0, "h0", 10L, 100L, 0.0, 1L))
      .toDF("snapshot_id", "partition_id", "partition_hash", "doc_count",
        "span_count", "divergence", "committed_at")
    legacy.coalesce(1).write.mode("overwrite").parquet(s"$root/lineage")
    val rows = Lineage.read(spark, root).collect()
    assert(rows.length == 1 && rows(0).error_count == 0L)
    assert(Lineage.committedPartitions(spark, root) == Set(0))
  }
}

object JobSpec {

  /** Every file under a job's output (but its progress log), with size and
    * mtime: equal before and after a run iff the run wrote nothing.
    */
  def outputState(out: String): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(java.nio.file.Paths.get(out))
    try walk.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.endsWith("progress.jsonl"))
      .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
    finally walk.close()
  }
}
