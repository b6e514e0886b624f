package graft.jobs

import graft.model.LineageRow
import graft.storage.{Lineage, Snapshots}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Small-file COMPACTION — the table-maintenance job a 100 TB snapshot
  * store cannot live without: streaming ingest, partition-granular resume,
  * and per-wave commits all fragment a table into thousands of small
  * files, and every later scan then pays an open/seek per file (the
  * measured failure mode from the persisted-IVF build: 8k tiny posting
  * files made search 4× SLOWER than brute force before the
  * `repartition(cent_id)` fix). Compaction rewrites the LATEST snapshot of
  * a table as a new snapshot with ~target-sized files and atomically
  * publishes it through the same commit protocol ([[graft.storage
  * .Snapshots]]) — the old snapshot stays readable (time travel), readers
  * never see a half-compacted table, and a crash mid-write leaves only an
  * uncommitted directory the next run overwrites.
  *
  * Two plan shapes, chosen by the snapshot's layout:
  *
  *  - UNPARTITIONED: zero-shuffle bin-packing via the scan itself — Spark's
  *    file source already packs multiple small files into one split up to
  *    `spark.sql.files.maxPartitionBytes`, so setting that to the target
  *    and writing the narrow scan back out IS the compaction (output files
  *    = scan splits; no Exchange anywhere). Catalyst does the bin-packing;
  *    nothing is hand-scheduled.
  *  - HIVE-PARTITIONED (`col=value` directories): files must merge WITHIN
  *    a partition directory, so the job pays exactly one
  *    `repartition(partitionCols)` exchange and the writer emits one file
  *    per partition value — the same layout discipline the IVF posting
  *    store uses. The data moves once; at 10^12 rows that single
  *    partition-aligned shuffle is the floor for per-directory merging.
  *
  * The rewrite is VERIFIED before publish: row count and an
  * order-independent content checksum (`bit_xor(xxhash64(struct(*)))` —
  * no overflow at any row count) must match the source snapshot, and both
  * land in a lineage row (`doc_count`, `partition_hash`; `divergence` 0/1)
  * under `<root>/compact`. The source-side metrics ride INSIDE the
  * rewrite scan via `Dataset.observe` (the ExtractJob lineage pattern),
  * so the whole job is exactly two data passes — the rewrite itself and
  * one read-back of the (compacted, smaller) output — never a third
  * checksum pass over the source. The rewrite is STAGED (data only, no
  * commit marker, no LATEST flip) until the checksum passes; a diverged
  * rewrite is recorded in lineage and thrown without ever becoming
  * visible, and the next run retries it. Re-running against an
  * already-compacted table is a NO-OP — a clean lineage row keyed by
  * either snapshot id says so, and a `_compacted_from` sidecar inside the
  * published snapshot covers the crash window between publish and lineage
  * append — making the job idempotent under schedulers that fire it
  * blindly.
  *
  * Run: `runMain graft.jobs.CompactJob --root <snapshotRoot>
  *        [--target-bytes N] [--cores N]`
  * → one JSON line {job, snapshot, new_snapshot, files_in, files_out,
  *    rows, sec} (new_snapshot −1 = no-op).
  */
object CompactJob {

  final case class Result(
      sourceId: Long, newId: Long, filesIn: Long, filesOut: Long, rows: Long)

  private def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toVector
    finally s.close()
  }

  /** Hive partition columns in NESTING ORDER, walked level by level (the
    * layout [[Snapshots.commit]]'s partitionBy writes — `partitionBy(c1,
    * c2)` nests `c1=v/c2=w/`, and the rewrite must re-partition by the
    * same ordered list or the inner column's pruning layout is lost).
    * Empty = unpartitioned.
    */
  private def partitionColsOf(dir: Path): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = dir
    var descend = true
    while (descend) {
      val s = Files.list(cur)
      val sub =
        try s.iterator().asScala.filter(Files.isDirectory(_))
          .map(p => (p, p.getFileName.toString)).filter(_._2.contains('=')).toVector
        finally s.close()
      val keys = sub.map(_._2.split("=", 2)(0)).distinct
      if (keys.length == 1) { out += keys.head; cur = sub.head._1 }
      else descend = false
    }
    out.toSeq
  }

  /** The ONE definition of the verification aggregate — row count plus an
    * order-independent content checksum (`bit_xor(xxhash64(struct(*)))`,
    * no overflow at any row count), columns hashed in SORTED-NAME order on
    * both sides because a partitioned read-back appends partition columns
    * after the data columns (source order `[..., c1, c2]` vs read-back
    * `[..., c2, c1]` would falsely diverge). The source side rides these
    * through `Dataset.observe`, the output side through a plain select; the
    * divergence gate depends on the two sides computing byte-identical
    * expressions, so both MUST build them here.
    */
  private def checksumAggs(df: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(
      bit_xor(xxhash64(struct(df.columns.sorted.map(col).toIndexedSeq: _*))),
      lit(0L)).as("x"))

  private def checksumString(n: Long, x: Long): String =
    s"$n:${java.lang.Long.toHexString(x)}"

  private def checksum(df: DataFrame): String = {
    val row = df.select(checksumAggs(df): _*).collect()(0)
    checksumString(row.getLong(0), row.getLong(1))
  }

  /** Compact the latest snapshot under `root` to ~`targetBytes` files.
    * Returns the result; a no-op (already compacted) returns newId = -1.
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long): Result = {
    val sourceId = Snapshots.latest(root).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $root"))
    val compactRoot = s"$root/compact"
    val srcDir = Paths.get(Snapshots.snapshotDir(root, sourceId))
    // idempotence, two independent signals: a CLEAN lineage row keyed by
    // either id (a diverged row must NOT suppress the retry), or the
    // `_compacted_from` sidecar inside the snapshot itself — which survives
    // a crash in the publish→lineage window, so a scheduler firing the job
    // blindly never rewrites a current table
    val done = Lineage.read(spark, compactRoot).collect()
      .exists(r => (r.snapshot_id == sourceId || r.partition_id == sourceId) &&
        r.divergence == 0.0)
    val alreadyCompact = Files.exists(srcDir.resolve("_compacted_from"))
    val filesIn = dataFiles(srcDir).size.toLong
    if (done || alreadyCompact) return Result(sourceId, -1L, filesIn, filesIn, 0L)

    val parts = partitionColsOf(srcDir)
    val newId = sourceId + 1

    // the SOURCE checksum rides inside the rewrite scan via Dataset.observe
    // (the ExtractJob lineage pattern) — a separate checksum pass would be a
    // THIRD full read of a 100 TB table per compaction
    val obs = org.apache.spark.sql.Observation(s"graft_compact_$sourceId")
    def withObs(df: DataFrame): DataFrame = {
      val aggs = checksumAggs(df)
      df.observe(obs, aggs.head, aggs.tail: _*)
    }
    // STAGE only — no commit marker, no LATEST flip. The rewrite is not
    // visible to any reader until the checksum below verifies it; a
    // diverged or crashed rewrite leaves the source snapshot as latest.
    if (parts.isEmpty) {
      // zero-shuffle path: the scan's own split packing is the bin-packer.
      // The split-size confs are set on a CLONED session (newSession shares
      // the SparkContext but owns its SQLConf), never on the caller's —
      // mutating the shared session would silently re-split every
      // concurrently planned scan to the compaction's target, and a
      // save/restore is not exception-safe against other threads' conf sets
      val iso = spark.newSession()
      iso.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
      // a 4 MiB default open cost makes tiny files "fill" a split long
      // before the byte target; compaction wants byte-true packing
      iso.conf.set("spark.sql.files.openCostInBytes", (64L << 10).toString)
      // split size is min(target, max(openCost, totalBytes/minPartitionNum))
      // and minPartitionNum DEFAULTS TO THE CORE COUNT — on a table smaller
      // than cores×target the parallelism floor shreds the packing (observed:
      // one 503 KB file "compacted" into 2); a compaction wants the byte
      // target, not a parallelism floor, and at 100 TB totalBytes/1 still
      // exceeds the target so big-table packing is unchanged
      iso.conf.set("spark.sql.files.minPartitionNum", "1")
      Snapshots.stage(withObs(iso.read.parquet(srcDir.toString)), root, newId)
    } else {
      // partition-aligned single exchange; writer emits one file per value
      // (observe sits below the exchange: metrics are of the source rows)
      Snapshots.stage(
        withObs(Snapshots.read(spark, root, sourceId))
          .repartition(parts.map(col).toIndexedSeq: _*), root, newId, parts)
    }
    val observed = obs.get
    val rows = observed("n").asInstanceOf[Long]
    val beforeSum = checksumString(rows, observed("x").asInstanceOf[Long])

    val newDir = Paths.get(Snapshots.snapshotDir(root, newId))
    val afterSum = checksum(spark.read.parquet(newDir.toString))
    val filesOut = dataFiles(newDir).size.toLong
    if (afterSum != beforeSum) {
      // record the failure, leave LATEST on the verified source — the
      // divergence==1 row does NOT satisfy the done check, so the next
      // run retries the compaction instead of no-opping over a bad table
      Lineage.append(spark, compactRoot, Seq(LineageRow(
        snapshot_id = sourceId, partition_id = newId,
        partition_hash = afterSum, doc_count = rows, span_count = filesOut,
        divergence = 1.0, committed_at = System.currentTimeMillis())))
      throw new IllegalStateException(
        s"compaction diverged (NOT published): source $beforeSum vs compacted $afterSum")
    }
    // sidecar BEFORE publish: Spark/DuckDB ignore underscore files, and its
    // presence marks the snapshot as a compaction product even if the
    // lineage append below never runs (crash window)
    Files.writeString(newDir.resolve("_compacted_from"), sourceId.toString)
    Snapshots.publish(root, newId)
    Lineage.append(spark, compactRoot, Seq(LineageRow(
      snapshot_id = sourceId, partition_id = newId,
      partition_hash = afterSum, doc_count = rows, span_count = filesOut,
      divergence = 0.0, committed_at = System.currentTimeMillis())))
    Result(sourceId, newId, filesIn, filesOut, rows)
  }

  def main(argv: Array[String]): Unit = {
    var root = ""
    var targetBytes = 128L << 20
    var cores = ExtractJob.DefaultCores
    argv.sliding(2, 2).foreach {
      case Array("--root", v) => root = v
      case Array("--target-bytes", v) => targetBytes = v.toLong
      case Array("--cores", v) => cores = v
      case other => throw new IllegalArgumentException(other.mkString(" "))
    }
    require(root.nonEmpty, "--root <snapshotRoot> is required")
    val spark = ExtractJob.session(cores)
    val t0 = System.nanoTime()
    val r = compact(spark, root, targetBytes)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"compact","snapshot":${r.sourceId},"new_snapshot":${r.newId},"files_in":${r.filesIn},"files_out":${r.filesOut},"rows":${r.rows},"sec":$sec%.3f}""")
    spark.stop()
  }
}
