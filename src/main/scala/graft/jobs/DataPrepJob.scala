package graft.jobs

import graft.ops.Queries
import graft.storage.Lineage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The resumable, lineage-tracked COMPOSED data-prep pipeline — the job twin
  * of [[graft.ops.Queries.dataprepPipeline]] (whose DuckDB oracle proves the
  * chain's semantics): boilerplate strip → exact dedup → near-dup CC
  * canonical selection → benchmark decontamination → context-window
  * chunking, plus the TOKENIZE finisher (stage 5): BPE trained on the
  * decontaminated corpus and the same corpus encoded with the learned
  * table — the pipeline ends where training begins, in pinned token
  * streams. The tokenize stage reads stage 3 (the last doc-shaped
  * snapshot), not the chunk table, which carries only chunk digests.
  *
  * Resume model (north_rule, stage-granular): dedup and CC are GLOBAL
  * operations, so the checkpoint unit is the STAGE, not a key range. The
  * stages run through [[ExtractJob.resumable]] in groups of one: each
  * stage writes its full output snapshot to `<out>/stage_<i>` and commits
  * one lineage row (partition_id = stage index, doc_count = input rows,
  * span_count = output rows, partition_hash = xxhash64-xor of the output's
  * doc ids — both observed during the write, never re-scanned). A rerun
  * skips committed stages, resuming from the first uncommitted one against
  * the previous stage's on-disk snapshot; a crash between a stage's write
  * and its lineage commit simply overwrites the orphan snapshot (stage
  * outputs are deterministic — idempotent).
  *
  * At 10^12-doc scale each snapshot is a partitioned Iceberg table and the
  * stage boundary doubles as the shuffle barrier the global stages need
  * anyway (the dedup groupBy, the CC iterations, the gram join) — the
  * checkpoint is not extra I/O, it replaces the recompute of everything
  * upstream on failure.
  */
object DataPrepJob {

  final case class Args(
      sfDir: String = "/root/testdata/sf0.001",
      out: String = "/tmp/graft_dataprep",
      cores: String = ExtractJob.DefaultCores,
      failAfterStages: Int = -1, // test hook: crash after N stages this RUN
      clock: () => Long = () => System.currentTimeMillis())

  val StageNames: Vector[String] =
    Vector("boilerplate_strip", "exact_dedup", "neardup_cc", "decontaminate",
      "chunk_windows", "bpe_tokenize")

  private def stageDir(out: String, idx: Int): String = s"$out/stage_$idx"

  /** Which prior stage a stage consumes: linear, except the tokenizer,
    * which trains+encodes over stage 3's doc-shaped decontaminated corpus
    * (stage 4's chunk table carries digests, not text).
    */
  private def inputStage(idx: Int): Int = if (idx == 5) 3 else idx - 1

  /** One stage's transformation from its input frame. */
  private def stage(spark: SparkSession, sfDir: String, idx: Int, in: DataFrame): DataFrame =
    idx match {
      case 0 => Queries.boilerplateCleaned(in).select(col("doc_id"), col("text"))
      case 1 => Queries.exactDedupKeep(in)
      case 2 => Queries.nearDupKeep(spark, in)
      case 3 => Queries.decontaminateKeep(spark, sfDir, in)
      case 4 => Queries.chunkWindowsFrom(in)
      case 5 => Queries.bpeEncodeFrom(spark, in)
      case other => throw new IllegalArgumentException(s"no stage $other")
    }

  /** The input snapshot id: the relative paths and sizes of the files
    * under the input dir (a table may be a directory of part files).
    */
  private def inputId(sfDir: String): Long = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(sfDir)
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, Files.size(p))).toVector.sorted
      finally walk.close()
    Lineage.inputId(files.flatMap { case (name, size) => Seq(name, size) }: _*)
  }

  /** One resumable run; returns the number of stages executed (0 = no-op). */
  def run(spark: SparkSession, args: Args): Int = {
    // stats of the written snapshot: its row count and order-insensitive id hash
    val stats = ExtractJob.UnitStats(spans = lit(true), docs = lit(false), errors = lit(false),
      hashed = lit(true), key = col("doc_id").cast("string"))
    ExtractJob.resumable(spark, args.out, StageNames.indices, groupSize = 1,
        inputId(args.sfDir), args.failAfterStages, failAfterWrite = -1,
        args.clock) { (group, committed, _) =>
      val idx = group.head
      val in: DataFrame =
        if (idx == 0)
          Queries.docsWithDups(spark, args.sfDir).select(col("doc_id"), col("text"))
        else
          spark.read.parquet(stageDir(args.out, inputStage(idx)))
      // stage i's input row count IS the committed span_count of its input
      // stage — a fresh in.count() would pay a full extra pass over every
      // stage input just for the lineage doc_count (only stage 0, whose
      // input is the raw corpus with no lineage row, pays a count)
      val inCount =
        if (idx == 0) in.count() else committed(inputStage(idx).toLong).span_count
      ExtractJob.GroupWrite(stage(spark, args.sfDir, idx, in), stageDir(args.out, idx),
        unitCol = None, stats,
        finish = rows => {
          Queries.releaseCaches() // the CC stage tracks per-round caches
          rows.map(_.copy(doc_count = inCount))
        })
    }.size
  }

  def main(argv: Array[String]): Unit = {
    var args = Args()
    argv.sliding(2, 2).foreach {
      case Array("--sf-dir", v) => args = args.copy(sfDir = v)
      case Array("--out", v) => args = args.copy(out = v)
      case Array("--cores", v) => args = args.copy(cores = v)
      case Array("--fail-after-stages", v) => args = args.copy(failAfterStages = v.toInt)
      case other => throw new IllegalArgumentException(other.mkString(" "))
    }
    val spark = ExtractJob.session(args.cores)
    val t0 = System.nanoTime()
    val stages = run(spark, args)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"dataprep","stages":$stages,"sec":$sec%.3f}""")
    spark.stop()
  }
}
