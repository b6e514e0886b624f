package perfbench

import graft.SparkEntry
import graft.jobs.ExtractJob
import graft.layout.ExtractConfig
import graft.ops.Queries
import graft.pipeline.{DocsGen, Extract}
import graft.storage.Lineage
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable

/** What one workload needs from the benchmark: its session, seed, scratch
  * directory, span log and listeners.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, val work: File,
                val trace: Trace, val stages: StageRecorder) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

/** One workload. `run` is the timed region; `check` runs after it, outside
  * the timing, and returns the output checks that failed.
  */
trait Workload {
  def inputDocs: Long
  /** Untimed set-up before the warm-up run: inputs, and JIT heating. */
  def prepare(): Unit
  /** The untimed set-up run, checked in full. */
  def warmup(tag: String): Seq[String] = check(tag, run(tag), full = true)
  def run(tag: String): AnyRef
  /** `full` adds the checks too slow for every run: read-backs, samples
    * and goldens. */
  def check(tag: String, result: AnyRef, full: Boolean): Seq[String]
  /** Per-layer figures of one traced run (its stages are in `ctx.stages`). */
  def traced(tag: String, result: AnyRef, wallS: Double): Seq[(String, Double)] = Nil
  /** Per-layer figures measured once, after the traced runs, given the
    * wall times of the untraced runs made alongside them. */
  def afterTrace(untracedS: Seq[Double]): Seq[(String, Double)] = Nil
  /** Lines of context for the run report (not gated). */
  def context: Seq[(String, String)] = Nil
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract_job" => new ExtractJobWorkload(ctx)
    case "dedup_catalog" => new DedupCatalogWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Output checks of the extraction workload. They work on per-doc digests:
  * span count, and an xor and a sum of two different hashes of
  * (order, kind, media_ref, text), so equal digests mean equal spans.
  */
object ExtractChecks {
  val SampleDocs = 48
  val GoldenDocs = 5000

  private val SpanFields = Seq("order", "kind", "media_ref", "text")
  /** The two span hashes aggregated per doc; `p` prefixes the field names. */
  def h1(p: String = ""): Column = bit_xor(xxhash64(SpanFields.map(f => col(p + f)): _*)).as("h1")
  def h2(p: String = ""): Column = sum(hash(SpanFields.map(f => col(p + f)): _*).cast("long")).as("h2")

  def digestCols(spans: DataFrame): DataFrame =
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("k"), h1(), h2())

  final case class Digest(k: Long, h1: Long, h2: Long)

  def digests(rows: Array[Row]): Map[String, Digest] =
    rows.map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  /** Flat span rows of single-threaded `extractDoc(genDoc(i, seed))`. */
  def expectedSpans(spark: SparkSession, seed: Long, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.flatMap { i =>
      val out = Extract.extractDoc(DocsGen.genDoc(i, seed), ExtractConfig.Default)
      out.spans.map(s => (out.doc_id, s.order, s.kind, s.media_ref, s.text))
    }.toDF("doc_id", "order", "kind", "media_ref", "text")
  }

  /** Extraction on the driver thread over the run's docs, leaving the other
    * cores to the JIT compiler: a few seconds here replace a dozen Spark
    * runs of warm-up before per-run times settle.
    */
  def preheat(seed: Long, nDocs: Long): Unit = {
    var i = 0L
    while (i < nDocs) { Extract.extractDoc(DocsGen.genDoc(i, seed), ExtractConfig.Default); i += 1 }
  }

  /** Doc indices to spot-check: spread over the range, plus one folio. */
  def sample(seed: Long, n: Long): Seq[Long] = {
    val rng = new DocsGen.Rng(seed ^ 0x5DEECE66DL)
    val folio = if (n >= 1000) Seq(999L + 1000L * rng.nextInt((n / 1000).toInt)) else Nil
    (folio ++ Seq.fill(SampleDocs)(rng.nextInt(n.toInt).toLong)).distinct
  }

  /** Checks every doc is present once with orders 0..k-1 (`bad` counts
    * order defects per doc), that sampled docs equal the single-threaded
    * extraction, and that docs 0..4999 of seed 42 equal the committed
    * golden output.
    */
  def verify(spark: SparkSession, seed: Long, nDocs: Long, got: Map[String, Digest],
             bad: Map[String, Long], goldenPath: File): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (got.size != nDocs) errs += s"distinct docs ${got.size} != $nDocs"
    val missing = (0L until nDocs).iterator.map(DocsGen.docIdOf).filterNot(got.contains).take(3).toSeq
    if (missing.nonEmpty) errs += s"missing docs ${missing.mkString(",")}"
    val defects = bad.filter(_._2 != 0L)
    if (defects.nonEmpty) errs += s"${defects.size} docs whose order is not 0..k-1, e.g. ${defects.head._1}"
    val ids = sample(seed, nDocs)
    val want = digests(digestCols(expectedSpans(spark, seed, ids)).collect())
    ids.map(DocsGen.docIdOf).foreach { id =>
      if (got.get(id) != want.get(id)) errs += s"$id differs from Extract.extractDoc(DocsGen.genDoc)"
    }
    // the golden holds docs 0..4999 of seed 42: the run's own output when it
    // covers them, else the single-threaded extraction of the same docs
    val goldenSeedDocs =
      if (seed == 42L && nDocs >= GoldenDocs) got
      else digests(digestCols(expectedSpans(spark, 42L, 0L until GoldenDocs)).collect())
    val golden = digests(digestCols(spark.read.parquet(goldenPath.getPath)).collect())
    val diff = golden.count { case (id, d) => !goldenSeedDocs.get(id).contains(d) }
    if (golden.size != GoldenDocs || diff != 0)
      errs += s"$diff of ${golden.size} golden docs differ from ${goldenPath.getName}"
    errs.toSeq
  }
}

final case class JobResult(out: File, buckets: Int, docs: Long, startNs: Long)

/** `ExtractJob.run` over `DocsGen` docs: 64 buckets in groups of 16, a
  * fresh output directory per run. Its traced run adds the N→4N proxy:
  * `Extract.run` → `posexplode` → per-doc aggregate, with no write, on all
  * cores over the run's docs and in one partition over a quarter of them.
  */
final class ExtractJobWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val inputDocs: Long = Main.ExtractDocs
  private val golden = new File("src/test/resources/expected/pipeline_extract.parquet")
  private var serial = 0
  private val commits = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]

  def prepare(): Unit = ExtractChecks.preheat(seed, 2 * inputDocs)

  def run(tag: String): AnyRef = {
    serial += 1
    val out = new File(work, s"job-$serial")
    val marks = commits.getOrElseUpdate(tag, mutable.ArrayBuffer.empty)
    val t0 = System.nanoTime()
    val clock = () => { marks += System.nanoTime(); System.currentTimeMillis() }
    val args = ExtractJob.Args(nDocs = inputDocs, seed = seed, out = out.getPath,
      buckets = ExtractJob.DefaultBuckets, groupSize = 16, cores = cores.toString, clock = clock)
    val (buckets, docs) = ExtractJob.run(spark, args)
    JobResult(out, buckets, docs, t0)
  }

  /** Every run: the job's own counts and its lineage table. Full: the
    * written data, read back, against the lineage and the extraction. */
  def check(tag: String, result: AnyRef, full: Boolean): Seq[String] = {
    val r = result.asInstanceOf[JobResult]
    val errs = mutable.ArrayBuffer.empty[String]
    if (r.buckets != ExtractJob.DefaultBuckets) errs += s"processed ${r.buckets} buckets"
    if (r.docs != inputDocs) errs += s"job reported ${r.docs} docs"
    val lineage = Lineage.read(spark, r.out.getPath).collect()
      .map(l => l.partition_id -> (l.doc_count, l.span_count)).toMap
    if (lineage.size != ExtractJob.DefaultBuckets) errs += s"${lineage.size} lineage rows"
    if (lineage.values.map(_._1).sum != inputDocs) errs += s"lineage counts ${lineage.values.map(_._1).sum} docs"
    if (!full) return errs.toSeq
    val data = spark.read.parquet(s"${r.out}/data")
    val perDoc = data.groupBy(col("doc_id")).agg(
      count(lit(1)).as("k"), countDistinct(col("order")).as("kd"),
      min(col("order")).as("lo"), max(col("order")).as("hi"),
      ExtractChecks.h1(), ExtractChecks.h2())
      .collect()
    val got = perDoc.map(x => x.getString(0) -> ExtractChecks.Digest(x.getLong(1), x.getLong(5), x.getLong(6))).toMap
    val bad = perDoc.map { x =>
      val (k, kd, lo, hi) = (x.getLong(1), x.getLong(2), x.getInt(3), x.getInt(4))
      x.getString(0) -> (if (kd == k && lo == 0 && hi == k - 1) 0L else 1L)
    }.toMap
    errs ++= ExtractChecks.verify(spark, seed, inputDocs, got, bad, golden)
    // lineage sums equal a read-back of the data, bucket by bucket
    val readBack = data.groupBy(col("bucket")).agg(
      count(lit(1)).as("spans"), countDistinct(col("doc_id")).as("docs")).collect()
      .map(x => x.getInt(0).toLong -> (x.getLong(2), x.getLong(1))).toMap
    val off = lineage.filter { case (b, v) => readBack.getOrElse(b, (0L, 0L)) != v }
    if (off.nonEmpty) errs += s"lineage disagrees with the data in ${off.size} buckets"
    if (readBack.keySet.exists(b => !lineage.contains(b))) errs += "data bucket without lineage"
    errs.toSeq
  }

  private def filesUnder(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))

  private var lastOut: Option[JobResult] = None

  override def traced(tag: String, result: AnyRef, wallS: Double): Seq[(String, Double)] = {
    val r = result.asInstanceOf[JobResult]
    lastOut = Some(r)
    val st = stages.stagesOf(tag)
    val marks = commits.getOrElse(tag, mutable.ArrayBuffer.empty)
    val groupS = (r.startNs +: marks.toSeq).sliding(2).collect { case Seq(a, b) => (b - a) / 1e9 }.toSeq
    val dataFiles = filesUnder(new File(r.out, "data")).filter(_.getName.endsWith(".parquet"))
    Seq(
      "extractjob.group_s" -> Stats.median(groupS),
      "extractjob.write_s" -> Stats.covered(st.filter(_.module == "ExtractJob")),
      "extractjob.output_files" -> dataFiles.size.toDouble,
      "extractjob.output_bytes" -> dataFiles.map(_.length).sum.toDouble,
      "lineage.commit_s" -> Stats.covered(st.filter(_.module == "Lineage")))
  }

  /** Extraction alone, no write: per-doc digests of `nDocs` docs in
    * `partitions` partitions; returns the wall time. */
  private def scan(nDocs: Long, partitions: Int): Double = {
    val t0 = System.nanoTime()
    val spans = Extract.run(DocsGen.docs(spark, nDocs, seed, partitions = partitions), ExtractConfig.Default)
      .select(col("doc_id"), posexplode_outer(col("spans")).as(Seq("pos", "s")))
    val rows = spans.groupBy(col("doc_id")).agg(
      count(col("s")).as("k"),
      sum(when(col("s.order") =!= col("pos"), 1L).otherwise(0L)).as("bad"),
      // the hash makes the aggregate read every field of every span
      ExtractChecks.h1("s."))
      .collect()
    val s = (System.nanoTime() - t0) / 1e9
    require(rows.length == nDocs && rows.forall(_.getLong(2) == 0L), s"scan of $nDocs docs is wrong")
    s
  }

  override def afterTrace(untracedS: Seq[Double]): Seq[(String, Double)] = lastOut.toSeq.flatMap { r =>
    val readS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Lineage.committedPartitions(spark, r.out.getPath)
      (System.nanoTime() - t0) / 1e9
    }
    val written = filesUnder(new File(r.out, "data")).map(_.length).sum +
      filesUnder(new File(r.out, "lineage")).map(_.length).sum
    val inputBytes = DocsGen.docs(spark, inputDocs, seed, partitions = 64)
      .select(explode(col("spans")).as("s"))
      .agg(sum(octet_length(col("s.text")))).collect()(0).getLong(0)
    // docs/s at 4 cores over docs/s of one task on a quarter of the docs
    val quarter = inputDocs / 4
    val legs = (1 to 3).map { i =>
      trace.span(s"scaling.leg$i", "scaling")((scan(inputDocs, 64), scan(quarter, 1)))
    }
    val eff = (inputDocs / Stats.median(legs.map(_._1))) / (4.0 * quarter / Stats.median(legs.map(_._2)))
    Seq("lineage.read_s" -> Stats.median(readS),
      "bytes_written_per_input_byte" -> written.toDouble / inputBytes,
      "scaling_eff" -> eff)
  }
}

/** One catalog pass: each leaf's rows, wall time and executed plan. */
final case class Pass(rows: Map[String, Array[Row]], seconds: Map[String, Double],
                      plans: Map[String, org.apache.spark.sql.execution.SparkPlan])

/** Five dedup-family catalog leaves over a seeded sf0.1-shaped corpus.
  *
  * The warm-up pass runs the same leaves on a 500-doc corpus from the same
  * generator and seed (the sf0.01 shape): it compiles the same plans at a
  * fraction of the row work, and its output is what `run.py` compares with
  * `SparkEntry.oracleSql` in DuckDB — whose recursive oracles take minutes
  * at 5,000 docs. Timed passes over the 5,000-doc corpus are checked with
  * invariants that tie the leaves together, and must equal each other.
  */
final class DedupCatalogWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val Leaves: Seq[String] =
    Seq("pipeline_dataprep", "q_dedup_components", "q_ngram_jaccard", "q_minhash_pairs", "q_substring_dedup")
  val inputDocs: Long = Corpus.Docs
  private val corpusDir = new File(work, "corpus")
  private val warmDir = new File(work, "corpus-warm")
  private var corpus = corpusDir
  private var reference: Map[String, Seq[String]] = Map.empty
  private val confChanges = mutable.LinkedHashMap.empty[String, String]

  def prepare(): Unit = {
    Corpus.write(spark, corpusDir.getPath, seed)
    Corpus.write(spark, warmDir.getPath, seed, Main.WarmCorpusDocs)
    val sql = Leaves.map(l => l -> Json.str(SparkEntry.oracleSql(l)))
    java.nio.file.Files.write(new File(work, "oracle_sql.json").toPath,
      Json.obj(sql).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  override def warmup(tag: String): Seq[String] = {
    corpus = warmDir
    val p = try run(tag).asInstanceOf[Pass] finally corpus = corpusDir
    p.rows.foreach { case (leaf, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), p.plans(leaf).schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(dir("out"), leaf).getPath)
    }
    invariants(p)
  }

  def run(tag: String): AnyRef = {
    val before = spark.conf.getAll
    val rows = mutable.LinkedHashMap.empty[String, Array[Row]]
    val secs = mutable.LinkedHashMap.empty[String, Double]
    val plans = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.execution.SparkPlan]
    Leaves.foreach { leaf =>
      spark.sparkContext.setLocalProperty(Tags.Leaf, leaf)
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(leaf)(spark, corpus.getPath)
        rows(leaf) = df.collect()
        plans(leaf) = df.queryExecution.executedPlan
      } finally Queries.releaseCaches()
      secs(leaf) = (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLocalProperty(Tags.Leaf, null)
    val after = spark.conf.getAll
    (after.keySet ++ before.keySet).foreach { k =>
      if (before.get(k) != after.get(k))
        confChanges(k) = s"${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}"
    }
    Pass(rows.toMap, secs.toMap, plans.toMap)
  }

  private def long(r: Row, c: String): Long = r.getAs[Number](c).longValue

  /** Cross-leaf invariants: LSH pairs are ordered and distinct; verified
    * pairs are LSH pairs whose Jaccard is inter/uni ≥ 0.7; each component is
    * labelled by its smallest member and counts its members.
    */
  private def invariants(p: Pass): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val lsh = p.rows("q_minhash_pairs").map(r => (long(r, "a"), long(r, "b")))
    val lshSet = lsh.toSet
    if (lsh.isEmpty || lsh.exists { case (a, b) => a >= b } || lshSet.size != lsh.length)
      errs += "q_minhash_pairs: pairs are empty, unordered or repeated"
    val badVerified = p.rows("q_ngram_jaccard").count { r =>
      val (inter, uni) = (long(r, "inter"), long(r, "uni"))
      !lshSet.contains((long(r, "a"), long(r, "b"))) || r.getAs[Double]("jaccard") != inter.toDouble / uni ||
        r.getAs[Double]("jaccard") < 0.7
    }
    if (badVerified > 0) errs += s"q_ngram_jaccard: $badVerified rows are not verified LSH pairs"
    val comps = p.rows("q_dedup_components").groupBy(r => long(r, "component"))
    val badComps = comps.count { case (c, members) =>
      members.map(long(_, "doc_id")).min != c || members.exists(long(_, "n_members") != members.length)
    }
    if (comps.isEmpty || badComps > 0) errs += s"q_dedup_components: $badComps inconsistent components"
    Leaves.filter(l => p.rows(l).isEmpty).foreach(l => errs += s"$l returned no rows")
    errs.toSeq
  }

  /** Invariants, and equality with the first timed pass. */
  def check(tag: String, result: AnyRef, full: Boolean): Seq[String] = {
    val p = result.asInstanceOf[Pass]
    val rows = p.rows.map { case (k, v) => k -> v.map(_.toSeq.mkString("\u0001")).toSeq.sorted }
    if (reference.isEmpty) reference = rows
    invariants(p) ++ Leaves.filter(l => rows(l) != reference(l)).map(l => s"$l differs from the first timed pass")
  }

  override def traced(tag: String, result: AnyRef, wallS: Double): Seq[(String, Double)] = {
    val p = result.asInstanceOf[Pass]
    val st = stages.stagesOf(tag)
    Leaves.flatMap { leaf =>
      val mine = st.filter(_.leaf == leaf)
      Seq(s"queries.${leaf}_s" -> p.seconds(leaf),
        s"queries.${leaf}_shuffle_bytes" -> mine.map(_.shuffleWriteBytes).sum.toDouble,
        s"queries.${leaf}_tasks" -> mine.map(_.tasks).sum.toDouble)
    } ++ Seq(
      "queries.cc_jobs" -> stages.jobsOf(tag, "q_dedup_components").toDouble,
      "queries.verify_yield" -> p.rows("q_ngram_jaccard").length.toDouble / p.rows("q_minhash_pairs").length,
      "queries.sort_aggregates" -> Leaves.map(l => Plans.count(p.plans(l), "SortAggregate")).sum.toDouble)
  }

  override def context: Seq[(String, String)] =
    Seq("conf_changed_by_pass" -> Json.obj(confChanges.toSeq.map { case (k, v) => k -> Json.str(v) }))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Wall time covered by the union of the stages' [submitted, completed]. */
  def covered(st: Seq[StageRec]): Double = {
    var total = 0L
    var end = Long.MinValue
    st.map(s => (s.submittedMs, s.completedMs)).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total / 1000.0
  }
}
