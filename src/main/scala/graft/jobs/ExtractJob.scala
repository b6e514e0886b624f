package graft.jobs

import graft.layout.ExtractConfig
import graft.metrics.Heartbeat
import graft.model.{Doc, DocOut, LineageRow}
import graft.pipeline.{DocsGen, Extract}
import graft.storage.Lineage
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit entry point: resumable, lineage-tracked span extraction.
  *
  * Shape (north_rule): read the interleaved `docs` table → hash-bucket by
  * `doc_id` → per bucket-group: narrow `mapPartitions` extraction → salted,
  * range-balanced write → lineage rows (bucket hash, doc/span counts,
  * divergence) committed atomically, through the [[resumable]] loop the
  * crawl and data-prep jobs share. A rerun skips committed buckets, so a
  * kill between group commits loses at most one group of work and never
  * recomputes committed buckets.
  *
  * Skew: 0.1% of documents carry 5–10k spans (multi-page folios). Extraction
  * itself is row-local so skew only manifests at the shuffle for the
  * partitioned write; `repartition(salt)` inside each bucket plus AQE
  * (adaptive coalescing + skew splitting, enabled in [[session]]) keeps the
  * long tail from serializing a task. The north_rule's range-partitioned
  * write was measured against this salt on the production group shape
  * (BENCH.md §17, [[spanRows]]): range wins only on a materialized input —
  * fused behind the extraction it re-executes the upstream via its
  * sampling pass — so the salt ships here and range ships where tables are
  * rewritten from disk.
  */
object ExtractJob {

  /** Span-write salt modulus: spreads one bucket — and one folio — across
    * this many tasks.
    */
  val WriteSaltFactor = 16

  /** Default bucket count (resume granularity). */
  val DefaultBuckets = 64

  final case class Args(
      nDocs: Long = 20000L,
      seed: Long = 42L,
      out: String = "/tmp/graft_extract",
      buckets: Int = DefaultBuckets,
      groupSize: Int = 16,
      cores: String = DefaultCores,
      failAfterGroups: Int = -1, // test hook: crash BEFORE a group's write
      failAfterWrite: Int = -1, // test hook: crash AFTER a group's write, BEFORE its lineage commit
      expected: Option[String] = None, // prior run's data dir → divergence metric
      clock: () => Long = () => System.currentTimeMillis())

  /** Local cores for every main that takes no explicit core count. */
  val DefaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The one session factory for the library's mains (the driver
    * instruments `Bench` and `Verify` keep their own fixed sessions). A main
    * that needs a different posture sets it with `spark.conf.set` right
    * after this returns; such settings do not reach sessions cloned with
    * `newSession()` (see `StreamOps.streamSession`).
    */
  def session(cores: String = DefaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Deterministic bucket of one document (stable across runs/partitionings).
    * The DataFrame-side twin is [[graft.functions.ChurroFunctions.bucket_of]]
    * — a codegen'd native expression over the same MurmurHash3, so the write
    * and lineage plans stay inside whole-stage codegen (no ScalaUDF node).
    */
  def bucketOf(docId: String, buckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(docId, 42), buckets)

  private def bucketCol(buckets: Int) =
    graft.functions.ChurroFunctions.bucket_of(col("doc_id"), lit(buckets))

  /** Exploded, bucketed, salted span rows for one group's extraction — the
    * write-side plan. Salting on the SPAN order (not the doc hash) splits a
    * single 10k-span folio across 16 tasks; a per-doc salt would
    * re-serialize it (round-1 defect). Whole plan stays in codegen: the
    * bucket is a native expression, no ScalaUDF node (asserted in JobSpec).
    *
    * Adjudicated against `repartitionByRange(bucket, doc_id, order)` — the
    * north_rule's named mechanism — by measurement (BENCH.md §17): on a MATERIALIZED input the range write is ~1.6×
    * faster and doc-clusters the files, but its RangePartitioner SAMPLES
    * its child, which here is the un-cached generate→extract pipeline —
    * the sampling pass re-executes the whole extraction (HeartbeatSpec's
    * exactly-once-per-group docs counter read 2× when a range write was
    * tried), and doubling the narrow CPU stage costs far more than the
    * write saves. So the FUSED pipeline ships the salt; range is the
    * right shape when the written table already exists (CompactJob's
    * partition-aligned rewrite regime).
    */
  def spanRows(extracted: Dataset[DocOut], buckets: Int): DataFrame =
    extracted
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.order").as("order"), col("s.kind").as("kind"),
        col("s.media_ref").as("media_ref"), col("s.text").as("text"))
      .withColumn("bucket", bucketCol(buckets))
      .withColumn("salt", pmod(col("order"), lit(WriteSaltFactor)))
      .repartition(col("bucket"), col("salt"))
      .drop("salt")

  /** Lineage stats of a group write, as predicates over its rows:
    * span/doc/error counts of the rows where `spans`/`docs`/`errors` hold,
    * and the order-insensitive `bit_xor(xxhash64(key))` over the rows
    * where `hashed` holds.
    */
  final case class UnitStats(spans: Column, docs: Column, errors: Column, hashed: Column, key: Column)

  /** One group's write: with a `unitCol`, each unit is a partition of it;
    * without, the group is one unit written as an unpartitioned snapshot.
    * `finish` adjusts the lineage rows between the write and the commit.
    */
  final case class GroupWrite(rows: DataFrame, path: String, unitCol: Option[String],
      stats: UnitStats, finish: Seq[LineageRow] => Seq[LineageRow] = identity)

  /** The resume/commit loop of every lineage-tracked job ([[run]],
    * [[WarcIngestJob.run]], [[DataPrepJob.run]]): read the lineage table
    * once — throwing, before any write, if it was committed from input
    * other than `snapshotId` ([[Lineage.committed]]) — skip committed
    * units, and per group of `groupSize` units build
    * the write with `plan` (given the rows committed so far, this run's
    * included, and the run's [[Heartbeat]]), write it with its stats
    * observed in the write's own result stage (no second pass, and no
    * double count from a retried task), then stamp one `clock()` reading
    * and commit the group's rows with [[Lineage.append]].
    *
    * DYNAMIC partition overwrite replaces exactly the group's unit
    * directories, so a crash between write and commit cannot duplicate
    * rows on resume: the retried group overwrites its own orphans. It is a
    * per-write option because a session-wide `conf.set` would change every
    * later partitioned write on the session. Test hooks: crash before the
    * write of group `failAfterGroups` (0-based, this run) or between the
    * write and the commit of group `failAfterWrite`; negative disables.
    * Returns the rows this run committed.
    */
  def resumable(spark: SparkSession, out: String, units: Seq[Int], groupSize: Int,
      snapshotId: Long, failAfterGroups: Int, failAfterWrite: Int, clock: () => Long)(
      plan: (Seq[Int], collection.Map[Long, LineageRow], Heartbeat) => GroupWrite): Seq[LineageRow] = {
    val committed = collection.mutable.Map.empty[Long, LineageRow] ++
      Lineage.committed(spark, out, snapshotId)
    val fresh = Seq.newBuilder[LineageRow]
    // per-run progress surface (tail -f <out>/progress.jsonl mid-run)
    val heartbeat = new Heartbeat(spark, out).start()
    try units.filterNot(u => committed.contains(u.toLong)).grouped(groupSize).zipWithIndex.foreach {
      case (group, g) =>
        if (failAfterGroups >= 0 && g >= failAfterGroups)
          throw new RuntimeException(s"injected failure after $g groups")
        val w = plan(group, committed, heartbeat)
        val obs = Observation()
        val stats = unitStatCols(group, w.unitCol, w.stats)
        w.rows.observe(obs, stats.head, stats.tail: _*)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(w.unitCol.toSeq: _*).parquet(w.path)
        val observed = obs.get
        if (failAfterWrite >= 0 && g >= failAfterWrite)
          throw new RuntimeException(s"injected failure after write of group $g")
        val now = clock()
        val rows = w.finish(group.map { u =>
          def n(stat: String) = observed(s"${stat}_$u").asInstanceOf[Long]
          LineageRow(snapshotId, u, java.lang.Long.toHexString(n("hash")), n("docs"), n("spans"),
            divergence = 0.0, committed_at = now, error_count = n("errors"))
        })
        Lineage.append(spark, out, rows)
        heartbeat.rowsDone.add(rows.map(_.span_count).sum)
        committed ++= rows.map(r => r.partition_id -> r)
        fresh ++= rows
        heartbeat.groupsDone.add(1L)
    } finally heartbeat.stop()
    fresh.result()
  }

  /** Four observed aggregates per unit; the coalesces matter because SUM
    * and BIT_XOR over a unit with zero rows are NULL.
    */
  private def unitStatCols(units: Seq[Int], unitCol: Option[String], s: UnitStats): Seq[Column] =
    units.flatMap { u =>
      val mine = unitCol.fold(lit(true))(col(_) === u)
      def rows(p: Column) = coalesce(sum(when(mine && p, 1L).otherwise(0L)), lit(0L))
      Seq(rows(s.spans).as(s"spans_$u"), rows(s.docs).as(s"docs_$u"), rows(s.errors).as(s"errors_$u"),
        coalesce(bit_xor(when(mine && s.hashed, xxhash64(s.key))), lit(0L)).as(s"hash_$u"))
    }

  /** One resumable run; its input snapshot id hashes what determines the
    * bucketed docs (`nDocs`, `seed`, `buckets`). Returns (processedBuckets,
    * processedDocs).
    */
  def run(spark: SparkSession, args: Args): (Int, Long) = {
    val buckets = args.buckets
    // Per bucket: every row is a span, each doc contributes exactly its
    // order-0 span, and the doc hash xors each doc once via that span.
    val firstSpan = col("order") === 0
    val stats = UnitStats(spans = lit(true), docs = firstSpan, errors = lit(false),
      hashed = firstSpan, key = col("doc_id"))
    val rows = resumable(spark, args.out, 0 until buckets, args.groupSize,
        Lineage.inputId(args.nDocs, args.seed, buckets), args.failAfterGroups,
        args.failAfterWrite, args.clock) { (group, _, heartbeat) =>
      // Each group generates ONLY its own documents: the doc id (and so its
      // bucket) is derivable from the index before the expensive span
      // synthesis runs — the faithful model of a bucket-partition-pruned
      // input scan.
      val groupSet = group.toSet
      val docs: Dataset[Doc] = DocsGen.docsWhere(spark, args.nDocs, args.seed, partitions = 64) {
        docId => groupSet.contains(bucketOf(docId, buckets))
      }
      val extracted: Dataset[DocOut] = Extract.run(docs, ExtractConfig.Default, Some(heartbeat))
      GroupWrite(spanRows(extracted, buckets), s"${args.out}/data", Some("bucket"), stats,
        finish = rows => args.expected.fold(rows) { expectedDir =>
          val div = divergenceByBucket(spark, args.out, expectedDir, group, buckets)
          rows.map(r => r.copy(divergence = div.getOrElse(r.partition_id.toInt, 0.0)))
        })
    }
    (rows.size, rows.map(_.doc_count).sum)
  }

  /** CER-style divergence vs an expected table (north_rule lineage
    * metric): full-outer span join per bucket; divergence = 1 - avg(nls),
    * with missing/extra spans scored 0 similarity. 0.0 when byte-identical.
    */
  private def divergenceByBucket(spark: SparkSession, out: String, expectedDir: String,
      group: Seq[Int], buckets: Int): Map[Int, Double] = {
    // the just-written group partitions ARE the fresh extraction —
    // a pruned read-back instead of a re-extraction pass
    val fresh = spark.read.parquet(s"$out/data")
      .filter(col("bucket").isInCollection(group))
      .select(col("doc_id"), col("order"), col("text").as("new_text"),
        col("bucket").as("fresh_bucket"))
    // the expected table is written partitionBy(bucket) with the same
    // bucketing, so filtering on the partition column prunes the scan
    // to this group's directories (round 1 re-scanned the whole table
    // per group through an unprunable UDF predicate); if the dir has
    // no bucket column, fall back to the native expression (codegen'd,
    // still no ScalaUDF, just not prunable)
    val expRaw = spark.read.parquet(expectedDir)
    // normalize the partition column's type: an externally written
    // expected table may carry bucket as BIGINT (e.g. a DuckDB COPY),
    // and a long surviving through the coalesce below would poison
    // the getInt on the collected row
    val expBucketed =
      if (expRaw.columns.contains("bucket"))
        expRaw.withColumn("bucket", col("bucket").cast("int"))
      else expRaw.withColumn("bucket", bucketCol(buckets))
    val exp = expBucketed
      .filter(col("bucket").isInCollection(group))
      .select(col("doc_id"), col("order"), col("text").as("exp_text"),
        col("bucket").as("exp_bucket"))
    fresh.join(exp, Seq("doc_id", "order"), "full_outer")
      .withColumn("sim",
        when(col("new_text").isNull || col("exp_text").isNull, lit(0.0))
          .otherwise(graft.functions.ChurroFunctions.nls(col("new_text"), col("exp_text"))))
      // both sides carry their partition column — reuse it instead of
      // re-hashing doc_id per span row (coalesce covers the outer join)
      .withColumn("bucket", coalesce(col("fresh_bucket"), col("exp_bucket")))
      .groupBy(col("bucket"))
      .agg((lit(1.0) - avg(col("sim"))).as("divergence"))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  def main(argv: Array[String]): Unit = {
    var args = Args()
    argv.sliding(2, 2).foreach {
      case Array("--docs", v) => args = args.copy(nDocs = v.toLong)
      case Array("--seed", v) => args = args.copy(seed = v.toLong)
      case Array("--out", v) => args = args.copy(out = v)
      case Array("--buckets", v) => args = args.copy(buckets = v.toInt)
      case Array("--group-size", v) => args = args.copy(groupSize = v.toInt)
      case Array("--cores", v) => args = args.copy(cores = v)
      case Array("--fail-after", v) => args = args.copy(failAfterGroups = v.toInt)
      case Array("--fail-after-write", v) => args = args.copy(failAfterWrite = v.toInt)
      case Array("--expected", v) => args = args.copy(expected = Some(v))
      case other => throw new IllegalArgumentException(other.mkString(" "))
    }
    val spark = session(args.cores)
    val t0 = System.nanoTime()
    val (buckets, docs) = run(spark, args)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"extract","buckets":$buckets,"docs":$docs,"sec":$sec%.3f,"docs_per_sec":${docs / math.max(sec, 1e-9)}%.1f}""")
    spark.stop()
  }
}
