package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twin of the batch tumbling-window aggregation.
  *
  * The reference's concurrency layer is async batch, not streaming
  * (SURVEY.md §2.9); this is the streaming-ingest form the same pipeline
  * takes under `readStream → window agg → writeStream` (driven synchronously
  * here via the memory sink so the result is comparable to the batch oracle).
  */
object StreamOps {

  /** Session clone whose shuffle partitioning is sized to the stream's
    * batch input instead of inherited from the driver session (round 6,
    * guide §2.2). A stateful streaming query PINS its state-store partition
    * count at first start (it lives in the checkpoint), so "just let AQE
    * coalesce" never applies: every micro-batch writes one delta file per
    * state partition, and 32 partitions of KB-scale state made the bounded
    * fixtures pay 32 file creates per stateful operator per batch (measured
    * 3.9 s → 2.4 s on the near-dup stream at 4 partitions). Scale-adaptive:
    * ~4 MB of input per partition, CAPPED at the session's configured
    * `spark.sql.shuffle.partitions` — production volumes hit the cap and
    * keep the operator's configured parallelism.
    */
  private[graft] def streamSession(spark: SparkSession, path: String,
                                   fanout: Int = 1): SparkSession = {
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val cap = spark.conf.get("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString).toInt
    // `fanout` = the operator's row multiplication between source and its
    // stateful shuffle (the near-dup stream keys 32 band rows per doc), so
    // the state partitioning is sized to what actually enters the store;
    // ~4 MB of (fanned-out) input per state partition. The product
    // saturates: an unreadable path reports Long.MaxValue bytes, which must
    // size to the cap rather than wrap negative and floor at 1.
    val fanned = if (bytes > Long.MaxValue / fanout) Long.MaxValue else bytes * fanout
    val n = math.max(1L, fanned >> 22).min(cap.toLong).toInt
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", n)
    ss
  }

  def streamWindow(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val spark2 = streamSession(spark, path)
    val schema = spark2.read.parquet(path).schema
    // the file stream source wants a directory; glob-filter to the one table
    val events = spark2.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val agg = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    val queryName = "graft_stream_window"
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark2.table(queryName)
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("min_v"), col("max_v"))
      .orderBy("hour", "event_type")
  }

  /** Streaming heavy hitters: the Misra-Gries sketch aggregate
    * ([[graft.functions.HeavyHitters]]) as a complete-mode streaming
    * aggregation — the running top-k over an unbounded stream with
    * STATE BOUNDED AT 2m COUNTERS regardless of how many distinct keys
    * flow past (a plain streaming groupBy(token).count grows state by one
    * row per distinct key forever — the unbounded-state shape watermarks
    * exist to prevent, except no watermark can bound a key dimension).
    * The sketch buffer serializes into the state store between
    * micro-batches like any TypedImperativeAggregate; micro-batch
    * boundaries land wherever the source cuts them, and the PODS'12 merge
    * bound is partition-order independent, so the eventual top-k equals
    * the batch query's in the exact regime (the oracle) and stays within
    * ε = N/(m+1) in general (FunctionsSpec). */
  def streamHeavyHittersQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Queries
    val path = s"$dir/documents.parquet"
    val spark2 = streamSession(spark, path)
    val schema = spark2.read.parquet(path).schema
    val docs = spark2.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val agg = docs.agg(graft.functions.ChurroFunctions.heavy_hitters(
      split(col("text"), " "), Queries.HeavyHittersM, Queries.HeavyHittersK).as("hh"))
    val queryName = "graft_stream_heavy_hitters"
    val q = agg.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark2.table(queryName)
      .select(explode(col("hh")).as("h"))
      .select(col("h.token").as("token"), col("h.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  /** The SCALE shape of the streaming aggregation: append output mode with a
    * watermark, so state for closed windows is dropped instead of growing
    * without bound (the complete-mode memory sink above is the oracle twin,
    * not the production shape). Emits only finalized windows.
    */
  def streamWindowAppend(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("min_v"), col("max_v"))

  /** Driveable form of [[streamWindowAppend]] for the correctness gate: the
    * bounded events table through the SCALE shape (watermark + append mode,
    * state for closed windows dropped). Deterministic because the file
    * source reads the table in one batch, the watermark then advances to
    * max(ts) − 2h, and Spark's no-data batch emits exactly the windows with
    * `window.end <= watermark` — which is what the batch oracle selects.
    * Unclosed trailing windows are withheld by design (they'd emit on the
    * next day's data in production).
    */
  def streamWindowAppendQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val spark2 = streamSession(spark, path)
    val schema = spark2.read.parquet(path).schema
    val events = spark2.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      // watermarks require TIMESTAMP (the table stores NTZ; session TZ is
      // UTC so the cast is value-preserving) — cast back on output so the
      // result schema matches the batch oracle's NTZ
      .withColumn("ts", col("ts").cast("timestamp"))
    val queryName = "graft_stream_window_append"
    val q = streamWindowAppend(events).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark2.table(queryName)
      .withColumn("hour", col("hour").cast("timestamp_ntz"))
      .orderBy("hour", "event_type")
  }

  /** Streaming exact dedup — the ingest-time shape of the dedup family
    * (`q_dedup_exact` is the batch form): duplicates planted INSIDE the
    * stream (every 3rd event arrives twice) are dropped by
    * `dropDuplicatesWithinWatermark`, the bounded-state production dedup —
    * state for an event id is held only until the watermark passes it, so
    * the store cannot grow without bound on an infinite stream (a plain
    * `dropDuplicates` would). Deterministic: the planted copies are exact
    * row copies, so whichever arrives first yields the same output row; the
    * batch oracle is simply the original events table.
    */
  def streamDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val spark2 = streamSession(spark, path)
    val schema = spark2.read.parquet(path).schema
    val events = spark2.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dupped = events
      .withColumn("copy", explode(when(col("event_id") % 3 === 0,
        array(lit(1), lit(2))).otherwise(array(lit(1)))))
      .drop("copy")
    val deduped = dupped
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val queryName = "graft_stream_dedup"
    val q = deduped.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark2.table(queryName)
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .orderBy("event_id")
  }

  // ---- streaming near-dup dedup ---------------------------------------------

  final case class BandRow(doc_id: Long, ts: java.sql.Timestamp, band_id: Int, bv: String)
  final case class BucketFirst(ts: Long, docId: Long, lastTs: Long = 0L)
  final case class DupEvidence(doc_id: Long, band_id: Int)

  /** Per-(band, bucket) state function: O(1) state — only the EARLIEST
    * (ts, doc_id) member ever seen — and one dup-evidence row for every
    * later arrival. Event-time timeout drops a bucket's state once the
    * watermark passes its last activity + the gap, so the store stays
    * bounded on an infinite stream (the same watermark-scoped contract as
    * `dropDuplicatesWithinWatermark`: a near-dup arriving after the state
    * expired is treated as new, by design).
    */
  def nearDupBucketFn(gapMs: Long)(
      key: (Int, String),
      rows: Iterator[BandRow],
      state: GroupState[BucketFirst]): Iterator[DupEvidence] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // iterator order across partitions is nondeterministic — sort by the
      // deterministic arrival key (ts, doc_id) so "first in bucket" is
      // well-defined within a batch too
      val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
      var first = state.getOption
      val out = Vector.newBuilder[DupEvidence]
      sorted.foreach { r =>
        first match {
          case None => first = Some(BucketFirst(r.ts.getTime, r.doc_id))
          case Some(f) if r.ts.getTime < f.ts ||
              (r.ts.getTime == f.ts && r.doc_id < f.docId) =>
            // an out-of-order EARLIER row: the old first becomes evidence
            out += DupEvidence(f.docId, key._1)
            first = Some(BucketFirst(r.ts.getTime, r.doc_id))
          case Some(_) => out += DupEvidence(r.doc_id, key._1)
        }
      }
      first.foreach { f =>
        // lastTs carries the max activity EVER seen: a late out-of-order
        // batch must never move the timeout backward (that would expire
        // state early and silently treat a true near-dup as new)
        val last = math.max(
          state.getOption.map(_.lastTs).getOrElse(Long.MinValue),
          sorted.map(_.ts.getTime).max)
        state.update(BucketFirst(f.ts, f.docId, last))
        state.setTimeoutTimestamp(last + gapMs)
      }
      out.result().iterator
    }
  }

  /** Streaming NEAR-dup dedup — the ingest-time twin of the batch
    * MinHash+LSH chain (`q_minhash_pairs`/`q_dedup_components`): near-copies
    * are planted INSIDE the stream (every doc_id % 10 == 1 document arrives
    * again with "the"→"teh" under id + 200000, at the SAME event time), the
    * 64-hash MinHash signature is computed per row by the native one-pass
    * `minhash_sigs` expression (a pure projection — it streams), each row
    * fans out to its [[graft.ops.Queries.MinhashBands]] band buckets, and
    * [[nearDupBucketFn]] keeps one O(1) first-member state per bucket within
    * the watermark. Output: the distinct flagged duplicates (batch-side
    * presentation over the memory sink, like the other stream twins). The
    * DuckDB oracle recomputes bucket-minimum membership over the same
    * banded signatures.
    */
  def streamNearDupQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Queries
    import spark.implicits._
    val path = s"$dir/documents.parquet"
    val spark2 = streamSession(spark, path, fanout = Queries.MinhashBands)
    val schema = spark2.read.parquet(path).schema
    val docs = spark2.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select(col("doc_id"), col("text"))
    // in-stream planted near-copies; event time keys arrival order and the
    // copy shares its base doc's timestamp (doc_id % 100000), so the base
    // is always "first in bucket" by the (ts, doc_id) order
    val dupped = docs
      .select(explode(when(col("doc_id") % 10 === 1,
        array(
          struct(col("doc_id"), col("text")),
          struct((col("doc_id") + 200000).as("doc_id"),
            regexp_replace(col("text"), "the", "teh").as("text"))))
        .otherwise(array(struct(col("doc_id"), col("text"))))).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))
      .withColumn("ts",
        (lit(1704067200L) + col("doc_id") % 100000).cast("timestamp"))
    // signature + banding: pure projections (the batch chain's exact
    // arithmetic — same grams, same Kirsch–Mitzenmacher family, same band
    // keys — so the oracle's bucket view is identical)
    val sigs = dupped
      // fused shingle+hash (round 6, same as the batch chain's
      // minhashSigsFromText): identical signature bits, no interpreted
      // gram-array materialization per row in the micro-batch hot path
      .withColumn("sigs", graft.functions.ChurroFunctions.minhash_sigs_text(
        split(col("text"), " "), 3, Queries.MinhashHashes, Queries.MinhashMod))
    val bandCols = (0 until Queries.MinhashBands).map { b =>
      concat_ws("|", (0 until Queries.MinhashBandRows)
        .map(r => element_at(col("sigs"), b * Queries.MinhashBandRows + r + 1)): _*)
    }
    val bands = sigs
      .select(col("doc_id"), col("ts"), posexplode(array(bandCols: _*)).as(Seq("band_id", "bv")))
      .as[BandRow]
    val evidence = bands
      .withWatermark("ts", "2 hours")
      .groupByKey(r => (r.band_id, r.bv))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        nearDupBucketFn(2 * 3600 * 1000L))
    val queryName = "graft_stream_neardup"
    val q = evidence.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark2.table(queryName)
      .select(col("doc_id").as("dup_id")).distinct()
      .orderBy("dup_id")
  }
}
