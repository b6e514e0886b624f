package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{SessionEvent, SessionOut}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The streaming SCALE shapes: append-mode windowed aggregation under a
  * watermark (bounded state, only finalized windows emitted) and
  * flatMapGroupsWithState gap sessionization with event-time timeout.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("append-mode window agg emits only watermark-closed windows, drops state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val out = StreamOps.streamWindowAppend(events, watermark = "30 minutes")
    val q = out.writeStream.format("memory").queryName("stream_append").outputMode("append").start()
    try {
      // hour-10 events, then an hour-13 event pushes the watermark to 12:30,
      // closing hour 10 (and 11) but NOT hour 13
      in.addData((ts("10:05"), "click", 1.0), (ts("10:40"), "click", 3.0), (ts("10:20"), "view", 2.0))
      q.processAllAvailable()
      in.addData((ts("13:00"), "click", 9.0))
      q.processAllAvailable()
      in.addData((ts("13:01"), "view", 5.0)) // no watermark advance past 13
      q.processAllAvailable()
      val rows = spark.table("stream_append")
        .select(col("hour"), col("event_type"), col("n"), col("min_v"), col("max_v"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .sortBy(r => (r._1.getTime, r._2))
      assert(rows.toSeq == Seq(
        (ts("10:00"), "click", 2L, 1.0, 3.0),
        (ts("10:00"), "view", 1L, 2.0, 2.0)))
      // hour-13 rows are still open (not emitted) — bounded-state behavior
      assert(!rows.exists(_._1 == ts("13:00")))
    } finally q.stop()
  }

  test("streaming heavy hitters: sketch state survives micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Seq[String]]
    val agg = in.toDF().toDF("ws")
      .agg(graft.functions.ChurroFunctions.heavy_hitters(col("ws"), 16, 12).as("hh"))
    val q = agg.writeStream.format("memory").queryName("stream_hh").outputMode("complete").start()
    try {
      // three micro-batches over 12 distinct keys (exact regime) — the
      // serialized buffer must round-trip through the state store between
      // batches, not restart at zero
      val tokens = (0 until 12).flatMap(i => Seq.fill(3 * (12 - i) + 1)(f"t$i%02d"))
      val truth = tokens.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      tokens.grouped(7).map(_.toSeq).toSeq.grouped(8).foreach { batch =>
        in.addData(batch: _*)
        q.processAllAvailable()
      }
      val got = spark.table("stream_hh")
        .select(explode(col("hh")).as("h")).select(col("h.token"), col("h.cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      assert(got == truth.toSeq.sortBy { case (w, c) => (-c, w) })
    } finally q.stop()
  }

  test("streaming dedup drops the planted in-stream copies, bounded state") {
    val dir = "/root/testdata/sf0.001"
    val out = StreamOps.streamDedupQuery(spark, dir).collect()
    val events = spark.read.parquet(s"$dir/events.parquet")
    val n = events.count()
    // every 3rd event streamed in twice; dedup must return EXACTLY the table
    assert(out.length == n, s"deduped rows ${out.length} != events $n")
    assert(out.map(_.getLong(0)).distinct.length == out.length, "event_id unique")
    assert(n / 3 > 0, "fixture must actually plant duplicates")
  }

  test("streaming near-dup flags every planted teh-copy, O(1) state per bucket") {
    val dir = "/root/testdata/sf0.001"
    val dups = StreamOps.streamNearDupQuery(spark, dir).collect().map(_.getLong(0)).toSet
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.expr("doc_id % 10 = 1"))
      .collect().map(_.getAs[Long]("doc_id") + 200000).toSet
    assert(planted.nonEmpty, "fixture must actually plant near-copies")
    // a planted near-copy is flagged when ≥1 of its 32 band buckets matches
    // its base doc — probabilistic by design (a copy whose every changed
    // "the"→"teh" gram lands in every band escapes banding, same as the
    // batch chain), so assert RECALL, not totality; exact bucket membership
    // is what the DuckDB oracle verifies hash-exactly
    val recall = (planted & dups).size.toDouble / planted.size
    assert(recall >= 0.9, s"banding recall $recall on planted near-copies")
    // base docs may also be flagged (natural collisions), but a flagged doc
    // must exist in the duplicated stream
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(dups.forall(d => ids.contains(d) || ids.contains(d - 200000)))
  }

  test("flatMapGroupsWithState sessionization: gap split + event-time timeout emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val out = StreamOps.sessionize(in.toDS(), gapMs = 10 * 60 * 1000, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("stream_sessions").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session); user 2: one event
      in.addData(
        SessionEvent(1L, ts("10:00"), 1.0),
        SessionEvent(1L, ts("10:05"), 2.0),
        SessionEvent(2L, ts("10:02"), 7.0))
      q.processAllAvailable()
      // a much later event advances the watermark far past every timeout,
      // closing the user-1 and user-2 sessions
      in.addData(SessionEvent(3L, ts("12:00"), 0.5))
      q.processAllAvailable()
      in.addData(SessionEvent(3L, ts("14:00"), 0.25)) // closes 12:00 session too
      q.processAllAvailable()
      val rows = spark.table("stream_sessions").as[SessionOut].collect()
        .sortBy(r => (r.user_id, r.session_start.getTime))
      assert(rows.map(r => (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)).toSeq ==
        Seq(
          (1L, ts("10:00"), ts("10:05"), 2L, 3.0),
          (2L, ts("10:02"), ts("10:02"), 1L, 7.0),
          (3L, ts("12:00"), ts("12:00"), 1L, 0.5)))
    } finally q.stop()
  }

  test("streaming extraction twin: byte-identical to the batch job, resume skips processed files") {
    import graft.pipeline.{DocsGen, Extract}
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_sin").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sckpt").toString
    DocsGen.docs(spark, 200, seed = 42L).write.mode("overwrite").parquet(in)
    StreamOps.streamExtract(spark, in, out, ckpt)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "order", "kind", "media_ref", "text")
      .orderBy("doc_id", "order").collect().toSeq
    val batch = Extract.run(DocsGen.docs(spark, 200, seed = 42L)).toDF()
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.order"), col("s.kind"), col("s.media_ref"), col("s.text"))
      .orderBy("doc_id", "order").collect().toSeq
    assert(streamed == batch)
    // resume against the same checkpoint: already-processed files are
    // skipped, output unchanged (the streaming analogue of lineage resume)
    StreamOps.streamExtract(spark, in, out, ckpt)
    assert(spark.read.parquet(out).count() == batch.length)
  }

  test("sessionizeFn: watermark-gated emission, late-event merge, and separate late sessions") {
    // pure-function checks on the state function (the streaming API path is
    // exercised by the end-to-end test above)
    val gap = 10 * 60 * 1000L
    // (1) two sessions in one batch: NOTHING emits while the watermark has
    // not closed them (the old emit-on-split emitted a session a late
    // event was still allowed to extend); both are held in state
    val s1 = new TestState
    val out1 = StreamOps.sessionizeFn(gap)(9L, Seq(
      SessionEvent(9L, ts("09:00"), 1.0),
      SessionEvent(9L, ts("09:04"), 1.0),
      SessionEvent(9L, ts("11:00"), 5.0)).iterator, s1).toSeq
    assert(out1.isEmpty)
    assert(s1.updated.get.sessions.map(x => (x.n, x.sum)) == Seq((2L, 2.0), (1L, 5.0)))
    assert(s1.timeoutTs == ts("09:14").getTime) // EARLIEST end + gap
    // (2) once the watermark passes a session's close, it emits and leaves
    // only the open one in state
    val s2 = new TestState
    s2.updated = s1.updated
    s2.watermark = ts("10:00").getTime // 09:04 + gap < 10:00 → closed
    val out2 = StreamOps.sessionizeFn(gap)(9L, Iterator.empty, s2).toSeq
    assert(out2.map(o => (o.n_events, o.sum_value)) == Seq((2L, 2.0)))
    assert(s2.updated.get.sessions.map(x => (x.n, x.sum)) == Seq((1L, 5.0)))
    // (3) a late-but-admissible event EXTENDS a session backward: start is
    // min'd (the old single-session fold kept the later start)
    val s3 = new TestState
    val out3a = StreamOps.sessionizeFn(gap)(7L,
      Iterator.single(SessionEvent(7L, ts("09:10"), 1.0)), s3).toSeq
    assert(out3a.isEmpty)
    StreamOps.sessionizeFn(gap)(7L,
      Iterator.single(SessionEvent(7L, ts("09:05"), 2.0)), s3)
    assert(s3.updated.get.sessions.map(x =>
      (x.start, x.end, x.n, x.sum)) ==
      Seq((ts("09:05").getTime, ts("09:10").getTime, 2L, 3.0)))
    // (4) a late event FARTHER than the gap before the current session is a
    // SEPARATE earlier session, not absorbed into the current one
    StreamOps.sessionizeFn(gap)(7L,
      Iterator.single(SessionEvent(7L, ts("07:00"), 9.0)), s3)
    assert(s3.updated.get.sessions.map(x => (x.n, x.sum)) == Seq((1L, 9.0), (2L, 3.0)))
    // timed out with the watermark past every close: all sessions emit,
    // in start order
    s3.timedOut = true
    s3.watermark = ts("12:00").getTime
    val out3b = StreamOps.sessionizeFn(gap)(7L, Iterator.empty, s3).toSeq
    assert(out3b.map(o => (o.n_events, o.sum_value)) == Seq((1L, 9.0), (2L, 3.0)))
    assert(s3.updated.isEmpty)
  }

  private class TestState extends org.apache.spark.sql.streaming.GroupState[StreamOps.SessionsState] {
    var updated: Option[StreamOps.SessionsState] = None
    var timeoutTs: Long = -1L
    var watermark: Long = 0L
    var timedOut: Boolean = false
    override def exists: Boolean = updated.isDefined
    override def get: StreamOps.SessionsState = updated.get
    override def getOption: Option[StreamOps.SessionsState] = updated
    override def update(s: StreamOps.SessionsState): Unit = updated = Some(s)
    override def remove(): Unit = updated = None
    override def hasTimedOut: Boolean = timedOut
    override def setTimeoutDuration(durationMs: Long): Unit = ()
    override def setTimeoutDuration(duration: String): Unit = ()
    override def setTimeoutTimestamp(timestampMs: Long): Unit = timeoutTs = timestampMs
    override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
    override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = watermark
    override def getCurrentProcessingTimeMs(): Long = 0L
  }

  test("nearDupBucketFn never rewinds its timeout on a late out-of-order batch") {
    import StreamOps.{BandRow, BucketFirst}
    val gap = 2 * 60 * 60 * 1000L
    val st = new BucketTestState
    StreamOps.nearDupBucketFn(gap)((0, "b"),
      Iterator.single(BandRow(10L, ts("10:00"), 0, "b")), st).toSeq
    assert(st.timeoutTs == ts("10:00").getTime + gap)
    // a LATE batch (above watermark) must not move the timeout backward —
    // pre-fix it was re-set from the batch max alone, expiring the state
    // 90 minutes early and silently missing later true near-dups
    val dup = StreamOps.nearDupBucketFn(gap)((0, "b"),
      Iterator.single(BandRow(99L, ts("08:30"), 0, "b")), st).toSeq
    assert(dup.map(_.doc_id) == Seq(10L)) // earlier row takes over as first
    assert(st.timeoutTs == ts("10:00").getTime + gap)
    assert(st.updated.get.lastTs == ts("10:00").getTime)
  }

  test("streamSession: an unreadable path with fanout 32 sizes to the cap, not to 1") {
    val ss = StreamOps.streamSession(spark, "/nonexistent/graft/stream", fanout = 32)
    assert(ss.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  private class BucketTestState extends org.apache.spark.sql.streaming.GroupState[StreamOps.BucketFirst] {
    var updated: Option[StreamOps.BucketFirst] = None
    var timeoutTs: Long = -1L
    override def exists: Boolean = updated.isDefined
    override def get: StreamOps.BucketFirst = updated.get
    override def getOption: Option[StreamOps.BucketFirst] = updated
    override def update(s: StreamOps.BucketFirst): Unit = updated = Some(s)
    override def remove(): Unit = updated = None
    override def hasTimedOut: Boolean = false
    override def setTimeoutDuration(durationMs: Long): Unit = ()
    override def setTimeoutDuration(duration: String): Unit = ()
    override def setTimeoutTimestamp(timestampMs: Long): Unit = timeoutTs = timestampMs
    override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
    override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = 0L
    override def getCurrentProcessingTimeMs(): Long = 0L
  }
}
