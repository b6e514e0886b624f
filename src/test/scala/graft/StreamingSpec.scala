package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The streaming SCALE shapes: append-mode windowed aggregation under a
  * watermark (bounded state, only finalized windows emitted), sketch state
  * across micro-batches, and the exact/near-dup dedup state functions.
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
