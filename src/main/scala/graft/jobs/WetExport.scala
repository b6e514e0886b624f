package graft.jobs

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WET export — the crawl-native TEXT sink: a docs-shaped table
  * (`doc_id, spans`) rendered as Common-Crawl-style WET files — WARC/1.0
  * `conversion` records carrying the plain utf-8 text of each page, one
  * gzip member per record (the layout [[graft.sources.Warc]] reads back,
  * so the sink round-trips through the project's own source).
  *
  * The text of a doc is its heading/text span texts in offset order,
  * newline-joined — image spans contribute nothing to a text conversion.
  * Output is DETERMINISTIC: docs hash-partition by `doc_id` into the
  * requested file count, sort WITHIN partitions (a streaming sort — no
  * driver collect, no per-task buffering of the whole file's docs beyond
  * the sorter's spillable state), and each task streams its records
  * through gzip to `part-<pid>.warc.wet.gz` via tmp + atomic rename — the
  * same idempotence contract as the crawl materializer, so task retries
  * and job reruns converge on identical bytes.
  *
  * Run: `runMain graft.jobs.WetExport --in <docsSnapshotRoot> --out <dir>
  *       [--snapshot <id>|latest] [--files N]`
  * → one JSON line {files, docs, bytes}.
  */
object WetExport {

  val DefaultDate = "2026-08-17T00:00:00Z"

  /** One WET record in the exact framing [[graft.sources.Warc]] parses. */
  private[jobs] def wetRecord(uri: String, text: String, date: String): Array[Byte] = {
    // the URI is spliced into a CRLF-framed header: a control char would
    // inject a bogus header line and desynchronize the Content-Length
    // framing for the rest of the file, and a char > 0xFF cannot round-trip
    // through the reader's Latin-1 header decode (US_ASCII getBytes would
    // silently mangle it to '?') — reject both loudly
    var i = 0
    while (i < uri.length) {
      val c = uri.charAt(i)
      require(c >= 0x20 && c != 0x7f && c <= 0xff,
        s"WET uri contains unwritable char U+${c.toInt.toHexString} at $i: $uri")
      i += 1
    }
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val recId = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(uri).toLong & 0xffffffffL)
    val head = (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Record-ID: <urn:graft:wet:$recId>\r\n" +
      s"WARC-Date: $date\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Type: text/plain\r\nContent-Length: ${body.length}\r\n\r\n")
      // ISO-8859-1, not US_ASCII: the reader decodes header bytes 1:1 as
      // Latin-1, so chars 0x80-0xFF round-trip exactly (ASCII would mangle
      // them to '?'); the guard above already rejected anything above 0xFF
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    head ++ body ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  private def gzipMember(rec: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(rec.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(buf, 1 << 14)
    gz.write(rec); gz.close() // Java writes MTIME=0: byte-deterministic
    buf.toByteArray
  }

  /** Export `docs` (doc_id, spans) to `files` WET files under `outDir`.
    * Returns (docCount, byteCount).
    */
  def export(docs: DataFrame, outDir: String, files: Int,
             date: String = DefaultDate): (Long, Long) = {
    require(files > 0, "files must be positive")
    new java.io.File(outDir).mkdirs()
    val spark = docs.sparkSession
    import spark.implicits._
    // offset-sort defensively (the docs contract already orders spans, but
    // the sink must not depend on its producer's discipline); the lambda
    // comparator sorts by offset — plain array_sort would sort structs by
    // their FIRST field, kind
    val rows = docs
      .select(col("doc_id"),
        expr("array_join(transform(filter(array_sort(spans, (l, r) -> " +
          "CASE WHEN l.offset < r.offset THEN -1 WHEN l.offset > r.offset THEN 1 ELSE 0 END), " +
          "s -> s.kind IN ('heading','text')), s -> s.text), '\n')").as("text"))
      .repartition(files, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(String, String)]
    val counts = rows.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val target = java.nio.file.Paths.get(f"$outDir/part-$pid%05d.warc.wet.gz")
      val tmp = java.nio.file.Paths.get(
        s"${target.toString}.tmp-${java.util.UUID.randomUUID()}")
      val out = java.nio.file.Files.newOutputStream(tmp)
      var docsN = 0L
      var bytesN = 0L
      try {
        it.foreach { case (uri, text) =>
          val member = gzipMember(wetRecord(uri, text, date))
          out.write(member)
          docsN += 1; bytesN += member.length
        }
        // a hash-empty partition (fewer docs than files, skew) must still
        // be a VALID gzip stream — a 0-byte file is rejected by gunzip and
        // standards-conforming WET readers; one empty member decodes to
        // zero records everywhere
        if (docsN == 0L) {
          val empty = gzipMember(Array.emptyByteArray)
          out.write(empty); bytesN += empty.length
        }
      } finally out.close()
      // last-writer-wins rename (REPLACE_EXISTING): rerun output is
      // deterministic, so overwriting a prior part is idempotent — unlike
      // materializeCrawl's keep-first variant, no already-exists race to
      // catch (with REPLACE_EXISTING the exception cannot be thrown)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Iterator.single((docsN, bytesN))
    }.collect()
    (counts.map(_._1).sum, counts.map(_._2).sum)
  }

  def main(argv: Array[String]): Unit = {
    var in = ""
    var out = "/tmp/graft_wet"
    var snapshot = "latest"
    var files = 8
    var cores = ExtractJob.DefaultCores
    argv.sliding(2, 2).foreach {
      case Array("--in", v) => in = v
      case Array("--out", v) => out = v
      case Array("--snapshot", v) => snapshot = v
      case Array("--files", v) => files = v.toInt
      case Array("--cores", v) => cores = v
      case other => throw new IllegalArgumentException(other.mkString(" "))
    }
    require(in.nonEmpty, "--in <docsSnapshotRoot> is required")
    val spark = ExtractJob.session(cores)
    val id =
      if (snapshot == "latest")
        graft.storage.Snapshots.latest(in)
          .getOrElse(throw new IllegalArgumentException(s"no committed snapshot under $in"))
      else snapshot.toLong
    val t0 = System.nanoTime()
    val (docs, bytes) = export(graft.storage.Snapshots.read(spark, in, id), out, files)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"wetexport","files":$files,"docs":$docs,"bytes":$bytes,"sec":$sec%.3f}""")
    spark.stop()
  }
}
