package graft.jobs

import graft.layout.GlyphOcr
import graft.media.{GlyphFont, ImageDecode}
import org.apache.spark.sql.SparkSession

/** Throughput benchmark for the END-TO-END deterministic OCR chain — the
  * baseline's headline unit (pages/sec of OCR-span extraction): synthesize
  * a typeset page per row (GlyphFont raster: scale-3 title, two 8-line
  * scale-2 columns on a 420×560 canvas), then run the full
  * segmentation+recognition stack ([[graft.layout.PageSegment]] XY-cut →
  * line boxes → [[GlyphOcr]] phase search with the pixel-exact re-render
  * acceptance) and CHECK every page: the recognized reading-order text
  * must equal the planted construction verbatim, so the bench measures
  * only verified-correct work (`mismatches` must print 0). Pure narrow
  * mapPartitions — pages/sec scales with cores like the extract flagship.
  *
  * Run: `runMain graft.jobs.OcrScaleBench <nPages> [cores]` → one JSON
  * line {pages, lines, chars, sec, pages_per_sec, mismatches}.
  */
object OcrScaleBench {

  private val Vocab = Vector(
    "TABLE", "SCAN", "MERGE", "BATCH", "QUERY", "INDEX", "SHARD", "JOIN",
    "GRAIN", "WOOL", "LEDGER", "MARKET", "RIVER", "STONE", "CLOCK", "WIRE")

  private val W = 420
  private val H = 560

  /** Planted text, reading order: title then left column then right. */
  def expectedLines(id: Long): Vector[String] = {
    def line(col: Int, k: Int): String = {
      val a = Vocab(((id * 31 + k * 7 + col * 13) % 16).toInt)
      val b = Vocab(((id * 17 + k * 3 + col * 5 + 1) % 16).toInt)
      s"$a $b"
    }
    // hyphenated, not spaced: at scale 3 a space cell plus a digit's blank
    // leading glyph column reaches the 24 px XY-cut threshold and the
    // title would split into two blocks for ids starting with '1'
    (s"PAGE-${id % 100000}" +:
      (0 until 8).map(line(0, _))) ++ (0 until 8).map(line(1, _))
  }.toVector

  /** In-place glyph painter (GlyphFont.drawText semantics without its
    * per-call image clone — 17 draws/page would otherwise dominate the
    * measurement with memcpy).
    */
  private def paint(rgb: Array[Byte], text: String, x0: Int, y0: Int, scale: Int): Unit = {
    var ci = 0
    while (ci < text.length) {
      GlyphFont.rows.get(text.charAt(ci)).foreach { glyph =>
        val gx = x0 + ci * (GlyphFont.GlyphW + GlyphFont.Spacing) * scale
        var r = 0
        while (r < GlyphFont.GlyphH) {
          val bits = glyph(r)
          var c = 0
          while (c < GlyphFont.GlyphW) {
            if ((bits & (1 << (GlyphFont.GlyphW - 1 - c))) != 0) {
              var dy = 0
              while (dy < scale) {
                var dx = 0
                while (dx < scale) {
                  val o = ((y0 + r * scale + dy) * W + gx + c * scale + dx) * 3
                  rgb(o) = 0; rgb(o + 1) = 0; rgb(o + 2) = 0
                  dx += 1
                }
                dy += 1
              }
            }
            c += 1
          }
          r += 1
        }
      }
      ci += 1
    }
  }

  /** Deterministic synthetic page for `id`, painted into a reusable
    * buffer — per-page allocation would double the memory traffic of a
    * stage that is bandwidth-bound under executor density (BENCH.md §12).
    */
  def synthInto(rgb: Array[Byte], id: Long): ImageDecode.Decoded = {
    java.util.Arrays.fill(rgb, 0xFF.toByte)
    val lines = expectedLines(id)
    paint(rgb, lines.head, 20, 20, 3)
    var k = 0
    while (k < 8) {
      paint(rgb, lines(1 + k), 20, 80 + 26 * k, 2)
      paint(rgb, lines(9 + k), 240, 80 + 26 * k, 2)
      k += 1
    }
    ImageDecode.Decoded(W, H, rgb)
  }

  def synthPage(id: Long): ImageDecode.Decoded =
    synthInto(new Array[Byte](W * H * 3), id)

  /** (pages, lines, chars, mismatchedPages). */
  def run(spark: SparkSession, nPages: Long): (Long, Long, Long, Long) = {
    import spark.implicits._
    val agg = spark.range(nPages).repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        var pages = 0L; var lines = 0L; var chars = 0L; var bad = 0L
        val buf = new Array[Byte](W * H * 3) // reused across the partition
        it.foreach { row =>
          val id = row
          val got = GlyphOcr.recognizePage(synthInto(buf, id))
          val texts = got.collect { case (_, _, l) if l.kind == "text" => l.text }
          pages += 1
          lines += texts.size
          chars += texts.map(_.length.toLong).sum
          if (texts != expectedLines(id)) bad += 1
        }
        Iterator.single((pages, lines, chars, bad))
      }.collect()
    (agg.map(_._1).sum, agg.map(_._2).sum, agg.map(_._3).sum, agg.map(_._4).sum)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("debug")) {
      (0L until 10L).foreach { id =>
        val got = GlyphOcr.recognizePage(synthPage(id))
        val texts = got.collect { case (_, _, l) if l.kind == "text" => l.text }
        val exp = expectedLines(id)
        if (texts != exp) {
          println(s"page $id MISMATCH")
          println(s"  exp: $exp")
          println(s"  got kinds: ${got.map(t => (t._1, t._2, t._3.kind, t._3.text, t._3.box))}")
        } else println(s"page $id ok")
      }
      return
    }
    val nPages = if (args.nonEmpty) args(0).toLong else 5000L
    val spark = ExtractJob.session(args.lift(1).getOrElse(ExtractJob.DefaultCores))
    run(spark, math.min(nPages, 500L)) // warm-up: JIT the whole chain
    val t0 = System.nanoTime()
    val (pages, lines, chars, bad) = run(spark, nPages)
    val sec = (System.nanoTime() - t0) / 1e9
    require(bad == 0L, s"$bad pages misrecognized — the bench only counts verified work")
    println(f"""{"bench":"ocr","pages":$pages,"lines":$lines,"chars":$chars,"sec":$sec%.3f,"pages_per_sec":${pages / sec}%.1f,"mismatches":$bad}""")
    spark.stop()
  }
}
