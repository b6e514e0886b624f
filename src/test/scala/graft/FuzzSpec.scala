package graft

import graft.media.Wav
import graft.sources.{Warc, WarcGen}
import graft.text.HtmlDom
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic fuzz over the hostile-input parsers the crawl tier feeds
  * raw web bytes into. The contract under test is the ERROR CLASS, not the
  * parse result: every failure must be an `IllegalArgumentException`
  * carrying context (what the ingest guards quarantine on), never a raw
  * `ArrayIndexOutOfBoundsException` / `NegativeArraySizeException` / NPE /
  * infinite loop escaping from the byte-walking code. Two input families:
  *
  *  - pure seeded-random byte/char soup (no structure at all);
  *  - single-byte mutations of VALID inputs (the torn-capture shape —
  *    structure up to a point, garbage after), which reach much deeper
  *    into each parser than soup does.
  *
  * splitmix64 keeps the streams deterministic (same seeds every run) so a
  * failure here is reproducible, not a flake.
  */
class FuzzSpec extends AnyFunSuite {

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def randBytes(seed: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (mix(seed * 1000003L + i) & 0xff).toByte; i += 1 }
    out
  }

  /** Wall-clock budget of one parse attempt: over 100× the slowest attempt
    * measured on a 4-core host (~146 ms, a mutated PDF through the
    * rasterizer), so a quasi-hang fails with its label instead of passing
    * slowly.
    */
  private val AttemptBudgetNanos = 15L * 1000 * 1000 * 1000

  /** Run one parse attempt; only success or a contextual IAE, within the
    * budget, is legal.
    */
  private def legal(label: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body
    catch {
      case _: IllegalArgumentException => () // the contract: loud, typed
      case e: Throwable =>
        fail(s"$label escaped with ${e.getClass.getName}: ${e.getMessage}")
    }
    val ns = System.nanoTime() - t0
    if (ns > AttemptBudgetNanos)
      fail(f"$label took ${ns / 1e9}%.1f s, over the ${AttemptBudgetNanos / 1e9}%.0f s budget")
  }

  test("WARC reader: random soup and mutated valid captures only ever throw IAE") {
    val valid = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/warc/sample_01.warc.gz"))
    // soup: magic-less, gzip-magic-prefixed, and WARC/1.0-prefixed soup
    (0 until 200).foreach { k =>
      val b = randBytes(0x57a5c000L + k, 64 + k * 7)
      legal(s"warc soup $k")(Warc.records(b).foreach(_ => ()))
      val gz = Array[Byte](0x1f.toByte, 0x8b.toByte) ++ b
      legal(s"warc gz-soup $k")(Warc.records(gz).foreach(_ => ()))
      legal(s"warc memberRecords soup $k")(Warc.memberRecords(gz).foreach(_ => ()))
    }
    // single-byte mutations of a real multi-member capture, positions
    // spread over the whole file (headers, deflate bodies, trailers)
    (0 until 400).foreach { k =>
      val pos = ((mix(77L + k) >>> 1) % valid.length).toInt
      val m = valid.clone()
      m(pos) = (m(pos) ^ (1 + (mix(k.toLong) & 0x7f))).toByte
      legal(s"warc mutation @$pos")(Warc.records(m).foreach(_ => ()))
      legal(s"warc memberRecords mutation @$pos")(Warc.memberRecords(m).foreach(_ => ()))
    }
    // hostile Content-Length values: negative escaped as
    // NegativeArraySizeException before the Long-space validation, and a
    // huge value pre-allocated gigabytes off one header line; both must be
    // the reader's typed IAE, thrown BEFORE any allocation
    Seq("-4", "-9999999999", s"${Warc.MaxPayloadBytes + 1}", "99999999999999")
      .foreach { cl =>
        val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: x\r\nContent-Length: $cl\r\n\r\n").getBytes("US-ASCII")
        val thrown = intercept[IllegalArgumentException](
          Warc.records(gzipBytes(rec)).foreach(_ => ()))
        assert(thrown.getMessage.contains("Content-Length"))
      }
  }

  private def gzipBytes(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  test("lenient HTML parser: char soup and mutated pages never escape or hang") {
    val page = WarcGen.pageHtml(7L, Vector("alpha beta gamma", "delta epsilon"), 42L)
    (0 until 300).foreach { k =>
      val n = 16 + k * 3
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        // bias toward markup metacharacters to hit the tokenizer's edges
        val r = mix(0x47ea1L * (k + 1) + i)
        sb += (((r & 7).toInt: @unchecked) match {
          case 0 => '<'
          case 1 => '>'
          case 2 => '/'
          case 3 => '='
          case 4 => '"'
          case 5 => '&'
          case _ => (32 + ((r >>> 8) % 95)).toChar
        })
        i += 1
      }
      legal(s"html soup $k")(HtmlDom.parse(sb.toString, lenient = true))
    }
    (0 until 300).foreach { k =>
      val pos = ((mix(911L + k) >>> 1) % page.length).toInt
      val ch = (32 + (mix(k.toLong * 31) >>> 8) % 95).toChar
      val m = page.substring(0, pos) + ch + page.substring(pos + 1)
      legal(s"html mutation @$pos")(HtmlDom.parse(m, lenient = true))
    }
  }

  test("WAV decoder: RIFF soup and mutated files only ever throw IAE") {
    // a tiny valid mono 16-bit WAV, built inline (the header math is the
    // same shape media.Wav validates)
    val frames = 64
    val dataLen = frames * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataLen); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
    bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(dataLen)
    (0 until frames).foreach(i => bb.putShort((i * 257 - 8000).toShort))
    val valid = bb.array()
    assert(Wav.decode(valid).frames == frames) // the base file IS valid
    (0 until 200).foreach { k =>
      legal(s"wav soup $k")(Wav.decode(randBytes(0xA0d10L + k, 44 + k * 5)))
      val riff = "RIFF".getBytes ++ randBytes(0xB0d10L + k, 40 + k * 5)
      legal(s"wav riff-soup $k")(Wav.decode(riff))
    }
    (0 until 300).foreach { k =>
      val pos = ((mix(1234L + k) >>> 1) % valid.length).toInt
      val m = valid.clone()
      m(pos) = (m(pos) ^ (1 + (mix(k.toLong + 5) & 0x7f))).toByte
      legal(s"wav mutation @$pos")(Wav.decode(m))
    }
  }

  test("PDF parsers: mutated documents and soup only ever throw IAE") {
    // crawled PDFs are hostile input like crawled HTML: the rasterizer,
    // text extractor, and page fan-out must fail TYPED on corruption
    // (fuzz found three escapes pre-fix: an unwrapped DataFormatException
    // from a flipped Flate byte, a negative-count substring from a corrupt
    // xref offset, and operands.last on an emptied stack)
    val valid = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/rasterpdf/raster_00.pdf"))
    (0 until 400).foreach { k =>
      val pos = ((mix(42L + k) >>> 1) % valid.length).toInt
      val m = valid.clone()
      m(pos) = (m(pos) ^ (1 + (mix(k.toLong) & 0x7f))).toByte
      legal(s"pdf raster mutation @$pos")(graft.media.PdfRaster.rasterize(m, 72))
      legal(s"pdf text mutation @$pos")(graft.media.PdfText.lines(m))
      legal(s"pdf pages mutation @$pos")(graft.media.PdfPages.pages(m))
    }
    (0 until 100).foreach { k =>
      val soup = "%PDF-1.4\n".getBytes ++ randBytes(0x9dfL + k, 64 + k * 9)
      legal(s"pdf soup $k")(graft.media.PdfRaster.rasterize(soup, 72))
      legal(s"pdf text soup $k")(graft.media.PdfText.lines(soup))
    }
  }

  test("URL/robots/sitemap string parsers: soup never escapes the typed contract") {
    // every extracted href runs through resolve+normalizeHttp inside the
    // ingest flatMap; robots bodies and sitemap XML are fetched captures —
    // all hostile. UrlResolve's functions are TOTAL (any string parses as
    // some Uri), Robots.urlAllowed is total over (body, url), and
    // Sitemaps.parse must throw ONLY the ctx-prefixed IAE.
    val metas = "/:?#@[]%&=+.~!$'()*,;\u00e9\u4e2d "
    def soupStr(seed: Long, n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        val r = mix(seed * 31 + i)
        sb += (if ((r & 3) == 0) metas(((r >>> 8) % metas.length).toInt)
               else (33 + ((r >>> 8) % 94)).toChar)
        i += 1
      }
      sb.toString
    }
    (0 until 400).foreach { k =>
      val u = soupStr(0x471L + k, 4 + k % 96)
      legal(s"url parse $k")(graft.text.UrlResolve.parse(u))
      legal(s"url normalize $k")(graft.text.UrlResolve.normalizeHttp(u))
      legal(s"url host $k")(graft.text.UrlResolve.hostOf(u))
      legal(s"url surt $k")(graft.text.UrlResolve.surt(u))
      legal(s"url resolve $k")(
        graft.text.UrlResolve.resolve("https://example.org/dir/page", u))
      legal(s"robots $k")(
        graft.text.Robots.urlAllowed(soupStr(0xb07L + k, 64 + k * 2), "bot",
          "https://h/" + u))
    }
    (0 until 200).foreach { k =>
      val xml = (if (k % 3 == 0) "<?xml version=\"1.0\"?><urlset>" else "") +
        soupStr(0x51e3L + k, 32 + k * 4)
      legal(s"sitemap soup $k")(graft.text.Sitemaps.parse(xml, s"fuzz-$k"))
    }
  }

  test("image decoder + EXIF parser: soup and mutated images never escape the typed contract") {
    import graft.media.ImageDecode
    // soup, optionally wearing a real magic so a codec engages and walks
    // into garbage (the deep path — magic-less soup dies at reader lookup)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val jpgSig = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte)
    (0 until 150).foreach { k =>
      val b = randBytes(0x1ac0de00L + k, 32 + k * 5)
      legal(s"img soup $k")(ImageDecode.loadImage(b))
      legal(s"img png-soup $k")(ImageDecode.loadImage(pngSig ++ b))
      legal(s"img jpg-soup $k")(ImageDecode.loadImage(jpgSig ++ b))
    }
    // single-byte mutations of a real PNG fixture and of a real JPEG
    // carrying a spliced EXIF APP1 — chunk CRCs, IDAT deflate, TIFF IFDs
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/img_00.png"))
    val img = new java.awt.image.BufferedImage(12, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 12) img.setRGB(x, y, (x << 16) | (y << 8))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = ImageFixtures.spliceApp1(bos.toByteArray, ImageFixtures.exifSegment(6, littleEndian = true))
    (0 until 300).foreach { k =>
      val (src, label) = if (k % 2 == 0) (png, "png") else (jpeg, "jpeg")
      val pos = ((mix(0x5eed + k.toLong) >>> 1) % src.length).toInt
      val m = src.clone()
      m(pos) = (m(pos) ^ (1 + (mix(k.toLong) & 0x7f))).toByte
      legal(s"img $label mutation @$pos")(ImageDecode.loadImage(m))
      // exifOrientation is TOTAL by contract (malformed → 1, like PIL):
      // it must RETURN in range, never throw at all
      val o = ImageDecode.exifOrientation(m)
      assert(o >= 1 && o <= 8, s"exifOrientation($label @$pos) = $o")
    }
    // EXIF TIFF payload soup behind a valid "Exif\0\0" + byte-order prelude:
    // orientationFromExifPayload is total (malformed → 0)
    (0 until 200).foreach { k =>
      val order = if (k % 2 == 0) "II" else "MM"
      val seg = "Exif\u0000\u0000".getBytes("ISO-8859-1") ++
        order.getBytes("ISO-8859-1") ++ randBytes(0xe41fL + k, 8 + k)
      val o = ImageDecode.orientationFromExifPayload(seg)
      assert(o >= 0 && o <= 8, s"payload soup $k = $o")
    }
  }

  test("GFV1 video container: soup and mutated containers only ever throw IAE") {
    import graft.media.VideoFrames
    val valid = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/vid_00.gfv"))
    (0 until 150).foreach { k =>
      val b = randBytes(0x6f51L + k, 16 + k * 6)
      legal(s"gfv soup $k")(VideoFrames.sampledFrames(b))
      legal(s"gfv magic-soup $k")(
        VideoFrames.sampledFrames("GFV1".getBytes("ISO-8859-1") ++ b))
    }
    (0 until 300).foreach { k =>
      val pos = ((mix(0x91dL + k) >>> 1) % valid.length).toInt
      val m = valid.clone()
      m(pos) = (m(pos) ^ (1 + (mix(k.toLong) & 0x7f))).toByte
      legal(s"gfv mutation @$pos")(VideoFrames.sampledFrames(m))
    }
  }
}
