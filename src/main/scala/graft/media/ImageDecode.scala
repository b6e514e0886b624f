package graft.media

import java.io.ByteArrayInputStream

/** Real media decode for the binary-column path — the formerly-stubbed half
  * of `load_image` (`/root/reference/src/churro_ocr/_internal/image.py:20-29`:
  * open + `ImageOps.exif_transpose`), on a bare JVM:
  *
  *  - PNG/JPEG/BMP/GIF decode via `javax.imageio` into row-major RGB bytes
  *    (differentially verified against PNGs and pixel digests produced by an
  *    independent pure-Python encoder, tools/gen_media_fixture.py);
  *  - EXIF orientation parse (JPEG APP1 → TIFF IFD0 tag 0x0112, both byte
  *    orders) + the eight PIL `exif_transpose` pixel transforms.
  */
object ImageDecode {

  final case class Decoded(width: Int, height: Int, rgb: Array[Byte])

  /** Decompression-bomb ceiling, PIL parity: `Image.MAX_IMAGE_PIXELS` is
    * 89,478,485 and PIL raises `DecompressionBombError` at 2× that. A web
    * crawl WILL contain 100000×100000 PNGs whose header is 100 bytes but
    * whose raster is 30 GB — the dims are checked from the header BEFORE
    * any pixel is inflated.
    */
  val MaxPixels: Long = 2L * 89478485L

  /** Decode to 8-bit RGB, row-major [r,g,b]* (alpha dropped, like the
    * reference's `ensure_rgb`).
    *
    * Hostile-input contract: malformed payloads only ever throw
    * `IllegalArgumentException`. The JDK codecs escape with IIOException
    * on truncation and with unchecked index/size errors on some corrupt
    * streams — all are caught at this boundary and rethrown typed, so a
    * bad image fails one ROW loudly instead of killing the task with an
    * untyped error no caller can distinguish from an engine bug.
    */
  def decode(bytes: Array[Byte]): Decoded = {
    val img =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          require(readers.hasNext, "undecodable image payload")
          val reader = readers.next()
          try {
            reader.setInput(iis)
            // header-only dimension read: the bomb check must precede decode
            val (w, h) = (reader.getWidth(0), reader.getHeight(0))
            require(w > 0 && h > 0, s"undecodable image payload: ${w}x$h")
            require(w.toLong * h <= MaxPixels,
              s"decompression bomb: ${w}x$h = ${w.toLong * h} px exceeds $MaxPixels")
            reader.read(0)
          } finally reader.dispose()
        } finally iis.close()
      } catch {
        case e: IllegalArgumentException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"undecodable image payload: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    require(img != null, "undecodable image payload")
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Byte](w * h * 3)
    var i = 0
    var j = 0
    while (i < px.length) {
      val p = px(i)
      out(j) = ((p >> 16) & 0xFF).toByte
      out(j + 1) = ((p >> 8) & 0xFF).toByte
      out(j + 2) = (p & 0xFF).toByte
      i += 1
      j += 3
    }
    Decoded(w, h, out)
  }

  def sha256Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    d.map(b => f"${b & 0xFF}%02x").mkString
  }

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length > 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8

  /** EXIF orientation (1–8) from a JPEG's APP1 segment; 1 when absent or
    * malformed (the reference's PIL behaves the same: no tag → no transpose).
    */
  def exifOrientation(jpeg: Array[Byte]): Int = {
    if (!isJpeg(jpeg)) return 1
    var pos = 2
    while (pos + 4 <= jpeg.length) {
      if ((jpeg(pos) & 0xFF) != 0xFF) return 1
      val marker = jpeg(pos + 1) & 0xFF
      if (marker == 0xDA || marker == 0xD9) return 1 // SOS / EOI: no APP1 seen
      val len = ((jpeg(pos + 2) & 0xFF) << 8) | (jpeg(pos + 3) & 0xFF)
      // a segment length < 2 is malformed framing (the length field counts
      // itself): treat as no-orientation — and without this, len=0 would
      // hand copyOfRange a from > to below
      if (len < 2) return 1
      if (marker == 0xE1 && pos + 4 + len - 2 <= jpeg.length) {
        val seg = java.util.Arrays.copyOfRange(jpeg, pos + 4, pos + 2 + len)
        val o = orientationFromExifPayload(seg)
        if (o != 0) return o
      }
      pos += 2 + len
    }
    1
  }

  /** Parse an `Exif\0\0` + TIFF payload for IFD0 tag 0x0112 (SHORT). */
  def orientationFromExifPayload(seg: Array[Byte]): Int = {
    if (seg.length < 14 || !(seg(0) == 'E' && seg(1) == 'x' && seg(2) == 'i' && seg(3) == 'f')) return 0
    val t = 6 // TIFF header offset
    val little = seg(t) == 'I' && seg(t + 1) == 'I'
    val big = seg(t) == 'M' && seg(t + 1) == 'M'
    if (!little && !big) return 0
    def u16(off: Int): Int =
      if (little) (seg(off) & 0xFF) | ((seg(off + 1) & 0xFF) << 8)
      else ((seg(off) & 0xFF) << 8) | (seg(off + 1) & 0xFF)
    def u32(off: Int): Long =
      if (little) (u16(off) & 0xFFFFL) | ((u16(off + 2) & 0xFFFFL) << 16)
      else ((u16(off) & 0xFFFFL) << 16) | (u16(off + 2) & 0xFFFFL)
    if (u16(t + 2) != 0x2A) return 0
    // bounds-check the IFD offset in Long space: a hostile u32 ≥ 2^31 would
    // truncate NEGATIVE through .toInt, pass an `ifd + 2 > length` check,
    // and index seg(negative) — malformed EXIF must mean "no orientation",
    // not an array fault
    val ifdL = t + u32(t + 4)
    if (ifdL + 2 > seg.length) return 0
    val ifd = ifdL.toInt
    val n = u16(ifd)
    var e = 0
    while (e < n) {
      val off = ifd + 2 + e * 12
      if (off + 12 > seg.length) return 0
      if (u16(off) == 0x0112) {
        val v = u16(off + 8) // SHORT value lives in the first 2 value bytes
        return if (v >= 1 && v <= 8) v else 0
      }
      e += 1
    }
    0
  }

  /** PIL `exif_transpose` pixel transforms (orientation 2–8; 1 = identity). */
  def applyOrientation(d: Decoded, orientation: Int): Decoded = {
    if (orientation <= 1 || orientation > 8) return d
    val (w, h) = (d.width, d.height)
    val swap = orientation >= 5
    val (nw, nh) = if (swap) (h, w) else (w, h)
    val out = new Array[Byte](d.rgb.length)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        // source pixel for destination (x, y)
        val (sx, sy) = orientation match {
          case 2 => (w - 1 - x, y) // flip left-right
          case 3 => (w - 1 - x, h - 1 - y) // rotate 180
          case 4 => (x, h - 1 - y) // flip top-bottom
          case 5 => (y, x) // transpose (main diagonal)
          case 6 => (y, h - 1 - x) // PIL ROTATE_270 (90 deg clockwise)
          case 7 => (w - 1 - y, h - 1 - x) // transverse (anti-diagonal)
          case _ => (w - 1 - y, x) // 8: PIL ROTATE_90 (90 deg counterclockwise)
        }
        val si = (sy * w + sx) * 3
        val di = (y * nw + x) * 3
        out(di) = d.rgb(si)
        out(di + 1) = d.rgb(si + 1)
        out(di + 2) = d.rgb(si + 2)
        x += 1
      }
      y += 1
    }
    Decoded(nw, nh, out)
  }

  /** `load_image` parity: decode + EXIF orientation normalize. */
  def loadImage(bytes: Array[Byte]): Decoded =
    applyOrientation(decode(bytes), exifOrientation(bytes))

  /** Exact integer per-channel pixel sums (feature extraction primitive —
    * channel means follow as one double division, reproducible everywhere).
    */
  def channelSums(d: Decoded): (Long, Long, Long) = {
    var (r, g, b) = (0L, 0L, 0L)
    var i = 0
    while (i < d.rgb.length) {
      r += d.rgb(i) & 0xFF
      g += d.rgb(i + 1) & 0xFF
      b += d.rgb(i + 2) & 0xFF
      i += 3
    }
    (r, g, b)
  }

  /** `_get_average_color` (`_mineru25.py:318-361`): integer mean of the 8
    * clamped border samples (pad 2) around a box.
    */
  def averageColor(d: Decoded, box: (Int, Int, Int, Int)): (Int, Int, Int) = {
    val (left, upper, right, lower) = box
    val pad = 2
    val midX = Math.floorDiv(left + right, 2)
    val midY = Math.floorDiv(upper + lower, 2)
    val points = Seq(
      (left - pad, upper - pad), (midX, upper - pad), (right + pad, upper - pad),
      (right + pad, midY), (right + pad, lower + pad), (midX, lower + pad),
      (left - pad, lower + pad), (left - pad, midY))
    var (r, g, b) = (0, 0, 0)
    points.foreach { case (px0, py0) =>
      val px = math.max(0, math.min(px0, d.width - 1))
      val py = math.max(0, math.min(py0, d.height - 1))
      val i = (py * d.width + px) * 3
      r += d.rgb(i) & 0xFF; g += d.rgb(i + 1) & 0xFF; b += d.rgb(i + 2) & 0xFF
    }
    (r / points.length, g / points.length, b / points.length)
  }

  /** Integer luma of the pixel starting at byte offset `o` — the shared
    * deterministic (299·r + 587·g + 114·b) / 1000 truncating formula both
    * Python twins pin ([[PHash]] grayscale, [[graft.layout.PageSegment]]
    * ink mask); ONE copy so a rounding tweak cannot desynchronize the two
    * cross-language contracts.
    */
  @inline def lumaInt(rgb: Array[Byte], o: Int): Int =
    (299 * (rgb(o) & 0xff) + 587 * (rgb(o + 1) & 0xff) +
      114 * (rgb(o + 2) & 0xff)) / 1000

  /** `_get_contrast_text_color` (`_mineru25.py:364-367`). */
  def contrastTextColor(bg: (Int, Int, Int)): (Int, Int, Int) = {
    val luminance = 0.299 * bg._1 + 0.587 * bg._2 + 0.114 * bg._3
    if (luminance < 128) (255, 255, 255) else (0, 0, 0)
  }

  /** Fill a clamped rectangle with a solid color — the pixel half of
    * `_mask_and_encode_table_image`'s cover step (`_mineru25.py:486-576`).
    * The token-label TEXT on top of the fill renders through the built-in
    * bitmap font ([[GlyphFont.drawCenteredLabel]]).
    */
  def fillRect(d: Decoded, box: (Int, Int, Int, Int), color: (Int, Int, Int)): Decoded = {
    val out = d.rgb.clone()
    val l = math.max(0, box._1); val t = math.max(0, box._2)
    val r = math.min(d.width, box._3); val b = math.min(d.height, box._4)
    var y = t
    while (y < b) {
      var x = l
      while (x < r) {
        val i = (y * d.width + x) * 3
        out(i) = color._1.toByte; out(i + 1) = color._2.toByte; out(i + 2) = color._3.toByte
        x += 1
      }
      y += 1
    }
    Decoded(d.width, d.height, out)
  }
}
