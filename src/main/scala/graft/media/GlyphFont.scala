package graft.media

/** Built-in 5×7 bitmap glyph font: the PDF rasterizer's text and the
  * classical-OCR templates ([[graft.layout.GlyphOcr]]).
  *
  * Its label drawing follows the reference, which draws each table-image
  * token label onto the masked table region with a
  * system TrueType font (`/root/reference/src/churro_ocr/providers/_mineru25.py:566-574`
  * — size it to 70% of the box, center it, draw in the
  * luminance-contrasting color). No fonts ship in this sandbox, so the
  * glyphs here are hand-drawn 5×7 bitmaps covering exactly the token
  * alphabet `[ ] A C D G H K T W X Y Z 2 3 4 5 6 7 8` (see
  * `graft.layout.TableImageTokens`), scaled by an integer factor instead
  * of a point size — same fit rule (70% fill ratio), same centering, same
  * contrast color, fully deterministic and differentially verified against
  * a pure-Python twin (tools/gen_glyph_fixture.py → glyph_goldens.json).
  *
  * Each glyph is 7 rows of 5 bits, MSB = leftmost pixel.
  */
object GlyphFont {

  val GlyphW = 5
  val GlyphH = 7
  val Spacing = 1 // blank column between glyphs (scaled)

  val rows: Map[Char, Seq[Int]] = Map(
    '[' -> Seq(0x0E, 0x08, 0x08, 0x08, 0x08, 0x08, 0x0E),
    ']' -> Seq(0x0E, 0x02, 0x02, 0x02, 0x02, 0x02, 0x0E),
    'A' -> Seq(0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    'C' -> Seq(0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    'D' -> Seq(0x1E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1E),
    'G' -> Seq(0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    'H' -> Seq(0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    'K' -> Seq(0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    'T' -> Seq(0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    'W' -> Seq(0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    'X' -> Seq(0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    'Y' -> Seq(0x11, 0x11, 0x0A, 0x04, 0x04, 0x04, 0x04),
    'Z' -> Seq(0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    '2' -> Seq(0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    '3' -> Seq(0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    '4' -> Seq(0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    '5' -> Seq(0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    '6' -> Seq(0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    '7' -> Seq(0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    '8' -> Seq(0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    // round-5 extension for the subset PDF rasterizer (PdfRaster): the rest
    // of the uppercase alphabet, remaining digits and basic punctuation —
    // classic HD44780-style 5×7 shapes. Additions only; the token-alphabet
    // bitmaps above are unchanged, so the glyph goldens stay valid.
    'B' -> Seq(0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    'E' -> Seq(0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    'F' -> Seq(0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    'I' -> Seq(0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    'J' -> Seq(0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    'L' -> Seq(0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    'M' -> Seq(0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    'N' -> Seq(0x11, 0x11, 0x19, 0x15, 0x13, 0x11, 0x11),
    'O' -> Seq(0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    'P' -> Seq(0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    'Q' -> Seq(0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    'R' -> Seq(0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    'S' -> Seq(0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    'U' -> Seq(0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    'V' -> Seq(0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    '0' -> Seq(0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    '1' -> Seq(0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    '9' -> Seq(0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    '.' -> Seq(0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    ',' -> Seq(0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08),
    '-' -> Seq(0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00),
    ':' -> Seq(0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00),
    '!' -> Seq(0x04, 0x04, 0x04, 0x04, 0x04, 0x00, 0x04))

  def textWidth(len: Int, scale: Int): Int = (len * (GlyphW + Spacing) - Spacing) * scale
  def textHeight(scale: Int): Int = GlyphH * scale

  /** Largest integer scale whose rendered text fits `fillRatio` of the box
    * — the bitmap analogue of the reference's font-size binary search
    * (`_get_optimal_pil_font`, fill_ratio=0.7). If even 1× exceeds the
    * ratio but the text still fits the box outright, 1× is used (the
    * reference draws whenever `text_w <= box_w and text_h <= box_h`);
    * 0 means the label is skipped.
    */
  def fitScale(textLen: Int, boxW: Int, boxH: Int, fillRatio: Double = 0.7): Int = {
    val w1 = textLen * (GlyphW + Spacing) - Spacing
    val s = math.min(fillRatio * boxW / w1, fillRatio * boxH / GlyphH).toInt
    if (s >= 1) s
    else if (w1 <= boxW && GlyphH <= boxH) 1
    else 0
  }

  /** Draw `text` with top-left at (x0, y0) at integer `scale`, clamped to
    * the image bounds; unknown characters draw nothing (their cell stays
    * background). Returns a new image (input untouched).
    */
  def drawText(d: ImageDecode.Decoded, text: String, x0: Int, y0: Int,
               scale: Int, color: (Int, Int, Int)): ImageDecode.Decoded = {
    val out = ImageDecode.Decoded(d.width, d.height, d.rgb.clone())
    drawInto(out, text, x0, y0, scale, color)
    out
  }

  /** [[drawText]] painting into `d`'s own pixels — for a caller that draws
    * many labels into one reused buffer and would otherwise pay a full
    * image copy per label.
    */
  def drawInto(d: ImageDecode.Decoded, text: String, x0: Int, y0: Int,
               scale: Int, color: (Int, Int, Int)): Unit = {
    val out = d.rgb
    var ci = 0
    while (ci < text.length) {
      rows.get(text.charAt(ci)).foreach { glyph =>
        val gx = x0 + ci * (GlyphW + Spacing) * scale
        var r = 0
        while (r < GlyphH) {
          val bits = glyph(r)
          var c = 0
          while (c < GlyphW) {
            if ((bits & (1 << (GlyphW - 1 - c))) != 0) {
              var dy = 0
              while (dy < scale) {
                val y = y0 + r * scale + dy
                if (y >= 0 && y < d.height) {
                  var dx = 0
                  while (dx < scale) {
                    val x = gx + c * scale + dx
                    if (x >= 0 && x < d.width) {
                      val i = (y * d.width + x) * 3
                      out(i) = color._1.toByte
                      out(i + 1) = color._2.toByte
                      out(i + 2) = color._3.toByte
                    }
                    dx += 1
                  }
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

  /** The complete label step the reference runs after the average-color
    * fill: size to the box, center, contrast color, draw — no-op when the
    * label cannot fit.
    */
  def drawCenteredLabel(d: ImageDecode.Decoded, text: String,
                        box: (Int, Int, Int, Int), // (x1, y1, x2, y2) like the mask bbox
                        bg: (Int, Int, Int)): ImageDecode.Decoded = {
    val boxW = box._3 - box._1
    val boxH = box._4 - box._2
    val s = fitScale(text.length, boxW, boxH)
    if (s < 1) d
    else {
      val tw = textWidth(text.length, s)
      val th = textHeight(s)
      drawText(d, text, box._1 + (boxW - tw) / 2, box._2 + (boxH - th) / 2,
        s, ImageDecode.contrastTextColor(bg))
    }
  }
}
