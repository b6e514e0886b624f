package graft

import java.nio.charset.StandardCharsets.ISO_8859_1

import com.fasterxml.jackson.databind.ObjectMapper
import graft.media.{ImageDecode, PdfRaster}
import org.scalatest.funsuite.AnyFunSuite

/** Subset PDF rasterization vs the independent pure-Python renderer twin
  * (tools/gen_pdfraster_fixture.py), plus the loud-rejection contract for
  * content outside the raster subset.
  */
class PdfRasterSpec extends AnyFunSuite {

  private def fixture(name: String = "raster_00.pdf"): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/test/resources/media/rasterpdf/$name"))

  private lazy val goldens = {
    val in = getClass.getResourceAsStream("/goldens/pdfraster_goldens.json")
    try new ObjectMapper().readTree(in) finally in.close()
  }

  test("rasterized pages match the Python twin's pixel digests") {
    val dpi = goldens.get("dpi").asInt
    val exp = goldens.get("pages")
    val byName = (0 until exp.size()).map(exp.get).groupBy(_.get("name").asText)
    assert(byName.keySet ==
      Set("raster_00.pdf", "raster_01.pdf", "raster_02.pdf", "raster_03.pdf",
        "raster_04.pdf", "raster_05.pdf", "raster_06.pdf", "raster_07.pdf",
        "raster_08.pdf", "raster_09.pdf", "raster_10.pdf", "raster_11.pdf",
        "raster_12.pdf", "raster_13.pdf", "raster_14.pdf"))
    byName.foreach { case (name, pageExp) =>
      val pages = PdfRaster.rasterize(fixture(name), dpi)
      assert(pages.length == pageExp.length, s"$name page count")
      pages.zip(pageExp).foreach { case (p, e) =>
        assert(p.pageIndex == e.get("page_index").asInt)
        assert(p.image.width == e.get("width").asInt, s"$name p${p.pageIndex} width")
        assert(p.image.height == e.get("height").asInt, s"$name p${p.pageIndex} height")
        assert(ImageDecode.sha256Hex(p.image.rgb) == e.get("pixel_sha").asText,
          s"$name p${p.pageIndex} pixels diverge from the Python twin")
      }
    }
  }

  private def tinyPdf(content: String, extg: Option[String] = None,
                      shading: Option[(String, String)] = None): Array[Byte] = {
    // numbering stays DENSE: 6 = ExtGState when present; the shading dict
    // and its /Function take the next two slots after whatever precedes
    val gsRes = extg.fold("")(_ => " /ExtGState << /GS0 6 0 R >>")
    val shNum = if (extg.isDefined) 7 else 6
    val shRes = shading.fold("")(_ => s" /Shading << /Sh0 $shNum 0 R >>")
    val objs = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 50 40] " +
        s"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >>$gsRes$shRes >> >>"),
      4 -> s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
      extg.map(d => 6 -> d).toSeq ++
      shading.toSeq.flatMap { case (sd, fd) =>
        // the shading dict references its function as the NEXT object
        Seq(shNum -> sd.replace("FUNC", s"${shNum + 1} 0 R"), shNum + 1 -> fd)
      }
    val out = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.map { case (n, body) =>
      val off = out.length
      out ++= s"$n 0 obj\n$body\nendobj\n"
      n -> off
    }.toMap
    val maxNum = objs.map(_._1).max // numbering may be sparse (7-8 sans 6)
    val xrefAt = out.length
    out ++= s"xref\n0 ${maxNum + 1}\n0000000000 65535 f \n"
    (1 to maxNum).foreach(n => out ++= f"${offsets.getOrElse(n, 0)}%010d 00000 n \n")
    out ++= s"trailer\n<< /Size ${maxNum + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
    out.toString.getBytes(ISO_8859_1)
  }

  /** One-form variant of [[tinyPdf]]: /Fm is a /Subtype /Form XObject with
    * the given /BBox, optional /Matrix, and (when selfRef) its OWN
    * /Resources dict naming ITSELF — the cycle case.
    */
  private def formPdf(pageContent: String, formContent: String,
                      bbox: String = "0 0 20 20", matrix: Option[String] = None,
                      selfRef: Boolean = false): Array[Byte] = {
    val mtx = matrix.fold("")(m => s" /Matrix [$m]")
    val res = if (selfRef) " /Resources << /XObject << /Fm 6 0 R >> >>" else ""
    val objs = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 50 40] " +
        "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> " +
        "/XObject << /Fm 6 0 R >> >> >>"),
      4 -> s"<< /Length ${pageContent.length} >>\nstream\n$pageContent\nendstream",
      5 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
      6 -> (s"<< /Type /XObject /Subtype /Form /BBox [$bbox]$mtx$res " +
        s"/Length ${formContent.length} >>\nstream\n$formContent\nendstream"))
    val out = new StringBuilder("%PDF-1.4\n")
    val offsets = objs.map { case (n, body) =>
      val off = out.length
      out ++= s"$n 0 obj\n$body\nendobj\n"
      n -> off
    }.toMap
    val xrefAt = out.length
    out ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    (1 to objs.length).foreach(n => out ++= f"${offsets(n)}%010d 00000 n \n")
    out ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
    out.toString.getBytes(ISO_8859_1)
  }

  test("out-of-subset content is rejected loudly, never approximated") {
    // happy tiny case renders (white canvas + one black rect + text)
    val ok = PdfRaster.rasterize(tinyPdf("0 0 0 rg 5 5 10 10 re f BT /F1 7 Tf 2 25 Td (OK) Tj ET"), 72)
    assert(ok.length == 1 && ok.head.image.width == 50 && ok.head.image.height == 40)
    // the rect painted black somewhere
    assert(ok.head.image.rgb.exists(_ == 0x00.toByte))
    def rejects(content: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](PdfRaster.rasterize(tinyPdf(content), 72))
      assert(ex.getMessage.contains(needle), s"for [$content] got: ${ex.getMessage}")
    }
    rejects("W n", "no current path to clip by") // clip with nothing to clip
    rejects("W* n", "no current path to clip by")
    rejects("5 5 10 10 re W f", "W followed by 'f'") // clip+paint combo
    rejects("b", "b without a current path") // close+fill+stroke with no path
    // CMYK is now converted, not rejected — but ICC/named spaces still throw
    rejects("/DeviceCMYK cs 0 0 0.5 0 sc 5 5 10 10 re f", "outside the raster subset")
    rejects("1.5 0 0 0 k 5 5 10 10 re f", "outside [0,1]") // bad CMYK component
    // spec conversion: (0,0,0.5,0) k → RGB (255, 255, rint(0.5·255)=128)
    val cy = PdfRaster.rasterize(tinyPdf("0 0 0.5 0 k 5 5 10 10 re f"), 72).head.image
    val co = ((40 - 10) * cy.width + 10) * 3
    assert((cy.rgb(co) & 0xFF, cy.rgb(co + 1) & 0xFF, cy.rgb(co + 2) & 0xFF)
      == ((255, 255, 128)), "CMYK additive conversion")
    // rich black: any components + K=1 clamp to (0,0,0)
    val rb = PdfRaster.rasterize(tinyPdf("0.6 0.4 0.4 1 k 5 5 10 10 re f"), 72).head.image
    assert(rb.rgb(co) == 0x00.toByte, "K=1 clamps to black")
    // path FILLS accept any invertible CTM (round-5 widening): scaled,
    // rotated, mirrored and sheared rects all paint as parallelograms
    def paintsBlackAt(content: String, x: Int, y: Int): Unit = {
      val img = PdfRaster.rasterize(tinyPdf(content), 72).head.image
      assert(img.rgb(((40 - y) * img.width + x) * 3) == 0x00.toByte,
        s"[$content] expected black at ($x,$y)")
    }
    paintsBlackAt("q 2 0 0 2 0 0 cm 0 0 0 rg 5 5 10 10 re f Q", 20, 20) // scaled → 10..30
    paintsBlackAt("q 0 1 -1 0 40 0 cm 0 0 0 rg 5 5 10 10 re f Q", 28, 10) // rotated: (x,y)→(40−y,x)
    paintsBlackAt("q 1 0 0 -1 0 40 cm 0 0 0 rg 5 5 10 10 re f Q", 10, 28) // mirrored: y→40−y
    paintsBlackAt("q 1 0.5 0 1 0 0 cm 0 0 0 rg 5 5 10 10 re f Q", 12, 12) // sheared parallelogram
    // text accepts ONLY the positive-uniform-diagonal family: 2× scale
    // folds into the glyph size (iscale 2, glyph box x∈[4,14) rows 16..30);
    // rotation/mirror/shear reject loudly
    val scaledText = PdfRaster.rasterize(tinyPdf(
      "q 2 0 0 2 0 0 cm 0 0 0 rg BT /F1 7 Tf 2 5 Td (A) Tj ET Q"), 72).head.image
    assert(scaledText.rgb.exists(_ == 0x00.toByte), "2x-scaled glyph paints")
    rejects("q 0 1 -1 0 40 0 cm BT /F1 7 Tf 2 5 Td (A) Tj ET Q", "non-uniform-diagonal")
    rejects("q 1 0 0 -1 0 40 cm BT /F1 7 Tf 2 5 Td (A) Tj ET Q", "non-uniform-diagonal")
    // a glyph-scale change MID-RUN (between shows sharing a pen position)
    // would misplace the second show — reject loudly, via cm OR Tf
    rejects("BT /F1 7 Tf 2 5 Td (A) Tj q 2 0 0 2 0 0 cm (B) Tj Q ET",
      "glyph scale changed mid-run")
    rejects("BT /F1 7 Tf 2 5 Td (A) Tj /F1 14 Tf (B) Tj ET",
      "glyph scale changed mid-run")
    // a Td between them starts a fresh run: the same scale change renders
    val freshRun = PdfRaster.rasterize(tinyPdf(
      "BT /F1 7 Tf 2 25 Td (A) Tj /F1 14 Tf 0 -18 Td (B) Tj ET"), 72).head.image
    assert(freshRun.rgb.exists(_ == 0x00.toByte), "scale change across runs paints")
    rejects("q 2 0 0 0 0 0 cm /Nope Do Q", "singular cm") // rank-1 matrix
    rejects("q 1 2 2 4 0 0 cm /Nope Do Q", "singular cm") // det = 0
    rejects("q 10 0 0 10 5 5 cm /Nope Do Q", "unknown XObject") // dangling Do name
    rejects("BT 1 Tr /F1 7 Tf 2 25 Td (A) Tj ET", "text render mode 1") // stroke text
    rejects("BT /F1 7 Tf 2 25 Td (#) Tj ET", "outside the built-in glyph font")
    rejects("Q", "empty graphics-state stack")
    rejects("5 5 10 10 re", "constructed but never painted")
    rejects("10 10 m 20 20 l", "constructed but never painted") // poly subpath too
    rejects("1.5 0 0 rg 5 5 10 10 re f", "outside [0,1]") // bad color component
    rejects("10 10 l S", "without a current point") // l before m
    rejects("10 10 20 20 30 30 c S", "without a current point") // c before m
    rejects("h S", "h without a subpath")
    rejects("0 w 10 10 m 20 20 l S", "non-positive stroke width") // validated at stroke time
    // spec transforms the PEN by the CTM at stroke time: a SIMILARITY
    // (uniform scale ± rotation) scales the round pen and is accepted; a
    // non-uniform scale or shear turns it elliptical and rejects loudly
    rejects("q 2 0 0 1 0 0 cm 10 10 m 30 10 l 1 w S Q", "non-similarity")
    rejects("q 1 0.5 0 1 0 0 cm 10 10 m 30 10 l 1 w S Q", "non-similarity")
    val rotStroke = PdfRaster.rasterize(tinyPdf(
      "q 0.6 0.8 -0.8 0.6 10 5 cm 0 0 0 RG 2 w 0 0 m 30 0 l S Q"), 72).head.image
    assert(rotStroke.rgb.exists(_ == 0x00.toByte), "rotated similarity stroke paints")
    rejects("[-2 1] 0 d 10 10 m 20 20 l S", "negative dash element")
    rejects("[0 0] 0 d 10 10 m 20 20 l S", "all-zero dash array")
    // round-6 ADVICE fix: a denormal dash element passes the nonnegative
    // checks but makes no float progress in the phase walker
    // (5.0 - 1e-300 == 5.0) — must reject loudly, not hang an executor
    rejects("[0.0000000001 10] 5 d 10 10 m 20 20 l S", "sub-epsilon dash element")
    // an element just above that epsilon still walks 5e7 steps along a
    // 50-unit line (linear in path length): the step count is bounded by
    // the page's pixels before walking, so it rejects at once
    val dashT0 = System.nanoTime()
    rejects("[0.000001] 0 d 0 0 0 RG 1 w 0 20 m 50 20 l S", "pixel budget")
    assert(System.nanoTime() - dashT0 < 1000000000L, "dash budget reject took over 1 s")
    // a ZERO element stays legal (PDF allows zero spans when not all zero)
    val zeroSpan = PdfRaster.rasterize(tinyPdf("[0 6] 0 d 0 0 0 RG 2 w 10 20 m 40 20 l S"), 72)
    assert(zeroSpan.nonEmpty)
    // round-6 ADVICE fix: unbalanced q must reject at stream end
    rejects("q 0 0 0 rg 5 5 10 10 re f", "q without matching Q")
    // `0 w` is a legal hairline state — a FILL-only page that sets it must
    // render, not throw (only an actual stroke has no width-0 model here)
    val hairline = PdfRaster.rasterize(tinyPdf("0 w 0 0 0 rg 5 5 10 10 re f"), 72)
    assert(hairline.head.image.rgb.exists(_ == 0x00.toByte))
  }

  test("nonzero vs even-odd fill diverge exactly on the self-intersecting star") {
    // 5-point star around (25,20): even-odd leaves the center pentagon
    // unpainted, nonzero paints it — the pixel at the center is the witness
    val star = "25 35 m 16.18 7.86 l 39.27 24.64 l 10.73 24.64 l 33.82 7.86 l h"
    def centerBlack(paint: String): Boolean = {
      val p = PdfRaster.rasterize(tinyPdf(s"0 0 0 rg $star $paint"), 72).head.image
      val o = (20 * p.width + 25) * 3 // device y = 40 - 20
      p.rgb(o) == 0x00.toByte
    }
    assert(centerBlack("f"), "nonzero winding must fill the star's center")
    assert(!centerBlack("f*"), "even-odd parity must leave the star's center white")
    // the fill+stroke family inherits the same winding split: B paints the
    // center, B* leaves the hole (stroke color ≠ fill so the hole witness
    // is unambiguous), and `b` closes the subpath before painting
    assert(centerBlack("h B"), "B fills nonzero")
    assert(!centerBlack("0.5 G h B*"), "B* leaves the even-odd hole")
    assert(centerBlack("b"), "b closes implicitly and fills nonzero")
  }

  test("opposite-wound inner subpath cuts a hole under nonzero winding") {
    // outer CCW square + inner CW square: a donut. Check one hole pixel and
    // one ring pixel.
    val donut = "5 5 m 45 5 l 45 35 l 5 35 l h 15 13 m 15 27 l 35 27 l 35 13 l h f"
    val p = PdfRaster.rasterize(tinyPdf(s"0 0 0 rg $donut"), 72).head.image
    def at(x: Int, y: Int): Byte = p.rgb(((40 - y) * p.width + x) * 3)
    assert(at(25, 20) == 0xFF.toByte, "hole center must stay white")
    assert(at(10, 20) == 0x00.toByte, "ring must be black")
  }

  test("strokes paint butt-capped quads of the line width") {
    val p = PdfRaster.rasterize(
      tinyPdf("0 0 0 RG 4 w 10 20 m 40 20 l S"), 72).head.image
    def at(x: Int, y: Int): Byte = p.rgb(((40 - y) * p.width + x) * 3)
    assert(at(25, 20) == 0x00.toByte, "stroke center")
    assert(at(25, 21) == 0x00.toByte, "stroke half-width above")
    assert(at(25, 25) == 0xFF.toByte, "outside the 4-wide stroke")
    assert(at(5, 20) == 0xFF.toByte, "butt cap: nothing before the start point")
    // closed triangle via s draws the closing segment
    val tri = PdfRaster.rasterize(
      tinyPdf("0 0 0 RG 2 w 10 10 m 40 10 l 25 30 l s"), 72).head.image
    val closing = tri.rgb(((40 - 10) * tri.width + 25) * 3) // midpoint of base
    assert(closing == 0x00.toByte, "s must stroke the closing segment")
  }

  test("cubic curves flatten deterministically and fill") {
    // a filled half-blob: curve up from (10,10) to (40,10), closed by h
    val p = PdfRaster.rasterize(
      tinyPdf("0 0 0 rg 10 10 m 10 30 40 30 40 10 c h f"), 72).head.image
    def at(x: Int, y: Int): Byte = p.rgb(((40 - y) * p.width + x) * 3)
    assert(at(25, 15) == 0x00.toByte, "inside the blob")
    assert(at(25, 28) == 0xFF.toByte, "above the curve's apex")
    assert(at(12, 25) == 0xFF.toByte, "outside the left shoulder")
    // determinism across runs
    val again = PdfRaster.rasterize(
      tinyPdf("0 0 0 rg 10 10 m 10 30 40 30 40 10 c h f"), 72).head.image
    assert(ImageDecode.sha256Hex(again.rgb) == ImageDecode.sha256Hex(p.rgb))
  }

  test("Tr 3 text is invisible, advances the pen, and needs no glyph coverage") {
    // identical page with and without the invisible block: pixels equal
    val base = "0 0 0 rg 5 5 10 10 re f"
    val withInvisible =
      s"$base BT 3 Tr /F1 7 Tf 2 25 Td (chars outside the font: #@~{}|) Tj ET"
    val a = PdfRaster.rasterize(tinyPdf(base), 72).head.image
    val b = PdfRaster.rasterize(tinyPdf(withInvisible), 72).head.image
    assert(ImageDecode.sha256Hex(a.rgb) == ImageDecode.sha256Hex(b.rgb),
      "invisible text must have zero pixel effect")
    // Tr persists across ET (graphics state), and 0 Tr restores drawing
    val visibleAfter = PdfRaster.rasterize(tinyPdf(
      s"BT 3 Tr /F1 7 Tf 2 25 Td (ignored#) Tj ET BT 0 Tr /F1 7 Tf 2 10 Td (I) Tj ET"), 72).head.image
    assert(visibleAfter.rgb.exists(_ == 0x00.toByte), "0 Tr must draw again")
    // the pen advance of an invisible run positions a following visible run:
    // (AB) invisible then (C) lands where a visible (AB)(C) would put the C
    val mixed = PdfRaster.rasterize(tinyPdf(
      "BT /F1 7 Tf 2 25 Td 3 Tr (AB) Tj 0 Tr (C) Tj ET"), 72).head.image
    val full = PdfRaster.rasterize(tinyPdf(
      "BT /F1 7 Tf 2 25 Td (ABC) Tj ET"), 72).head.image
    // C occupies cells [12,17) in both; A's pixel column 2 is only in `full`
    def col(img: ImageDecode.Decoded, x: Int): Boolean =
      (0 until img.height).exists(y => img.rgb((y * img.width + x) * 3) == 0x00.toByte)
    assert(col(full, 2) && !col(mixed, 2), "A must be invisible in the mixed run")
    assert(col(full, 13) == col(mixed, 13), "C must land at the advanced pen")
  }

  test("Do composites the scanned image under the border stroke and overlay") {
    // raster_03: image box device [20,380)x[16,466); spot-check the twin's
    // pixel formulas at a parchment texel, an ink-band texel, and a border
    // stroke pixel painted OVER the image
    val p = PdfRaster.rasterize(fixture("raster_03.pdf"), 144).head.image
    assert(p.width == 400 && p.height == 520)
    def at(x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * p.width + x) * 3
      (p.rgb(o) & 0xFF, p.rgb(o + 1) & 0xFF, p.rgb(o + 2) & 0xFF)
    }
    // (200,100) → source (40,18): parchment v = 205 + (40*13+18*7) % 40 = 211
    assert(at(200, 100) == ((211, 205, 186)), "parchment texel")
    // (200,75) → source (40,13): ink band (50, 45, 35)
    assert(at(200, 75) == ((50, 45, 35)), "ink-band texel")
    // border left edge: user x=10 → device 20, 2w stroke covers cols 18..21
    assert(at(20, 240) == ((0, 0, 0)), "border stroke must paint over the image")
  }

  test("quarter-turn image placement maps source axes transposed and flipped") {
    // raster_05's 90° CCW leg: cm (0, 80, -100, 0, 110, 20) at dpi 144 →
    // device box [20,220)x[280,440); device (x,y) → ix along image v
    // (mc<0: srow=ix), iy along image u (mb>0: scol=79-iy)
    val p = PdfRaster.rasterize(fixture("raster_05.pdf"), 144).head.image
    assert(p.width == 600 && p.height == 480)
    def at(x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * p.width + x) * 3
      (p.rgb(o) & 0xFF, p.rgb(o + 1) & 0xFF, p.rgb(o + 2) & 0xFF)
    }
    // (120,360): ix=50, iy=40 → (scol,srow)=(39,50): 50%10=0 → parchment
    // v = 205 + (39*13 + 50*7) % 40 = 222
    assert(at(120, 360) == ((222, 216, 197)), "rotated parchment texel")
    // (126,360): ix=53 → srow=53, 53%10=3 and (39/6)%4=2 → ink band
    // (40 + 39*7%30, 30 + 53*5%25, 35) = (43, 45, 35)
    assert(at(126, 360) == ((43, 45, 35)), "rotated ink-band texel")
    // in the 90° region the scan's line bands run VERTICALLY: moving along
    // y stays in the band (srow=53 fixed; iy=44 → scol=35 → r=45)
    assert(at(126, 368) == ((45, 45, 35)), "band must run vertically after 90°")
  }

  test("arbitrary-angle image placement inverse-maps pixel centers to texels") {
    // raster_09's 30° leg: cm (96cos30, 96sin30, -120sin30, 120cos30, 30, 10)
    // at dpi 144 (s = 2). Derivations done by hand from the documented rule:
    // device pixel (83,408) center (83.5,408.5) → user (41.75, 85.75) →
    // (u,v) = ((rx·md − ry·mc)/det, (ry·ma − rx·mb)/det) ≈ (0.5005, 0.4977)
    // with det = 96·120 = 11520 → texel (col 40, row 50): row 50 is
    // parchment, v = 205 + (40·13 + 50·7) % 40 = 235 → RGB (235, 229, 210)
    val p = PdfRaster.rasterize(fixture("raster_09.pdf"), 144).head.image
    assert(p.width == 800 && p.height == 580)
    def at(x: Int, y: Int): (Int, Int, Int) = {
      val o = (y * p.width + x) * 3
      (p.rgb(o) & 0xFF, p.rgb(o + 1) & 0xFF, p.rgb(o + 2) & 0xFF)
    }
    assert(at(83, 408) == ((235, 229, 210)), "30°-rotated parchment texel")
    // a pixel inside the transformed-corner BBOX but outside the rotated
    // footprint maps to u ≈ 1.54 > 1 and must stay white
    assert(at(226, 256) == ((255, 255, 255)), "bbox corner outside the footprint")
  }

  test("form XObjects: translated reuse, BBox clip, implicit Q, loud rejects") {
    def at(img: ImageDecode.Decoded, x: Int, y: Int): Byte =
      img.rgb(((40 - y) * img.width + x) * 3)
    // a black 3..18 square in form space, placed at (5,5) and (25,15):
    // same stamp twice; the form's fill color must NOT leak to the page
    val form = "0 0 0 rg 3 3 15 15 re f"
    val two = PdfRaster.rasterize(formPdf(
      "q 1 0 0 1 5 5 cm /Fm Do Q q 1 0 0 1 25 15 cm /Fm Do Q 45 2 4 4 re f",
      form), 72).head.image
    assert(at(two, 10, 10) == 0x00.toByte, "first placement paints")
    assert(at(two, 32, 22) == 0x00.toByte, "second placement paints")
    assert(at(two, 10, 25) == 0xFF.toByte, "outside both placements")
    // the trailing page rect uses the PAGE's fill (default black) — but
    // prove restore via a colored form fill not leaking: red form, then a
    // page rect that must stay default-black
    val leak = PdfRaster.rasterize(formPdf(
      "q 1 0 0 1 5 5 cm /Fm Do Q 40 2 6 6 re f", "1 0 0 rg 3 3 15 15 re f"), 72).head.image
    val redAt = {
      val o = ((40 - 10) * leak.width + 10) * 3
      (leak.rgb(o) & 0xFF, leak.rgb(o + 1) & 0xFF, leak.rgb(o + 2) & 0xFF)
    }
    assert(redAt == ((255, 0, 0)), "form's own fill color applies inside")
    assert(at(leak, 43, 4) == 0x00.toByte, "page fill reverts after the form (implicit Q)")
    // /BBox clips: a form rect running 0..40 wide under bbox 0..20 stops at 20
    val clipped = PdfRaster.rasterize(formPdf(
      "q 1 0 0 1 5 5 cm /Fm Do Q", "0 0 0 rg 0 5 40 10 re f"), 72).head.image
    assert(at(clipped, 20, 12) == 0x00.toByte, "inside the bbox")
    assert(at(clipped, 30, 12) == 0xFF.toByte, "past the bbox edge: clipped")
    // /Matrix translation composes with the placement cm
    val viaMatrix = PdfRaster.rasterize(formPdf(
      "q 1 0 0 1 5 5 cm /Fm Do Q", "0 0 0 rg 3 3 15 15 re f",
      matrix = Some("1 0 0 1 20 10")), 72).head.image
    assert(at(viaMatrix, 30, 20) == 0x00.toByte, "matrix-shifted stamp paints")
    assert(at(viaMatrix, 10, 10) == 0xFF.toByte, "unshifted position stays white")
    def rejectsF(pageC: String, formC: String, needle: String,
                 bbox: String = "0 0 20 20", matrix: Option[String] = None,
                 selfRef: Boolean = false): Unit = {
      val ex = intercept[IllegalArgumentException](PdfRaster.rasterize(
        formPdf(pageC, formC, bbox, matrix, selfRef), 72))
      assert(ex.getMessage.contains(needle), s"got: ${ex.getMessage}")
    }
    // round-5 widening: scaled/rotated placements render (each inner
    // painter enforces its own CTM gate) — the 3..18 form rect lands at
    // 6..36 under 2× and at x∈[22,37] y∈[3,18] under the quarter turn
    val scaledForm = PdfRaster.rasterize(formPdf(
      "q 2 0 0 2 0 0 cm /Fm Do Q", form), 72).head.image
    assert(at(scaledForm, 20, 20) == 0x00.toByte, "2x form stamp paints")
    assert(at(scaledForm, 45, 38) == 0xFF.toByte, "outside the scaled stamp")
    val rotForm = PdfRaster.rasterize(formPdf(
      "q 0 1 -1 0 40 0 cm /Fm Do Q", form), 72).head.image
    assert(at(rotForm, 30, 10) == 0x00.toByte, "rotated form stamp paints")
    assert(at(rotForm, 10, 30) == 0xFF.toByte, "outside the rotated stamp")
    val scaledMatrix = PdfRaster.rasterize(formPdf(
      "/Fm Do", form, matrix = Some("2 0 0 2 0 0")), 72).head.image
    assert(at(scaledMatrix, 20, 20) == 0x00.toByte, "scaling /Matrix paints")
    // a rotated placement still rejects when the form CONTAINS text (the
    // text painter's diagonal gate fires inside the composed CTM)
    rejectsF("q 0 1 -1 0 40 0 cm /Fm Do Q",
      "BT /F1 7 Tf 2 5 Td (A) Tj ET", "non-uniform-diagonal")
    rejectsF("/Fm Do", form, "singular /Matrix", matrix = Some("1 2 2 4 0 0"))
    rejectsF("/Fm Do", form, "degenerate /BBox", bbox = "0 0 0 20")
    rejectsF("BT /F1 7 Tf /Fm Do ET", form, "inside BT/ET")
    rejectsF("/Fm Do", form, "cyclic form XObject", selfRef = true)
    // a form referencing an UNKNOWN inner XObject fails at run time with
    // the form's OWN (empty) resource scope — page images don't leak in
    rejectsF("/Fm Do", "q 10 0 0 10 0 0 cm /Px Do Q", "unknown XObject")
  }

  test("sh paints the axial gradient across the clip; subset violations throw") {
    def shPdf(content: String, sd: String, fd: String): Array[Byte] =
      tinyPdf(content, None, Some((sd, fd)))
    val axial = "<< /ShadingType 2 /ColorSpace /DeviceRGB " +
      "/Coords [10 0 40 0] /Function FUNC /Extend [true true] >>"
    val axialNoExt = axial.replace("[true true]", "[false false]")
    val lin = "<< /FunctionType 2 /Domain [0 1] /C0 [0 0 0] /C1 [1 1 1] /N 1 >>"
    // horizontal black→white ramp, extend both, clipped to a band:
    // t = (x+0.5−10)/30, clamped; gray = rint(t·255)
    val p = PdfRaster.rasterize(
      shPdf("q 5 10 40 20 re W n /Sh0 sh Q", axial, lin), 72).head.image
    def gray(img: ImageDecode.Decoded, x: Int, y: Int): Int =
      img.rgb(((40 - y) * img.width + x) * 3) & 0xFF
    assert(gray(p, 5, 20) == 0, "left of the axis start clamps to C0 (extend)")
    assert(gray(p, 44, 20) == 255, "right of the axis end clamps to C1 (extend)")
    assert(gray(p, 25, 20) == math.rint(15.5 / 30.0 * 255).toInt, "mid-axis t")
    assert(gray(p, 25, 35) == 255, "above the clip band stays white")
    // NON-extended ends leave pixels untouched — white witness at x=5
    val ne = PdfRaster.rasterize(
      shPdf("q 5 10 40 20 re W n /Sh0 sh Q", axialNoExt, lin), 72).head.image
    assert(gray(ne, 5, 20) == 255, "before a non-extended start: untouched")
    assert(gray(ne, 25, 20) == math.rint(15.5 / 30.0 * 255).toInt, "inside the axis still paints")
    // N=2 quadratic falloff at the same mid pixel
    val sq = PdfRaster.rasterize(shPdf("q 5 10 40 20 re W n /Sh0 sh Q",
      axial, lin.replace("/N 1", "/N 2")), 72).head.image
    val t = 15.5 / 30.0
    assert(gray(sq, 25, 20) == math.rint(t * t * 255).toInt, "t^2 by repeated multiplication")
    def rejectsSh(sd: String, fd: String, needle: String, content: String = "/Sh0 sh"): Unit = {
      val ex = intercept[IllegalArgumentException](
        PdfRaster.rasterize(shPdf(content, sd, fd), 72))
      assert(ex.getMessage.contains(needle), s"got: ${ex.getMessage}")
    }
    // type 3 with axial 4-number coords: radial parse rejects the coords
    rejectsSh(axial.replace("2 /Color", "3 /Color"), lin, "6-number /Coords")
    rejectsSh(axial.replace("2 /Color", "5 /Color"), lin, "axial 2 / radial 3") // mesh
    rejectsSh(axial, lin.replace("/FunctionType 2", "/FunctionType 0"), "only exponential")
    rejectsSh(axial, lin.replace("/N 1", "/N 0.5"), "integer 0..8")
    rejectsSh(axial.replace("[10 0 40 0]", "[10 0 10 0]"), lin, "degenerate shading axis")
    rejectsSh(axial, lin.replace("[0 1]", "[0 0.5]"), "only [0 1]")
    rejectsSh(axial, lin.replace("/C1 [1 1 1]", "/C1 [1 2 1]"), "outside [0,1]")
    rejectsSh(axial.replace("/DeviceRGB", "/DeviceGray"), lin, "must be /DeviceRGB")
    // KEY-PRESENCE gating: a negative/scientific value fails the unsigned
    // value regex — that must THROW, not silently fall back to a default
    rejectsSh(axial, lin.replace("[0 1]", "[-1 1]"), "present but not a plain")
    rejectsSh(axial, lin.replace("/C0 [0 0 0]", "/C0 [-0.2 0 0]"), "present but not a plain")
    rejectsSh(axial, lin.replace("/C1 [1 1 1]", "/C1 [1e-3 0 0]"), "present but not a plain")
    // a shading /BBox would clip the gradient in a conforming renderer —
    // no model here, loud
    rejectsSh(axial.replace("/ShadingType 2", "/ShadingType 2 /BBox [0 0 10 10]"),
      lin, "shading /BBox")
    rejectsSh(axial, lin, "under a non-identity cm", "q 2 0 0 2 0 0 cm /Sh0 sh Q")
    // sh with no /Shading resource at all
    val ex = intercept[IllegalArgumentException](
      PdfRaster.rasterize(tinyPdf("/Nope sh"), 72))
    assert(ex.getMessage.contains("unknown shading"))
  }

  test("dash patterns walk on/off spans along the path; phase shifts them") {
    def at(img: ImageDecode.Decoded, x: Int, y: Int): Byte =
      img.rgb(((40 - y) * img.width + x) * 3)
    // [6 4] 0 d on a horizontal 2w line y=20 from x=10: ON device columns
    // [10,16), OFF [16,20), ON [20,26) …
    val dashed = PdfRaster.rasterize(tinyPdf(
      "0 0 0 RG 2 w [6 4] 0 d 10 20 m 45 20 l S"), 72).head.image
    assert(at(dashed, 12, 20) == 0x00.toByte, "inside the first dash")
    assert(at(dashed, 18, 20) == 0xFF.toByte, "inside the first gap")
    assert(at(dashed, 22, 20) == 0x00.toByte, "inside the second dash")
    // phase 5 consumes most of the first dash: ON [10,11), OFF [11,15),
    // ON [15,21)
    val shifted = PdfRaster.rasterize(tinyPdf(
      "0 0 0 RG 2 w [6 4] 5 d 10 20 m 45 20 l S"), 72).head.image
    assert(at(shifted, 12, 20) == 0xFF.toByte, "phase moved the gap here")
    assert(at(shifted, 17, 20) == 0x00.toByte, "phase moved a dash here")
    // the dash continues ACROSS a polyline vertex: [30 4] on an L of two
    // 20-long segments — the first 30 units of ink span the corner, so the
    // second segment's start is still ON
    val corner = PdfRaster.rasterize(tinyPdf(
      "0 0 0 RG 2 w [30 4] 0 d 5 5 m 25 5 l 25 25 l S"), 72).head.image
    assert(at(corner, 25, 10) == 0x00.toByte, "still ON just after the corner")
    assert(at(corner, 25, 18) == 0xFF.toByte, "the gap lands mid-second-segment")
    // `[] 0 d` stays solid
    val solid = PdfRaster.rasterize(tinyPdf(
      "0 0 0 RG 2 w [] 0 d 10 20 m 45 20 l S"), 72).head.image
    assert(at(solid, 18, 20) == 0x00.toByte, "empty dash = solid")
    // odd-length array parity: [4] cycles on4/off4 (period 8), so phase 6
    // starts 2 units into the OFF leg — OFF [10,12), ON [12,16), OFF
    // [16,20). Reducing the phase mod the plain sum would start ON here.
    val odd = PdfRaster.rasterize(tinyPdf(
      "0 0 0 RG 2 w [4] 6 d 10 20 m 45 20 l S"), 72).head.image
    assert(at(odd, 11, 20) == 0xFF.toByte, "phase 6 of [4] starts OFF")
    assert(at(odd, 13, 20) == 0x00.toByte, "ON after the 2-unit tail gap")
    assert(at(odd, 17, 20) == 0xFF.toByte, "OFF again at period position")
    assert(at(odd, 21, 20) == 0x00.toByte, "second ON leg")
    // a solid ExtGState /D RESETS an active inline dash (it is `[] 0 d`)
    val gsReset = PdfRaster.rasterize(tinyPdf(
      "0 0 0 RG 2 w [6 4] 0 d /GS0 gs 10 20 m 45 20 l S",
      Some("<< /Type /ExtGState /D [ [ ] 0 ] >>")), 72).head.image
    assert(at(gsReset, 18, 20) == 0x00.toByte, "gs /D [[] 0] must reset the dash")
    // rect-only `b` is legal: `re` is already a closed subpath
    val rb = PdfRaster.rasterize(tinyPdf(
      "0 0 0 rg 0 0 0 RG 1 w 10 10 20 15 re b"), 72).head.image
    assert(at(rb, 20, 17) == 0x00.toByte, "re b fills and strokes")
  }

  test("radial sh: ball gradient, non-extended annulus witnesses, rejects") {
    def shPdf(content: String, sd: String, fd: String): Array[Byte] =
      tinyPdf(content, None, Some((sd, fd)))
    val lin = "<< /FunctionType 2 /Domain [0 1] /C0 [0 0 0] /C1 [1 1 1] /N 1 >>"
    def radial(coords: String, ext: String = "[true true]"): String =
      "<< /ShadingType 3 /ColorSpace /DeviceRGB " +
        s"/Coords [$coords] /Function FUNC /Extend $ext >>"
    def gray(img: ImageDecode.Decoded, x: Int, y: Int): Int =
      img.rgb((y * img.width + x) * 3) & 0xFF
    // point-to-circle ball at (25,20) r1=10, extend both: t = dist/10
    // clamped — center near-black, rim near-white, outside clamps white
    val ball = PdfRaster.rasterize(
      shPdf("/Sh0 sh", radial("25 20 0 25 20 10"), lin), 72).head.image
    // device row for user y: row = 40 - 1 - ... pixel (25, row 20) has
    // center (25.5, 20.5) → user (25.5, 19.5): dist √0.5 → t ≈ 0.0707
    assert(gray(ball, 25, 20) == math.rint(math.sqrt(0.5) / 10.0 * 255).toInt)
    assert(gray(ball, 45, 20) == 255, "outside r1 clamps to C1 under extend")
    assert(gray(ball, 25, 2) == 255, "far outside still C1")
    // same ball WITHOUT extend: outside r1 is untouched white too, but the
    // distinction shows at the exact rim vs the e0-disabled CENTER — with
    // r0=0 the center v=0.07 is in [0,1], so instead witness via annulus:
    val ann = PdfRaster.rasterize(
      shPdf("/Sh0 sh", radial("25 20 5 25 20 10", "[false false]"), lin), 72).head.image
    assert(gray(ann, 25, 20) == 255, "inside the r0 circle: untouched")
    // pixel (32,20): center (32.5,20.5) → user (32.5,19.5), dist from
    // (25,20) = √(7.5²+0.5²); v = (dist−5)/5 ∈ (0,1) paints
    val dist = math.sqrt(7.5 * 7.5 + 0.5 * 0.5)
    assert(gray(ann, 32, 20) == math.rint((dist - 5.0) / 5.0 * 255).toInt)
    assert(gray(ann, 45, 20) == 255, "outside the r1 circle: untouched")
    def rejectsSh(sd: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](
        PdfRaster.rasterize(shPdf("/Sh0 sh", sd, lin), 72))
      assert(ex.getMessage.contains(needle), s"got: ${ex.getMessage}")
    }
    rejectsSh(radial("25 20 0 25 20 10").replace("/ShadingType 3", "/ShadingType 4"),
      "axial 2 / radial 3") // mesh
    rejectsSh(radial("25 20 -1 25 20 10"), "negative shading radius")
    rejectsSh(radial("25 20 10 25 20 10"), "identical circles")
    rejectsSh(radial("25 20 10 25"), "6-number /Coords")
  }

  test("re W n clips every painter, intersects when nested, restores on Q") {
    // clip to [10,30)x[15,35) user (device rows 5..25), fill the whole page
    val clipped = PdfRaster.rasterize(tinyPdf(
      "q 10 15 20 20 re W n 0 0 0 rg 0 0 50 40 re f Q 0 0 0 rg 40 2 5 5 re f"), 72).head.image
    def at(img: ImageDecode.Decoded, x: Int, y: Int): Byte =
      img.rgb(((40 - y) * img.width + x) * 3)
    assert(at(clipped, 20, 25) == 0x00.toByte, "inside the clip box")
    assert(at(clipped, 5, 25) == 0xFF.toByte, "left of the clip box stays white")
    assert(at(clipped, 20, 38) == 0xFF.toByte, "above the clip box stays white")
    assert(at(clipped, 42, 4) == 0x00.toByte, "after Q the painter is unclipped")
    // nested clips intersect: [10,30) ∩ [20,45) = [20,30)
    val nested = PdfRaster.rasterize(tinyPdf(
      "q 10 15 20 20 re W n 20 5 25 30 re W n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(at(nested, 25, 25) == 0x00.toByte, "inside the intersection")
    assert(at(nested, 15, 25) == 0xFF.toByte, "inside clip1 only — must stay white")
    assert(at(nested, 35, 25) == 0xFF.toByte, "inside clip2 only — must stay white")
    // empty intersection paints nothing (and must not throw)
    val empty = PdfRaster.rasterize(tinyPdf(
      "q 5 5 10 10 re W n 30 30 10 5 re W n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(!empty.rgb.exists(_ == 0x00.toByte), "empty clip paints nothing")
  }

  test("general clip paths mask per pixel: polygon W, even-odd W*, box∩mask") {
    def at(img: ImageDecode.Decoded, x: Int, y: Int): Byte =
      img.rgb(((40 - y) * img.width + x) * 3)
    // triangle clip (10,10)-(40,10)-(25,30): full-page fill only lands inside
    val tri = PdfRaster.rasterize(tinyPdf(
      "q 10 10 m 40 10 l 25 30 l h W n 0 0 0 rg 0 0 50 40 re f Q 0 0 0 rg 45 2 4 4 re f"), 72).head.image
    assert(at(tri, 25, 15) == 0x00.toByte, "inside the triangle")
    assert(at(tri, 12, 25) == 0xFF.toByte, "inside the bbox but outside the triangle")
    assert(at(tri, 5, 5) == 0xFF.toByte, "outside the triangle's bbox")
    assert(at(tri, 46, 3) == 0x00.toByte, "after Q the painter is unclipped")
    // even-odd star clip: the center pentagon is OUTSIDE the W* region, so a
    // full fill must leave it white while painting the points
    val star = "25 35 m 16.18 7.86 l 39.27 24.64 l 10.73 24.64 l 33.82 7.86 l h"
    val eo = PdfRaster.rasterize(tinyPdf(
      s"q $star W* n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(at(eo, 25, 20) == 0xFF.toByte, "even-odd clip excludes the star center")
    assert(at(eo, 25, 30) == 0x00.toByte, "a star point is inside the clip")
    // nonzero W on the same star INCLUDES the center
    val nz = PdfRaster.rasterize(tinyPdf(
      s"q $star W n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(at(nz, 25, 20) == 0x00.toByte, "nonzero clip includes the star center")
    // rect box clip then polygon mask clip intersect: triangle ∩ x>=20
    val both = PdfRaster.rasterize(tinyPdf(
      "q 20 0 30 40 re W n 10 10 m 40 10 l 25 30 l h W n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(at(both, 25, 15) == 0x00.toByte, "inside both clips")
    assert(at(both, 15, 12) == 0xFF.toByte, "triangle-only region is clipped out")
    // multi-rect clip path (the round-4 rejection case) now masks the union
    val two = PdfRaster.rasterize(tinyPdf(
      "q 5 5 10 10 re 30 25 10 10 re W n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(at(two, 8, 8) == 0x00.toByte && at(two, 35, 30) == 0x00.toByte, "both rects fill")
    assert(at(two, 20, 20) == 0xFF.toByte, "between the rects stays white")
    // strokes and glyphs honor the mask too
    val stk = PdfRaster.rasterize(tinyPdf(
      "q 10 10 m 40 10 l 25 30 l h W n 0 0 0 RG 4 w 0 15 m 50 15 l S Q"), 72).head.image
    assert(at(stk, 25, 15) == 0x00.toByte, "stroke inside the triangle clip")
    assert(at(stk, 5, 15) == 0xFF.toByte, "stroke clipped outside the triangle")
    // an off-canvas clip region empties the box: painting no-ops, no throw
    val off = PdfRaster.rasterize(tinyPdf(
      "q 100 100 m 120 100 l 110 120 l h W n 0 0 0 rg 0 0 50 40 re f Q"), 72).head.image
    assert(!off.rgb.exists(_ == 0x00.toByte), "empty general clip paints nothing")
  }

  test("Q restores the TEXT state too: font size and leading revert like Tr") {
    // text state is part of graphics state (PDF 8.4.2): a q /F1 14 Tf Q
    // bracket must leave the outer 7pt size in force — pre-fix fontSize
    // lived outside GState and the inner Tf leaked through Q, silently
    // rendering at double scale
    val base = PdfRaster.rasterize(
      tinyPdf("BT /F1 7 Tf 2 25 Td (OK) Tj ET"), 72).head.image
    val bracketed = PdfRaster.rasterize(
      tinyPdf("BT /F1 7 Tf q /F1 14 Tf Q 2 25 Td (OK) Tj ET"), 72).head.image
    assert(ImageDecode.sha256Hex(base.rgb) == ImageDecode.sha256Hex(bracketed.rgb),
      "inner Tf must not survive Q")
    // same for TL leading driving T*
    val lbase = PdfRaster.rasterize(
      tinyPdf("BT /F1 7 Tf 14 TL 2 30 Td T* (OK) Tj ET"), 72).head.image
    val lbrk = PdfRaster.rasterize(
      tinyPdf("BT /F1 7 Tf 14 TL q 28 TL Q 2 30 Td T* (OK) Tj ET"), 72).head.image
    assert(ImageDecode.sha256Hex(lbase.rgb) == ImageDecode.sha256Hex(lbrk.rgb),
      "inner TL must not survive Q")
  }

  test("an unconsumed content-stream array is rejected, never silently dropped") {
    // [ (A) ] [ (B) ] TJ would render only B if the second '[' could
    // overwrite the first array — the loud contract requires a throw
    val ex = intercept[IllegalArgumentException](PdfRaster.rasterize(
      tinyPdf("BT /F1 7 Tf 2 25 Td [ (A) ] [ (B) ] TJ ET"), 72))
    assert(ex.getMessage.contains("unconsumed"), ex.getMessage)
  }

  test("dpi scales the canvas and the same page stays deterministic") {
    val at72 = PdfRaster.rasterize(fixture(), 72)
    val at144 = PdfRaster.rasterize(fixture(), 144)
    assert(at144.head.image.width == at72.head.image.width * 2)
    assert(at144.head.image.height == at72.head.image.height * 2)
    val again = PdfRaster.rasterize(fixture(), 144)
    assert(ImageDecode.sha256Hex(again(1).image.rgb) ==
      ImageDecode.sha256Hex(at144(1).image.rgb))
  }

  test("ExtGState: /LW applies like inline w; pixel-changing parameters reject loudly") {
    val stroke = "10 20 m 40 20 l S"
    // a gs-set /LW 4 must render the SAME pixels as inline `4 w` — blindly
    // ignoring gs (pre-fix) stroked at width 1 with no error
    val viaGs = PdfRaster.rasterize(
      tinyPdf(s"/GS0 gs $stroke", Some("<< /Type /ExtGState /LW 4 >>")), 72)
    val viaW = PdfRaster.rasterize(tinyPdf(s"4 w $stroke"), 72)
    assert(viaGs.head.image.rgb.sameElements(viaW.head.image.rgb))
    assert(!viaGs.head.image.rgb.sameElements(
      PdfRaster.rasterize(tinyPdf(stroke), 72).head.image.rgb))
    // benign caps/joins/intent keys pass; pixel-changing ones throw at
    // page setup, BEFORE any pixel is painted
    PdfRaster.rasterize(tinyPdf(s"/GS0 gs $stroke",
      Some("<< /Type /ExtGState /LC 1 /LJ 1 /ML 10 /SA true /CA 1 /ca 1.0 " +
        "/BM /Normal /SMask /None /D [ [ ] 0 ] >>")), 72)
    def rejectsGs(dict: String, needle: String): Unit = {
      val ex = intercept[IllegalArgumentException](
        PdfRaster.rasterize(tinyPdf(s"/GS0 gs $stroke", Some(dict)), 72))
      assert(ex.getMessage.contains(needle), s"for [$dict] got: ${ex.getMessage}")
    }
    rejectsGs("<< /Type /ExtGState /CA 0.5 >>", "outside the raster subset")
    rejectsGs("<< /Type /ExtGState /ca .3 >>", "outside the raster subset")
    rejectsGs("<< /Type /ExtGState /BM /Multiply >>", "outside the raster subset")
    rejectsGs("<< /Type /ExtGState /D [ [ 2 2 ] 0 ] >>", "outside the raster subset")
    rejectsGs("<< /Type /ExtGState /SMask 9 0 R >>", "outside the raster subset")
    rejectsGs("<< /Type /ExtGState /Font [ 5 0 R 10 ] >>", "outside the raster subset")
    // gs naming an absent state throws too
    val ex = intercept[IllegalArgumentException](
      PdfRaster.rasterize(tinyPdf(s"/Nope gs $stroke"), 72))
    assert(ex.getMessage.contains("unknown ExtGState"))
  }

  test("hostile MediaBox canvas sizes throw the typed bomb error, never allocate") {
    def withBox(box: String): Array[Byte] = {
      val content = "0 0 10 10 re f"
      val objs = Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3 -> (s"<< /Type /Page /Parent 2 0 R /MediaBox [$box] /Contents 4 0 R >>"),
        4 -> s"<< /Length ${content.length} >>\nstream\n$content\nendstream")
      val out = new StringBuilder("%PDF-1.4\n")
      val offsets = objs.map { case (n, body) =>
        val off = out.length
        out ++= s"$n 0 obj\n$body\nendobj\n"
        n -> off
      }.toMap
      val xrefAt = out.length
      out ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
      (1 to objs.length).foreach(n => out ++= f"${offsets(n)}%010d 00000 n \n")
      out ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n%%EOF\n"
      out.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    // w*h*3 wraps Int (NegativeArraySizeException without the Long gate)
    val wrap = intercept[IllegalArgumentException](
      PdfRaster.rasterize(withBox("0 0 90000000 90000000"), 72))
    assert(wrap.getMessage.contains("decompression bomb"))
    // just under Int wrap but a multi-GB allocation: same typed rejection
    val big = intercept[IllegalArgumentException](
      PdfRaster.rasterize(withBox("0 0 26000 26000"), 72))
    assert(big.getMessage.contains("decompression bomb"))
  }
}
