package graft.media

import scala.collection.mutable

/** Subset rasterizer for BORN-DIGITAL (vector/text) PDF pages — the third
  * leg of the PDF story next to [[PdfPages]] (embedded-raster scans) and
  * [[PdfText]] (native text extraction). The reference renders ANY page to
  * pixels with pdfium at scale = dpi/72
  * (`/root/reference/src/churro_ocr/_internal/pdf.py:20-54`); pdfium is
  * absent offline, so this covers the deterministic subset honestly and
  * rejects the rest loudly:
  *
  *  - path construction: `re` rectangles, `m`/`l` polylines, `c`/`v`/`y`
  *    cubic Béziers (flattened to 16 chords at t = i/16 — the fixed
  *    subdivision IS the pixel contract), `h` close;
  *  - painting: `f`/`F` nonzero-winding fill, `f*` even-odd fill, `S`
  *    stroke, `s` close+stroke, `B` fill+stroke, `n` no-op. Rect-only `f`
  *    paths keep the exact half-even box rule below; every other paint is
  *    a pixel-center scanline (a pixel is painted iff its center point
  *    (x+0.5, y+0.5) is inside, with the half-open edge rule
  *    ymin ≤ Y < ymax). Strokes are butt-capped quads of the current `w`
  *    line width — NO joins or caps, so `J`/`j`/`M` are consumed-ignored.
  *    Dash patterns (`d`) walk the cyclic on/off array along each subpath
  *    (continuing across its segments, phase-resolved at subpath start,
  *    §8.4.3.6), one quad per ON span; elements must be nonnegative with
  *    a positive sum (an ExtGState /D still accepts only the solid form);
  *  - color: `rg`/`g` fill, `RG`/`G` stroke (RGB 0..1 / gray); `k`/`K`
  *    DeviceCMYK via the PDF-specified additive conversion (§8.6.4.4:
  *    R = 1 − min(1, C+K), likewise G/B with M/Y — pure min/+/−
  *    arithmetic, twin-bit-exact); ICC/named spaces (`cs`/`sc`/`scn`)
  *    are rejected (no profile math offline);
  *  - graphics state: `q`/`Q` save/restore (fill+stroke color, line
  *    width, CTM, text render mode), `cm` accepts ANY invertible matrix
  *    (singular throws — no inverse, no pixel model). A non-identity CTM
  *    is accepted ONLY as the placement transform for an image XObject
  *    (the `q <w> 0 0 <h> <tx> <ty> cm /Im Do Q` idiom every scanned-page
  *    generator emits, plus rotated/mirrored/arbitrary-angle variants for
  *    landscape, flipped and deskew-scanned pages) — a path or text op
  *    under a non-identity CTM throws;
  *  - image XObjects: `Do` composites a /Subtype /Image XObject
  *    (Flate/DeviceRGB or DCT, decoded by [[PdfPages.decodeImageObject]]).
  *    Under the AXIS-PRESERVING family (diagonal / anti-diagonal, any
  *    signs) the unit square maps to a device-aligned box sampled by the
  *    digest-stable forward rule: box bounds under the same rint rule as
  *    rect fills, device pixel (X, Y) sampling index
  *    i = ⌊(X−bx0+0.5)·k/boxW⌋ (k = imgW, or imgH under a quarter turn,
  *    min-clamped to k−1), with the source column/row axes transposed for
  *    quarter turns and reversed where the active matrix coefficient is
  *    negative. Any OTHER invertible placement (arbitrary rotation, skew)
  *    inverse-maps each device pixel center in the transformed corners'
  *    ceil/floor bbox back to the half-open [0,1)² unit square and samples
  *    texel (⌊u·iw⌋, ⌊(1−v)·ih⌋), min-clamped;
  *  - form XObjects: `Do` of a /Subtype /Form executes the form's content
  *    stream under an implicit q/Q with its /Matrix composed onto the CTM
  *    and its /BBox clipped under the same device rule as `re W n`. The
  *    subset places forms by TRANSLATION only (`q 1 0 0 1 tx ty cm /Fm
  *    Do Q`); a composed scale/rotation throws. Forms resolve `Do`
  *    against their OWN /XObject resources (nested forms allowed, cycles
  *    and depth > 8 throw at page setup) and inherit fonts/ExtGStates/
  *    shadings from the enclosing stream when their dict carries none;
  *  - text: the same BT/ET operator subset as [[PdfText]] (Td, TD, Tm,
  *    T-star, TL positioning; Tj/'/"/TJ shows; per-font /ToUnicode CMap or
  *    Latin-1/UTF-16BE-BOM string decoding), drawn with the built-in
  *    [[GlyphFont]] 5×7 bitmaps: glyph cell height = GlyphH × iscale where
  *    iscale = max(1, rint(fontSize·s/GlyphH)), lowercase ASCII upcases
  *    into the single-case font, space advances one cell, any other
  *    unmapped character THROWS (silently-blank text is the failure mode
  *    this module exists to avoid). `Tr` render modes: 0 fills glyphs,
  *    3 is INVISIBLE — no pixels, the pen still advances one cell per
  *    character, and glyph coverage is NOT required (the OCR-overlay text
  *    layer of a scanned+OCR'd page is arbitrary recognizer output);
  *    stroke/clip text modes 1-2 and 4-7 throw;
  *  - clipping: the single-rect `re W n` idiom intersects the current clip
  *    box (device-pixel bounds under the same rint rule as rect fills,
  *    q/Q-scoped, possibly empty) — the exact round-4 rule, digest-stable.
  *    GENERAL clip paths (polygons/curves/multi-rect, `W` nonzero or `W*`
  *    even-odd) rasterize the region into a per-pixel clip MASK under the
  *    SAME pixel-center scanline rules as fills, intersected with the
  *    clip in force (box AND mask) at `n` time; the clip box tightens to
  *    the set-bit bounding box (empty region → empty box). Every
  *    painter — rect/scanline fills, strokes, glyphs, image blits —
  *    clamps to the box and tests the mask per pixel. `W` followed by a
  *    painting op other than `n` throws;
  *  - shading: `sh` paints AXIAL (/ShadingType 2) and RADIAL
  *    (/ShadingType 3) DeviceRGB gradients with a type-2 exponential
  *    function of INTEGER exponent across the entire clip region in force
  *    (box ∩ mask). Axial: each pixel center projects onto the axis;
  *    radial: each pixel takes the largest circle-family parameter whose
  *    circle passes through it with nonnegative radius (quadratic solve,
  *    PDF §8.7.4.5.4). t clamps per /Extend (non-extended ends leave
  *    pixels untouched), color = rint(255·(C0 + t^N·(C1−C0))) with t^N by
  *    repeated multiplication so the twins agree bit-for-bit. Mesh
  *    shading types, sampled/stitching/PostScript functions, non-[0 1]
  *    domains, shading /BBox and fractional exponents throw at page setup;
  *  - painting also covers the fill+stroke family `B`/`B*`/`b`/`b*`
  *    (nonzero / even-odd, with the b variants closing the subpath
  *    first); inline images (BI) and path ops without a current point
  *    throw with a reason.
  *
  * Pixel rules (the differential contract with the pure-Python twin,
  * tools/gen_pdfraster_fixture.py): scale s = dpi/72; canvas
  * W×H = rint(mbW·s)×rint(mbH·s) white RGB; all user→device rounding is
  * rint (half-even, matching Python round()); y flips device-down; a rect
  * covers device columns [rint(x·s), rint((x+w)·s)) and rows
  * [H−rint((y+h)·s), H−rint(y·s)); a glyph run's top-left is
  * (rint(tx·s), H−rint(ty·s)−GlyphH·iscale) and runs advance a
  * pixel-space pen by (GlyphW+1)·iscale per cell.
  *
  * Scanline rules (polygon fills and strokes; every formula below is
  * written in the identical order in the twin so IEEE-754 doubles agree
  * bit-for-bit): user→device is X = u·s, Y = H − v·s; a path edge
  * (X0,Y0)→(X1,Y1) crosses scanline Y = row+0.5 when ymin ≤ Y < ymax
  * (downward edges wind +1, upward −1, horizontal edges never cross) at
  * Xi = X0 + (Y − Y0)·(X1 − X0)/(Y1 − Y0); crossings sort by Xi and a
  * span [Xa, Xb) of nonzero winding (or odd parity for `f*`) paints
  * columns [ceil(Xa − 0.5), ceil(Xb − 0.5)). Fills close every subpath
  * implicitly; strokes only close `h`-closed subpaths. A stroke segment's
  * quad offsets the endpoints by (−dy/len·hw, dx/len·hw) with
  * len = sqrt(dx² + dy²) and hw = w·s/2.
  */
object PdfRaster {

  final case class RasterPage(pageIndex: Int, image: ImageDecode.Decoded)

  private val MediaBoxRe =
    """/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]""".r

  /** Ops with no effect on the rasterized subset (caps/joins/miter — the
    * stroke model is per-segment butt-capped quads with no joins — text
    * spacing we have no metrics for, marked content). Everything not here,
    * not a supported op, throws. `gs` is NOT ignored: an ExtGState can
    * carry /LW (applied), a dash, alpha, a blend mode — each resource is
    * validated up front ([[parseExtGState]]) so blindly skipping the op
    * can never silently drop a parameter that changes pixels.
    */
  private val IgnoredOps: Set[String] = Set(
    "J", "j", "M", "ri", "i",
    "Tc", "Tw", "Tz", "Ts", "BMC", "BDC", "EMC", "MP", "DP")

  private val ExtGStateRe = """/ExtGState\s*<<([^>]*)>>""".r
  private val LwRe = """/LW\s+([0-9.]+)""".r

  private val ShadingResRe = """/Shading\s*<<([^>]*)>>""".r
  private val ShTypeRe = """/ShadingType\s+(\d+)""".r
  private val CoordsRe =
    """/Coords\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]""".r
  private val Coords6Re =
    ("""/Coords\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)""" +
      """\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]""").r
  private val FuncRefRe = """/Function\s+(\d+)\s+0\s+R""".r
  private val ExtendRe = """/Extend\s*\[\s*(true|false)\s+(true|false)\s*\]""".r
  private val FuncTypeRe = """/FunctionType\s+(\d+)""".r
  private val CompsRe = """\[\s*([0-9.]+)\s+([0-9.]+)\s+([0-9.]+)\s*\]"""
  private val C0Re = ("""/C0\s*""" + CompsRe).r
  private val C1Re = ("""/C1\s*""" + CompsRe).r
  private val ExpNRe = """/N\s+([0-9.]+)""".r
  private val DomainRe = """/Domain\s*\[\s*([0-9.]+)\s+([0-9.]+)\s*\]""".r

  /** An /XObject resource: a decoded raster image, or a FORM — a nested
    * content stream with its own /BBox, placement /Matrix and resource
    * maps, validated and decompressed up front at page setup. A form's
    * `Do` resolves only the form's OWN /XObject entries (PDF 2.0
    * deprecated page-level resource inheritance for XObjects); fonts,
    * ExtGStates and shadings fall back to the enclosing maps when the
    * form dict carries none.
    */
  private sealed trait XObj
  private final case class ImageX(img: ImageDecode.Decoded) extends XObj
  private final case class FormX(content: String, matrix: Array[Double],
                                 bbox: (Double, Double, Double, Double),
                                 fonts: Map[String, PdfText.CMapFont],
                                 xobjects: Map[String, XObj],
                                 gstates: Map[String, (Option[Double], Boolean)],
                                 shadings: Map[String, Shad]) extends XObj {
    // tokenized ONCE per built form — a stamp placed N times on a page
    // re-executes the token vector, never re-lexes the stream text
    lazy val toks: Vector[PdfText.Tok] = PdfText.tokenize(content)
  }

  private val BBoxRe =
    """/BBox\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]""".r
  private val MatrixRe =
    ("""/Matrix\s*\[\s*([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)\s+([0-9.+-]+)""" +
      """\s+([0-9.+-]+)\s+([0-9.+-]+)\s*\]""").r

  /** A DeviceRGB shading with a type-2 exponential function of INTEGER
    * exponent: C(t) = C0 + t^N·(C1−C0). The integer-N restriction keeps
    * the pixel contract exact — t^N evaluates by repeated multiplication
    * (IEEE-754-specified, unlike pow) so the Scala and Python twins agree
    * bit-for-bit. Axial = /ShadingType 2 (linear gradient along an axis);
    * Radial = /ShadingType 3 (circle family c(s), r(s) interpolated from
    * circle 0 to circle 1 — each pixel takes the LARGEST s whose circle
    * passes through it with r(s) ≥ 0, per PDF §8.7.4.5.4; sqrt is
    * correctly rounded in IEEE-754, so the quadratic solve is twin-exact).
    */
  private sealed trait Shad {
    def c0: (Double, Double, Double); def c1: (Double, Double, Double)
    def n: Int; def e0: Boolean; def e1: Boolean
  }
  private final case class Axial(x0: Double, y0: Double, x1: Double, y1: Double,
                                 c0: (Double, Double, Double), c1: (Double, Double, Double),
                                 n: Int, e0: Boolean, e1: Boolean) extends Shad
  private final case class Radial(x0: Double, y0: Double, r0: Double,
                                  x1: Double, y1: Double, r1: Double,
                                  c0: (Double, Double, Double), c1: (Double, Double, Double),
                                  n: Int, e0: Boolean, e1: Boolean) extends Shad

  /** Validate one /Shading resource against the raster subset. Everything
    * outside — radial/function/mesh shading types, sampled/stitching/
    * PostScript functions, non-DeviceRGB color, a non-[0 1] /Domain, a
    * fractional exponent, a degenerate axis — throws BEFORE any pixel is
    * painted, same loud contract as ExtGState validation.
    */
  private def parseShading(dict: String, objs: Map[Int, PdfPages.PdfObject],
                           ctx: String): Shad = {
    val stype = ShTypeRe.findFirstMatchIn(dict).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"$ctx: shading without /ShadingType"))
    require(stype == 2 || stype == 3,
      s"$ctx: /ShadingType $stype is outside the raster subset (axial 2 / radial 3)")
    require(dict.contains("/DeviceRGB"),
      s"$ctx: shading /ColorSpace must be /DeviceRGB")
    // a conforming renderer clips the gradient to a shading /BBox
    // (PDF §8.7.4.3); this subset has no model for it — loud, never
    // silently painted over the whole clip region
    require(!dict.contains("/BBox"),
      s"$ctx: shading /BBox is outside the raster subset")
    // coords parse deferred past the function parse — see the builder at
    // the end, where the 4- or 6-number form is selected by /ShadingType
    val (e0, e1) = ExtendRe.findFirstMatchIn(dict)
      .map(m => (m.group(1) == "true", m.group(2) == "true"))
      .getOrElse((false, false))
    val fref = FuncRefRe.findFirstMatchIn(dict).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"$ctx: shading /Function must be an indirect reference"))
    val fdict = objs.getOrElse(fref, throw new IllegalArgumentException(
      s"$ctx: shading /Function ref $fref R is dangling")).dict
    val ftype = FuncTypeRe.findFirstMatchIn(fdict).map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"$ctx: function without /FunctionType"))
    require(ftype == 2,
      s"$ctx: /FunctionType $ftype is outside the raster subset (only exponential, type 2)")
    // KEY-PRESENCE gating before value parsing: the value regexes accept
    // only unsigned plain decimals, so a negative or scientific-notation
    // value would fail to MATCH and silently fall back to the default —
    // the silent-approximation failure mode this module rejects. A key
    // that is present but unparsable throws instead.
    if (fdict.contains("/Domain")) {
      val m = DomainRe.findFirstMatchIn(fdict).getOrElse(
        throw new IllegalArgumentException(
          s"$ctx: function /Domain is present but not a plain [0 1]-style pair"))
      require(m.group(1).toDouble == 0.0 && m.group(2).toDouble == 1.0,
        s"$ctx: function /Domain [${m.group(1)} ${m.group(2)}] unsupported (only [0 1])")
    }
    def comps(key: String, re: scala.util.matching.Regex,
              default: (Double, Double, Double)) =
      if (!fdict.contains(key)) default // spec defaults: C0 black, C1 white
      else {
        val m = re.findFirstMatchIn(fdict).getOrElse(
          throw new IllegalArgumentException(
            s"$ctx: function $key is present but not a plain [r g b] triple in [0,1]"))
        val t = (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble)
        require(t._1 <= 1.0 && t._2 <= 1.0 && t._3 <= 1.0,
          s"$ctx: function color component outside [0,1]")
        t
      }
    val nRaw = ExpNRe.findFirstMatchIn(fdict).map(_.group(1).toDouble)
      .getOrElse(throw new IllegalArgumentException(
        s"$ctx: function without a plain nonnegative /N"))
    require(nRaw == math.rint(nRaw) && nRaw >= 0.0 && nRaw <= 8.0,
      s"$ctx: function exponent /N $nRaw unsupported (integer 0..8 keeps t^N exact)")
    val c0v = comps("/C0", C0Re, (0.0, 0.0, 0.0))
    val c1v = comps("/C1", C1Re, (1.0, 1.0, 1.0))
    if (stype == 2) {
      val co = CoordsRe.findFirstMatchIn(dict)
        .getOrElse(throw new IllegalArgumentException(
          s"$ctx: axial shading without a plain 4-number /Coords"))
      val (x0, y0, x1, y1) = (co.group(1).toDouble, co.group(2).toDouble,
        co.group(3).toDouble, co.group(4).toDouble)
      require((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0) > 0.0,
        s"$ctx: degenerate shading axis ($x0,$y0)->($x1,$y1)")
      Axial(x0, y0, x1, y1, c0v, c1v, nRaw.toInt, e0, e1)
    } else {
      val co = Coords6Re.findFirstMatchIn(dict)
        .getOrElse(throw new IllegalArgumentException(
          s"$ctx: radial shading without a plain 6-number /Coords"))
      val (x0, y0, r0) = (co.group(1).toDouble, co.group(2).toDouble, co.group(3).toDouble)
      val (x1, y1, r1) = (co.group(4).toDouble, co.group(5).toDouble, co.group(6).toDouble)
      require(r0 >= 0.0 && r1 >= 0.0, s"$ctx: negative shading radius ($r0, $r1)")
      require(x0 != x1 || y0 != y1 || r0 != r1,
        s"$ctx: degenerate radial shading (identical circles)")
      Radial(x0, y0, r0, x1, y1, r1, c0v, c1v, nRaw.toInt, e0, e1)
    }
  }

  /** Validate one ExtGState dict against the raster subset and return its
    * /LW line-width override. The decision per key mirrors the inline
    * operator it shadows: /LW ≡ `w` (applied), caps/joins/miter/intent/
    * flatness ≡ the ignored J/j/M/ri/i, a solid /D ≡ `[] 0 d`; anything
    * that would change pixels — a real dash, /CA /ca ≠ 1, a non-Normal
    * /BM, a soft mask, /Font — throws, same LOUD contract as the op loop
    * (ignoring `gs` wholesale would render those silently wrong).
    */
  /** Returns (optional /LW line width, whether a solid /D was present —
    * the only /D form the validation admits, which `gs` must APPLY by
    * resetting any active inline dash, exactly as `[] 0 d` would).
    */
  private def parseExtGState(dict: String, ctx: String): (Option[Double], Boolean) = {
    val lw = LwRe.findFirstMatchIn(dict).map(_.group(1).toDouble)
    val solidD = dict.matches("""(?s).*?/D\s*\[\s*\[\s*\]\s*[0-9.]+\s*\].*""")
    val benign = Seq(
      """/Type\s*/ExtGState""",
      """/LW\s+[0-9.]+""",
      """/(?:LC|LJ|OPM)\s+\d+""",
      """/(?:ML|FL|SM)\s+[0-9.]+""",
      """/(?:SA|TK|AIS|OP|op)\s+(?:true|false)""",
      """/RI\s*/\w+""",
      """/CA\s+1(?:\.0*)?(?![0-9.])""",
      """/ca\s+1(?:\.0*)?(?![0-9.])""",
      """/BM\s*/(?:Normal|Compatible)""",
      """/SMask\s*/None""",
      """/D\s*\[\s*\[\s*\]\s*[0-9.]+\s*\]""")
    var residue = dict
    benign.foreach(p => residue = residue.replaceAll(p, " "))
    require(!residue.contains('/'),
      s"$ctx: ExtGState parameters '${residue.replaceAll("[<>\\s]+", " ").trim}' " +
        "are outside the raster subset")
    (lw, solidD)
  }

  /** textRender: PDF Tr mode — 0 fill, 3 invisible (the OCR text layer of
    * a scanned+OCR'd page); (ma,mb,mc,md): the CTM's 2×2, restricted to the
    * AXIS-PRESERVING family (diagonal or anti-diagonal, any signs — scales,
    * quarter turns, mirrors), identity except around `Do`; a row-vector
    * user point maps to (ma·u + mc·v + tx, mb·u + md·v + ty);
    * clip: device-pixel box (x0, y0, x1, y1) every painter clamps to —
    * intersection-only, possibly empty, q/Q-scoped; clipMask: present once
    * a GENERAL clip path (polygon/curve/multi-rect/even-odd) is active —
    * bit-packed row-major w×h region every painter additionally tests per
    * pixel (None = the box alone governs, the digest-stable rect idiom).
    * Masks are immutable after construction, so q/Q shares references.
    */
  private final case class GState(fill: (Int, Int, Int), stroke: (Int, Int, Int),
                                  lineWidth: Double, tx: Double, ty: Double,
                                  ma: Double, mb: Double, mc: Double, md: Double,
                                  textRender: Int, clip: (Int, Int, Int, Int),
                                  clipMask: Option[Array[Long]],
                                  // dash pattern (user-space lengths, phase)
                                  // — part of graphics state like line width
                                  dash: (Vector[Double], Double),
                                  // text state is PART of graphics state
                                  // (PDF §8.4.2): Tf's size+font and TL's
                                  // leading must revert at Q exactly like Tr
                                  fontSize: Double, leading: Double,
                                  font: Option[PdfText.CMapFont])

  /** One path subpath: translated user-space points (curves already
    * flattened), plus whether `h` closed it (fills close implicitly;
    * strokes draw the closing segment only when closed).
    */
  private final class Sub(val pts: mutable.ArrayBuffer[(Double, Double)], var closed: Boolean)

  private val BezierChords = 16

  def rasterize(pdfBytes: Array[Byte], dpi: Int): Vector[RasterPage] = {
    import PdfPages._
    require(dpi > 0, "dpi must be positive")
    val (objs, pagesNode, kids) = documentKids(pdfBytes)
    // decoded-XObject cache keyed by object ref: a multi-page document
    // sharing one /Pages-level resource dict decodes each stream ONCE, not
    // once per page (a 100-page archive was re-inflating the same Flate
    // stream 100 times)
    val decodedCache = mutable.Map.empty[Int, ImageDecode.Decoded]
    kids.zipWithIndex.map { case (pageNum, pageIdx) =>
      val page = objs.getOrElse(pageNum,
        throw new IllegalArgumentException(s"missing page object $pageNum"))
      val mb = MediaBoxRe.findFirstMatchIn(page.dict)
        .orElse(MediaBoxRe.findFirstMatchIn(pagesNode.dict))
        .getOrElse(throw new IllegalArgumentException(s"page $pageNum: no /MediaBox"))
      val (x0, y0, mbW, mbH) =
        (mb.group(1).toDouble, mb.group(2).toDouble, mb.group(3).toDouble, mb.group(4).toDouble)
      require(x0 == 0.0 && y0 == 0.0, s"page $pageNum: non-origin MediaBox unsupported")
      val fonts = PdfText.pageFonts(pdfBytes, page, objs, pageNum)
      // validate every /ExtGState up front (name → /LW override): a `gs`
      // naming a state with pixel-changing parameters fails before any
      // pixel is painted, like a dangling XObject does
      def gstatesOf(d: String): Map[String, (Option[Double], Boolean)] =
        ExtGStateRe.findFirstMatchIn(d)
          .map(m => XObjEntryRe.findAllMatchIn(m.group(1)).map { mm =>
            val ref = mm.group(2).toInt
            val obj = objs.getOrElse(ref, throw new IllegalArgumentException(
              s"page $pageNum: ExtGState /${mm.group(1)} ref $ref R is dangling"))
            mm.group(1) -> parseExtGState(obj.dict, s"page $pageNum: /${mm.group(1)}")
          }.toMap)
          .getOrElse(Map.empty)
      // validate every /Shading resource up front too — `sh` naming a
      // radial/mesh shading or a non-exponential function fails before any
      // pixel is painted
      def shadingsOf(d: String): Map[String, Shad] =
        ShadingResRe.findFirstMatchIn(d)
          .map(m => XObjEntryRe.findAllMatchIn(m.group(1)).map { mm =>
            val ref = mm.group(2).toInt
            val obj = objs.getOrElse(ref, throw new IllegalArgumentException(
              s"page $pageNum: shading /${mm.group(1)} ref $ref R is dangling"))
            mm.group(1) -> parseShading(obj.dict, objs, s"page $pageNum: /${mm.group(1)}")
          }.toMap)
          .getOrElse(Map.empty)
      // KEY-PRESENCE fallback (the round-4 orElse semantics): a page whose
      // dict carries the key — even an explicitly EMPTY inline dict —
      // SHADOWS the /Pages-level resources; only an absent key inherits
      val gstates =
        if (ExtGStateRe.findFirstMatchIn(page.dict).isDefined) gstatesOf(page.dict)
        else gstatesOf(pagesNode.dict)
      val shadings =
        if (ShadingResRe.findFirstMatchIn(page.dict).isDefined) shadingsOf(page.dict)
        else shadingsOf(pagesNode.dict)
      // decode every /Resources /XObject up front: Do resolves by name, a
      // dangling ref fails before any pixel is painted. Image entries
      // decode through the shared cache; FORM entries recursively build
      // their content + resource closure (cycles and deep nesting throw).
      // A form referenced from several sites with the SAME inherited
      // resources (raster_11: Fm0 from the page AND from inside Fm1)
      // builds once — keyed on the inherited maps because a form with no
      // own /Font (etc.) closes over whatever the referencing site
      // supplies. Cycle detection still fires: an in-progress build is
      // not yet in the cache, so self-reference re-enters buildForm with
      // the ref already in refPath.
      val formCache = mutable.Map.empty[(Int, Map[String, PdfText.CMapFont],
        Map[String, (Option[Double], Boolean)], Map[String, Shad]), FormX]
      def buildForm(name: String, ref: Int, obj: PdfObject,
                    inhFonts: Map[String, PdfText.CMapFont],
                    inhG: Map[String, (Option[Double], Boolean)],
                    inhSh: Map[String, Shad], refPath: Set[Int]): FormX = {
        require(!refPath.contains(ref),
          s"page $pageNum: cyclic form XObject /$name ($ref R)")
        require(refPath.size < 8, s"page $pageNum: form XObjects nested deeper than 8")
        val bb = BBoxRe.findFirstMatchIn(obj.dict).getOrElse(
          throw new IllegalArgumentException(s"page $pageNum: form /$name without /BBox"))
        val (bx0, by0, bx1, by1) = (bb.group(1).toDouble, bb.group(2).toDouble,
          bb.group(3).toDouble, bb.group(4).toDouble)
        require(bx1 > bx0 && by1 > by0,
          s"page $pageNum: form /$name degenerate /BBox [$bx0 $by0 $bx1 $by1]")
        val mt = MatrixRe.findFirstMatchIn(obj.dict)
          .map(m => Array.tabulate(6)(i => m.group(i + 1).toDouble))
          .getOrElse(Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0))
        require(mt(0) * mt(3) - mt(1) * mt(2) != 0.0,
          s"page $pageNum: form /$name singular /Matrix")
        val raw = streamData(pdfBytes, obj, objs)
        val content = new String(
          if (obj.dict.contains("/FlateDecode")) inflate(raw) else raw,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val fFonts =
          if (obj.dict.contains("/Font")) PdfText.pageFonts(pdfBytes, obj, objs, pageNum)
          else inhFonts
        val fG = if (obj.dict.contains("/ExtGState")) gstatesOf(obj.dict) else inhG
        val fSh = if (obj.dict.contains("/Shading")) shadingsOf(obj.dict) else inhSh
        val fX = xobjectsOf(obj.dict, fFonts, fG, fSh, refPath + ref)
        FormX(content, mt, (bx0, by0, bx1, by1), fFonts, fX, fG, fSh)
      }
      def xobjectsOf(d: String, inhFonts: Map[String, PdfText.CMapFont],
                     inhG: Map[String, (Option[Double], Boolean)],
                     inhSh: Map[String, Shad], refPath: Set[Int]): Map[String, XObj] =
        XObjectRefRe.findFirstMatchIn(d)
          .map(m => XObjEntryRe.findAllMatchIn(m.group(1)).map { mm =>
            val ref = mm.group(2).toInt
            val obj = objs.getOrElse(ref, throw new IllegalArgumentException(
              s"page $pageNum: XObject /${mm.group(1)} ref $ref R is dangling"))
            mm.group(1) -> (
              if (obj.dict.contains("/Form"))
                formCache.getOrElseUpdate((ref, inhFonts, inhG, inhSh),
                  buildForm(mm.group(1), ref, obj, inhFonts, inhG, inhSh, refPath)): XObj
              else
                ImageX(decodedCache.getOrElseUpdate(ref,
                  decodeImageObject(pdfBytes, obj, objs))): XObj)
          }.toMap)
          .getOrElse(Map.empty)
      val xobjects: Map[String, XObj] =
        if (XObjectRefRe.findFirstMatchIn(page.dict).isDefined)
          xobjectsOf(page.dict, fonts, gstates, shadings, Set.empty)
        else xobjectsOf(pagesNode.dict, fonts, gstates, shadings, Set.empty)
      RasterPage(pageIdx,
        render(contentText(pdfBytes, page, objs), fonts, xobjects, gstates,
          shadings, mbW, mbH, dpi, pageNum))
    }
  }

  // one glyph cell (glyph + spacing column), in pixels, at integer scale
  private def cellW(iscale: Int): Int = (GlyphFont.GlyphW + GlyphFont.Spacing) * iscale

  private def render(content: String, fonts: Map[String, PdfText.CMapFont],
                     xobjects: Map[String, XObj],
                     gstates: Map[String, (Option[Double], Boolean)],
                     shadings: Map[String, Shad],
                     mbW: Double, mbH: Double, dpi: Int, pageNum: Int): ImageDecode.Decoded = {
    import PdfText.{TArrClose, TArrOpen, TName, TNum, TOp, TStr, Tok}
    val s = dpi / 72.0
    val w = math.rint(mbW * s).toInt
    val h = math.rint(mbH * s).toInt
    require(w > 0 && h > 0, s"page $pageNum: degenerate canvas ${w}x$h")
    // bomb ceiling in Long space BEFORE allocating: a ~200-byte PDF with a
    // hostile /MediaBox can otherwise demand gigabytes (or wrap w*h*3 past
    // Int into an untyped NegativeArraySizeException) — same MaxPixels
    // gate as every other decoder surface
    require(w.toLong * h <= ImageDecode.MaxPixels,
      s"page $pageNum: decompression bomb: ${w}x$h px canvas exceeds ${ImageDecode.MaxPixels}")
    val rgb = Array.fill[Byte](w * h * 3)(0xFF.toByte) // white

    def px(u: Double): Int = math.rint(u * s).toInt

    // current graphics state — declared before the painters so they read
    // the live clip box at paint time
    var st = GState((0, 0, 0), (0, 0, 0), 1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 1.0, 0, (0, 0, w, h),
      None, (Vector.empty, 0.0), 0.0, 0.0, None)

    // per-pixel test against a general clip mask (row-major bit-packed);
    // painters hoist st.clipMask.orNull so the rect-only path (mask null)
    // costs one reference compare per pixel
    def maskOk(mk: Array[Long], x: Int, y: Int): Boolean = {
      val idx = y * w + x
      (mk(idx >>> 6) & (1L << (idx & 63))) != 0L
    }

    def fillRect(ux: Double, uy: Double, uw: Double, uh: Double, c: (Int, Int, Int)): Unit = {
      val cx0 = math.max(st.clip._1, px(ux)); val cx1 = math.min(st.clip._3, px(ux + uw))
      val ry0 = math.max(st.clip._2, h - px(uy + uh)); val ry1 = math.min(st.clip._4, h - px(uy))
      val mk = st.clipMask.orNull
      var y = ry0
      while (y < ry1) {
        var x = cx0
        while (x < cx1) {
          if (mk == null || maskOk(mk, x, y)) {
            val o = (y * w + x) * 3
            rgb(o) = c._1.toByte; rgb(o + 1) = c._2.toByte; rgb(o + 2) = c._3.toByte
          }
          x += 1
        }
        y += 1
      }
    }

    def drawCells(text: String, xPx: Int, topPx: Int, iscale: Int, c: (Int, Int, Int)): Int = {
      // returns the pen advance in pixels; throws on unmapped glyphs
      val mk = st.clipMask.orNull
      var penDx = 0
      var ci = 0
      while (ci < text.length) {
        val up = {
          val ch = text.charAt(ci)
          if (ch >= 'a' && ch <= 'z') (ch - 32).toChar else ch
        }
        if (up != ' ') {
          val glyph = GlyphFont.rows.getOrElse(up, throw new IllegalArgumentException(
            s"page $pageNum: character '$up' (U+${up.toInt.toHexString.toUpperCase}) " +
              "is outside the built-in glyph font"))
          var r = 0
          while (r < GlyphFont.GlyphH) {
            val bits = glyph(r)
            var gc = 0
            while (gc < GlyphFont.GlyphW) {
              if ((bits & (1 << (GlyphFont.GlyphW - 1 - gc))) != 0) {
                // iscale×iscale block per font-bit
                var by = 0
                while (by < iscale) {
                  val yy = topPx + r * iscale + by
                  if (yy >= st.clip._2 && yy < st.clip._4) {
                    var bx = 0
                    while (bx < iscale) {
                      val xx = xPx + penDx + gc * iscale + bx
                      if (xx >= st.clip._1 && xx < st.clip._3 &&
                        (mk == null || maskOk(mk, xx, yy))) {
                        val o = (yy * w + xx) * 3
                        rgb(o) = c._1.toByte; rgb(o + 1) = c._2.toByte; rgb(o + 2) = c._3.toByte
                      }
                      bx += 1
                    }
                  }
                  by += 1
                }
              }
              gc += 1
            }
            r += 1
          }
        }
        penDx += cellW(iscale)
        ci += 1
      }
      penDx
    }

    // ---- scanline machinery (polygon fills + strokes) --------------------
    // Device transform for path points: X = u·s, Y = h − v·s (pixel-center
    // sampling; the rect-only `f` fast path keeps the rint box rule above).
    val hD = h.toDouble

    // Shared scanline walker (fills, strokes AND general clip-path
    // rasterization): emits each inside span as (row, xa, xb) already
    // clamped to the live clip BOX — every formula in the exact round-4
    // scanFill order so existing digests cannot drift. Each ring is a
    // device-space point list, implicitly closed.
    def scanSpans(rings: Seq[IndexedSeq[(Double, Double)]], evenOdd: Boolean)
                 (emit: (Int, Int, Int) => Unit): Unit = {
      val edges = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      var yMin = Double.MaxValue; var yMax = -Double.MaxValue
      rings.foreach { ring =>
        val n = ring.length
        if (n >= 2) {
          var i = 0
          while (i < n) {
            val (x0, y0) = ring(i)
            val (x1, y1) = ring((i + 1) % n)
            if (y0 != y1) edges += ((x0, y0, x1, y1))
            yMin = math.min(yMin, math.min(y0, y1))
            yMax = math.max(yMax, math.max(y0, y1))
            i += 1
          }
        }
      }
      if (edges.nonEmpty) {
        val rowLo = math.max(st.clip._2, math.floor(yMin - 0.5).toInt)
        val rowHi = math.min(st.clip._4, math.ceil(yMax + 0.5).toInt)
        val xs = new mutable.ArrayBuffer[(Double, Int)](edges.length)
        var row = rowLo
        while (row < rowHi) {
          val yC = row + 0.5
          xs.clear()
          edges.foreach { case (x0, y0, x1, y1) =>
            // half-open: include the lower-y endpoint, exclude the upper —
            // a vertex shared by two edges crosses exactly once
            if (y0 < y1) { if (y0 <= yC && yC < y1) xs += ((x0 + (yC - y0) * (x1 - x0) / (y1 - y0), 1)) }
            else if (y1 <= yC && yC < y0) xs += ((x0 + (yC - y0) * (x1 - x0) / (y1 - y0), -1))
          }
          if (xs.nonEmpty) {
            val sorted = xs.sortBy(_._1)
            var acc = 0
            var i = 0
            while (i < sorted.length - 1) {
              acc += sorted(i)._2
              val inside = if (evenOdd) (i % 2 == 0) else acc != 0
              if (inside) {
                val xa = math.max(st.clip._1, math.ceil(sorted(i)._1 - 0.5).toInt)
                val xb = math.min(st.clip._3, math.ceil(sorted(i + 1)._1 - 0.5).toInt)
                emit(row, xa, xb)
              }
              i += 1
            }
          }
          row += 1
        }
      }
    }

    def scanFill(rings: Seq[IndexedSeq[(Double, Double)]], evenOdd: Boolean,
                 c: (Int, Int, Int)): Unit = {
      val mk = st.clipMask.orNull
      scanSpans(rings, evenOdd) { (row, xa, xb) =>
        var x = xa
        while (x < xb) {
          if (mk == null || maskOk(mk, x, row)) {
            val o = (row * w + x) * 3
            rgb(o) = c._1.toByte; rgb(o + 1) = c._2.toByte; rgb(o + 2) = c._3.toByte
          }
          x += 1
        }
      }
    }

    def deviceRing(sub: Sub): IndexedSeq[(Double, Double)] =
      sub.pts.map { case (ux, uy) => (ux * s, hD - uy * s) }.toIndexedSeq

    def strokeSubs(subs: Seq[Sub], lwDev: Double, c: (Int, Int, Int),
                   dashDev: IndexedSeq[Double], phaseDev: Double): Unit = {
      require(lwDev > 0, s"page $pageNum: non-positive stroke width $lwDev")
      val hw = lwDev / 2.0
      // the dash walker takes one step (and one scanFill per ON span) per
      // pattern element along the path: bound that count by the page's
      // pixel count before walking, so a tiny dash on a long path rejects
      // instead of stalling the task (cost is linear in path length)
      if (dashDev.nonEmpty) {
        val cycle = if (dashDev.length % 2 == 0) dashDev.sum else dashDev.sum * 2.0
        val perCycle = if (dashDev.length % 2 == 0) dashDev.length else dashDev.length * 2
        val pathLen = subs.iterator.map { sub =>
          val ring = deviceRing(sub)
          val segs = if (sub.closed) ring.length else ring.length - 1
          (0 until math.max(segs, 0)).iterator.map { i =>
            val (x0, y0) = ring(i)
            val (x1, y1) = ring((i + 1) % ring.length)
            math.hypot(x1 - x0, y1 - y0)
          }.sum
        }.sum
        val steps = pathLen / cycle * perCycle
        require(steps <= w.toDouble * h,
          s"page $pageNum: dash pattern [${dashDev.mkString(" ")}] needs ~${steps.toLong} " +
            s"steps along a ${pathLen.toLong}-unit path, over the page's ${w.toLong * h}-pixel budget")
      }
      subs.foreach { sub =>
        val ring = deviceRing(sub)
        val n = ring.length
        if (n >= 2) {
          // dash walker state — continues ACROSS segments within a subpath
          // (PDF §8.4.3.6), resets at each subpath start. Init resolves the
          // phase into (element index, remaining length); `d` validated the
          // array nonnegative with a positive sum, so this terminates.
          var dIdx = 0; var dOn = true; var dRem = 0.0
          if (dashDev.nonEmpty) {
            // the on/off CYCLE is one pass of an even-length array but TWO
            // passes of an odd-length one ([4] means on4/off4, period 8):
            // reducing the phase mod the plain sum would lose the parity
            // flip and invert every dash and gap
            val totalD = dashDev.sum
            val cycle = if (dashDev.length % 2 == 0) totalD else totalD * 2.0
            var pos = phaseDev % cycle
            while (pos >= dashDev(dIdx)) {
              pos -= dashDev(dIdx)
              dIdx = (dIdx + 1) % dashDev.length
              dOn = !dOn
            }
            dRem = dashDev(dIdx) - pos
          }
          val segs = if (sub.closed) n else n - 1
          var i = 0
          while (i < segs) {
            val (x0, y0) = ring(i)
            val (x1, y1) = ring((i + 1) % n)
            if (x0 != x1 || y0 != y1) {
              val dx = x1 - x0; val dy = y1 - y0
              val len = math.sqrt(dx * dx + dy * dy)
              val nx = -dy / len * hw; val ny = dx / len * hw
              if (dashDev.isEmpty) {
                // solid: per-segment butt-capped quad; overlap at shared
                // vertices is idempotent (same color) — no joins needed
                scanFill(Seq(IndexedSeq(
                  (x0 + nx, y0 + ny), (x1 + nx, y1 + ny),
                  (x1 - nx, y1 - ny), (x0 - nx, y0 - ny))), evenOdd = false, c)
              } else {
                // dashed: walk the cyclic on/off pattern along the segment,
                // one butt-capped quad per ON span — formulas in the exact
                // Python-twin order
                var t = 0.0
                while (t < len) {
                  val step = if (dRem < len - t) dRem else len - t
                  if (dOn && step > 0.0) {
                    val s0 = t / len; val s1 = (t + step) / len
                    val ax = x0 + s0 * dx; val ay = y0 + s0 * dy
                    val bx = x0 + s1 * dx; val by = y0 + s1 * dy
                    scanFill(Seq(IndexedSeq(
                      (ax + nx, ay + ny), (bx + nx, by + ny),
                      (bx - nx, by - ny), (ax - nx, ay - ny))), evenOdd = false, c)
                  }
                  t += step
                  dRem -= step
                  if (dRem <= 0.0) {
                    dIdx = (dIdx + 1) % dashDev.length
                    dOn = !dOn
                    dRem = dashDev(dIdx)
                  }
                }
              }
            }
            i += 1
          }
        }
      }
    }

    // nearest-neighbor blit of a decoded image XObject under the current
    // axis-preserving CTM: the unit square maps to a device-aligned box
    // (whole-pixel bounds under the same rint rule as rects); device→source
    // index mapping transposes for quarter turns (anti-diagonal CTM) and
    // flips along each axis by the sign of the active coefficient. For the
    // positive-diagonal case this reduces formula-for-formula to the
    // axis-aligned blit, so existing goldens are unchanged.
    // inverse-mapped nearest-neighbor blit for a ROTATED/SKEWED placement
    // (anything outside the axis-preserving family, which keeps the
    // digest-stable forward blit in [[blitImage]]): each device pixel
    // center in the ceil/floor bbox of the 4 transformed unit-square
    // corners maps back through the inverse CTM; centers inside the
    // half-open [0,1)² unit square sample texel (⌊u·iw⌋, ⌊(1−v)·ih⌋)
    // (min-clamped), the rest are untouched — so the rotated footprint is
    // exact to the pixel-center rule, same as scanline fills.
    def blitImageGeneral(img: ImageDecode.Decoded): Unit = {
      val det = st.ma * st.md - st.mb * st.mc // cm rejected singular: det ≠ 0
      val xs = Array(st.tx, st.ma + st.tx, st.mc + st.tx, st.ma + st.mc + st.tx)
      val ys = Array(st.ty, st.mb + st.ty, st.md + st.ty, st.mb + st.md + st.ty)
      var dx0 = Double.MaxValue; var dx1 = -Double.MaxValue
      var dy0 = Double.MaxValue; var dy1 = -Double.MaxValue
      var i = 0
      while (i < 4) {
        val dX = xs(i) * s; val dY = hD - ys(i) * s
        if (dX < dx0) dx0 = dX
        if (dX > dx1) dx1 = dX
        if (dY < dy0) dy0 = dY
        if (dY > dy1) dy1 = dY
        i += 1
      }
      val bx0 = math.max(st.clip._1, math.floor(dx0).toInt)
      val bx1 = math.min(st.clip._3, math.ceil(dx1).toInt)
      val by0 = math.max(st.clip._2, math.floor(dy0).toInt)
      val by1 = math.min(st.clip._4, math.ceil(dy1).toInt)
      val mk = st.clipMask.orNull
      var y = by0
      while (y < by1) {
        val uy = (hD - (y + 0.5)) / s // device row center → user y
        var x = bx0
        while (x < bx1) {
          if (mk == null || maskOk(mk, x, y)) {
            val ux = (x + 0.5) / s
            val rx = ux - st.tx; val ry = uy - st.ty
            val u = (rx * st.md - ry * st.mc) / det
            val v = (ry * st.ma - rx * st.mb) / det
            if (u >= 0.0 && u < 1.0 && v >= 0.0 && v < 1.0) {
              val scol = math.min(img.width - 1, (u * img.width).toInt)
              val srow = math.min(img.height - 1, ((1.0 - v) * img.height).toInt)
              val so = (srow * img.width + scol) * 3
              val o = (y * w + x) * 3
              rgb(o) = img.rgb(so); rgb(o + 1) = img.rgb(so + 1); rgb(o + 2) = img.rgb(so + 2)
            }
          }
          x += 1
        }
        y += 1
      }
    }

    def blitImage(img: ImageDecode.Decoded): Unit = {
      if (!((st.mb == 0.0 && st.mc == 0.0) || (st.ma == 0.0 && st.md == 0.0))) {
        blitImageGeneral(img); return
      }
      val diag = st.mb == 0.0 && st.mc == 0.0
      // unit-square extent: exactly one of (ma, mc) is nonzero, and one of
      // (mb, md) — the sums below are the single active coefficient
      val xlo = st.tx + math.min(0.0, st.ma + st.mc)
      val xhi = st.tx + math.max(0.0, st.ma + st.mc)
      val ylo = st.ty + math.min(0.0, st.mb + st.md)
      val yhi = st.ty + math.max(0.0, st.mb + st.md)
      val bx0 = px(xlo); val bx1 = px(xhi)
      val by0 = h - px(yhi); val by1 = h - px(ylo)
      require(bx1 > bx0 && by1 > by0,
        s"page $pageNum: degenerate image box ${bx1 - bx0}x${by1 - by0}")
      val boxW = (bx1 - bx0).toDouble; val boxH = (by1 - by0).toDouble
      // sample counts along the DEVICE axes (transposed for quarter turns)
      val kx = if (diag) img.width else img.height
      val ky = if (diag) img.height else img.width
      val mk = st.clipMask.orNull
      var y = math.max(st.clip._2, by0)
      val yEnd = math.min(st.clip._4, by1); val xEnd = math.min(st.clip._3, bx1)
      while (y < yEnd) {
        val iy = math.min(ky - 1, ((y - by0 + 0.5) * ky / boxH).toInt)
        var x = math.max(st.clip._1, bx0)
        while (x < xEnd) {
          if (mk == null || maskOk(mk, x, y)) {
            val ix = math.min(kx - 1, ((x - bx0 + 0.5) * kx / boxW).toInt)
            // orientation: device x runs along image u (diagonal) or v
            // (anti-diagonal); a negative coefficient reverses that axis.
            // Derivations: device y grows DOWN while user y grows up, and
            // image row 0 is the TOP of the unit square (v = 1).
            val scol =
              if (diag) { if (st.ma > 0) ix else img.width - 1 - ix }
              else { if (st.mb > 0) img.width - 1 - iy else iy }
            val srow =
              if (diag) { if (st.md > 0) iy else img.height - 1 - iy }
              else { if (st.mc > 0) img.height - 1 - ix else ix }
            val so = (srow * img.width + scol) * 3
            val o = (y * w + x) * 3
            rgb(o) = img.rgb(so); rgb(o + 1) = img.rgb(so + 1); rgb(o + 2) = img.rgb(so + 2)
          }
          x += 1
        }
        y += 1
      }
    }

    // axial-shading painter: every clip-passing pixel projects its USER-
    // space center onto the gradient axis — t' = ((p−p0)·(p1−p0))/|p1−p0|²;
    // outside [0,1] the pixel is painted only where /Extend allows (clamped
    // t), otherwise left untouched; the pixel color is
    // rint(255·(c0 + t^N·(c1−c0))) per component with t^N by repeated
    // multiplication (exact in IEEE-754, so the Python twin agrees
    // bit-for-bit — the reason /N is restricted to integers).
    def shadePixel(sh: Shad, x: Int, y: Int, t: Double): Unit = {
      var tn = 1.0
      var i = 0
      while (i < sh.n) { tn *= t; i += 1 }
      val o = (y * w + x) * 3
      rgb(o) = math.rint((sh.c0._1 + tn * (sh.c1._1 - sh.c0._1)) * 255).toInt.toByte
      rgb(o + 1) = math.rint((sh.c0._2 + tn * (sh.c1._2 - sh.c0._2)) * 255).toInt.toByte
      rgb(o + 2) = math.rint((sh.c0._3 + tn * (sh.c1._3 - sh.c0._3)) * 255).toInt.toByte
    }

    def paintAxial(a: Axial): Unit = {
      val mk = st.clipMask.orNull
      val dx = a.x1 - a.x0; val dy = a.y1 - a.y0
      val len2 = dx * dx + dy * dy // parse validated > 0
      var y = st.clip._2
      while (y < st.clip._4) {
        val uy = (hD - (y + 0.5)) / s - st.ty
        var x = st.clip._1
        while (x < st.clip._3) {
          if (mk == null || maskOk(mk, x, y)) {
            val ux = (x + 0.5) / s - st.tx
            val tRaw = ((ux - a.x0) * dx + (uy - a.y0) * dy) / len2
            if ((tRaw >= 0.0 || a.e0) && (tRaw <= 1.0 || a.e1)) {
              val t = if (tRaw < 0.0) 0.0 else if (tRaw > 1.0) 1.0 else tRaw
              shadePixel(a, x, y, t)
            }
          }
          x += 1
        }
        y += 1
      }
    }

    // radial painter (PDF §8.7.4.5.4): the circle family c(v) = c0+v·dc,
    // r(v) = r0+v·dr; a pixel p takes the LARGEST v whose circle passes
    // through it with r(v) ≥ 0 — |p−c(v)|² = r(v)² is the quadratic
    // v²·(|dc|²−dr²) − 2v·(pc·dc + r0·dr) + (|pc|²−r0²) = 0, roots
    // (b ± √(b²−ac))/a tried in DESCENDING v order (linear fallback when
    // a = 0; pixel untouched when no admissible root). v outside [0,1]
    // paints only where /Extend allows, clamped. Every formula below is
    // in the identical order in the Python twin; sqrt is correctly
    // rounded in IEEE-754, so the twins agree bit-for-bit.
    def paintRadial(rd: Radial): Unit = {
      val mk = st.clipMask.orNull
      val dcx = rd.x1 - rd.x0; val dcy = rd.y1 - rd.y0
      val dr = rd.r1 - rd.r0
      val qa = dcx * dcx + dcy * dcy - dr * dr
      var y = st.clip._2
      while (y < st.clip._4) {
        val uy = (hD - (y + 0.5)) / s - st.ty
        var x = st.clip._1
        while (x < st.clip._3) {
          if (mk == null || maskOk(mk, x, y)) {
            val ux = (x + 0.5) / s - st.tx
            val pcx = ux - rd.x0; val pcy = uy - rd.y0
            val qb = pcx * dcx + pcy * dcy + rd.r0 * dr
            val qc = pcx * pcx + pcy * pcy - rd.r0 * rd.r0
            var v0 = Double.NaN; var v1 = Double.NaN // descending candidates
            if (qa != 0.0) {
              val disc = qb * qb - qa * qc
              if (disc >= 0.0) {
                val sd = math.sqrt(disc)
                val ra = (qb + sd) / qa; val rb = (qb - sd) / qa
                if (ra >= rb) { v0 = ra; v1 = rb } else { v0 = rb; v1 = ra }
              }
            } else if (qb != 0.0) {
              v0 = qc / (2.0 * qb)
            }
            var painted = false
            var k = 0
            while (!painted && k < 2) {
              val v = if (k == 0) v0 else v1
              if (!v.isNaN && rd.r0 + v * dr >= 0.0 &&
                (v >= 0.0 || rd.e0) && (v <= 1.0 || rd.e1)) {
                val t = if (v < 0.0) 0.0 else if (v > 1.0) 1.0 else v
                shadePixel(rd, x, y, t)
                painted = true
              }
              k += 1
            }
          }
          x += 1
        }
        y += 1
      }
    }

    def paintShading(sh: Shad): Unit = sh match {
      case a: Axial => paintAxial(a)
      case r: Radial => paintRadial(r)
    }

    // ---- content-stream executor -----------------------------------------
    // One call per stream: the PAGE content, and recursively each form
    // XObject's content (its own parsing/text/path state, the SHARED
    // graphics state + canvas — the form's implicit q/Q wraps the call).
    // Recursion depth is bounded at BUILD time: a form can only Do forms
    // from its own xobjects map, whose construction rejected cycles and
    // chains deeper than 8 (buildForm's refPath) — no runtime cap needed.
    def exec(toks: Vector[PdfText.Tok], fonts: Map[String, PdfText.CMapFont],
             xobjects: Map[String, XObj], gstates: Map[String, (Option[Double], Boolean)],
             shadings: Map[String, Shad]): Unit = {
      val stack = mutable.Stack.empty[GState]
      val rects = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      val subs = mutable.ArrayBuffer.empty[Sub]

      def unitScale: Boolean =
        st.ma == 1.0 && st.mb == 0.0 && st.mc == 0.0 && st.md == 1.0

      /** Full-CTM point map (user → translated-user space; [[deviceRing]]
        * then applies the dpi scale and y-flip). Path GEOMETRY is exact
        * under any affine: flattening a Bézier from transformed control
        * points equals transforming the flattened points (affine commutes
        * with convex combinations), and the scanline winding rules are
        * orientation-insensitive (a mirroring flips every crossing sign
        * uniformly, leaving both the nonzero and even-odd tests unchanged).
        */
      def tp(x: Double, y: Double): (Double, Double) =
        (st.ma * x + st.mc * y + st.tx, st.mb * x + st.md * y + st.ty)

      def curSub: Sub = {
        require(subs.nonEmpty && !subs.last.closed,
          s"page $pageNum: path op without a current point (m starts a subpath)")
        subs.last
      }
      def appendCubic(sub: Sub, x1: Double, y1: Double, x2: Double, y2: Double,
                      x3: Double, y3: Double): Unit = {
        val (x0, y0) = sub.pts.last
        var i = 1
        while (i <= BezierChords) {
          val t = i / BezierChords.toDouble
          val mt = 1.0 - t
          sub.pts += ((mt * mt * mt * x0 + 3.0 * mt * mt * t * x1 + 3.0 * mt * t * t * x2 + t * t * t * x3,
            mt * mt * mt * y0 + 3.0 * mt * mt * t * y1 + 3.0 * mt * t * t * y2 + t * t * t * y3))
          i += 1
        }
      }
      def rectSub(r: (Double, Double, Double, Double)): Sub = r match {
        case (x, y, rw, rh) => new Sub(mutable.ArrayBuffer(
          (x, y), (x + rw, y), (x + rw, y + rh), (x, y + rh)), closed = true)
      }
      def clearPath(): Unit = { rects.clear(); subs.clear() }
      def strokeAll(): Unit = {
        // the spec transforms the PEN by the CTM at stroke time. Under a
        // SIMILARITY — uniform scale ± rotation, mirrored or not; exactly
        // the matrices with a·c + b·d = 0 and a² + b² = c² + d² — a round
        // pen stays round with radius scaled by √(a²+b²), so the
        // quad-stroker is exact: the path points are already
        // CTM-transformed and the device width and dash lengths/phase
        // scale by that same factor (rotation values written as decimal
        // text parse to identical doubles in both twins, so the equality
        // gates hold bit-exactly). A shear or non-uniform scale turns the
        // pen elliptical — no model here, reject loudly.
        require(st.ma * st.mc + st.mb * st.md == 0.0 &&
          st.ma * st.ma + st.mb * st.mb == st.mc * st.mc + st.md * st.md,
          s"page $pageNum: stroke under a non-similarity cm matrix " +
            s"(a=${st.ma} b=${st.mb} c=${st.mc} d=${st.md}) is unsupported — " +
            "the pen would be elliptical")
        // k2 precomputed as (k · s) FIRST: the Python twin multiplies
        // line_w * (stroke_scale() * s), and double multiplication is not
        // associative — (lw·k)·s diverges by 1 ulp at non-power-of-two dpi,
        // enough to flip a ceil(x−0.5) span boundary
        val k2 = math.sqrt(st.ma * st.ma + st.mb * st.mb) * s
        strokeSubs(rects.map(rectSub).toSeq ++ subs.toSeq, st.lineWidth * k2, st.stroke,
          st.dash._1.map(_ * k2), st.dash._2 * k2)
      }
      /** Intersect the live clip with `rings` as a per-pixel bit mask (the
        * `W`/`W*` machinery, shared with the form-BBox clip under a
        * non-unit CTM): bits set only where the PREVIOUS mask admits the
        * pixel, spans clamped to the clip box inside scanSpans, clip box
        * tightened to the set-bit bounding box (empty → painters no-op).
        */
      def applyClipMask(rings: Seq[IndexedSeq[(Double, Double)]],
                        evenOdd: Boolean): Unit = {
        val bits = new Array[Long]((w * h + 63) >>> 6)
        val prev = st.clipMask.orNull
        var nx0 = w; var ny0 = h; var nx1 = 0; var ny1 = 0
        scanSpans(rings, evenOdd) { (row, xa, xb) =>
          var x = xa
          while (x < xb) {
            if (prev == null || maskOk(prev, x, row)) {
              val idx = row * w + x
              bits(idx >>> 6) |= 1L << (idx & 63)
              if (x < nx0) nx0 = x
              if (x + 1 > nx1) nx1 = x + 1
              if (row < ny0) ny0 = row
              if (row + 1 > ny1) ny1 = row + 1
            }
            x += 1
          }
        }
        st =
          if (nx1 <= nx0) st.copy(clip = (0, 0, 0, 0), clipMask = Some(bits))
          else st.copy(clip = (nx0, ny0, nx1, ny1), clipMask = Some(bits))
      }

      var inText = false
      var pendingClip = false
      var pendingClipEO = false
      var lineX = 0.0; var lineY = 0.0
      var penPx = 0 // pixel-space pen offset within the current line position
      var penIsc = 0 // glyph scale penPx was accumulated at (0 = no run yet)
      val operands = mutable.ArrayBuffer.empty[Tok]
      var arr: mutable.ArrayBuffer[Tok] = null
      var arrDone: Vector[Tok] = null

      def num(t: Tok): Double = t match {
        case TNum(v) => v
        case other => throw new IllegalArgumentException(s"expected number, got $other")
      }
      def colorByte(v: Double): Int = {
        require(v >= 0.0 && v <= 1.0, s"color component $v outside [0,1]")
        math.rint(v * 255).toInt
      }
      def decodeShow(raw: String): String = st.font match {
        case Some(cm) => cm.decode(raw)
        case None if raw.length >= 2 && raw.charAt(0) == 0xFE.toChar && raw.charAt(1) == 0xFF.toChar =>
          PdfText.decodeBomUtf16(raw)
        case None => raw
      }
      // text accepts the POSITIVE-UNIFORM-DIAGONAL CTM family (a = d > 0,
      // b = c = 0 — the scaled-letterhead/stamp class): the scale folds
      // into the effective font size (glyph bitmaps scale by integer
      // replication) and the pen origin maps through tp. Rotation/shear/
      // mirror would need resampled glyph rasters — no model, loud.
      def textScale: Double = {
        require(st.mb == 0.0 && st.mc == 0.0 && st.ma == st.md && st.ma > 0.0,
          s"page $pageNum: text under a non-uniform-diagonal cm matrix " +
            s"(a=${st.ma} b=${st.mb} c=${st.mc} d=${st.md}) is unsupported — " +
            "glyph bitmaps scale but do not rotate, shear or mirror")
        st.ma
      }
      def iscale: Int = {
        require(st.fontSize > 0, "show before Tf set a font size")
        math.max(1, math.rint(st.fontSize * textScale * s / GlyphFont.GlyphH).toInt)
      }
      def show(text: String): Unit = {
        require(inText, "text-show operator outside BT/ET")
        if (text.nonEmpty) {
          val isc = iscale // also enforces the diagonal-CTM text gate
          // a glyph-scale change MID-RUN (Tf or a cm scale between shows
          // that share an accumulated pen) has no placement model — the
          // pixel pen offset was accumulated at the old cell size; PDF
          // transforms the text-space pen per show, which this subset does
          // not track. Reject loudly, never misplace.
          require(penPx == 0 || penIsc == isc,
            s"page $pageNum: glyph scale changed mid-run ($penIsc → $isc) " +
              "between shows sharing a pen position — outside the raster subset")
          penIsc = isc
          if (st.textRender == 3) {
            // invisible (the OCR text layer of a scanned page): no pixels, no
            // glyph-coverage requirement — arbitrary recognizer output rides
            // along; the pen still advances one cell per CODE POINT (the twin
            // counts code points; UTF-16 length double-counts astral chars)
            penPx += text.codePointCount(0, text.length) * cellW(isc)
          } else {
            val (dx, dy) = tp(lineX, lineY)
            val topPx = h - px(dy) - GlyphFont.GlyphH * isc
            penPx += drawCells(text, px(dx) + penPx, topPx, isc, st.fill)
          }
        }
      }
      def nextLine(): Unit = { lineY -= st.leading; penPx = 0 }

      toks.foreach {
        case TArrOpen =>
          require(arr == null, "nested array in content stream")
          // LOUD contract: a second array before the first is consumed (TJ/d)
          // would silently drop the first's text — reject, never approximate
          require(arrDone == null, "unconsumed content-stream array before '['")
          arr = mutable.ArrayBuffer.empty[Tok]
        case TArrClose =>
          require(arr != null, "unbalanced ]")
          operands += TArrOpen
          arrDone = arr.toVector
          arr = null
        case t if arr != null => arr += t
        case TOp(op) =>
          // PDF allows only a path-painting op after W; the subset requires
          // the no-paint `n` specifically (clip without painting — the idiom
          // every generator emits)
          require(!pendingClip || op == "n",
            s"page $pageNum: W followed by '$op' is outside the raster subset (only W n)")
          // a corrupt stream can hand any operator an empty/short operand
          // stack; the per-op arity requires catch most shapes, this converts
          // the rest (`operands.last` on empty) to the typed loud error
          try op match {
            case "q" => stack.push(st)
            case "Q" =>
              require(stack.nonEmpty, "Q with empty graphics-state stack")
              st = stack.pop()
            case "cm" =>
              require(operands.length >= 6, "cm needs 6 operands")
              val Seq(a, b, c, d, e, f) = operands.takeRight(6).map(num).toSeq
              // any INVERTIBLE matrix composes; each painter decides what it
              // can render under the cumulative CTM (fills/clips: any affine
              // via tp; strokes: the similarity family — strokeAll; text:
              // positive uniform diagonal — textScale; sh: identity only;
              // image blits keep the digest-stable forward blit for the
              // axis-preserving family and inverse-map everything else). A
              // singular matrix has no inverse and therefore no pixel
              // model: loud.
              require(a * d - b * c != 0.0,
                s"page $pageNum: singular cm (a=$a b=$b c=$c d=$d) has no pixel model")
              // premultiplied row-vector composition: CTM' = cm × CTM
              st = st.copy(
                ma = a * st.ma + b * st.mc, mb = a * st.mb + b * st.md,
                mc = c * st.ma + d * st.mc, md = c * st.mb + d * st.md,
                tx = e * st.ma + f * st.mc + st.tx,
                ty = e * st.mb + f * st.md + st.ty)
            case "rg" =>
              require(operands.length >= 3, "rg needs 3 operands")
              val Seq(r, g, b) = operands.takeRight(3).map(num).toSeq
              st = st.copy(fill = (colorByte(r), colorByte(g), colorByte(b)))
            case "g" =>
              val v = colorByte(num(operands.last))
              st = st.copy(fill = (v, v, v))
            case "RG" =>
              require(operands.length >= 3, "RG needs 3 operands")
              val Seq(r, g, b) = operands.takeRight(3).map(num).toSeq
              st = st.copy(stroke = (colorByte(r), colorByte(g), colorByte(b)))
            case "G" =>
              val v = colorByte(num(operands.last))
              st = st.copy(stroke = (v, v, v))
            case "k" | "K" =>
              // DeviceCMYK via the PDF-specified additive conversion
              // (§8.6.4.4: R = 1 − min(1, C + K), likewise G/B with M/Y)
              // — pure min/+/− arithmetic, so twin-bit-exact with no
              // profile math; components validated like rg/RG
              require(operands.length >= 4, s"$op needs 4 operands")
              val Seq(cc, mm, yy, kk) = operands.takeRight(4).map(num).toSeq
              Seq(cc, mm, yy, kk).foreach(v0 => require(v0 >= 0.0 && v0 <= 1.0,
                s"color component $v0 outside [0,1]"))
              val rgbv = (colorByte(1.0 - math.min(1.0, cc + kk)),
                colorByte(1.0 - math.min(1.0, mm + kk)),
                colorByte(1.0 - math.min(1.0, yy + kk)))
              st = if (op == "k") st.copy(fill = rgbv) else st.copy(stroke = rgbv)
            case "w" =>
              // `0 w` is a legal hairline per spec; a fill-only page that sets
              // it must still render. The subset has no hairline model, so the
              // width is validated where it matters — at stroke time
              st = st.copy(lineWidth = num(operands.last))
            case "d" =>
              require(arrDone != null, s"page $pageNum: d without a dash array")
              val dashArr = arrDone.map {
                case TNum(v) => v
                case other => throw new IllegalArgumentException(
                  s"page $pageNum: dash array element $other")
              }
              arrDone = null
              val phase = num(operands.last)
              // spec: elements nonnegative, not all zero; phase nonnegative.
              // Nonzero elements must additionally clear a sane epsilon
              // (round-6 ADVICE fix): a denormal like 1e-300 passes the
              // nonnegative checks but makes no floating-point progress in
              // the phase/segment walkers (pos -= 1e-300 leaves pos
              // unchanged) — an infinite loop in an executor task instead
              // of this module's loud reject.
              require(dashArr.forall(_ >= 0.0),
                s"page $pageNum: negative dash element in [${dashArr.mkString(" ")}]")
              require(dashArr.forall(v => v == 0.0 || v >= 1e-6),
                s"page $pageNum: sub-epsilon dash element in [${dashArr.mkString(" ")}]")
              require(dashArr.isEmpty || dashArr.sum > 0.0,
                s"page $pageNum: all-zero dash array")
              require(phase >= 0.0, s"page $pageNum: negative dash phase $phase")
              st = st.copy(dash = (dashArr, phase))
            case "gs" =>
              val nm = operands.last match {
                case TName(n) => n
                case other => throw new IllegalArgumentException(s"gs on $other")
              }
              // pre-validated: only benign keys + an optional /LW (applies
              // exactly like inline `w`) and an optional solid /D (applies
              // exactly like `[] 0 d`, RESETTING an active inline dash) —
              // both q/Q-scoped via st
              val (lw, solidD) = gstates.getOrElse(nm, throw new IllegalArgumentException(
                s"page $pageNum: gs of unknown ExtGState /$nm"))
              lw.foreach(v => st = st.copy(lineWidth = v))
              if (solidD) st = st.copy(dash = (Vector.empty, 0.0))
            case "re" =>
              require(operands.length >= 4, "re needs 4 operands")
              val Seq(x, y, rw, rh) = operands.takeRight(4).map(num).toSeq
              require(rw > 0 && rh > 0, s"page $pageNum: non-positive re ${rw}x$rh")
              if (unitScale) rects += ((x + st.tx, y + st.ty, rw, rh))
              else
                // under a non-unit CTM the rectangle is a parallelogram: it
                // joins the polygon subpaths (same winding rules); the
                // rint-box fast paths stay reserved for the unit-scale idioms
                subs += new Sub(mutable.ArrayBuffer(
                  tp(x, y), tp(x + rw, y), tp(x + rw, y + rh), tp(x, y + rh)),
                  closed = true)
            case "m" =>
              require(operands.length >= 2, "m needs 2 operands")
              subs += new Sub(mutable.ArrayBuffer(
                tp(num(operands(operands.length - 2)), num(operands.last))),
                closed = false)
            case "l" =>
              require(operands.length >= 2, "l needs 2 operands")
              curSub.pts += tp(num(operands(operands.length - 2)), num(operands.last))
            case "c" =>
              require(operands.length >= 6, "c needs 6 operands")
              val Seq(x1, y1, x2, y2, x3, y3) = operands.takeRight(6).map(num).toSeq
              val (tx1, ty1) = tp(x1, y1); val (tx2, ty2) = tp(x2, y2)
              val (tx3, ty3) = tp(x3, y3)
              appendCubic(curSub, tx1, ty1, tx2, ty2, tx3, ty3)
            case "v" =>
              require(operands.length >= 4, "v needs 4 operands")
              val Seq(x2, y2, x3, y3) = operands.takeRight(4).map(num).toSeq
              val (x0, y0) = curSub.pts.last
              val (tx2, ty2) = tp(x2, y2); val (tx3, ty3) = tp(x3, y3)
              appendCubic(curSub, x0, y0, tx2, ty2, tx3, ty3)
            case "y" =>
              require(operands.length >= 4, "y needs 4 operands")
              val Seq(x1, y1, x3, y3) = operands.takeRight(4).map(num).toSeq
              val (tx1, ty1) = tp(x1, y1); val (tx3, ty3) = tp(x3, y3)
              appendCubic(curSub, tx1, ty1, tx3, ty3, tx3, ty3)
            case "h" =>
              require(subs.nonEmpty, s"page $pageNum: h without a subpath")
              subs.last.closed = true
            case "f" | "F" =>
              // rect-only paths keep the rint box rule; once polygon subpaths
              // are present the rects must join the SAME nonzero winding sum
              // (an opposite-wound rect inside a polygon is a hole, not a
              // separately-painted box), so they convert to rings like f*
              if (subs.isEmpty)
                rects.foreach { case (x, y, rw, rh) => fillRect(x, y, rw, rh, st.fill) }
              else
                scanFill((rects.map(rectSub) ++ subs).map(deviceRing).toSeq,
                  evenOdd = false, st.fill)
              clearPath()
            case "f*" =>
              // even-odd parity across ALL subpaths — rects convert to rings
              // so the parity interplay with polygon subpaths is real
              scanFill((rects.map(rectSub) ++ subs).map(deviceRing).toSeq,
                evenOdd = true, st.fill)
              clearPath()
            case "S" =>
              strokeAll()
              clearPath()
            case "s" =>
              require(subs.nonEmpty, s"page $pageNum: s without a subpath")
              subs.last.closed = true
              strokeAll()
              clearPath()
            case "B" | "B*" | "b" | "b*" =>
              // fill-then-stroke family: B nonzero, B* even-odd; the b
              // variants close the current subpath first (spec: b ≡ h B)
              if (op == "b" || op == "b*") {
                // a rect-only path is legal for b — `re` defines a complete
                // closed subpath, so the implicit h has nothing to do
                require(rects.nonEmpty || subs.nonEmpty,
                  s"page $pageNum: $op without a current path")
                if (subs.nonEmpty) subs.last.closed = true
              }
              val eo = op == "B*" || op == "b*"
              if (subs.isEmpty && !eo)
                rects.foreach { case (x, y, rw, rh) => fillRect(x, y, rw, rh, st.fill) }
              else
                scanFill((rects.map(rectSub) ++ subs).map(deviceRing).toSeq,
                  evenOdd = eo, st.fill)
              strokeAll()
              clearPath()
            case "W" | "W*" =>
              require(rects.nonEmpty || subs.nonEmpty,
                s"page $pageNum: $op with no current path to clip by")
              pendingClip = true
              pendingClipEO = op == "W*"
            case "n" =>
              if (pendingClip) {
                if (!pendingClipEO && subs.isEmpty && rects.length == 1) {
                  // the digest-stable single-rect `re W n` idiom: integer box
                  // intersection under the same device rule as rect fills;
                  // may be empty — painters then no-op
                  val (x, y, rw, rh) = rects.head
                  st = st.copy(clip = (
                    math.max(st.clip._1, px(x)), math.max(st.clip._2, h - px(y + rh)),
                    math.min(st.clip._3, px(x + rw)), math.min(st.clip._4, h - px(y))))
                } else {
                  // GENERAL clip path (polygon/curve/multi-rect, or even-odd
                  // via W*): rasterize the region into a per-pixel bit mask
                  // under the SAME scanline rules as fills — spans are already
                  // clamped to the clip box by scanSpans, and each pixel must
                  // pass the mask in force, so nested clips intersect. The
                  // clip box tightens to the set-bit bounding box (an
                  // off-canvas region leaves an empty box: painters no-op).
                  applyClipMask((rects.map(rectSub) ++ subs).map(deviceRing).toSeq,
                    pendingClipEO)
                }
                pendingClip = false
              }
              clearPath()
            case "Do" =>
              operands.lastOption match {
                case Some(TName(nm)) =>
                  xobjects.getOrElse(nm, throw new IllegalArgumentException(
                    s"page $pageNum: Do of unknown XObject /$nm")) match {
                    case ImageX(img) => blitImage(img)
                    case f: FormX =>
                      // a FORM executes its own content stream under an
                      // implicit q/Q, its /Matrix composed onto the CTM and
                      // its /BBox clipped like `re W n`. ANY invertible
                      // composed CTM is accepted here — each inner painter
                      // enforces its own gate (fills/clips: any affine;
                      // strokes: similarity; text: positive uniform
                      // diagonal; sh: identity), so a rotated vector stamp
                      // or a scaled text letterhead renders while a sheared
                      // text form still throws from the text gate.
                      require(!inText, s"page $pageNum: form XObject /$nm Do inside BT/ET")
                      val saved = st
                      val a = f.matrix(0); val b = f.matrix(1); val c = f.matrix(2)
                      val d = f.matrix(3); val e = f.matrix(4); val f6 = f.matrix(5)
                      st = st.copy(
                        ma = a * st.ma + b * st.mc, mb = a * st.mb + b * st.md,
                        mc = c * st.ma + d * st.mc, md = c * st.mb + d * st.md,
                        tx = e * st.ma + f6 * st.mc + st.tx,
                        ty = e * st.mb + f6 * st.md + st.ty)
                      require(st.ma * st.md - st.mb * st.mc != 0.0,
                        s"page $pageNum: form /$nm composes to a singular CTM " +
                          s"(a=${st.ma} b=${st.mb} c=${st.mc} d=${st.md})")
                      val (fx0, fy0, fx1, fy1) = f.bbox
                      if (unitScale)
                        // translation placement keeps the exact rint-box
                        // intersection (digest-stable for every pre-existing
                        // fixture)
                        st = st.copy(clip = (
                          math.max(st.clip._1, px(fx0 + st.tx)),
                          math.max(st.clip._2, h - px(fy1 + st.ty)),
                          math.min(st.clip._3, px(fx1 + st.tx)),
                          math.min(st.clip._4, h - px(fy0 + st.ty))))
                      else
                        // a transformed /BBox is a parallelogram: clip by
                        // the same per-pixel mask machinery as W n
                        applyClipMask(Seq(deviceRing(new Sub(mutable.ArrayBuffer(
                          tp(fx0, fy0), tp(fx1, fy0), tp(fx1, fy1), tp(fx0, fy1)),
                          closed = true))), evenOdd = false)
                      exec(f.toks, f.fonts, f.xobjects, f.gstates, f.shadings)
                      st = saved // implicit Q
                  }
                case other => throw new IllegalArgumentException(s"Do on $other")
              }
            case "sh" =>
              // paints the axial gradient across the ENTIRE clip region in
              // force (box ∩ mask) — the PDF-native way to shade a shaped
              // area is a clip path followed by sh. Coords live in user
              // space, so a translation cm shifts them; scale/rotation has
              // no gradient-density model here and rejects loudly (the one
              // painter still gated to the identity 2×2).
              require(unitScale,
                s"page $pageNum: 'sh' under a non-identity cm matrix " +
                  s"(a=${st.ma} b=${st.mb} c=${st.mc} d=${st.md}) is unsupported — " +
                  "gradients have no density model under scale/rotation here")
              operands.lastOption match {
                case Some(TName(nm)) =>
                  val a = shadings.getOrElse(nm, throw new IllegalArgumentException(
                    s"page $pageNum: sh of unknown shading /$nm"))
                  paintShading(a)
                case other => throw new IllegalArgumentException(s"sh on $other")
              }
            case "Tr" =>
              val mode = num(operands.last).toInt
              require(mode == 0 || mode == 3,
                s"page $pageNum: text render mode $mode unsupported (0 fill / 3 invisible)")
              st = st.copy(textRender = mode)
            case "BT" => inText = true; lineX = 0.0; lineY = 0.0; penPx = 0
            case "ET" => inText = false
            case "Tf" =>
              require(operands.length >= 2, "Tf needs /Name size")
              val fname = operands(operands.length - 2) match {
                case TName(n) => n
                case other => throw new IllegalArgumentException(s"Tf on $other")
              }
              val size = num(operands.last)
              require(size > 0, s"page $pageNum: non-positive font size $size")
              st = st.copy(fontSize = size, font = fonts.get(fname))
            case "Td" =>
              require(operands.length >= 2, "Td needs 2 operands")
              lineX += num(operands(operands.length - 2)); lineY += num(operands.last)
              penPx = 0
            case "TD" =>
              require(operands.length >= 2, "TD needs 2 operands")
              val ty = num(operands.last)
              st = st.copy(leading = -ty)
              lineX += num(operands(operands.length - 2)); lineY += ty
              penPx = 0
            case "Tm" =>
              require(operands.length >= 6, "Tm needs 6 operands")
              val Seq(a, b, c, d, e, f) = operands.takeRight(6).map(num).toSeq
              require(b == 0.0 && c == 0.0 && a == 1.0 && d == 1.0,
                s"scaled/rotated/skewed text matrix unsupported (a=$a b=$b c=$c d=$d)")
              lineX = e; lineY = f
              penPx = 0
            case "T*" => nextLine()
            case "TL" => st = st.copy(leading = num(operands.last))
            case "Tj" =>
              operands.last match {
                case TStr(raw) => show(decodeShow(raw))
                case other => throw new IllegalArgumentException(s"Tj on $other")
              }
            case "'" =>
              nextLine()
              operands.last match {
                case TStr(raw) => show(decodeShow(raw))
                case other => throw new IllegalArgumentException(s"' on $other")
              }
            case "\"" =>
              require(operands.length >= 3, "\" needs aw ac string")
              nextLine()
              operands.last match {
                case TStr(raw) => show(decodeShow(raw))
                case other => throw new IllegalArgumentException(s"\" on $other")
              }
            case "TJ" =>
              require(operands.lastOption.contains(TArrOpen) && arrDone != null, "TJ without array")
              val sb = new StringBuilder
              arrDone.foreach {
                case TStr(seg) => sb ++= decodeShow(seg)
                case TNum(v) => if (v <= PdfText.KernSpaceThreshold) sb += ' '
                case other => throw new IllegalArgumentException(s"TJ array element $other")
              }
              arrDone = null
              show(sb.toString)
            case known if IgnoredOps(known) => // caps/joins/spacing: no raster effect
            case unknown =>
              // LOUD contract: clipping, shading, XObjects, inline images —
              // anything we cannot render bit-exactly is rejected, never
              // approximated
              throw new IllegalArgumentException(
                s"page $pageNum: content-stream operator '$unknown' is outside the raster subset")
          } catch {
            case _: NoSuchElementException | _: IndexOutOfBoundsException =>
              throw new IllegalArgumentException(
                s"page $pageNum: operator '$op' with a malformed operand stack")
          }
          operands.clear()
        case t => operands += t
      }
      require(arr == null, "unterminated [ array")
      require(rects.isEmpty && subs.isEmpty,
        s"page $pageNum: path constructed but never painted")
      // round-6 ADVICE fix: a stream that pushes `q` without a matching `Q`
      // was silently accepted, against the module's reject-loudly contract
      // (harmless pixel-wise — forms restore st explicitly — but malformed)
      require(stack.isEmpty, s"page $pageNum: q without matching Q")
    }

    exec(PdfText.tokenize(content), fonts, xobjects, gstates, shadings)
    ImageDecode.Decoded(w, h, rgb)
  }
}
