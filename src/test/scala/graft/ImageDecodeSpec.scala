package graft

import graft.ImageFixtures.{encodePng, exifSegment, spliceApp1}
import graft.media.ImageDecode
import org.scalatest.funsuite.AnyFunSuite

/** Real decode path: PNG pixels vs the independent Python fixture digests,
  * EXIF orientation parse (both TIFF byte orders) and all eight PIL
  * `exif_transpose` transforms, verified end-to-end on a real ImageIO JPEG
  * with a spliced APP1 segment.
  */
class ImageDecodeSpec extends AnyFunSuite {

  private val mediaDir = "src/test/resources/media"

  private def pngBytes(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$mediaDir/$name"))

  /** Same deterministic pattern as tools/gen_media_fixture.py. */
  private def pattern(w: Int, h: Int, seed: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var i = 0
    for (y <- 0 until h; x <- 0 until w) {
      out(i) = ((x * 7 + y * 13 + seed * 31) % 256).toByte
      out(i + 1) = ((x * 3 + y * 5 + seed * 17) % 256).toByte
      out(i + 2) = ((x * 11 + y * 2 + seed * 53) % 256).toByte
      i += 3
    }
    out
  }

  test("PNG decode matches the pure-Python encoder's raw pixels exactly") {
    val sizes = Seq((16, 9), (33, 17), (64, 64), (1, 1), (255, 3))
    sizes.zipWithIndex.foreach { case ((w, h), i) =>
      val d = ImageDecode.loadImage(pngBytes(f"img_$i%02d.png"))
      assert(d.width == w && d.height == h)
      assert(d.rgb.toSeq == pattern(w, h, i).toSeq, s"pixel mismatch for img_$i")
    }
  }

  test("EXIF orientation parses from APP1 in both byte orders; absent means 1") {
    for (o <- 1 to 8; le <- Seq(true, false)) {
      val seg = exifSegment(o, le)
      assert(ImageDecode.orientationFromExifPayload(seg) == o, s"o=$o le=$le")
    }
    assert(ImageDecode.exifOrientation(pngBytes("img_00.png")) == 1) // not a JPEG
    // hostile-EXIF regression pins: an IFD offset >= 2^31 truncates negative
    // through .toInt (pre-fix: seg(-10) -> ArrayIndexOutOfBounds), and an
    // APP1 with segment length < 2 handed copyOfRange a from > to
    val negIfd = "Exif  II".getBytes("ISO-8859-1") ++
      Array[Byte](0x2a, 0x00) ++ Array(0xf0, 0xff, 0xff, 0xff).map(_.toByte) ++
      new Array[Byte](8)
    assert(ImageDecode.orientationFromExifPayload(negIfd) == 0)
    val shortSeg = Array(0xff, 0xd8, 0xff, 0xe1, 0x00, 0x00).map(_.toByte) ++
      new Array[Byte](16)
    assert(ImageDecode.exifOrientation(shortSeg) == 1)
    assert(ImageDecode.orientationFromExifPayload("Exif\u0000\u0000XX".getBytes) == 0)
  }

  test("the eight transposes invert correctly (rotate/flip algebra)") {
    val d = ImageDecode.Decoded(3, 2, pattern(3, 2, 0))
    def px(img: ImageDecode.Decoded, x: Int, y: Int): Seq[Byte] = {
      val i = (y * img.width + x) * 3
      img.rgb.slice(i, i + 3).toSeq
    }
    // o=3 (180) twice = identity
    val r180 = ImageDecode.applyOrientation(ImageDecode.applyOrientation(d, 3), 3)
    assert(r180.rgb.toSeq == d.rgb.toSeq)
    // o=6 is 90 deg clockwise: top-left goes to top-right
    val cw = ImageDecode.applyOrientation(d, 6)
    assert(cw.width == 2 && cw.height == 3)
    assert(px(cw, cw.width - 1, 0) == px(d, 0, 0))
    // o=8 is 90 deg counterclockwise: top-left goes to bottom-left
    val ccw = ImageDecode.applyOrientation(d, 8)
    assert(px(ccw, 0, ccw.height - 1) == px(d, 0, 0))
    // o=2 flip-lr mirrors x
    val lr = ImageDecode.applyOrientation(d, 2)
    assert(px(lr, 0, 0) == px(d, d.width - 1, 0))
    // o=5 transpose: (x,y) <- (y,x)
    val tr = ImageDecode.applyOrientation(d, 5)
    assert(px(tr, 0, 1) == px(d, 1, 0))
  }

  test("average color: 8 clamped border samples, integer mean; contrast color") {
    // 6x6 image: all gray 100 except a white interior box
    val base = Array.fill(6 * 6 * 3)(100.toByte)
    val d0 = ImageDecode.Decoded(6, 6, base)
    val d = ImageDecode.fillRect(d0, (2, 2, 4, 4), (255, 255, 255))
    // box (2,2,4,4) with pad 2: all 8 sample points clamp onto gray pixels
    assert(ImageDecode.averageColor(d, (2, 2, 4, 4)) == ((100, 100, 100)))
    // mixed samples: a 1x1 box at the corner samples clamped corner pixels
    val mixed = ImageDecode.fillRect(d0, (0, 0, 3, 3), (10, 20, 30))
    val avg = ImageDecode.averageColor(mixed, (0, 0, 2, 2))
    // points clamp to (0..5): (0,0)x3? -> hand-compute via the same clamping
    val pts = Seq((-2, -2), (1, -2), (4, -2), (4, 1), (4, 4), (1, 4), (-2, 4), (-2, 1))
      .map { case (x, y) => (math.max(0, math.min(x, 5)), math.max(0, math.min(y, 5))) }
    val samples = pts.map { case (x, y) =>
      val i = (y * 6 + x) * 3
      (mixed.rgb(i) & 0xFF, mixed.rgb(i + 1) & 0xFF, mixed.rgb(i + 2) & 0xFF)
    }
    val exp = (samples.map(_._1).sum / 8, samples.map(_._2).sum / 8, samples.map(_._3).sum / 8)
    assert(avg == exp)
    assert(ImageDecode.contrastTextColor((0, 0, 0)) == ((255, 255, 255)))
    assert(ImageDecode.contrastTextColor((200, 200, 200)) == ((0, 0, 0)))
    assert(ImageDecode.contrastTextColor((255, 0, 0)) == ((255, 255, 255))) // lum 76.2
  }

  test("decompression bomb: huge declared dims are rejected from the header, before decode") {
    // a syntactically valid PNG signature + IHDR declaring 100000×100000
    // (30 GB of RGB) in ~60 bytes — the guard must fire off the header
    // dims without ever inflating pixel data
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(payload.length).array()
      val body = typ.getBytes("ISO-8859-1") ++ payload
      val crc = new java.util.zip.CRC32(); crc.update(body)
      len ++ body ++ java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(100000).putInt(100000).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val bomb = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", Array[Byte](0x78, 0x9c.toByte)) ++
      chunk("IEND", Array.empty)
    val e = intercept[IllegalArgumentException](ImageDecode.decode(bomb))
    assert(e.getMessage.contains("decompression bomb"))
  }

  test("PNG round-trip: encodePng output decodes back to identical pixels") {
    val d = ImageDecode.Decoded(7, 5, pattern(7, 5, 3))
    val back = ImageDecode.loadImage(encodePng(d))
    assert(back.width == 7 && back.height == 5 && back.rgb.toSeq == d.rgb.toSeq)
  }

  test("load_image on a real JPEG with spliced EXIF applies the transpose") {
    // encode a deterministic image as real JPEG via ImageIO
    val (w, h) = (12, 8)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 20) << 16) | ((y * 25) << 8) | ((x + y) * 9))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val plain = bos.toByteArray
    val base = ImageDecode.loadImage(plain) // orientation 1
    for (o <- Seq(3, 6, 8); le <- Seq(true, false)) {
      val withExif = spliceApp1(plain, exifSegment(o, le))
      assert(ImageDecode.exifOrientation(withExif) == o)
      val got = ImageDecode.loadImage(withExif)
      val expect = ImageDecode.applyOrientation(base, o)
      assert(got.width == expect.width && got.height == expect.height)
      assert(got.rgb.toSeq == expect.rgb.toSeq, s"o=$o le=$le pixel mismatch")
    }
  }
}
