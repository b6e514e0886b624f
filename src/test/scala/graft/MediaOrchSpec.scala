package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.media.{ImageDecode, ImagePrep}
import graft.pipeline.Batching
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Image-prep dimension parity (reference-generated goldens) plus the
  * micro-batching semantics and crop math.
  */
class MediaOrchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val root = {
    val in = getClass.getResourceAsStream("/goldens/imageprep_goldens.json")
    require(in != null)
    try mapper.readTree(in) finally in.close()
  }
  private val sizes = root.get("sizes").elements().asScala
    .map(n => (n.get(0).asInt(), n.get(1).asInt())).toVector

  private def check(family: String)(fn: (Int, Int) => (Int, Int)): Unit =
    test(s"image-prep parity: $family") {
      val expected = root.get(family).elements().asScala
        .map(n => (n.get(0).asInt(), n.get(1).asInt())).toVector
      sizes.zip(expected).foreach { case ((w, h), exp) =>
        assert(fn(w, h) == exp, s"size=($w,$h)")
      }
    }

  check("prepare_ocr")(ImagePrep.prepareOcrDims)
  check("olmocr")(ImagePrep.olmocrDims)
  check("glm")(ImagePrep.glmDims)
  check("chandra")(ImagePrep.chandraDims)
  check("mineru")(ImagePrep.mineruDims(_, _))

  test("micro-batching preserves order and batch shape") {
    val out = Batching.mapBatched((1 to 10).iterator, 3)(batch => batch.map(_ * 10)).toVector
    assert(out == (1 to 10).map(_ * 10).toVector)
    intercept[IllegalArgumentException] {
      Batching.mapBatched((1 to 4).iterator, 2)(_ => Seq(1)).toVector
    }
  }

  test("crop bbox math: trim margin expansion, clamped (echo-backend case)") {
    // FIXTURES §3: bbox (5,5,25,25), trim 0 on 40×30 → 20×20 crop;
    // a margin past the image clamps to it; int() truncates 10.9-1 to 9
    def dims(w: Int, h: Int, bbox: (Double, Double, Double, Double), trim: Int) = {
      val img = ImageDecode.cropBBox(ImageDecode.Decoded(w, h, new Array[Byte](w * h * 3)), bbox, trim)
      (img.width, img.height)
    }
    assert(dims(40, 30, (5, 5, 25, 25), 0) == ((20, 20)))
    assert(dims(40, 30, (5, 5, 25, 25), 30) == ((40, 30)))
    assert(dims(100, 100, (10.9, 10.9, 20.2, 20.2), 1) == ((12, 12))) // (9,9)..(21,21)
  }
}
