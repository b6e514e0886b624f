package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.layout._
import graft.text._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Differential parity suite: every case in
  * `src/test/resources/goldens/reference_goldens.json` was produced by running
  * the reference's own pure functions (stanford-oval/Churro) on a fixed corpus
  * (derivation documented in FIXTURES.md §3); our ports must match byte-exactly.
  */
class ParitySpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val root: JsonNode = {
    val in = getClass.getResourceAsStream("/goldens/reference_goldens.json")
    require(in != null, "goldens resource missing")
    try mapper.readTree(in) finally in.close()
  }

  private def cases(family: String): Vector[JsonNode] =
    root.get(family).elements().asScala.toVector

  private def checkString(family: String)(fn: String => String): Unit =
    test(s"parity: $family") {
      cases(family).foreach { c =>
        val in = c.get("in").asText()
        val expected = c.get("out").asText()
        val got = fn(in)
        assert(got == expected, s"\ninput=${in.take(120)}\nexpected=$expected\ngot=$got")
      }
    }

  checkString("strip_ocr_output_tag")(TagStrip.stripOcrOutputTag(_))
  checkString("markup_strip")(MarkupStrip.toPlainText)
  checkString("normalize_characters")(Normalization.normalizeCharacters(_))
  checkString("normalize_characters_nolongs")(Normalization.normalizeCharacters(_, keepLongS = false))
  checkString("normalize_eval")(Normalization.normalizeTextForEvaluation(_))
  checkString("xml_flatten")(XmlFlatten.extractActualTextFromXml)
  checkString("trim_stop")(ChatScaffold.trimStopStrings(_))
  checkString("otsl")(Otsl.toHtml)
  checkString("wrap_equation")(Equations.wrapEquation)
  checkString("fix_eq_delims")(Equations.fixEquationDelimiters)
  checkString("display_to_inline")(Equations.convertDisplayToInline)
  checkString("macro_spacing")(Equations.fixMacroSpacingInMarkdown)
  checkString("underscores")(Equations.moveUnderscoresOutside)

  test("parity: repetition") {
    cases("repetition").foreach { c =>
      assert(Repetition.hasLongRepetition(c.get("in").asText()) == c.get("out").asBoolean(),
        s"input=${c.get("in").asText()}")
    }
  }

  test("parity: chat_scaffold") {
    val prompts = Seq("Do the OCR now", "System: you are a transcriber")
    cases("chat_scaffold").foreach { c =>
      val got = ChatScaffold.stripLeadingChatScaffold(c.get("in").asText(), prompts)
      assert(got == c.get("out").asText(), s"input=${c.get("in").asText()}")
    }
  }

  test("parity: layout_parse") {
    cases("layout_parse").foreach { c =>
      val got = LayoutParse.parse(c.get("in").asText())
      val expected = c.get("out").elements().asScala.toVector
      assert(got.length == expected.length, s"input=${c.get("in").asText()}")
      got.zip(expected).foreach { case (b, e) =>
        assert(b.kind == e.get("type").asText())
        val ebbox = e.get("bbox").elements().asScala.map(_.asDouble()).toVector
        assert(b.bbox.toVector == ebbox)
        val eangle = if (e.get("angle").isNull) 0 else e.get("angle").asInt()
        assert(b.angle == eangle)
        assert(b.mergePrev == e.get("merge_prev").asBoolean())
      }
    }
  }

  test("parity: json2md merge_prev fold") {
    def blk(kind: String, y0: Double, content: String, mp: Boolean = false) =
      Block(kind, Array(0.0, y0, 1.0, y0 + 0.1), content = Option(content), mergePrev = mp)
    val caseList = Vector(
      Vector(blk("text", 0, "Hello"), blk("text", 0.1, "world", mp = true), blk("text", 0.2, "世界", mp = true)),
      Vector(blk("title", 0, "T"), blk("text", 0.1, "a"), blk("equation", 0.2, "\\[x\\]"), blk("text", 0.3, "b", mp = true)),
      Vector(blk("text", 0, null), blk("text", 0.1, "only", mp = true)),
      Vector(blk("table", 0, "<table></table>"), blk("text", 0.1, "after", mp = true))
    )
    val expected = cases("json2md").map(_.get("out").asText())
    caseList.zip(expected).foreach { case (blocks, exp) =>
      assert(Render.renderMarkdown(blocks) == exp)
    }
  }

  test("parity: equation_block combine") {
    def b(kind: String, bbox: Array[Double], content: String = null) =
      Block(kind, bbox, content = Option(content))
    val caseList = Vector(
      Vector(
        b("equation_block", Array(0.1, 0.1, 0.9, 0.5)),
        b("equation", Array(0.12, 0.12, 0.88, 0.22), "a=1 \\tag{1}"),
        b("equation", Array(0.12, 0.3, 0.88, 0.4), "b=2 \\tag{2}"),
        b("text", Array(0.0, 0.6, 1.0, 0.7), "t")),
      Vector(
        b("equation_block", Array(0.1, 0.1, 0.9, 0.5)),
        b("equation", Array(0.12, 0.12, 0.88, 0.22), "solo"))
    )
    val expected = cases("equation_block")
    caseList.zip(expected.map(_.get("out").elements().asScala.toVector)).foreach {
      case (blocks, exp) =>
        val got = Equations.handleEquationBlocks(blocks)
        assert(got.length == exp.length)
        got.zip(exp).foreach { case (gb, e) =>
          assert(gb.kind == e.get("type").asText())
          val ec = e.get("content")
          if (ec == null || ec.isNull) assert(gb.content.isEmpty)
          else assert(gb.content.contains(ec.asText()))
        }
    }
  }

  test("parity: table_image_map") {
    def b(kind: String, bbox: Array[Double]) = Block(kind, bbox)
    val blocks = Vector(
      b("table", Array(0.1, 0.1, 0.6, 0.6)),
      b("image", Array(0.15, 0.15, 0.4, 0.4)),
      b("image", Array(0.5, 0.5, 0.9, 0.9)),
      b("table", Array(0.05, 0.05, 0.95, 0.95)),
      b("image", Array(0.12, 0.45, 0.35, 0.58)))
    val got = SpatialJoins.buildTableImageMap(blocks)
    val expected = root.get("table_image_map")
    expected.fieldNames().asScala.foreach { k =>
      val gotImgs = got.getOrElse(k.toInt, Vector.empty)
      val expImgs = expected.get(k).elements().asScala.map(_.asInt()).toVector
      assert(gotImgs == expImgs, s"table $k: got=$gotImgs expected=$expImgs")
    }
  }

  test("NLS conventions") {
    assert(Levenshtein.nls("", "") == 1.0)
    assert(Levenshtein.nls("abc", "abc") == 1.0)
    assert(Levenshtein.distance("kitten", "sitting") == 3)
    assert(Levenshtein.distance("abc", "abd", maxCost = 0) == 1)
  }
}
