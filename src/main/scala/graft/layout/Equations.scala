package graft.layout

import java.util.regex.Pattern
import graft.text.PyStr

/** Equation and inline-math content fixes.
  *
  * Ports of `/root/reference/src/churro_ocr/providers/_mineru25.py:797-870`.
  */
object Equations {

  /** `wrap_mineru2_5_equation` — canonical display-math wrapper. */
  def wrapEquation(content: String): String = {
    var cleaned = PyStr.strip(content)
    if (cleaned.isEmpty) return ""
    if (cleaned.startsWith("\\[")) cleaned = PyStr.strip(cleaned.substring(2))
    if (cleaned.endsWith("\\]")) cleaned = PyStr.strip(cleaned.substring(0, cleaned.length - 2))
    "\\[\n" + cleaned + "\n\\]"
  }

  /** `_try_fix_equation_delimiters`. */
  def fixEquationDelimiters(latex: String): String = {
    var cleaned = PyStr.strip(latex)
    if (cleaned.startsWith("\\[")) cleaned = cleaned.substring(2)
    if (cleaned.endsWith("\\]")) cleaned = cleaned.substring(0, cleaned.length - 2)
    PyStr.strip(cleaned)
  }

  private val displayRe = Pattern.compile("(?s)\\\\\\[(.*?)\\\\\\]")
  private val digitsDashesRe = Pattern.compile("(?U)[\u2013\\d\\-,\\s]+")

  /** `_try_convert_display_to_inline` — display → inline math unless the body
    * is digits/dashes/commas only.
    */
  def convertDisplayToInline(text: String): String = {
    if (text.indexOf("\\[") < 0) return text // fast path: no display math
    val m = displayRe.matcher(text)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(text, last, m.start())
      val inner = m.group(1)
      if (digitsDashesRe.matcher(inner).matches()) sb.append("\\[").append(inner).append("\\]")
      else sb.append("\\(").append(inner).append("\\)")
      last = m.end()
    }
    sb.append(text, last, text.length)
    sb.toString
  }

  private val knownMacros = Set("\\top", "\\int", "\\inf")
  private val targetMacros = Seq("\\cong", "\\to", "\\times", "\\subset", "\\in")
  private val inlineSplitRe = Pattern.compile("(?s)(\\\\\\(.*?\\\\\\))")

  private def splitKeep(pattern: Pattern, s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val m = pattern.matcher(s)
    var last = 0
    while (m.find()) {
      out += s.substring(last, m.start())
      out += m.group(1)
      last = m.end()
    }
    out += s.substring(last)
    out.result()
  }

  private def fixMacroSpacing(value: String, mac: String): String = {
    val pat = Pattern.compile(Pattern.quote(mac) + "([a-zA-Z])(?![a-zA-Z])")
    val m = pat.matcher(value)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(value, last, m.start())
      val letter = m.group(1)
      if (knownMacros.contains(mac + letter)) sb.append(m.group(0))
      else sb.append(mac).append(" ").append(letter)
      last = m.end()
    }
    sb.append(value, last, value.length)
    sb.toString
  }

  /** `_try_fix_macro_spacing_in_markdown` — `\timesx` → `\times x` inside
    * inline math, unless the concatenation is itself a known mac.
    */
  def fixMacroSpacingInMarkdown(text: String): String = {
    if (text.indexOf("\\(") < 0) return text // fast path: no inline math
    splitKeep(inlineSplitRe, text).map { part =>
      if (part.startsWith("\\(") && part.endsWith("\\)") && part.length >= 4) {
        var inner = part.substring(2, part.length - 2)
        targetMacros.foreach(mac => inner = fixMacroSpacing(inner, mac))
        "\\(" + inner + "\\)"
      } else part
    }.mkString("")
  }

  private val inlineRe = Pattern.compile("(?s)\\\\\\((.+?)\\\\\\)")
  private val underscoreRunRe = Pattern.compile("(_{3,})")
  private val underscoreFullRe = Pattern.compile("_{3,}")

  /** `_try_move_underscores_outside` — `___` runs pulled out of inline math. */
  def moveUnderscoresOutside(text: String): String = {
    if (text.indexOf("\\(") < 0) return text // fast path: no inline math
    val m = inlineRe.matcher(text)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(text, last, m.start())
      val inner = m.group(1)
      val parts = splitKeep(underscoreRunRe, inner)
      if (parts.length == 1) sb.append(m.group(0))
      else {
        val result = parts.flatMap { part =>
          if (underscoreFullRe.matcher(part).matches()) Some(part)
          else if (PyStr.strip(part).nonEmpty) Some("\\(" + part + "\\)")
          else None
        }
        sb.append(result.mkString(" "))
      }
      last = m.end()
    }
    sb.append(text, last, text.length)
    sb.toString
  }

  private val tagRe = Pattern.compile("\\\\tag\\s*\\{[^}]*\\}")
  private val tagCaptureRe = Pattern.compile("\\\\tag\\s*\\{([^}]*)\\}")

  /** `_do_handle_equation_block` (`_mineru25.py:873-913`): group equations
    * covered >0.9 by an `equation_block` into a single `\begin{array}{l}`
    * equation; de-`\tag` when more than one tag would collide; drop leftover
    * `equation_block` markers.
    */
  def handleEquationBlocks(blocks: Vector[Block]): Vector[Block] = {
    val blockIndices = blocks.indices.filter(i => blocks(i).kind == "equation_block")
    val eqIndices = blocks.indices.filter(i => blocks(i).kind == "equation")
    val combined = scala.collection.mutable.LinkedHashMap.empty[Int, Vector[Int]]
    blockIndices.foreach { bi =>
      val covered = eqIndices.filter(ei =>
        BBoxOps.coverRatio(blocks(bi).bbox, blocks(ei).bbox) > 0.9).toVector
      if (covered.length > 1) combined(bi) = covered
    }
    val combinedEqIndices: Set[Int] = combined.values.flatten.toSet
    val rendered = Vector.newBuilder[Block]
    blocks.indices.foreach { index =>
      val block = blocks(index)
      if (!combinedEqIndices.contains(index)) {
        if (combined.contains(index)) {
          var contents = combined(index).map(ci => blocks(ci).content.getOrElse(""))
          val tagCount = contents.map { c =>
            val m = tagRe.matcher(c); var n = 0; while (m.find()) n += 1; n
          }.sum
          if (tagCount > 1)
            contents = contents.map(c => tagCaptureRe.matcher(c).replaceAll("($1)"))
          val combinedContent =
            "\\begin{array}{l} " + contents.map(PyStr.strip).mkString(" \\\\ ") + " \\end{array}"
          rendered += Block("equation", block.bbox, block.angle, Some(combinedContent),
            mediaRef = block.mediaRef)
        } else if (block.kind != "equation_block") {
          rendered += block
        }
      }
    }
    rendered.result()
  }
}
