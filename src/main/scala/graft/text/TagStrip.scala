package graft.text

import java.util.regex.Pattern

/** OCR output-tag unwrapping.
  *
  * Semantics from `/root/reference/src/churro_ocr/prompts/ocr.py:106-122`:
  * if the whole payload is wrapped in `<output>…</output>` (DOTALL, anchored)
  * return the inner text stripped; otherwise delete stray tag tokens
  * (case-insensitive) and strip.
  */
object TagStrip {
  val DefaultOutputTag = "output"

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, (Pattern, Pattern)]()

  private def patternsFor(tag: String): (Pattern, Pattern) =
    cache.computeIfAbsent(tag, t => {
      val q = Pattern.quote(t)
      val outer = Pattern.compile(
        "(?U)^\\s*<" + q + ">\\s*(.*?)\\s*</" + q + ">\\s*$",
        Pattern.DOTALL)
      val stray = Pattern.compile("</?" + q + "\\b[^>]*>", Pattern.CASE_INSENSITIVE)
      (outer, stray)
    })

  def stripOcrOutputTag(text: String, outputTag: String = DefaultOutputTag): String = {
    // fast path: both patterns require a '<tag' token — plain text skips regex
    if (text.indexOf('<') < 0) return PyStr.strip(text)
    val (outer, stray) = patternsFor(outputTag)
    val m = outer.matcher(text)
    if (m.matches()) PyStr.strip(m.group(1))
    else PyStr.strip(stray.matcher(text).replaceAll(""))
  }
}

/** Markdown/HTML → plain-text conversion.
  *
  * Ordered regex pipeline from
  * `/root/reference/src/churro_ocr/prompts/ocr.py:159-210`
  * (image/link strip, checkbox markers, br/hr → newline, block-close →
  * newline, td/th close → " | ", tag whitelist removal, entity unescape,
  * heading/list/quote marker strip, fence/bold/underscore/backtick removal,
  * whitespace collapse, per-line pipe normalization, blank-line dedup).
  */
object MarkupStrip {
  private def p(regex: String): Pattern = Pattern.compile(regex)

  private val imageLink = p("""!\[[^\]]*]\([^)]+\)""")
  private val link = p("""\[([^\]]+)]\([^)]+\)""")

  // (?d) = UNIX_LINES so ^/$/. treat only \n as a line break (Python re parity);
  // (?U) = UNICODE_CHARACTER_CLASS so \s/\w match Python's unicode classes.
  private val htmlReplacements: Seq[(Pattern, String)] = Seq(
    p("""(?isU)<\s*input\b[^>]*\bchecked(?:=(?:"[^"]*"|'[^']*'|[^\s>]+))?[^>]*>""") -> "[x]",
    p("""(?isU)<\s*input\b[^>]*>""") -> "[ ]",
    p("""(?iU)<\s*br\s*/?\s*>""") -> "\n",
    p("""(?iU)<\s*hr\s*/?\s*>""") -> "\n",
    p("""(?iU)</\s*(?:p|div|h[1-6]|ul|ol|table|tr|li|pre|caption)\s*>""") -> "\n",
    p("""(?iU)</\s*(?:td|th)\s*>""") -> " | ",
    p("""(?iU)<\s*li\b[^>]*>""") -> "",
    p("""(?iU)</?\s*(?:table|thead|tbody|tfoot|tr|td|th|p|div|span|h[1-6]|ul|ol|strong|em|b|i|u|sup|sub|code|pre|a|math|chem|caption|small|big)\b[^>]*>""") -> "",
    p("""(?iU)<\s*img\b[^>]*>""") -> ""
  )

  private val anyTag = p("""(?isU)</?[a-z][^>]*>""")
  private val heading = p("""(?mdU)^\s{0,3}#{1,6}\s*""")
  private val listMarker = p("""(?mdU)^\s*[-+*]\s+""")
  private val quoteMarker = p("""(?mdU)^\s*>\s?""")
  private val trailingWs = p("""[ \t]+\n""")
  private val multiSpace = p("""[ \t]{2,}""")
  private val pipeEnd = p("""(?U)\s*\|\s*$""")
  private val pipeStart = p("""(?U)^\|\s*""")
  private val pipeMid = p("""(?U)\s*\|\s*""")

  def toPlainText(text: String): String = {
    var cleaned = PyStr.strip(text)
    if (cleaned.isEmpty) return ""

    cleaned = imageLink.matcher(cleaned).replaceAll("")
    cleaned = link.matcher(cleaned).replaceAll("$1")

    htmlReplacements.foreach { case (pat, rep) =>
      cleaned = pat.matcher(cleaned).replaceAll(java.util.regex.Matcher.quoteReplacement(rep))
    }

    cleaned = HtmlEntities.unescape(cleaned)
    cleaned = anyTag.matcher(cleaned).replaceAll("")
    cleaned = heading.matcher(cleaned).replaceAll("")
    cleaned = listMarker.matcher(cleaned).replaceAll("")
    cleaned = quoteMarker.matcher(cleaned).replaceAll("")
    cleaned = cleaned.replace("```", "")
    cleaned = cleaned.replace("**", "")
    cleaned = cleaned.replace("__", "")
    cleaned = cleaned.replace("`", "")
    cleaned = trailingWs.matcher(cleaned).replaceAll("\n")
    cleaned = multiSpace.matcher(cleaned).replaceAll(" ")

    val normalized = Vector.newBuilder[String]
    var sawContent = false
    var lastBlank = true // tracks normalized_lines[-1] != ""
    var count = 0
    PyStr.splitLines(cleaned).foreach { rawLine =>
      var line = PyStr.strip(rawLine)
      line = pipeEnd.matcher(line).replaceAll("")
      line = pipeStart.matcher(line).replaceAll("")
      line = pipeMid.matcher(line).replaceAll(" | ")
      if (line.nonEmpty) {
        normalized += line
        count += 1
        sawContent = true
        lastBlank = false
      } else if (sawContent && count > 0 && !lastBlank) {
        normalized += ""
        count += 1
        lastBlank = true
      }
    }
    PyStr.strip(normalized.result().mkString("\n"))
  }
}
