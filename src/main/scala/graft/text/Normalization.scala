package graft.text

import java.text.Normalizer
import java.util.regex.Pattern

/** Evaluation text normalization.
  *
  * Ports of `/root/reference/tooling/evaluation/normalization.py:54-121`:
  * ligature substitutions, long-ſ-preserving NFKC, and the full evaluation
  * normalizer chain (markup strip → lowercase → punctuation/dash/hyphen
  * normalization → NFKC → whitespace collapse).
  */
object Normalization {

  /** `SUBSTITUTIONS` table (`normalization.py:54-63`): private-use ligature
    * glyphs, curly apostrophe, and the "¬" line-break hyphen.
    */
  val Substitutions: Vector[(String, String)] = Vector(
    "\uEADA" -> "st",
    "\uEEC5" -> "ct",
    "\uEBA6" -> "ss",
    "\uEBA2" -> "si",
    "\uEBA7" -> "ssi",
    "\uEBA3" -> "sl",
    "\u2019" -> "'",
    "\u00AC" -> "-"
  )

  private val substitutionRe = Pattern.compile(
    Substitutions.map { case (k, _) => Pattern.quote(k) }.mkString("|"))
  private val substitutionMap = Substitutions.toMap

  private val fractionSpacing = Pattern.compile(
    "(?U)(?<=\\d)(?=[\u2149\u00BD\u2153\u00BC\u2155\u2159\u2150\u215B\u2151\u2152\u2154\u2156\u00BE\u2157\u215C\u2158\u215A\u215E])")

  private val leadingTilde = Pattern.compile("(?U)(^|\\s)~(?=\\w)")

  private val LongS = "\u017F" // ſ
  private val Placeholder = "\uE000"

  /** `normalize_characters` (`normalization.py:67-84`). */
  def normalizeCharacters(text: String, keepLongS: Boolean = true): String = {
    var t = fractionSpacing.matcher(text).replaceAll(" ")
    if (keepLongS) t = t.replace(LongS, Placeholder)
    t = Normalizer.normalize(t, Normalizer.Form.NFKC)
    if (keepLongS) t = t.replace(Placeholder, LongS)
    val m = substitutionRe.matcher(t)
    val sb = new java.lang.StringBuilder
    var last = 0
    while (m.find()) {
      sb.append(t, last, m.start())
      sb.append(substitutionMap(m.group(0)))
      last = m.end()
    }
    sb.append(t, last, t.length)
    leadingTilde.matcher(sb.toString).replaceAll("$1")
  }

  private val mdChars = Pattern.compile("[*_`~#]")
  private val dashes = Pattern.compile("[\u2013\u2014\u2212\u2011\u2012\u2015\u2010]")
  private val figureRef = Pattern.compile("(?U)\\[figure\\s+\\d+\\]")
  private val longDashRun = Pattern.compile("-{3,}")
  private val spaceBeforePunct = Pattern.compile("(?U)\\s+([.,?!;:])")
  private val dehyphenation = Pattern.compile("(?U)(\\w+)-\\s*\\n\\s*(\\w+)")
  private val wsRun = Pattern.compile("(?U)\\s+")

  /** `normalize_text_for_evaluation` (`normalization.py:87-121`).
    *
    * The optional Arabic branch (pyarabic tashkeel/harakat/tatweel/hamza
    * strips) is ported in [[ArabicNorm]].
    */
  def normalizeTextForEvaluation(text: String, normalizeArabic: Boolean = false): String = {
    var t = MarkupStrip.toPlainText(text)
    if (normalizeArabic) t = ArabicNorm.normalize(t)
    t = PyStr.lower(t)
    t = mdChars.matcher(t).replaceAll("")
    t = dashes.matcher(t).replaceAll("-")
    t = figureRef.matcher(t).replaceAll("")
    t = longDashRun.matcher(t).replaceAll("")
    t = spaceBeforePunct.matcher(t).replaceAll("$1")
    t = dehyphenation.matcher(t).replaceAll("$1$2")
    t = PyStr.strip(t, "-")
    t = normalizeCharacters(t, keepLongS = false)
    PyStr.strip(wsRun.matcher(t).replaceAll(" "))
  }
}

/** Arabic normalization approximating pyarabic's strip_tashkeel /
  * strip_harakat / strip_lastharaka / strip_tatweel / normalize_hamza chain
  * (`normalization.py:99-111`). Diacritic sets follow the published pyarabic
  * constants (U+064B–U+0652 tashkeel, U+0640 tatweel, hamza forms → bare).
  */
object ArabicNorm {
  private val tashkeel = "\u064B\u064C\u064D\u064E\u064F\u0650\u0651\u0652"
  private val tashkeelRe = Pattern.compile("[" + tashkeel + "]")
  private val tatweelRe = Pattern.compile("\u0640")
  // normalize_hamza (default mode): أإآٱ → ا, ؤ → ء, ئ → ء
  private val alefForms = Pattern.compile("[\u0623\u0625\u0622\u0671]")
  private val wawHamza = Pattern.compile("\u0624")
  private val yehHamza = Pattern.compile("\u0626")

  def normalize(text: String): String = {
    var t = tashkeelRe.matcher(text).replaceAll("")
    t = tatweelRe.matcher(t).replaceAll("")
    t = alefForms.matcher(t).replaceAll("\u0627")
    t = wawHamza.matcher(t).replaceAll("\u0621")
    t = yehHamza.matcher(t).replaceAll("\u0621")
    t
  }
}
