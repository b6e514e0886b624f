package graft.text

import java.util.regex.Pattern

/** Chat-scaffold and stop-token cleanup for raw model output.
  *
  * Ports of `/root/reference/src/churro_ocr/providers/_ocr_processing.py:47-116`
  * and `/root/reference/src/churro_ocr/providers/_mineru25.py:26,631-635`.
  */
object ChatScaffold {

  val ChatRolePrefixes: Set[String] = Set(
    "assistant", "assistant:", "user", "user:", "system", "system:",
    "<assistant>", "<user>", "<system>",
    "<|assistant|>", "<|assistant|>:", "<|user|>", "<|user|>:", "<|system|>", "<|system|>:",
    "<｜assistant｜>", "<｜assistant｜>:", "<｜user｜>", "<｜user｜>:", "<｜system｜>", "<｜system｜>:"
  )

  private val roleTagRe = Pattern.compile(
    "<\\|?(?:assistant|user|system)\\|?>", Pattern.CASE_INSENSITIVE)

  private def firstLineOf(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n' || c == '\r' || c == '\u000B' || c == '\f' ||
          c == '\u001C' || c == '\u001D' || c == '\u001E' ||
          c == '\u0085' || c == ' ' || c == ' ') return s.substring(0, i)
      i += 1
    }
    s
  }

  /** `strip_leading_chat_scaffold` — ≤8 rounds of echoed-prompt prefix strip
    * (casefold compare), chat-role first-line drop, role-tag first-line drop.
    */
  def stripLeadingChatScaffold(text: String, prompts: Seq[String]): String = {
    var cleaned = PyStr.strip(text)
    if (cleaned.isEmpty) return ""
    val normalizedPrompts =
      prompts.filter(p => p != null && PyStr.strip(p).nonEmpty).map(PyStr.strip)

    var round = 0
    var continue = true
    while (round < 8 && continue) {
      round += 1
      val previous = cleaned
      var strippedPrompt = false
      val it = normalizedPrompts.iterator
      while (it.hasNext && !strippedPrompt) {
        val prompt = it.next()
        // case-insensitive prefix compare without materializing a casefolded copy
        if (cleaned.length >= prompt.length &&
            cleaned.regionMatches(true, 0, prompt, 0, prompt.length)) {
          cleaned = PyStr.lstrip(cleaned.substring(prompt.length))
          strippedPrompt = true
        }
      }
      if (!strippedPrompt) {
        // fast first-line extraction; the (rare) drop path re-splits fully
        val firstLine = PyStr.strip(firstLineOf(cleaned))
        val isRole = ChatRolePrefixes.contains(PyStr.casefold(firstLine)) ||
          roleTagRe.matcher(firstLine).matches()
        if (isRole) {
          val lines = PyStr.splitLines(cleaned)
          cleaned = PyStr.lstrip(lines.tail.mkString("\n"))
        } else if (cleaned == previous)
          continue = false
      }
    }
    PyStr.strip(cleaned)
  }

  val Mineru25StopTokens: Seq[String] = Seq("<|im_end|>", "<|endoftext|>")

  /** `_trim_stop_strings` — cut at the first stop token, then strip. */
  def trimStopStrings(text: String, stops: Seq[String] = Mineru25StopTokens): String = {
    var cleaned = text
    stops.foreach { stop =>
      val i = cleaned.indexOf(stop)
      if (i >= 0) cleaned = cleaned.substring(0, i)
    }
    PyStr.strip(cleaned)
  }
}
