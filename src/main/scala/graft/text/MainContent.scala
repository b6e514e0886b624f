package graft.text

import graft.model.Span
import HtmlDom.{Elem, Text}

/** DOM-heuristic main-content extraction — the HTML half of the north
  * rule's "HTML boilerplate strip, PDF/layout parse, DOM heuristics"
  * triple (the PDF half is [[graft.media.PdfText]]/[[graft.media.PdfRaster]]).
  *
  * The algorithm is the readability/jusText family reduced to a
  * deterministic core (no randomness, no tunable thresholds hidden in
  * floats — ties break on document order):
  *
  *  1. BOILERPLATE SUBTREES are removed outright: `script`/`style`,
  *     structural chrome tags (`nav`, `aside`, `header`, `footer`,
  *     `form`), and any element whose class/id TOKENS name chrome
  *     ([[NegativeHints]]: sidebar, comments, banner, share, ad, …).
  *  2. Every CANDIDATE container (`article`, `main`, `section`, `div`,
  *     `td`, `body`) is scored by hierarchical text attribution: each
  *     non-link text node credits its nearest candidate ancestor in full
  *     and farther candidate ancestors at half weight, anchor text counts
  *     zero, then tag weight (`article`/`main` 1.5, `body`/`td` 0.8) and
  *     a positive class/id token boost ([[PositiveHints]]: content, post,
  *     entry, … ×1.25) multiply in. Link farms score zero by construction;
  *     generic outer shells see their prose at half weight and lose to
  *     the tightest block that actually holds it (see [[selectContainer]]).
  *  3. The best candidate's subtree is walked in document order into the
  *     interleaved span model of BASELINE.json's `input_hint` —
  *     `(kind, text, media_ref, offset)` with kind ∈ heading | text |
  *     image: `h1..h6` emit `heading`, block leaves (`p`, `li`, `pre`,
  *     `td`, …) emit `text` (their inline markup flattened, `<br>` → \n),
  *     `img` emits `image` carrying `src` as media_ref and `alt` as text,
  *     stray inline text between blocks coalesces into its own `text`
  *     span. Offsets are the 0-based document-order span index.
  *
  * Block text is kept VERBATIM (entity-decoded, trimmed only at block
  * edges) — whitespace/unicode normalization is a separate catalog
  * operator ([[Normalization]]); collapsing here would break the
  * byte-exact extraction oracle.
  */
object MainContent {

  /** Class/id tokens that mark a subtree as page chrome (removed). */
  val NegativeHints: Set[String] = Set(
    "comment", "comments", "sidebar", "aside", "nav", "navbar", "navigation",
    "menu", "footer", "header", "banner", "breadcrumb", "breadcrumbs",
    "share", "social", "promo", "sponsor", "sponsored", "widget", "related",
    "pagination", "pager", "ad", "ads", "advert", "advertisement", "cookie",
    "newsletter", "subscribe", "masthead", "skyscraper", "popup")

  /** Class/id tokens that mark a container as likely main content. */
  val PositiveHints: Set[String] = Set(
    "article", "content", "main", "post", "body", "entry", "text", "story",
    "blog", "page")

  /** Tags whose whole subtree is chrome regardless of class/id. */
  val ChromeTags: Set[String] = Set("nav", "aside", "header", "footer", "form")

  /** Containers eligible to BE the main-content block. */
  val CandidateTags: Set[String] = Set("article", "main", "section", "div", "td", "body")

  /** Block-leaf tags: each emits one span from its flattened inline text. */
  val BlockLeafTags: Set[String] = Set(
    "p", "li", "pre", "blockquote", "figcaption", "dt", "dd", "caption", "td", "th")

  /** Inline tags: their text joins the enclosing block/inline run. */
  val InlineTags: Set[String] = Set(
    "a", "b", "i", "em", "strong", "span", "code", "small", "big", "sup",
    "sub", "u", "s", "mark", "abbr", "cite", "q", "time", "var", "kbd")

  private val headingRe = "h[1-6]".r.pattern

  final case class Extraction(containerTag: String, score: Double, spans: Vector[Span]) {
    /** The extracted document text: non-image span texts joined by blank lines. */
    def mainText: String =
      spans.iterator.filter(_.kind != "image").map(_.text).mkString("\n\n")
  }

  private def tokensOf(e: Elem): Set[String] = {
    val raw = e.attr("class").getOrElse("") + " " + e.attr("id").getOrElse("")
    raw.split("[^A-Za-z0-9]+").iterator.filter(_.nonEmpty)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
  }

  private def isChrome(e: Elem): Boolean =
    ChromeTags.contains(e.tag) || HtmlDom.RawTextTags.contains(e.tag) ||
      tokensOf(e).exists(NegativeHints.contains)

  private def isHeading(tag: String): Boolean = headingRe.matcher(tag).matches()

  private def tagWeight(tag: String): Double = tag match {
    case "article" | "main" => 1.5
    case "body" | "td" => 0.8
    case _ => 1.0
  }

  /** Score every candidate container by HIERARCHICAL text attribution
    * (the readability family's parent/grandparent decay, reduced to a
    * deterministic two-level rule): each non-link text node credits its
    * NEAREST candidate ancestor with its full character count and every
    * farther candidate ancestor with half; anchor text credits nothing
    * (a pure link farm scores zero). The half-decay is what makes the
    * TIGHTEST container win — a generic outer shell (`body`, a wrapper
    * `div`) sees the same text at half weight, so it loses to the block
    * that actually holds the prose, while a page whose content genuinely
    * sits directly under `body` still scores `body` at full weight. Final
    * score multiplies tag weight (`article`/`main` 1.5, `body`/`td` 0.8)
    * and the positive-hint boost (1.25). Ties break to the EARLIEST
    * candidate in pre-order, i.e. the outermost — covering content split
    * evenly across sibling wrappers. Throws when no candidate scores
    * positive: a chrome-only page is data routed to the wrong extractor,
    * surfaced loudly (the PdfText contract), not an empty row.
    */
  def selectContainer(root: Elem): (Elem, Double) = {
    // identity map: case-class equality would merge structurally equal
    // subtrees (two identical divs) into one score cell
    val score = new java.util.IdentityHashMap[Elem, java.lang.Double]()
    val preOrder = Vector.newBuilder[Elem]
    def dfs(e: Elem, stack: List[Elem], inLink: Boolean): Unit = {
      val isCand = CandidateTags.contains(e.tag)
      if (isCand) { score.put(e, 0.0); preOrder += e }
      val st = if (isCand) e :: stack else stack
      e.children.foreach {
        case Text(d) =>
          if (!inLink && st.nonEmpty) {
            score.put(st.head, score.get(st.head) + d.length)
            st.tail.foreach(a => score.put(a, score.get(a) + d.length * 0.5))
          }
        case c: Elem if isChrome(c) => ()
        case c: Elem => dfs(c, st, inLink || c.tag == "a")
      }
    }
    dfs(root, Nil, inLink = false)
    var best: Elem = null
    var bestScore = 0.0
    preOrder.result().foreach { e =>
      val boost = if (tokensOf(e).exists(PositiveHints.contains)) 1.25 else 1.0
      val s = score.get(e) * tagWeight(e.tag) * boost
      if (s > bestScore) { best = e; bestScore = s }
    }
    if (best == null)
      throw new IllegalArgumentException(
        "main-content extraction found no candidate container with text " +
          "(chrome-only or empty page)")
    (best, bestScore)
  }

  /** Walk the chosen container into interleaved spans (document order). */
  private def spansOf(container: Elem): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var n = 0
    val pending = new java.lang.StringBuilder
    def emit(kind: String, text: String, mediaRef: String): Unit = {
      out += Span(kind, text, mediaRef, n); n += 1
    }
    def flush(): Unit = {
      val s = pending.toString.trim
      pending.setLength(0)
      if (s.nonEmpty) emit("text", s, "")
    }
    def emitImg(c: Elem): Unit =
      emit("image", c.attr("alt").getOrElse(""), c.attr("src").getOrElse(""))
    // a block leaf / heading's inline content, IMAGE-AWARE: text flows into
    // one `kind` run per segment, and a nested <img> splits the run and
    // emits its own image span (an image inside <p>/<h2> must not lose its
    // media_ref — the old inlineText flatten silently dropped it)
    def inlineSpans(kind: String, e: Elem): Unit = {
      val t = new java.lang.StringBuilder
      def emitRun(): Unit = {
        val s = t.toString.trim; t.setLength(0)
        if (s.nonEmpty) emit(kind, s, "")
      }
      def go(x: Elem): Unit = x.children.foreach {
        case Text(d) => t.append(d)
        case cc: Elem if isChrome(cc) => ()
        case cc: Elem if cc.tag == "img" => emitRun(); emitImg(cc)
        case cc: Elem if cc.tag == "br" => t.append('\n')
        case cc: Elem => go(cc)
      }
      go(e)
      emitRun()
    }
    def walk(e: Elem): Unit = e.children.foreach {
      case Text(d) => pending.append(d)
      case c: Elem if isChrome(c) => () // invisible: chrome never breaks an inline run
      case c: Elem if c.tag == "img" => flush(); emitImg(c)
      case c: Elem if c.tag == "br" => pending.append('\n')
      case c: Elem if isHeading(c.tag) => flush(); inlineSpans("heading", c)
      case c: Elem if BlockLeafTags.contains(c.tag) => flush(); inlineSpans("text", c)
      case c: Elem if InlineTags.contains(c.tag) =>
        // inline markup flattens into the surrounding run; a nested <img>
        // splits the run like a direct-child one would
        def inl(x: Elem): Unit = x.children.foreach {
          case Text(d) => pending.append(d)
          case cc: Elem if isChrome(cc) => ()
          case cc: Elem if cc.tag == "img" => flush(); emitImg(cc)
          case cc: Elem if cc.tag == "br" => pending.append('\n')
          case cc: Elem => inl(cc)
        }
        inl(c)
      case c: Elem => flush(); walk(c); flush() // container: recurse block-wise
    }
    walk(container)
    flush()
    out.result()
  }

  /** Full extraction: choose the main container, emit its spans. */
  def extract(root: Elem): Extraction = {
    val (container, score) = selectContainer(root)
    Extraction(container.tag, score, spansOf(container))
  }

  /** Parse + extract in one step (the per-row pipeline form). */
  def extractHtml(html: String): Extraction = extract(HtmlDom.parse(html))

  /** Parse + extract with [[HtmlDom]]'s lenient tree recovery — the
    * crawl-ingest form (real-web pages omit close tags; the strict form
    * stays on the oracle path where ambiguity must be an error).
    */
  def extractHtmlLenient(html: String): Extraction =
    extract(HtmlDom.parse(html, lenient = true))
}
