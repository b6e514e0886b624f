package graft.pipeline

import graft.layout._
import graft.model._
import graft.text._
import org.apache.spark.sql.Dataset

/** The end-to-end per-document span-extraction operator.
  *
  * Reproduces the deterministic dataflow of the reference's document pipeline
  * (`/root/reference/src/churro_ocr/document.py:133-206` orchestration;
  * `_mineru25.py` layout/extract/postprocess;
  * `prompts/ocr.py` + `providers/_ocr_processing.py` text cleanup) over the
  * interleaved `docs(doc_id, spans)` table:
  *
  *  1. spans sorted by `offset` (total order — never partition order),
  *  2. raw payload cleanup: stop-token trim → chat-scaffold strip → output-tag
  *     unwrap (the reference's `clean_response` + default postprocessor),
  *  3. layout-token payloads parsed into positioned blocks; XML payloads
  *     flattened (HistoricalDocument); plain payloads carry the shared
  *     zero-area sentinel bbox (never in containment joins — see PlainBBox),
  *  4. caption containment drop, table⊃image absorption (token map),
  *  5. per-kind content fixes (OTSL→HTML, equation wrap, math fixes),
  *     equation-block combining, abandon filters,
  *  6. reading-order render with CJK-aware merge_prev fold → ordered
  *     `(kind, text, media_ref, order)` spans.
  *
  * Everything is row-local: the operator is a narrow `mapPartitions` — no
  * shuffle is introduced for extraction itself, which is the property that
  * lets it scale linearly with executors at 10^12 documents.
  */
object Extract {

  /** The prompts the reference strips when echoed back by a model
    * (`_mineru25.py:967-972`; `prompts/ocr.py:14-40`).
    */
  val KnownPrompts: Seq[String] = Seq(
    "You are an expert in diplomatic transcription of historical documents",
    "Transcribe the full page in reading order as Markdown.")

  def cleanResponse(text: String): String = {
    // all stop tokens and layout markers start with "<|" — one scan gates both
    val trimmed =
      if (text.indexOf("<|") >= 0) ChatScaffold.trimStopStrings(text)
      else graft.text.PyStr.strip(text)
    val unscaffolded = ChatScaffold.stripLeadingChatScaffold(trimmed, KnownPrompts)
    TagStrip.stripOcrOutputTag(unscaffolded)
  }

  /** Build the block array for one document from its offset-ordered spans. */
  def buildBlocks(doc: Doc): Vector[Block] = {
    // one array copy up front (the encoder may hand us a List — never index it),
    // then an in-place sort only when the offsets are actually out of order
    val sorted: Array[Span] = doc.spans.toArray
    var si = 1
    var isSorted = true
    while (isSorted && si < sorted.length) {
      isSorted = sorted(si - 1).offset <= sorted(si).offset; si += 1
    }
    if (!isSorted)
      scala.util.Sorting.stableSort(sorted, (a: Span, b: Span) => a.offset < b.offset)
    val out = Vector.newBuilder[Block]
    var idx = 0
    while (idx < sorted.length) {
      val span = sorted(idx)
      val cleaned = cleanResponse(span.text)
      if (LayoutParse.looksLikeLayout(cleaned)) {
        out ++= LayoutParse.parse(cleaned, span.media_ref)
      } else if (span.kind == "xml") {
        val flat = XmlFlatten.extractActualTextFromXml(cleaned)
        out += Block("text", PlainBBox, content = someNonEmpty(flat),
          mediaRef = span.media_ref)
      } else if (Blocks.SupportedTypes.contains(span.kind)) {
        out += Block(span.kind, PlainBBox, content = someNonEmpty(cleaned),
          mediaRef = span.media_ref)
      }
      // unsupported kinds are dropped, like parse_layout_output's whitelist
      idx += 1
    }
    out.result()
  }

  /** Plain (non-layout) spans never participate in the containment joins —
    * a zero-area sentinel bbox guarantees that by construction (zero-area
    * inner → cover ratio 0 with any outer; zero-area container intersects
    * nothing), and is shared so no allocation per span. Only layout-parsed
    * blocks carry real positions.
    */
  private val PlainBBox: Array[Double] = Array(0.0, 0.0, 0.0, 0.0)

  private def someNonEmpty(s: String): Option[String] =
    if (s == null || s.isEmpty) None else Some(s)

  def extractDoc(doc: Doc, cfg: ExtractConfig = ExtractConfig.Default): DocOut = {
    val blocks = buildBlocks(doc)
    val prepared = Render.prepareBlocks(doc.doc_id, blocks, cfg)
    val processed = Render.postProcess(prepared, cfg)
    val emitted = Render.emitSpans(processed)
    val spans = new Array[OutSpan](emitted.length)
    var i = 0
    while (i < emitted.length) {
      val (kind, text, mediaRef) = emitted(i)
      spans(i) = OutSpan(kind, text, mediaRef, i)
      i += 1
    }
    DocOut(doc.doc_id, scala.collection.immutable.ArraySeq.unsafeWrapArray(spans))
  }

  /** The Spark stage: a narrow map over `Dataset[Doc]`. Optional progress
    * counters (accumulators, bumped executor-side per document) feed the
    * [[graft.metrics.Heartbeat]] surface without touching the plan shape.
    */
  def run(docs: Dataset[Doc], cfg: ExtractConfig = ExtractConfig.Default,
          heartbeat: Option[graft.metrics.Heartbeat] = None): Dataset[DocOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    heartbeat match {
      case None => docs.mapPartitions(_.map(extractDoc(_, cfg)))
      case Some(hb) =>
        val (docsAcc, spansAcc) = (hb.docsDone, hb.spansDone)
        docs.mapPartitions(_.map { d =>
          val out = extractDoc(d, cfg)
          docsAcc.add(1L)
          spansAcc.add(out.spans.length.toLong)
          out
        })
    }
  }

  /** Markdown rendering of one document (the reference's `transcribe` sink). */
  def renderMarkdown(doc: Doc, cfg: ExtractConfig = ExtractConfig.Default): String = {
    val blocks = buildBlocks(doc)
    Render.renderMarkdown(Render.postProcess(Render.prepareBlocks(doc.doc_id, blocks, cfg), cfg))
  }
}
