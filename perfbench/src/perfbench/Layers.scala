package perfbench

import graft.layout.{ExtractConfig, Render}
import graft.model.Doc
import graft.pipeline.{DocsGen, Extract}

/** Single-threaded timings of the extraction layers, called through their
  * public functions on the docs of one seed:
  *  - `DocsGen.genDoc` (the input stand-in);
  *  - `Extract.extractDoc` as a whole, per doc, with its p50/p99 and the
  *    share of time spent on the multi-thousand-span folios;
  *  - the four steps inside it (`Extract.buildBlocks`, `Render.prepareBlocks`,
  *    `Render.postProcess`, `Render.emitSpans`), each timed alone;
  *  - `Extract.cleanResponse` per input span (a part of `buildBlocks`).
  * Each figure is the median of the second half of `passes` passes; the
  * first half lets the JIT compile this loop's own call sites.
  */
object Layers {

  private def percentile(sorted: Array[Long], q: Double): Double =
    sorted(math.min(sorted.length - 1, math.ceil(q * sorted.length).toInt - 1).max(0)).toDouble

  /** Docs 0 until `nDocs` of `seed`; `nDocs` a multiple of 1000 keeps the
    * folio share of the sample equal to the generator's.
    */
  def measure(seed: Long, nDocs: Int, passes: Int, trace: Trace, run: String): Seq[(String, Double)] = {
    val cfg = ExtractConfig.Default
    val one = (1 to passes).map { pass =>
      trace.span(s"layers.pass$pass", run) {
        val docs = new Array[Doc](nDocs)
        val t0 = System.nanoTime()
        trace.span("DocsGen.genDoc", run) {
          var i = 0
          while (i < nDocs) { docs(i) = DocsGen.genDoc(i.toLong, seed); i += 1 }
        }
        val genNs = System.nanoTime() - t0
        val inSpans = docs.iterator.map(_.spans.length.toLong).sum

        // each doc is extracted whole and step by step in the same iteration,
        // so both timings see the same JIT and GC state; the order alternates
        // so neither always finds the doc warm in cache
        val perDoc = new Array[Long](nDocs)
        var folioNs = 0L
        var outSpans = 0L
        var buildNs, prepareNs, postNs, emitNs = 0L
        def whole(d: Doc): Long = {
          val s = System.nanoTime()
          outSpans += Extract.extractDoc(d, cfg).spans.length
          System.nanoTime() - s
        }
        def steps(d: Doc): Unit = {
          val a = System.nanoTime()
          val blocks = Extract.buildBlocks(d)
          val b = System.nanoTime()
          val prepared = Render.prepareBlocks(d.doc_id, blocks, cfg)
          val c = System.nanoTime()
          val processed = Render.postProcess(prepared, cfg)
          val e = System.nanoTime()
          Render.emitSpans(processed)
          val f = System.nanoTime()
          buildNs += b - a; prepareNs += c - b; postNs += e - c; emitNs += f - e
        }
        trace.span("Extract.extractDoc+steps", run) {
          var i = 0
          while (i < nDocs) {
            val d = docs(i)
            if (i % 2 == 0) { perDoc(i) = whole(d); steps(d) }
            else { steps(d); perDoc(i) = whole(d) }
            if (i % 1000 == 999) folioNs += perDoc(i)
            i += 1
          }
        }
        val extractNs = perDoc.sum

        val cleanNs = trace.span("Extract.cleanResponse", run) {
          val s = System.nanoTime()
          var sink = 0
          docs.foreach(_.spans.foreach(sp => sink += Extract.cleanResponse(sp.text).length))
          if (sink == -1) println(sink)
          System.nanoTime() - s
        }

        val sorted = perDoc.sorted
        Seq(
          "docsgen.us_per_doc" -> genNs / 1e3 / nDocs,
          "docsgen.spans_per_doc" -> inSpans.toDouble / nDocs,
          "extract.us_per_doc" -> extractNs / 1e3 / nDocs,
          "extract.doc_us_p50" -> percentile(sorted, 0.50) / 1e3,
          "extract.doc_us_p99" -> percentile(sorted, 0.99) / 1e3,
          "extract.folio_time_share" -> folioNs.toDouble / extractNs,
          "extract.spans_kept_ratio" -> outSpans.toDouble / inSpans,
          "text.clean_us_per_span" -> cleanNs / 1e3 / inSpans,
          "layout.build_us_per_doc" -> buildNs / 1e3 / nDocs,
          "layout.prepare_us_per_doc" -> prepareNs / 1e3 / nDocs,
          "layout.postprocess_us_per_doc" -> postNs / 1e3 / nDocs,
          "layout.emit_us_per_doc" -> emitNs / 1e3 / nDocs)
      }
    }
    val measured = one.drop(passes / 2)
    measured.head.map(_._1).map(k => k -> Stats.median(measured.map(_.toMap.apply(k))))
  }
}
