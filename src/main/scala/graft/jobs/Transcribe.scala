package graft.jobs

import graft.layout.ExtractConfig
import graft.model.Doc
import graft.pipeline.{DocsGen, Extract}
import org.apache.spark.sql.Dataset

/** The reference's `churro-ocr transcribe` CLI surface
  * (`/root/reference/src/churro_ocr/cli.py:163-188,243-250`) over the docs
  * table: render one document (or the first N) to reading-order Markdown,
  * to stdout or per-doc files. Media spans print their `media_ref` (the
  * reference prints image paths).
  *
  *   runMain graft.jobs.Transcribe --input <parquet dir> --doc doc_00000007
  *   runMain graft.jobs.Transcribe --docs 100 --out /tmp/md   # generate+render
  *
  * The `.collect()` below is deliberate CLI parity, not a data path: the
  * reference CLI prints a handful of documents to a terminal. Bulk output
  * at scale goes through `ExtractJob`'s partitioned write, never through
  * this main.
  */
object Transcribe {

  def main(argv: Array[String]): Unit = {
    var input: Option[String] = None
    var docId: Option[String] = None
    var nDocs = 10L
    var out: Option[String] = None
    argv.sliding(2, 2).foreach {
      case Array("--input", v) => input = Some(v)
      case Array("--doc", v) => docId = Some(v)
      case Array("--docs", v) => nDocs = v.toLong
      case Array("--out", v) => out = Some(v)
      case other => throw new IllegalArgumentException(other.mkString(" "))
    }
    val spark = ExtractJob.session()
    import spark.implicits._
    val docs: Dataset[Doc] = input match {
      case Some(dir) => spark.read.parquet(dir).as[Doc]
      case None => DocsGen.docs(spark, nDocs, seed = 42L)
    }
    val selected = docId match {
      case Some(id) => docs.filter((d: Doc) => d.doc_id == id)
      // the first-N cap applies to EVERY source, not just the generated
      // one — an --input pointing at a crawl-sized docs snapshot must not
      // collect the whole table to the driver
      case None => docs.limit(if (nDocs <= Int.MaxValue) nDocs.toInt else Int.MaxValue)
    }
    val rendered = selected.map(d => (d.doc_id, Extract.renderMarkdown(d, ExtractConfig.Default)))
    out match {
      case None =>
        rendered.collect().sortBy(_._1).foreach { case (id, md) =>
          println(s"==== $id ====")
          println(md)
        }
      case Some(dir) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        rendered.collect().foreach { case (id, md) =>
          val p = java.nio.file.Paths.get(s"$dir/$id.md")
          java.nio.file.Files.writeString(p, md)
          println(p.toString) // the reference echoes each output path
        }
    }
    spark.stop()
  }
}
