package perfbench

import graft.pipeline.DocsGen.Rng
import org.apache.spark.sql.SparkSession

/** Seeded `documents` table in the shape of the sf0.1 test tier, for the
  * dedup-family catalog queries:
  *  - 5,000 docs with ids 0..4999 (the dedup queries plant copies at
  *    +100,000 and +200,000, so ids stay below 100,000);
  *  - 10–100 words each, drawn from a 30-word vocabulary;
  *  - one doc in 20 ends in the extra word `dup`, and a few of those are
  *    exact copies of an earlier `dup` doc;
  *  - five `lang` values (about 41% `en`) and 20 `source` values.
  * Written as one parquet file with one row group, like the tier tables.
  */
object Corpus {
  val Docs = 5000
  val Vocabulary: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector("en", "zh", "de", "es", "fr")

  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def documents(seed: Long, docs: Int = Docs): Seq[Document] = {
    val rng = new Rng(seed * 0x9E3779B97F4A7C15L + 7L)
    val dupTexts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until docs).map { i =>
      val isDup = rng.nextInt(20) == 0
      val text =
        if (isDup && dupTexts.nonEmpty && rng.nextInt(30) == 0) dupTexts(rng.nextInt(dupTexts.length))
        else {
          val n = 10 + rng.nextInt(91)
          val body = (0 until n).map(_ => Vocabulary(rng.nextInt(Vocabulary.length))).mkString(" ")
          if (isDup) { val t = body + " dup"; dupTexts += t; t } else body
        }
      val roll = rng.nextInt(100)
      val lang = if (roll < 41) "en" else Langs(1 + (roll - 41) % 4)
      Document(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  /** Writes `<dir>/documents.parquet` (a one-file parquet directory). */
  def write(spark: SparkSession, dir: String, seed: Long, docs: Int = Docs): Unit = {
    import spark.implicits._
    spark.createDataset(documents(seed, docs)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
