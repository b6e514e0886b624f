package graft.metrics

import graft.text.{Levenshtein, Normalization, Repetition, TagStrip, XmlFlatten}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Page-evaluation metrics row (the reference's `PageEvaluationMetrics`,
  * `/root/reference/tooling/evaluation/types.py:22-77`): NLS, BLEU,
  * repetition flag, is_empty, plus the normalized texts.
  */
final case class EvalRow(
    example_id: String,
    main_language: String,
    document_type: String,
    nls: Double,
    bleu: Double,
    repetition: Double,
    is_empty: Double,
    normalized_predicted_text: String,
    normalized_gold_text: String)

/** The evaluation harness (`evaluate_page.py:70-127` + `metrics.py:50-78`),
  * Spark-native: the per-page metric function is a typed map (embarrassingly
  * parallel, no shuffle); the three simultaneous group-bys become one
  * GROUPING SETS aggregation (single shuffle, partial aggregation map-side).
  */
object Eval {

  /** Round-half-up to 4 decimals (Java BigDecimal semantics — replicated
    * exactly by the Python fixture generator). Applied to BLEU because
    * exp/log differ in the last ulp across runtimes; NLS is a ratio of exact
    * integers and is kept full-precision (bit-identical everywhere).
    */
  def round4(v: Double): Double =
    java.math.BigDecimal.valueOf(v).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `_compute_text_metrics_core` (`evaluate_page.py:70-127`): tag strip →
    * XML flatten → normalize → NLS / BLEU / repetition / is_empty.
    */
  def computeMetrics(exampleId: String, predictedRaw: String, goldRaw: String,
                     language: String, documentType: String): EvalRow = {
    val pred = Normalization.normalizeTextForEvaluation(
      XmlFlatten.extractActualTextFromXml(TagStrip.stripOcrOutputTag(predictedRaw)))
    val gold = Normalization.normalizeTextForEvaluation(
      XmlFlatten.extractActualTextFromXml(TagStrip.stripOcrOutputTag(goldRaw)))
    val isEmpty = if (pred.trim.isEmpty) 1.0 else 0.0
    // the reference computes BLEU only for non-empty predictions (:108-118)
    val bleu = if (isEmpty != 1.0) round4(Bleu.bleu(pred, gold)) else 0.0
    EvalRow(exampleId, language, documentType,
      nls = Levenshtein.nls(pred, gold),
      bleu = bleu,
      repetition = if (Repetition.hasLongRepetition(pred)) 1.0 else 0.0,
      is_empty = isEmpty,
      normalized_predicted_text = pred,
      normalized_gold_text = gold)
  }

  /** Batch evaluation over (example_id, pred, gold, language, type) rows. */
  def batchEvaluate(rows: Dataset[(String, String, String, String, String)]): Dataset[EvalRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions(_.map { case (id, pred, gold, lang, dtype) =>
      computeMetrics(id, pred, gold, lang, dtype)
    })
  }

  /** `calculate_language_and_type_metrics` — by language, by type, and both,
    * as one GROUPING SETS pass; percentages ×100 rounded to 1 decimal
    * (`metrics.py:37-78`). NLS/BLEU are summed in integer micro-units so the
    * aggregate is independent of float summation order (cross-engine and
    * cross-partitioning exact).
    */
  def groupedMetrics(results: Dataset[EvalRow]): DataFrame = {
    val spark = results.sparkSession
    // unique per-call view name, dropped once the plan is ANALYZED (analysis
    // resolves the view into the returned DataFrame's plan eagerly) — a
    // fixed "eval_rows" name was shared mutable session state that a
    // concurrent caller could rebind between registration and use
    val view = "eval_rows_" + java.util.UUID.randomUUID().toString.replace("-", "")
    results.createOrReplaceTempView(view)
    try spark.sql(
      s"""SELECT coalesce(main_language, '(all)') AS language_g,
        |       coalesce(document_type, '(all)') AS type_g,
        |       round(100.0 * SUM(CAST(round(nls * 1000000) AS BIGINT)) / (1000000.0 * COUNT(*)), 1) AS nls_pct,
        |       round(100.0 * SUM(CAST(round(bleu * 1000000) AS BIGINT)) / (1000000.0 * COUNT(*)), 1) AS bleu_pct,
        |       round(100.0 * SUM(repetition) / COUNT(*), 1) AS repetition_pct,
        |       round(100.0 * SUM(is_empty) / COUNT(*), 1) AS is_empty_pct,
        |       COUNT(*) AS n
        |FROM $view
        |GROUP BY GROUPING SETS ((main_language), (document_type), (main_language, document_type))
        |ORDER BY language_g, type_g""".stripMargin)
    finally spark.catalog.dropTempView(view)
  }

  /** Deterministic (gold, pred) pairs synthesized from the documents table,
    * covering exact/corrupted/repetition/empty/markup branches. Shared by
    * pipeline_eval and the fixture generator (tools/gen_eval_fixture.py
    * mirrors this synthesis byte-for-byte).
    */
  def evalPairs(spark: SparkSession, dir: String): Dataset[(String, String, String, String, String)] = {
    import spark.implicits._
    // conditional CPU re-split (Queries.resplitForCpu): the sf-tier
    // documents table is one parquet row group → one scan split, which
    // would serialize the Levenshtein/BLEU map below onto a single core
    // (measured 3.6-4.3 s at sf0.1, 2.0-2.9 s re-split); at scale the scan
    // has plenty of splits and no shuffle is added. The metrics are
    // per-row and the output is sorted/grouped downstream, so partitioning
    // cannot move oracle-visible values.
    graft.ops.Queries.resplitForCpu(spark,
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang")),
        // minBytes 0: the per-row metric cost dwarfs the byte volume, so the
        // size gate (meant for cheap row work) must not disable this
        // measured-load-bearing resplit (sf0.1, 4 cores: 0.48-0.55 s warm
        // with it, 1.22-1.36 s without)
        minBytes = 0L)
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val gold = s"<output>\n$text\n</output>"
        val pred = (id % 5) match {
          case 0 => gold // exact
          case 1 => gold.replace("the", "teh") // corrupted
          case 2 => text + (" spam" * 40) // repetition tail
          case 3 => "" // empty
          case _ => s"**${text.toUpperCase(java.util.Locale.ROOT)}**" // markup + case (ROOT: tr_TR dotted-I safety; fixture used ASCII upper())
        }
        val dtype = if (id % 2 == 0) "print" else "handwriting"
        (s"doc_$id", pred, gold, lang, dtype)
      }
  }

  /** The pipeline_eval query: per-example metric rows. */
  def pipelineEval(spark: SparkSession, dir: String): DataFrame =
    batchEvaluate(evalPairs(spark, dir)).toDF()
      .select(col("example_id"), col("main_language"), col("document_type"),
        col("nls"), col("bleu"), col("repetition"), col("is_empty"))
      .orderBy("example_id")

  /** Aggregated grouped metrics over the same synthesized evaluation set. */
  def pipelineEvalGrouped(spark: SparkSession, dir: String): DataFrame =
    groupedMetrics(batchEvaluate(evalPairs(spark, dir)))
}
