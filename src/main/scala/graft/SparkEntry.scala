package graft

import graft.layout.ExtractConfig
import graft.metrics.Eval
import graft.ops.Queries
import graft.pipeline.{DocsGen, Extract}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Docs-table size per test tier (FIXTURES.md §1). */
  def docsTier(dir: String): Long =
    if (dir.contains("sf0.001")) 1000L
    else if (dir.contains("sf0.01")) 5000L
    else if (dir.contains("sf0.1")) 50000L
    else 2000L

  /** The flagship pipeline: synthesized interleaved docs → per-document span
    * extraction → flat ordered span rows.
    */
  def pipelineExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = DocsGen.docs(spark, docsTier(dir), seed = 42L, partitions = 64)
    Extract.run(docs, ExtractConfig.Default)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.order").as("order"), col("s.kind").as("kind"),
        col("s.media_ref").as("media_ref"), col("s.text").as("text"))
      .orderBy("doc_id", "order")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pipelineExtract(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Builders write no
    * session conf: AQE sizes every query under the caller's own posture.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scans / filters / projections (§2.1-2.2)
    "q_scan_prune" -> (Queries.scanPrune(_, _)),
    "q_ci_filter" -> (Queries.ciFilter(_, _)),
    "q_offset_limit" -> (Queries.offsetLimit(_, _)),
    // aggregations (§2.4)
    "q_agg_pricing" -> (Queries.aggPricing(_, _)),
    "q_grouping_sets" -> (Queries.groupingSets(_, _)),
    "q_rounded_pct" -> (Queries.roundedPct(_, _)),
    "q_distinct_users" -> (Queries.distinctUsers(_, _)),
    // joins (§2.3)
    "q_join_agg" -> (Queries.joinAgg(_, _)),
    "q_semi_join" -> (Queries.semiJoin(_, _)),
    "q_anti_join" -> (Queries.antiJoin(_, _)),
    // windows / ordering (§2.5-2.6)
    "q_window_rank" -> (Queries.windowRank(_, _)),
    "q_window_running" -> (Queries.windowRunning(_, _)),
    "q_topk" -> (Queries.topK(_, _)),
    // set ops (§2.7)
    "q_set_ops" -> (Queries.setOps(_, _)),
    // time / semi-structured
    "q_time_window" -> (Queries.timeWindow(_, _)),
    "q_json_extract" -> (Queries.jsonExtract(_, _)),
    "q_stream_window" -> (StreamOps.streamWindow(_, _)),
    "q_stream_window_append" -> (StreamOps.streamWindowAppendQuery(_, _)),
    "q_stream_dedup" -> (StreamOps.streamDedupQuery(_, _)),
    // deduplication
    "q_dedup_exact" -> (Queries.dedupExact(_, _)),
    "q_dedup_bloom" -> (Queries.bloomDedup(_, _)),
    "q_minhash_sig" -> (Queries.minhashSig(_, _)),
    "q_minhash_pairs" -> (Queries.minhashPairs(_, _)),
    "q_ngram_jaccard" -> (Queries.ngramJaccard(_, _)),
    "q_dedup_components" -> (Queries.dedupComponents(_, _)),
    "q_simhash" -> (Queries.simhash(_, _)),
    "q_simhash_pairs" -> (Queries.simhashPairs(_, _)),
    "q_embed_neardup" -> (Queries.embedNearDup(_, _)),
    // similarity search
    "q_embed_topk" -> (Queries.embedTopK(_, _)),
    "q_embed_lsh" -> (Queries.embedLsh(_, _)),
    "q_embed_lsh_topk" -> (Queries.embedLshTopK(_, _)),
    "q_embed_ivf_fixed" -> (Queries.embedIvfTopK(_, _)),
    "q_embed_ivf_kmeans" -> ((s, _) => graft.ops.AnnKMeans.ivfTopK(s)),
    "q_ann_recall" -> ((s, _) => graft.ops.AnnKMeans.annRecall(s)),
    // text analysis
    "q_token_rarity" -> (Queries.tokenRarity(_, _)),
    "q_token_quantiles" -> (Queries.tokenQuantiles(_, _)),
    "q_quantile_sketch" -> (Queries.quantileSketch(_, _)),
    "q_tfidf_rank" -> (Queries.tfidfRank(_, _)),
    "q_heavy_hitters" -> (Queries.heavyHitters(_, _)),
    "q_boilerplate_strip" -> (Queries.boilerplateStrip(_, _)),
    "q_decontaminate" -> (Queries.decontaminate(_, _)),
    "q_chunk_windows" -> (Queries.chunkWindows(_, _)),
    "pipeline_dataprep" -> (Queries.dataprepPipeline(_, _)),
    "q_stream_neardup" -> ((s, d) => graft.streaming.StreamOps.streamNearDupQuery(s, d)),
    "q_stream_heavy_hitters" -> ((s, d) => graft.streaming.StreamOps.streamHeavyHittersQuery(s, d)),
    "q_html_spans" -> (Queries.htmlSpans(_, _)),
    "q_html_sloppy" -> (Queries.htmlSpansSloppy(_, _)),
    "q_html_main" -> (Queries.htmlMain(_, _)),
    "q_html_meta" -> (Queries.htmlMeta(_, _)),
    "q_warc_records" -> (Queries.warcRecords(_, _)),
    "q_warc_extract" -> (Queries.warcExtract(_, _)),
    "q_warc_links" -> (Queries.warcLinks(_, _)),
    "q_warc_frontier" -> (Queries.warcFrontier(_, _)),
    "q_warc_blocklist" -> (Queries.warcBlocklist(_, _)),
    "q_warc_robots" -> (Queries.warcRobots(_, _)),
    "q_warc_schedule" -> (Queries.warcSchedule(_, _)),
    "q_warc_rank" -> (Queries.warcLinkRank(_, _)),
    "q_warc_redirects" -> (Queries.warcRedirects(_, _)),
    "q_warc_redirect_chains" -> (Queries.warcRedirectChains(_, _)),
    "q_warc_sitemap" -> (Queries.warcSitemap(_, _)),
    "q_warc_anchors" -> (Queries.warcAnchors(_, _)),
    "q_warc_mirrors" -> (Queries.warcMirrors(_, _)),
    "q_warc_cdx" -> (Queries.warcCdx(_, _)),
    "q_snapshot_delta" -> (Queries.snapshotDelta(_, _)),
    "q_incremental_update" -> (Queries.incrementalUpdate(_, _)),
    "q_gopher_quality" -> (Queries.gopherQuality(_, _)),
    "q_gopher_repetition" -> (Queries.gopherRepetition(_, _)),
    "q_lm_quality" -> (Queries.lmQuality(_, _)),
    "q_c4_filter" -> (Queries.c4Filter(_, _)),
    "q_substring_dedup" -> (Queries.substringDedup(_, _)),
    "q_stratified_sample" -> (Queries.stratifiedSample(_, _)),
    "q_token_count" -> (Queries.tokenCount(_, _)),
    "q_token_count_bpe" -> (Queries.tokenCountBpe(_, _)),
    "q_bpe_merges" -> (Queries.bpeMerges(_, _)),
    "q_bpe_encode" -> (Queries.bpeEncode(_, _)),
    "q_quality_score" -> (Queries.qualityScore(_, _)),
    "q_pii_scrub" -> (Queries.piiScrub(_, _)),
    "q_mojibake_fix" -> (Queries.mojibakeFix(_, _)),
    "q_unicode_nfc" -> (Queries.unicodeNfc(_, _)),
    "q_langid_scores" -> (Queries.langidScores(_, _)),
    "q_langid" -> (Queries.langId(_, _)),
    "q_fingerprint" -> (Queries.fingerprint(_, _)),
    "q_rollup" -> (Queries.rollupStats(_, _)),
    "q_set_intersect" -> (Queries.setIntersect(_, _)),
    "q_approx_distinct" -> (Queries.approxDistinct(_, _)),
    "q_nls_eval" -> (Queries.nlsEval(_, _)),
    // multimodal plumbing
    "q_multimodal_sha" -> (Queries.multimodalSha(_, _)),
    "q_image_decode" -> (Queries.imageDecode(_, _)),
    "q_image_features" -> (Queries.imageFeatures(_, _)),
    "q_pdf_pages" -> (Queries.pdfPages(_, _)),
    "q_pdf_text" -> (Queries.pdfText(_, _)),
    "q_pdf_raster" -> (Queries.pdfRaster(_, _)),
    "q_page_segment" -> (Queries.pageSegment(_, _)),
    "q_page_ocr" -> (Queries.pageOcr(_, _)),
    "q_ocr_cer" -> (Queries.ocrCer(_, _)),
    "q_image_phash" -> (Queries.imagePhash(_, _)),
    "q_audio_features" -> (Queries.audioFeatures(_, _)),
    "q_audio_windows" -> (Queries.audioWindows(_, _)),
    "q_audio_vad" -> (Queries.audioVad(_, _)),
    "q_audio_resample" -> (Queries.audioResample(_, _)),
    "q_shuffle_shard" -> (Queries.shuffleShard(_, _)),
    "q_video_frames" -> (Queries.videoFrames(_, _)),
    "q_video_decode" -> (Queries.videoDecode(_, _)),
    // the extraction pipeline + evaluation harness
    "pipeline_extract" -> (pipelineExtract(_, _)),
    "pipeline_eval" -> (Eval.pipelineEval(_, _)),
    "pipeline_eval_grouped" -> (Eval.pipelineEvalGrouped(_, _))
  )

  /** Span reconstruction for the synthesized article wrap — shared by
    * `q_html_spans` (strict parse of the well-formed page) and
    * `q_html_sloppy` (lenient parse of the unclosed-tags page): both must
    * extract the identical spans, and the oracle derives them from the
    * raw text column without parsing any HTML.
    */
  private val htmlSpansOracleSql: String =
    s"""WITH pieces AS (SELECT doc_id,
      |    unnest(range(len(string_split(text, '. ')))) AS i0,
      |    unnest(string_split(text, '. ')) AS piece
      |  FROM documents)
      |SELECT doc_id, CAST(off AS INT) AS "offset", kind, text, media_ref FROM (
      |  SELECT doc_id, 0 AS off, 'heading' AS kind,
      |    'Doc ' || doc_id || ' title' AS text, '' AS media_ref FROM documents
      |  UNION ALL
      |  SELECT doc_id,
      |    1 + i0 + (CASE WHEN doc_id % ${Queries.HtmlImgEvery} = 0 AND i0 >= 1 THEN 1 ELSE 0 END),
      |    'text', piece, '' FROM pieces
      |  UNION ALL
      |  SELECT doc_id, 2, 'image', 'figure for doc ' || doc_id,
      |    'media://doc_' || doc_id || '/img_0'
      |  FROM documents WHERE doc_id % ${Queries.HtmlImgEvery} = 0)
      |ORDER BY doc_id, off""".stripMargin

  private val dupsCte: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 200000, replace(text, 'the', 'teh'), lang FROM documents WHERE doc_id % 10 = 1
      |)""".stripMargin

  /** MinHash CTEs generated from the same (hashes, bands, rows, cap) constants
    * as [[Queries.minhashSig]]/[[Queries.minhashPairs]] — the SQL and the
    * DataFrame plan cannot drift apart. Parameterized on the source CTE so
    * the composed pipeline can run the same chain over its deduped docs.
    */
  /** The ten PageRank iterations of `q_warc_rank` unrolled as chained CTEs
    * r1..rN, each computing `0.15·base + 0.85·Σ(rank div outdeg)` in the
    * same integer micro-units as the Spark loop and the Python twin.
    */
  private val warcRankSql: String = {
    val base = graft.ops.Queries.RankBase
    val edges =
      "'/root/repo/src/test/resources/expected/warc_edges.parquet'"
    val iters = (1 to graft.ops.Queries.RankIters).map { i =>
      s"""r$i AS (
         |  SELECT n.host,
         |         CAST(${base * 15L / 100L} + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS host, CAST(SUM(r.rank // o.deg) AS BIGINT) AS contrib
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.host
         |                 JOIN outdeg o ON e.src = o.src
         |    GROUP BY e.dst) c ON n.host = c.host)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (SELECT src, dst FROM read_parquet($edges)),
       |nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
       |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT host, CAST($base AS BIGINT) AS rank FROM nodes),
       |$iters
       |SELECT host, rank FROM r${graft.ops.Queries.RankIters}
       |ORDER BY host""".stripMargin
  }

  private val minhashCtes: String = minhashCtesFrom("all_docs")

  private def minhashCtesFrom(src: String): String = {
    val sigCols = (0 until Queries.MinhashHashes)
      .map(j => s"MIN((h1 + $j * h2) % ${Queries.MinhashMod}) AS sig$j").mkString(", ")
    val bandCols = (0 until Queries.MinhashBands).map { b =>
      val parts = (0 until Queries.MinhashBandRows)
        .map(r => s"sig${b * Queries.MinhashBandRows + r}").mkString(" || '|' || ")
      s"($parts) AS band$b"
    }.mkString(", ")
    val bandUnion = (0 until Queries.MinhashBands)
      .map(b => s"SELECT doc_id, $b AS band_id, band$b AS bv FROM bands0").mkString(" UNION ALL ")
    s""", grams AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
       |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' ')))) AS g
       |  FROM $src),
       |hb AS (SELECT doc_id, CAST('0x' || substring(md5(g), 1, 14) AS BIGINT) AS h1,
       |              CAST('0x' || substring(md5(g), 15, 14) AS BIGINT) AS h2 FROM grams),
       |sigs AS (SELECT doc_id, $sigCols FROM hb GROUP BY doc_id),
       |bands0 AS (SELECT doc_id, $bandCols FROM sigs),
       |bands AS (SELECT doc_id, band_id, bv FROM ($bandUnion)),
       |capped AS (SELECT doc_id, band_id, bv FROM (
       |    SELECT doc_id, band_id, bv, count(*) OVER (PARTITION BY band_id, bv) AS bsz FROM bands)
       |  WHERE bsz <= ${Queries.MinhashBucketCap}),
       |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM capped x JOIN capped y
       |          ON x.band_id = y.band_id AND x.bv = y.bv AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_scan_prune" ->
      "SELECT doc_id, n_chars FROM documents WHERE n_chars > 200 ORDER BY doc_id",
    "q_ci_filter" ->
      "SELECT doc_id, lang, source FROM documents WHERE lower(trim(lang)) = 'de' ORDER BY doc_id",
    "q_offset_limit" ->
      "SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 50 OFFSET 100",
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1997-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(lang, '(all)') AS lang_g, coalesce(source, '(all)') AS source_g,
        | CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars, COUNT(*) AS n
        |FROM documents GROUP BY GROUPING SETS ((lang), (source), (lang, source))
        |ORDER BY lang_g, source_g""".stripMargin,
    "q_rounded_pct" ->
      """SELECT lang, round(100.0 * SUM(CASE WHEN n_chars > 200 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 1) AS pct_long,
        | COUNT(*) AS n FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_distinct_users" ->
      "SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type ORDER BY event_type",
    "q_join_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_semi_join" ->
      "SELECT c_custkey, c_mktsegment FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "q_anti_join" ->
      "SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey",
    "q_window_rank" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber ASC) = 1
        |ORDER BY l_orderkey""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q_topk" ->
      "SELECT doc_id, n_chars, lang FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10",
    "q_set_ops" ->
      """SELECT p_partkey FROM part WHERE p_size > 25
        |EXCEPT SELECT p_partkey FROM part WHERE p_retailprice < 1200.0
        |ORDER BY p_partkey""".stripMargin,
    "q_time_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_json_extract" ->
      "SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n FROM events GROUP BY k ORDER BY k",
    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // append-mode twin: only windows CLOSED by the watermark (max(ts) − 2h)
    // are emitted — the batch equivalent filters on window end ≤ watermark
    "q_stream_window_append" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        | MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events GROUP BY 1, 2
        |HAVING hour + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
        |ORDER BY 1, 2""".stripMargin,
    // streaming dedup: the planted in-stream copies are exact row copies,
    // so the deduped stream equals the original events table
    "q_stream_dedup" ->
      "SELECT event_id, ts, event_type, value FROM events ORDER BY event_id",
    // streaming NEAR-dup: a doc is flagged when some bucket of its banded
    // MinHash signature already held an earlier (ts, doc_id) member — the
    // oracle recomputes bucket-minimum membership over the same signatures
    "q_stream_neardup" -> (
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, replace(text, 'the', 'teh') FROM documents WHERE doc_id % 10 = 1)""".stripMargin +
      minhashCtesFrom("src") +
      """, b2 AS (SELECT doc_id, doc_id % 100000 AS ts, band_id, bv FROM bands),
        |dups AS (SELECT DISTINCT x.doc_id FROM b2 x JOIN b2 y
        |  ON x.band_id = y.band_id AND x.bv = y.bv
        |  AND (y.ts < x.ts OR (y.ts = x.ts AND y.doc_id < x.doc_id)))
        |SELECT doc_id AS dup_id FROM dups ORDER BY dup_id""".stripMargin),
    "q_dedup_exact" -> (dupsCte +
      """ SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM all_docs GROUP BY md5(text) HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin),
    // the bloom sketch only PRUNES the history scan — false positives die
    // in the exact confirm join, false negatives don't exist — so the
    // oracle is plain semi-join arithmetic over the same synthetic batch
    "q_dedup_bloom" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id + 700000 AS doc_id, text FROM base WHERE doc_id % 3 = 0
        |      UNION ALL
        |      SELECT doc_id + 800000 AS doc_id, text || ' fresh revision' AS text
        |      FROM base WHERE doc_id % 5 = 0),
        |h AS (SELECT DISTINCT md5(text) AS sha FROM base)
        |SELECT b.doc_id, md5(b.text) AS sha,
        |       CASE WHEN h.sha IS NOT NULL THEN 'dup' ELSE 'new' END AS status
        |FROM b LEFT JOIN h ON md5(b.text) = h.sha
        |ORDER BY b.doc_id""".stripMargin,
    "q_minhash_sig" -> (dupsCte + minhashCtes +
      s"""\nSELECT doc_id, ${(0 until Queries.MinhashHashes).map(j => s"sig$j").mkString(", ")}
        |FROM sigs ORDER BY doc_id""".stripMargin),
    "q_minhash_pairs" -> (dupsCte + minhashCtes +
      "\nSELECT a, b FROM pairs ORDER BY a, b"),
    // true transitive closure via WITH RECURSIVE — hash-equality with the
    // Spark min-label-propagation loop proves the loop reached the fixpoint
    "q_dedup_components" -> (dupsCte + minhashCtes +
      """, edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT a AS id, a AS lab FROM edges
        |  UNION
        |  SELECT e.a AS id, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |sizes AS (SELECT component, count(*) AS n_members FROM comp GROUP BY component)
        |SELECT comp.id AS doc_id, comp.component, sizes.n_members
        |FROM comp JOIN sizes USING (component) ORDER BY doc_id""".stripMargin)
      .replaceFirst("WITH ", "WITH RECURSIVE "),
    // exact integers + one double division (log-domain perplexity would
    // differ from DuckDB's libm in final ulps); DuckDB SUM(BIGINT) is
    // HUGEINT, hence the explicit BIGINT cast
    // Exact regime: the 31-token fixture vocabulary never exceeds the
    // 64-counter bound, so the Misra-Gries sketch's counts equal the plain
    // GROUP BY (the ε-bound under m ≪ vocab is FunctionsSpec-asserted)
    "q_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w AS token, count(*) AS cnt FROM toks GROUP BY w)
        |SELECT token, cnt FROM freq ORDER BY cnt DESC, token LIMIT 10""".stripMargin,
    // streaming twin: same exact-regime sketch through micro-batched state
    "q_stream_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w AS token, count(*) AS cnt FROM toks GROUP BY w)
        |SELECT token, cnt FROM freq ORDER BY cnt DESC, token LIMIT 10""".stripMargin,
    "q_token_rarity" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS wc FROM toks GROUP BY w)
        |SELECT doc_id, CAST(SUM(wc) AS BIGINT) AS freq_sum, COUNT(*) AS n_tokens,
        |  CAST(SUM(wc) AS DOUBLE) / COUNT(*) AS mean_token_freq
        |FROM toks JOIN freq USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the decile at rank ceil(d·total/10) as a cross-multiplied integer
    // comparison — identical arithmetic to the Spark side's histogram scan
    "q_token_quantiles" ->
      """WITH lens AS (SELECT len(string_split(text, ' ')) AS n FROM documents),
        |hist AS (SELECT n, count(*) AS c FROM lens GROUP BY n),
        |cum AS (SELECT n, sum(c) OVER (ORDER BY n) AS cle FROM hist),
        |tot AS (SELECT count(*) AS t FROM lens),
        |d AS (SELECT unnest(range(1, 10)) AS decile)
        |SELECT d.decile, min(cum.n) AS value
        |FROM d, cum, tot WHERE cum.cle * 10 >= d.decile * tot.t
        |GROUP BY d.decile ORDER BY decile""".stripMargin,
    // exact-regime oracle (the heavy-hitters pattern): at fixture N the GK
    // summary never compresses, so the sketch deciles equal quantile_disc
    "q_quantile_sketch" ->
      """WITH arr AS (SELECT quantile_disc(len(string_split(text, ' ')),
        |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q FROM documents),
        |d AS (SELECT unnest(range(1, 10)) AS decile)
        |SELECT d.decile, CAST(arr.q[d.decile] AS BIGINT) AS value
        |FROM d, arr ORDER BY decile""".stripMargin,
    // integer micro-unit scoring (see Queries.tfidfRank scaladoc): BM25
    // saturation per-mille DIV, idf as the rational surrogate N // df
    "q_tfidf_rank" ->
      s"""WITH qt(q_id, term) AS (VALUES ${Queries.TfidfQueries
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT w AS term, doc_id, count(*) AS tf FROM toks
        |  WHERE w IN (SELECT DISTINCT term FROM qt) GROUP BY w, doc_id),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT CAST(qt.q_id AS BIGINT) AS q_id, tf.doc_id,
        |    CAST(sum(((1000 * tf.tf) // (tf.tf + 2)) * ((SELECT n FROM n) // dfr.df)) AS BIGINT) AS score,
        |    count(*) AS n_terms_hit
        |  FROM tf JOIN dfr USING (term) JOIN qt USING (term)
        |  GROUP BY qt.q_id, tf.doc_id)
        |SELECT q_id, doc_id, score, n_terms_hit, CAST(rn AS INT) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
        |  FROM scored) t
        |WHERE rn <= ${Queries.TfidfTopK} ORDER BY q_id, rn""".stripMargin,
    // DuckDB zips parallel unnests in one SELECT → (pos, sent) pairs;
    // string_agg(... ORDER BY pos) is the order-preserving reassembly
    "q_boilerplate_strip" ->
      s"""WITH planted AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'Cookie notice: this site uses cookies. ' ELSE '' END)
        |    || text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '. Subscribe to our newsletter for updates' ELSE '' END) AS text
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    unnest(range(len(string_split(text, '. ')))) AS pos,
        |    unnest(string_split(text, '. ')) AS sent
        |  FROM planted),
        |common AS (SELECT sent FROM (
        |    SELECT sent, count(DISTINCT doc_id) AS nd FROM s GROUP BY sent)
        |  WHERE nd >= ${Queries.BoilerplateMinDocs})
        |SELECT doc_id, COUNT(*) AS n_kept,
        |  md5(string_agg(sent, '. ' ORDER BY pos)) AS clean_sha
        |FROM s ANTI JOIN common USING (sent)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // zipped unnests pair chunk_idx with its slice; list_slice end is
    // inclusive and clamps at the list end like Spark's slice length cap
    "q_chunk_windows" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, len(words) AS n_words,
        |    unnest(range(0, CAST(greatest(len(words) - 1, 0) AS BIGINT) // ${Queries.ChunkStride} + 1)) AS chunk_idx,
        |    unnest(list_transform(range(0, CAST(greatest(len(words) - 1, 0) AS BIGINT) // ${Queries.ChunkStride} + 1),
        |      k -> list_slice(words, k * ${Queries.ChunkStride} + 1,
        |                      k * ${Queries.ChunkStride} + ${Queries.ChunkWindow}))) AS cw
        |  FROM w)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(n_words AS INT) AS n_words,
        |  CAST(chunk_idx * ${Queries.ChunkStride} AS INT) AS start_token,
        |  CAST(len(cw) AS INT) AS chunk_tokens,
        |  md5(array_to_string(cw, ' ')) AS chunk_sha
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // the page wrap is deterministic, so the oracle reconstructs the
    // extractor's expected spans from the raw text column WITHOUT parsing
    // HTML: heading at offset 0, one text span per '. ' piece, and the
    // planted figure at offset 2 on every HtmlImgEvery-th doc (later
    // pieces shift by one) — any parser/heuristic/entity defect lands as
    // a hash mismatch against this independent reconstruction
    "q_html_spans" -> htmlSpansOracleSql,
    // the sloppy (real-web, unclosed-tags) page recovers to the IDENTICAL
    // tree under the lenient parser, so its oracle is the SAME
    // reconstruction — verbatim
    "q_html_sloppy" -> htmlSpansOracleSql,
    "q_html_main" ->
      s"""SELECT doc_id, 'article' AS container,
        |  CAST(len(string_split(text, '. ')) + 1
        |    + (CASE WHEN doc_id % ${Queries.HtmlImgEvery} = 0 THEN 1 ELSE 0 END) AS INT) AS n_spans,
        |  CAST(CASE WHEN doc_id % ${Queries.HtmlImgEvery} = 0 THEN 1 ELSE 0 END AS INT) AS n_images,
        |  md5('Doc ' || doc_id || ' title' || chr(10) || chr(10)
        |    || replace(text, '. ', chr(10) || chr(10))) AS main_sha
        |FROM documents ORDER BY doc_id""".stripMargin,
    // every metadata field reconstructs from the documents table (the page
    // plants title/description/canonical from doc_id, lang from the lang
    // column, and exactly 8 chrome anchors)
    "q_html_meta" ->
      """SELECT doc_id, 'Doc ' || doc_id AS title, lang,
        |  'About doc ' || doc_id AS description,
        |  'https://docs.example/' || doc_id AS canonical,
        |  CAST(8 AS INT) AS n_links
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH docs0 AS (SELECT doc_id, text FROM documents),
        |ev AS (SELECT doc_id, text FROM docs0 WHERE doc_id % 97 = 0),
        |train AS (SELECT doc_id, text FROM docs0 WHERE doc_id % 97 <> 0
        |  UNION ALL SELECT doc_id + 300000, 'copied into the training set: ' || text FROM ev),
        |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - ${Queries.DecontaminateGramLen}, 0) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + ${Queries.DecontaminateGramLen}), ' ')))) AS g
        |  FROM ev),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - ${Queries.DecontaminateGramLen}, 0) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + ${Queries.DecontaminateGramLen}), ' ')))) AS g
        |  FROM train)
        |SELECT doc_id, count(*) AS n_shared_grams
        |FROM tg JOIN eg USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the COMPOSED five-stage data-prep chain: boilerplate strip → exact
    // dedup → near-dup CC (WITH RECURSIVE fixpoint) → decontaminate →
    // chunk windows — one hash-green row proves the whole flow end to end
    "pipeline_dataprep" -> (dupsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", planted AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'Cookie notice: this site uses cookies. ' ELSE '' END)
        |    || text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '. Subscribe to our newsletter for updates' ELSE '' END) AS text
        |  FROM all_docs),
        |s AS (SELECT doc_id,
        |    unnest(range(len(string_split(text, '. ')))) AS pos,
        |    unnest(string_split(text, '. ')) AS sent
        |  FROM planted),
        |common AS (SELECT sent FROM (
        |    SELECT sent, count(DISTINCT doc_id) AS nd FROM s GROUP BY sent)
        |  WHERE nd >= ${Queries.BoilerplateMinDocs}),
        |clean AS (SELECT doc_id, string_agg(sent, '. ' ORDER BY pos) AS text
        |  FROM s ANTI JOIN common USING (sent) GROUP BY doc_id),
        |exact AS (SELECT min(doc_id) AS doc_id, min(text) AS text
        |  FROM clean GROUP BY md5(text))""".stripMargin +
      minhashCtesFrom("exact") +
      s""", gc AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        |inter AS (SELECT p.a, p.b, count(*) AS inter FROM pairs p
        |  JOIN grams x ON x.doc_id = p.a
        |  JOIN grams y ON y.doc_id = p.b AND y.g = x.g
        |  GROUP BY p.a, p.b),
        |vpairs AS (SELECT i.a, i.b FROM inter i
        |  JOIN gc ca ON ca.doc_id = i.a JOIN gc cb ON cb.doc_id = i.b
        |  WHERE CAST(i.inter AS DOUBLE) / (ca.n_grams + cb.n_grams - i.inter) >= ${Queries.NearDupJaccard}),
        |edges AS (SELECT a, b FROM vpairs UNION ALL SELECT b, a FROM vpairs),
        |reach AS (
        |  SELECT a AS id, a AS lab FROM edges
        |  UNION
        |  SELECT e.a AS id, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |noncanon AS (SELECT id AS doc_id FROM comp WHERE id <> component),
        |nearkept AS (SELECT doc_id, text FROM exact ANTI JOIN noncanon USING (doc_id)),
        |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
        |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - ${Queries.DecontaminateGramLen}, 0) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + ${Queries.DecontaminateGramLen}), ' ')))) AS g
        |  FROM ev),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - ${Queries.DecontaminateGramLen}, 0) + 1),
        |    i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + ${Queries.DecontaminateGramLen}), ' ')))) AS g
        |  FROM nearkept),
        |contaminated AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g)),
        |kept AS (SELECT doc_id, text FROM nearkept
        |  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM kept),
        |c AS (SELECT doc_id, len(words) AS n_words,
        |    unnest(range(0, CAST(greatest(len(words) - 1, 0) AS BIGINT) // ${Queries.ChunkStride} + 1)) AS chunk_idx,
        |    unnest(list_transform(range(0, CAST(greatest(len(words) - 1, 0) AS BIGINT) // ${Queries.ChunkStride} + 1),
        |      k -> list_slice(words, k * ${Queries.ChunkStride} + 1,
        |                      k * ${Queries.ChunkStride} + ${Queries.ChunkWindow}))) AS cw
        |  FROM w)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(n_words AS INT) AS n_words,
        |  CAST(chunk_idx * ${Queries.ChunkStride} AS INT) AS start_token,
        |  CAST(len(cw) AS INT) AS chunk_tokens,
        |  md5(array_to_string(cw, ' ')) AS chunk_sha
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    "q_stratified_sample" ->
      s"""WITH r AS (SELECT lang, doc_id,
        |  md5('strat:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
        |SELECT lang, doc_id, CAST(rn AS INT) AS rn FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
        |  FROM r) t
        |WHERE rn <= ${Queries.StratifiedSampleK}
        |ORDER BY lang, rn""".stripMargin,
    "q_token_count" ->
      "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars FROM documents ORDER BY doc_id",
    "q_token_count_bpe" ->
      s"""SELECT doc_id, len(regexp_extract_all(text, '${Queries.BpeTokenRegex}')) AS n_bpe_tokens,
        | len(string_split(text, ' ')) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // BPE tokenizer training: merge table from the independent pure-Python
    // trainer twin over the same parquet (tools/gen_bpe_fixture.py) — the
    // K-round iterative learner is not SQL-expressible; the twin pins the
    // exact merges, counts, and tie-breaks
    "q_bpe_merges" ->
      """SELECT step, "left", "right", merged, pair_count
        |FROM read_parquet('/root/repo/src/test/resources/expected/bpe_merges.parquet')
        |ORDER BY step""".stripMargin,
    // the encode side: same twin, same corpus — (doc_id, symbol count, md5
    // of the space-joined symbol stream)
    "q_bpe_encode" ->
      """SELECT doc_id, n_syms, enc_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/bpe_encode.parquet')
        |ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, length(text) AS len,
        | length(text) - length(replace(text, ' ', '')) AS n_space,
        | length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', '')) AS the_bytes,
        | CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / length(text) AS space_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    // both engines PLANT the PII from doc_id (the corpus text is digit-free),
    // then count and redact with the SAME dialect-intersection regexes;
    // md5(clean) pins the rewritten text byte-exactly
    "q_pii_scrub" ->
      s"""WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for access' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' origin server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 250 + 1 AS VARCHAR) || ' timed out' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' or call +1 415 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '${Queries.PiiEmailRegex}')) AS n_emails,
        |  len(regexp_extract_all(text, '${Queries.PiiIpv4Regex}')) AS n_ipv4,
        |  len(regexp_extract_all(text, '${Queries.PiiPhoneRegex}')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '${Queries.PiiEmailRegex}', '<EMAIL>', 'g'),
        |    '${Queries.PiiIpv4Regex}', '<IP>', 'g'),
        |    '${Queries.PiiPhoneRegex}', '<PHONE>', 'g')) AS clean_sha
        |FROM p ORDER BY doc_id""".stripMargin,
    // the oracle never runs the repair: it constructs the expected CLEAN
    // text directly from the planting rule (chr() code points — é=233,
    // —=8212, €=8364 … — no literal-encoding hazard) and the negative
    // family verbatim (Ã=195, â=226: lead bytes with no continuation must
    // survive unrepaired)
    "q_mojibake_fix" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 6 = 0 THEN ' caf' || chr(233) || ' ni' || chr(241) || 'o ' || chr(252) || 'ber' ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN ' ' || chr(8212) || ' dash ' || chr(8211) || ' ' || chr(8216) || 'q' || chr(8217) ELSE '' END
        |    || CASE WHEN doc_id % 14 = 0 THEN ' ' || chr(8364) || ' 3 ' || chr(8482) ELSE '' END
        |    || CASE WHEN doc_id % 17 = 0 THEN ' ' || chr(195) || ' plain lone ' || chr(226) || ' end' ELSE '' END AS clean
        |  FROM documents)
        |SELECT doc_id,
        |  (doc_id % 6 = 0 OR doc_id % 9 = 0 OR doc_id % 14 = 0) AS changed,
        |  length(clean) AS fixed_len, md5(clean) AS fixed_sha
        |FROM p ORDER BY doc_id""".stripMargin,
    // cross-engine NFC: DuckDB's own nfc_normalize over the SAME planted
    // decomposed sequences (chr(769)=combining acute, 778=ring, 776=
    // diaeresis) — two independent Unicode implementations must agree
    "q_unicode_nfc" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 8 = 0 THEN ' re' || chr(769) || 'sume' || chr(769) || ' A' || chr(778) || 'ngstro' || chr(776) || 'm' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' caf' || chr(233) || ' fixe' ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  (nfc_normalize(text) <> text) AS changed,
        |  length(nfc_normalize(text)) AS nfc_len,
        |  md5(nfc_normalize(text)) AS nfc_sha
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_langid_scores" ->
      """SELECT doc_id, lang,
        | length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', '')) AS score_en,
        | length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', '')) AS score_de,
        | length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', '')) AS score_es
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      """SELECT doc_id, lang,
        | CASE WHEN (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) > (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', '')))
        |        AND (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) > (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) THEN 'de'
        |      WHEN (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) > (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', '')))
        |        AND (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) >= (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) THEN 'es'
        |      ELSE 'en' END AS lang_pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(lang, '(all)') AS lang_g, coalesce(source, '(all)') AS source_g,
        | COUNT(*) AS n, CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars
        |FROM documents GROUP BY ROLLUP (lang, source) ORDER BY lang_g, source_g""".stripMargin,
    "q_set_intersect" ->
      """SELECT p_partkey FROM part WHERE p_size > 20
        |INTERSECT SELECT p_partkey FROM part WHERE p_retailprice < 1500.0
        |ORDER BY p_partkey""".stripMargin,
    "q_ngram_jaccard" -> (dupsCte + minhashCtes +
      """,
        |garr AS (SELECT doc_id, list_distinct(list_transform(
        |           range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
        |           i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + 3), ' '))) AS g
        |         FROM all_docs)
        |SELECT a, b, CAST(len(list_intersect(ga.g, gb.g)) AS BIGINT) AS inter,
        |       CAST(len(list_distinct(list_concat(ga.g, gb.g))) AS BIGINT) AS uni,
        |       CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) / len(list_distinct(list_concat(ga.g, gb.g))) AS jaccard
        |FROM pairs JOIN garr ga ON ga.doc_id = a JOIN garr gb ON gb.doc_id = b
        |WHERE CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) / len(list_distinct(list_concat(ga.g, gb.g))) >= 0.7
        |ORDER BY a, b""".stripMargin),
    "q_nls_eval" ->
      """SELECT doc_id, lang, levenshtein(replace(text, 'the', 'teh'), text) AS lev,
        | 1.0 - CAST(levenshtein(replace(text, 'the', 'teh'), text) AS DOUBLE)
        |   / greatest(length(replace(text, 'the', 'teh')), length(text)) AS nls
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_sha" ->
      "SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS sha FROM documents ORDER BY doc_id",
    "q_video_frames" ->
      """WITH vids AS (
        |  SELECT doc_id AS video_id,
        |         CAST(24 + ((doc_id // 4) % 2) * 6 AS BIGINT) AS fps,
        |         CAST(2000 + (doc_id % 20) * 500 AS BIGINT) AS duration_ms,
        |         sha256(text) AS content_sha
        |  FROM documents WHERE doc_id % 4 = 0),
        |frames AS (
        |  SELECT video_id, fps, content_sha, unnest(range(0, (duration_ms - 1) // 500 + 1)) AS k
        |  FROM vids)
        |SELECT video_id, k * 500 AS ts_ms, (k * 500 * fps) // 1000 AS frame_idx,
        |       sha256(content_sha || ':' || CAST((k * 500 * fps) // 1000 AS VARCHAR)) AS frame_sha
        |FROM frames ORDER BY video_id, ts_ms""".stripMargin,
    // WARC framing/HTTP-unwrap and the composed crawl→spans chain:
    // expected rows computed by tools/gen_warc_fixture.py from the bytes
    // and page structure IT assembles (never by running the Scala reader)
    "q_warc_records" ->
      """SELECT name, rec_idx, warc_type, uri, status, content_type, body_len, body_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_records.parquet')
        |ORDER BY name, rec_idx""".stripMargin,
    "q_warc_extract" ->
      """SELECT name, uri, "offset", kind, text, media_ref
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_extract.parquet')
        |ORDER BY name, uri, "offset"""".stripMargin,
    "q_warc_links" ->
      """SELECT name, uri, link_idx, href, anchor, rel
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_links.parquet')
        |ORDER BY name, uri, link_idx""".stripMargin,
    // frontier expectation computed by the generator with Python's urllib
    // (an independent RFC 3986 resolver) + the normalize twin
    "q_warc_frontier" ->
      """SELECT url, host, n_refs
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_frontier.parquet')
        |ORDER BY url""".stripMargin,
    // blocklist verdicts recomputed from the independently generated
    // frontier fixture with DIFFERENT mechanics (per-entry suffix-LIKE
    // join) than the Spark plan's suffix-explode equi-join
    "q_warc_blocklist" -> {
      val entries = Queries.BlockedHostSuffixes.map(e => s"('$e')").mkString(", ")
      val pathRule = Queries.BlockedPathKeywords
        .map(k => s"WHEN f.url LIKE '%/$k%' THEN '$k'")
        .mkString(" ")
      val pathHit = Queries.BlockedPathKeywords
        .map(k => s"f.url LIKE '%/$k%'").mkString(" OR ")
      s"""WITH f AS (SELECT url, host, n_refs
        |  FROM read_parquet('/root/repo/src/test/resources/expected/warc_frontier.parquet')),
        |b(entry) AS (VALUES $entries),
        |hb AS (SELECT f.url, MIN(b.entry) AS host_rule
        |       FROM f JOIN b ON f.host = b.entry OR f.host LIKE '%.' || b.entry
        |       GROUP BY f.url)
        |SELECT f.url, f.host, f.n_refs,
        |  CASE WHEN hb.host_rule IS NOT NULL THEN 'blocked_host'
        |       WHEN $pathHit THEN 'blocked_path'
        |       ELSE 'kept' END AS status,
        |  COALESCE(hb.host_rule,
        |    CASE $pathRule ELSE '' END) AS rule
        |FROM f LEFT JOIN hb ON f.url = hb.url
        |ORDER BY f.url""".stripMargin
    },
    // politeness verdicts computed by the generator's independent Python
    // RFC 9309 twin over the robots.txt it plants
    "q_warc_robots" ->
      """SELECT url, host, n_refs, allowed
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_robots.parquet')
        |ORDER BY url""".stripMargin,
    // the scheduler's TopM selection recomputed as the equivalent
    // row_number() window over the gated frontier
    "q_warc_schedule" ->
      s"""SELECT host, url, n_refs, CAST(wave AS INT) AS wave FROM (
        |  SELECT host, url, n_refs,
        |         row_number() OVER (PARTITION BY host
        |                            ORDER BY n_refs DESC, url) AS wave
        |  FROM read_parquet('/root/repo/src/test/resources/expected/warc_robots.parquet')
        |  WHERE allowed)
        |WHERE wave <= ${graft.ops.Queries.ScheduleBudget}
        |ORDER BY host, wave""".stripMargin,
    // all ten integer power iterations RECOMPUTED in SQL from the expected
    // edge table — same micro-unit arithmetic (// is DuckDB integer
    // division; SUM casts back from HUGEINT), so the oracle verifies the
    // iteration itself, not a dumped fixture
    "q_warc_rank" -> warcRankSql,
    // the recrawl-delta classification recomputed over the same synthetic
    // generation-B view: text equality in DuckDB, digest equality in Spark
    // — identical verdicts
    "q_snapshot_delta" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 29 = 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN a.doc_id IS NULL THEN 'added'
        |            WHEN b.doc_id IS NULL THEN 'removed'
        |            WHEN a.text = b.text THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,
    // the incrementally maintained table must equal a FULL recompute over
    // generation B — the oracle recomputes everything and derives the
    // provenance column from the delta classification
    "q_incremental_update" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 29 = 0),
        |d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |       CASE WHEN a.doc_id IS NULL THEN 'added'
        |            WHEN b.doc_id IS NULL THEN 'removed'
        |            WHEN a.text = b.text THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT b.doc_id, CAST(len(string_split(b.text, ' ')) AS INT) AS n_words,
        |  md5(b.text) AS sha,
        |  CASE WHEN d.status = 'unchanged' THEN 'reused' ELSE 'fresh' END AS src
        |FROM b JOIN d ON b.doc_id = d.doc_id
        |ORDER BY 1""".stripMargin,
    // every Gopher rule's arithmetic recomputed (exact integer folds, one
    // double division each — the cross-engine float protocol)
    "q_gopher_quality" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |m AS (SELECT doc_id,
        |    len(words) AS n_words,
        |    CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT) AS len_sum,
        |    len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha_words,
        |    len(list_filter(${Queries.GopherStopwords.map(s => s"'$s'").mkString("[", ", ", "]")},
        |        s -> list_contains(words, s))) AS n_stop
        |  FROM w)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |  CAST(len_sum AS DOUBLE) / n_words AS mean_word_len,
        |  CAST(alpha_words AS DOUBLE) / n_words AS alpha_frac,
        |  CAST(n_stop AS INT) AS n_stop,
        |  CAST((n_words BETWEEN ${Queries.GopherMinWords} AND ${Queries.GopherMaxWords}
        |    AND CAST(len_sum AS DOUBLE) / n_words
        |        BETWEEN ${Queries.GopherMinMeanWordLen} AND ${Queries.GopherMaxMeanWordLen}
        |    AND CAST(alpha_words AS DOUBLE) / n_words >= ${Queries.GopherMinAlphaFrac}
        |    AND n_stop >= ${Queries.GopherMinStopwords}) AS INT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // repetition fractions recomputed from scratch; the top-2-gram pick
    // uses the same (cnt DESC, g DESC) deterministic order as max(struct)
    "q_gopher_repetition" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |l AS (SELECT doc_id,
        |    list_transform(range(0, (len(words) - 1) // ${Queries.C4SentLen} + 1),
        |      k -> array_to_string(list_slice(words, k * ${Queries.C4SentLen} + 1, k * ${Queries.C4SentLen} + ${Queries.C4SentLen}), ' '))
        |    AS lines0
        |  FROM w),
        |l2 AS (SELECT doc_id,
        |    lines0 || CASE WHEN doc_id % 23 = 0 THEN [lines0[1]] ELSE []::VARCHAR[] END AS lines
        |  FROM l),
        |b AS (SELECT doc_id, lines, len(array_to_string(lines, ' ')) AS total_chars,
        |    string_split(array_to_string(lines, ' '), ' ') AS w2
        |  FROM l2),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(0, len(w2) - 1),
        |    i -> array_to_string(list_slice(w2, i + 1, i + 2), ' '))) AS g FROM b),
        |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, cnt * len(g) AS top2_chars,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn FROM c2),
        |top2 AS (SELECT doc_id, top2_chars FROM t2 WHERE rn = 1),
        |g5 AS (SELECT doc_id, unnest(list_transform(range(0, len(w2) - 4),
        |    i -> array_to_string(list_slice(w2, i + 1, i + 5), ' '))) AS g FROM b),
        |c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2),
        |d5 AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * len(g) ELSE 0 END) AS BIGINT) AS dup5_chars,
        |    CAST(SUM(cnt * len(g)) AS BIGINT) AS all5_chars FROM c5 GROUP BY 1),
        |gl AS (SELECT doc_id, unnest(lines) AS lx FROM b),
        |cl AS (SELECT doc_id, lx, count(*) AS cnt FROM gl GROUP BY 1, 2),
        |dl AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * len(lx) ELSE 0 END) AS BIGINT) AS dupline_chars,
        |    CAST(SUM(cnt * len(lx)) AS BIGINT) AS allline_chars FROM cl GROUP BY 1)
        |SELECT b.doc_id,
        |  CAST(top2_chars AS DOUBLE) / total_chars AS top2_frac,
        |  CAST(dup5_chars AS DOUBLE) / all5_chars AS dup5_frac,
        |  CAST(dupline_chars AS DOUBLE) / allline_chars AS dup_line_frac,
        |  CAST((CAST(top2_chars AS DOUBLE) / total_chars <= ${Queries.RepTop2GramMaxFrac}
        |    AND CAST(dup5_chars AS DOUBLE) / all5_chars <= ${Queries.RepDup5GramMaxFrac}
        |    AND CAST(dupline_chars AS DOUBLE) / allline_chars <= ${Queries.RepDupLineMaxFrac}) AS INT) AS keep
        |FROM b JOIN top2 USING (doc_id) JOIN d5 USING (doc_id) JOIN dl USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the full stupid-backoff LM retrained and rescored from scratch: same
    // training slice, same pruning, same integer micro-unit arithmetic
    // (DuckDB `//` == Spark `DIV` on positive BIGINTs — the q_warc_rank
    // integer-exact protocol)
    "q_lm_quality" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
        |docs0 AS (SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id,
        |    array_to_string(list_transform(string_split(text, ' '),
        |      w -> substring(md5(w), 1, 6)), ' ') AS text
        |  FROM base WHERE doc_id % 29 = 0),
        |docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM docs0),
        |train AS (SELECT string_split(text, ' ') AS words FROM base
        |          WHERE doc_id % ${Queries.LmTrainMod} = 0),
        |uni AS (SELECT w, count(*) AS cnt_uni
        |  FROM (SELECT unnest(words) AS w FROM train) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt_uni) AS BIGINT) AS total FROM uni),
        |bi AS (SELECT w1, w2, count(*) AS cnt_bi FROM (
        |    SELECT words[i] AS w1, words[i + 1] AS w2
        |    FROM (SELECT words, unnest(range(1, len(words))) AS i FROM train
        |          WHERE len(words) >= 2))
        |  GROUP BY 1, 2 HAVING count(*) >= ${Queries.LmPruneMinCount}),
        |pairs AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
        |  FROM (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM docs
        |        WHERE len(words) >= 2)),
        |scored AS (SELECT doc_id,
        |    CASE WHEN bi.cnt_bi IS NOT NULL
        |         THEN (${Queries.LmMicro} * bi.cnt_bi) // up.cnt_uni
        |         ELSE (${Queries.LmBackoffMicroNum} * COALESCE(un.cnt_uni, 0)) // tot.total
        |    END AS p_micro,
        |    CASE WHEN bi.cnt_bi IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM pairs
        |  LEFT JOIN bi ON pairs.w1 = bi.w1 AND pairs.w2 = bi.w2
        |  LEFT JOIN uni up ON pairs.w1 = up.w
        |  LEFT JOIN uni un ON pairs.w2 = un.w
        |  CROSS JOIN tot)
        |SELECT doc_id, COUNT(*) AS n_scored,
        |  CAST(SUM(hit) AS BIGINT) AS bigram_hits,
        |  CAST(SUM(p_micro) AS BIGINT) // COUNT(*) AS mean_p_micro,
        |  CAST(CAST(SUM(p_micro) AS BIGINT) // COUNT(*)
        |       >= ${Queries.LmKeepMinMicroMean} AS INT) AS keep
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the C4 line/document rules replanted and re-judged independently;
    // order-preserving reassembly via string_agg ORDER BY pos
    "q_c4_filter" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |l AS (SELECT doc_id,
        |    list_transform(range(0, (len(words) - 1) // ${Queries.C4SentLen} + 1),
        |      k -> array_to_string(list_slice(words, k * ${Queries.C4SentLen} + 1, k * ${Queries.C4SentLen} + ${Queries.C4SentLen}), ' ') ||
        |           CASE WHEN len(list_slice(words, k * ${Queries.C4SentLen} + 1, k * ${Queries.C4SentLen} + ${Queries.C4SentLen})) = ${Queries.C4SentLen} THEN '.' ELSE '' END)
        |    || CASE WHEN doc_id % 7 = 0 THEN ['enable javascript to view this site.'] ELSE []::VARCHAR[] END
        |    || CASE WHEN doc_id % 11 = 0 THEN ['terms apply.'] ELSE []::VARCHAR[] END
        |    || CASE WHEN doc_id % 13 = 0 THEN ['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END
        |    || CASE WHEN doc_id % 19 = 0 THEN ['function() { return page; }.'] ELSE []::VARCHAR[] END
        |    AS lines
        |  FROM w),
        |ok AS (SELECT doc_id, lines FROM l
        |  WHERE NOT contains(lower(array_to_string(lines, ' ')), 'lorem ipsum')
        |    AND NOT contains(array_to_string(lines, ' '), '{')),
        |s AS (SELECT doc_id, unnest(range(len(lines))) AS pos, unnest(lines) AS sent FROM ok),
        |k AS (SELECT doc_id, pos, sent FROM s
        |  WHERE regexp_matches(sent, '[.!?]$$')
        |    AND len(string_split(sent, ' ')) >= ${Queries.C4MinLineWords}
        |    AND NOT contains(lower(sent), 'javascript'))
        |SELECT doc_id, COUNT(*) AS n_kept,
        |  md5(string_agg(sent, ' ' ORDER BY pos)) AS clean_sha
        |FROM k GROUP BY doc_id HAVING COUNT(*) >= ${Queries.C4MinSentences}
        |ORDER BY doc_id""".stripMargin,
    // duplicated-gram coverage and token removal recomputed from scratch
    // (gram text hashed with the same md5 on both engines)
    "q_substring_dedup" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000, 'mirror copy of ' || text
        |  FROM documents WHERE doc_id % 17 = 0),
        |w AS (SELECT doc_id, string_split(text, ' ') AS words FROM base),
        |g AS (SELECT doc_id,
        |    unnest(range(0, greatest(len(words) - ${Queries.SubstrGramLen} + 1, 0))) AS gpos,
        |    unnest(list_transform(range(0, greatest(len(words) - ${Queries.SubstrGramLen} + 1, 0)),
        |      i -> md5(array_to_string(list_slice(words, i + 1, i + ${Queries.SubstrGramLen}), ' ')))) AS gh
        |  FROM w),
        |dup AS (SELECT gh FROM (SELECT gh, count(*) AS n FROM g GROUP BY gh) WHERE n > 1),
        |cov AS (SELECT DISTINCT g.doc_id, g.gpos + o.d AS pos
        |  FROM g JOIN dup USING (gh)
        |  CROSS JOIN (SELECT unnest(range(0, ${Queries.SubstrGramLen})) AS d) o),
        |tok AS (SELECT doc_id, unnest(range(len(words))) AS pos, unnest(words) AS w FROM w)
        |SELECT doc_id, COUNT(*) AS n_kept,
        |  md5(string_agg(w, ' ' ORDER BY pos)) AS clean_sha
        |FROM tok ANTI JOIN cov USING (doc_id, pos)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // mirror groups RECOMPUTED in SQL from the expected records table's
    // body_sha column — the oracle redoes the digest grouping, not a dump
    "q_warc_mirrors" ->
      """WITH h AS (
        |  SELECT uri, body_sha
        |  FROM read_parquet('/root/repo/src/test/resources/expected/warc_records.parquet')
        |  WHERE status = 200 AND content_type LIKE 'text/html%'),
        |g AS (SELECT body_sha, min(uri) AS canonical_url, count(*) AS n_copies
        |      FROM h GROUP BY body_sha)
        |SELECT h.body_sha, h.uri AS url, g.canonical_url, g.n_copies
        |FROM h JOIN g USING (body_sha)
        |WHERE g.n_copies >= 2
        |ORDER BY body_sha, url""".stripMargin,
    // CDX rows pinned by the generator AS IT WRITES each gzip member (the
    // byte ranges are construction ground truth) with independent Python
    // twins for SURT and the payload digest
    "q_warc_cdx" ->
      """SELECT surt, ts, url, mime, status, digest, rec_offset, rec_length, filename
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_cdx.parquet')
        |ORDER BY surt, ts, rec_offset""".stripMargin,
    // sitemap seeds computed by the generator's independent ElementTree
    // twin over the planted index + urlsets (incl. the origin-guard drops)
    "q_warc_sitemap" ->
      """SELECT url, host, lastmod, sitemap_url
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_sitemap.parquet')
        |ORDER BY sitemap_url, url""".stripMargin,
    // the anchor aggregation RECOMPUTED in SQL from the generator's
    // independently resolved per-link rows (urljoin + the normalize twin),
    // so counts, distincts, and the top-anchor tiebreak are all verified
    // as arithmetic, not compared against a dumped result
    "q_warc_anchors" ->
      """WITH al AS (
        |  SELECT url, page, src_host, anchor
        |  FROM read_parquet('/root/repo/src/test/resources/expected/warc_anchor_links.parquet')),
        |tot AS (
        |  SELECT url, COUNT(*) AS n_links, COUNT(DISTINCT page) AS n_pages,
        |         COUNT(DISTINCT src_host) AS n_hosts
        |  FROM al GROUP BY url),
        |ac AS (SELECT url, anchor, COUNT(*) AS cnt FROM al GROUP BY url, anchor),
        |mx AS (SELECT url, COUNT(*) AS n_anchors, MAX(cnt) AS top_anchor_n
        |       FROM ac GROUP BY url),
        |best AS (
        |  SELECT ac.url, MIN(ac.anchor) AS top_anchor
        |  FROM ac JOIN mx ON ac.url = mx.url AND ac.cnt = mx.top_anchor_n
        |  GROUP BY ac.url)
        |SELECT tot.url, tot.n_links, tot.n_pages, tot.n_hosts,
        |       mx.n_anchors, best.top_anchor, mx.top_anchor_n
        |FROM tot JOIN mx ON tot.url = mx.url JOIN best ON tot.url = best.url
        |ORDER BY tot.url""".stripMargin,
    "q_warc_redirects" ->
      """SELECT from_url, to_url, status
        |FROM read_parquet('/root/repo/src/test/resources/expected/warc_redirects.parquet')
        |ORDER BY from_url""".stripMargin,
    // the bounded chain-follow RECOMPUTED as a recursive CTE over the
    // expected redirect map — same hop cap, same terminal rule (a head
    // that is no redirect source), loops come back unresolved
    "q_warc_redirect_chains" ->
      s"""WITH RECURSIVE r AS (
        |  SELECT DISTINCT from_url, to_url
        |  FROM read_parquet('/root/repo/src/test/resources/expected/warc_redirects.parquet')),
        |chain(src, cur, hops) AS (
        |  SELECT from_url, to_url, 1 FROM r
        |  UNION ALL
        |  SELECT c.src, r.to_url, c.hops + 1
        |  FROM chain c JOIN r ON c.cur = r.from_url
        |  WHERE c.hops < ${graft.ops.Queries.RedirectMaxHops}),
        |terminal AS (
        |  SELECT src, cur, hops FROM chain
        |  WHERE cur NOT IN (SELECT from_url FROM r))
        |SELECT u.url, COALESCE(t.cur, '') AS final_url,
        |       CAST(COALESCE(t.hops, 0) AS INT) AS hops,
        |       t.cur IS NULL AS unresolved
        |FROM (SELECT DISTINCT from_url AS url FROM r) u
        |LEFT JOIN terminal t ON u.url = t.src
        |ORDER BY url""".stripMargin,
    // born-digital text extraction: expected lines computed by the
    // independent pure-Python content-stream interpreter twin
    // (tools/gen_pdftext_fixture.py) under the same documented line rules
    "q_pdf_text" ->
      """SELECT name, page_index, line_index, y, text
        |FROM read_parquet('/root/repo/src/test/resources/expected/pdf_text.parquet')
        |ORDER BY name, page_index, line_index""".stripMargin,
    // subset vector-PDF rasterization: expected pixel digests rendered by
    // the independent pure-Python twin (tools/gen_pdfraster_fixture.py)
    "q_pdf_raster" ->
      """SELECT name, page_index, width, height, pixel_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/pdf_raster.parquet')
        |ORDER BY name, page_index""".stripMargin,
    // classical layout analysis (XY-cut blocks in reading order + line /
    // component / stroke statistics) segmented by an independent Python
    // twin over pixel-identical renders (pixel_sha pinned by q_pdf_raster)
    "q_page_segment" ->
      """SELECT name, page_index, block_idx, x0, y0, x1, y1,
        |  n_lines, n_cc, ink_px, straight_px, script
        |FROM read_parquet('/root/repo/src/test/resources/expected/page_segment.parquet')
        |ORDER BY name, page_index, block_idx""".stripMargin,
    // end-to-end OCR spans recognized by the twin's mirrored phase search
    // over pixel-identical renders (every planted line recovered verbatim,
    // scrawl/fill scenes pinned as unrecognized)
    "q_page_ocr" ->
      """SELECT name, page_index, block_idx, line_idx, x0, y0, x1, y1,
        |  iscale, kind, text
        |FROM read_parquet('/root/repo/src/test/resources/expected/page_ocr.parquet')
        |ORDER BY name, page_index, block_idx, line_idx""".stripMargin,
    // exact integer audio features computed by the generator twin from the
    // sample arrays BEFORE they were framed as RIFF — the JVM decode path
    // is verified against values that never touched a WAV parser
    "q_audio_features" ->
      """SELECT name, channels, sample_rate, frames, duration_us,
        |  peak, energy, zero_crossings, pcm_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/audio_features.parquet')
        |ORDER BY name""".stripMargin,
    "q_audio_windows" ->
      """SELECT name, win_idx, n_frames, energy, zero_crossings
        |FROM read_parquet('/root/repo/src/test/resources/expected/audio_windows.parquet')
        |ORDER BY name, win_idx""".stripMargin,
    // 16k-mono resample pinned by the twin, which downmixed + interpolated
    // the SAME integer sample arrays before they were framed as WAV — the
    // 16 kHz sources double as identity checks (out_sha == pcm_sha)
    "q_audio_resample" ->
      """SELECT name, src_rate, src_channels, out_frames, out_peak,
        |  out_energy, out_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/audio_resample.parquet')
        |ORDER BY name""".stripMargin,
    // VAD segments RECOMPUTED in DuckDB as a gaps-and-islands query over
    // the same per-window fixture q_audio_windows is hash-checked against:
    // voiced = energy > n_frames*250000; a new island starts when the
    // previous voiced window is more than 3 back (gap > 2 bridged windows)
    "q_audio_vad" ->
      """WITH v AS (
        |  SELECT name, win_idx, energy
        |  FROM read_parquet('/root/repo/src/test/resources/expected/audio_windows.parquet')
        |  WHERE energy > n_frames * 250000),
        |s AS (
        |  SELECT name, win_idx, energy,
        |    CASE WHEN lag(win_idx) OVER (PARTITION BY name ORDER BY win_idx) IS NULL
        |      OR win_idx - lag(win_idx) OVER (PARTITION BY name ORDER BY win_idx) > 3
        |      THEN 1 ELSE 0 END AS brk
        |  FROM v),
        |g AS (
        |  SELECT name, win_idx, energy,
        |    SUM(brk) OVER (PARTITION BY name ORDER BY win_idx) AS seg
        |  FROM s)
        |SELECT name, CAST(seg - 1 AS INT) AS seg_idx,
        |  MIN(win_idx) AS start_win, MAX(win_idx) AS end_win,
        |  COUNT(*) AS n_voiced, CAST(SUM(energy) AS BIGINT) AS sum_energy
        |FROM g GROUP BY name, seg
        |ORDER BY name, seg_idx""".stripMargin,
    // per-image hashes pinned by the Python twin; the nearest neighbour is
    // RECOMPUTED in DuckDB with its own hex cast + xor + bit_count
    "q_image_phash" ->
      """WITH h AS (
        |  SELECT name, phash
        |  FROM read_parquet('/root/repo/src/test/resources/expected/image_phash.parquet')),
        |d AS (
        |  SELECT a.name, a.phash, b.name AS o_name,
        |    bit_count(xor(CAST('0x' || a.phash AS BIGINT),
        |                  CAST('0x' || b.phash AS BIGINT))) AS dist
        |  FROM h a JOIN h b ON a.name <> b.name),
        |m AS (SELECT name, phash, MIN(dist) AS nn_dist FROM d GROUP BY name, phash),
        |b AS (SELECT d.name, MIN(d.o_name) AS nn_name
        |      FROM d JOIN m ON d.name = m.name AND d.dist = m.nn_dist
        |      GROUP BY d.name)
        |SELECT m.name, m.phash, b.nn_name, CAST(m.nn_dist AS INT) AS nn_dist,
        |  m.nn_dist <= 10 AS near_dup
        |FROM m JOIN b ON m.name = b.name
        |ORDER BY m.name""".stripMargin,
    // both engines perturb the same recognized lines and run INDEPENDENT
    // Levenshtein implementations — exact integer edit counts must agree
    "q_ocr_cer" ->
      """WITH o AS (
        |  SELECT name, page_index, block_idx, line_idx, text
        |  FROM read_parquet('/root/repo/src/test/resources/expected/page_ocr.parquet')
        |  WHERE kind = 'text'),
        |h AS (
        |  SELECT name, page_index, block_idx, line_idx, text AS ref,
        |    CASE WHEN (block_idx + line_idx) % 3 = 0
        |         THEN 'X' || substr(text, 2) || ' Z' ELSE text END AS hyp
        |  FROM o)
        |SELECT name, page_index, block_idx, line_idx, ref, hyp,
        |  length(ref) AS ref_len, levenshtein(ref, hyp) AS edits,
        |  CAST(levenshtein(ref, hyp) AS DOUBLE) / length(ref) AS cer
        |FROM h ORDER BY name, page_index, block_idx, line_idx""".stripMargin,
    // the permutation verified through order statistics per shard, the
    // assignment recomputed with DuckDB's hex cast + arg_min/arg_max
    "q_shuffle_shard" ->
      """WITH a AS (
        |  SELECT doc_id, md5('shuf-' || CAST(doc_id AS VARCHAR)) AS rk FROM documents),
        |s AS (
        |  SELECT doc_id, rk,
        |    CAST(CAST('0x' || substr(rk, 1, 8) AS BIGINT) % 8 AS INT) AS shard
        |  FROM a)
        |SELECT shard, COUNT(*) AS n_docs, arg_min(doc_id, rk) AS first_doc,
        |  arg_max(doc_id, rk) AS last_doc, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // real per-frame decode: expectations computed by the independent
    // pure-Python writer (tools/gen_video_fixture.py) from the raw pattern
    // arrays BEFORE PNG encoding — a green row proves the JVM decoded the
    // sampled frame's actual bytes
    "q_video_decode" ->
      """SELECT name, ts_ms, frame_idx, width, height, pixel_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/video_decode.parquet')
        |ORDER BY name, ts_ms""".stripMargin,
    "q_image_decode" ->
      """SELECT name, width, height, pixel_sha, uri_sha, n_bytes
        |FROM read_parquet('/root/repo/src/test/resources/expected/image_decode.parquet')
        |ORDER BY name""".stripMargin,
    "q_image_features" ->
      """SELECT name, width, height, mean_r, mean_g, mean_b
        |FROM read_parquet('/root/repo/src/test/resources/expected/image_decode.parquet')
        |ORDER BY name""".stripMargin,
    "q_pdf_pages" ->
      """SELECT name, page_index, width, height, pixel_sha
        |FROM read_parquet('/root/repo/src/test/resources/expected/pdf_pages.parquet')
        |ORDER BY name, page_index""".stripMargin,
    "q_embed_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5)
        |SELECT q_id, vec_id, round(cos, 4) AS cos4, CAST(rn AS INT) AS rn FROM (
        | SELECT q_id, c.vec_id AS vec_id, list_cosine_similarity(qv, v) AS cos,
        | row_number() OVER (PARTITION BY q_id ORDER BY list_cosine_similarity(qv, v) DESC, c.vec_id) AS rn
        | FROM c, q) t WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // Fixture-backed oracles. pipeline_eval.parquet is derived INDEPENDENTLY
    // (tools/gen_eval_fixture.py executes the reference's own normalization /
    // repetition / xml / tag-strip functions plus pure-Python Levenshtein and
    // BLEU over the same synthesized pairs); pipeline_extract.parquet is the
    // committed regression golden whose underlying operators are covered by
    // the reference-derived goldens in src/test/resources/goldens (FIXTURES.md).
    "pipeline_eval" ->
      """SELECT example_id, main_language, document_type, nls, bleu, repetition, is_empty
        |FROM read_parquet('/root/repo/src/test/resources/expected/pipeline_eval.parquet')
        |ORDER BY example_id""".stripMargin,
    "pipeline_eval_grouped" ->
      """SELECT coalesce(main_language, '(all)') AS language_g,
        |       coalesce(document_type, '(all)') AS type_g,
        |       round(100.0 * SUM(CAST(round(nls * 1000000) AS BIGINT)) / (1000000.0 * COUNT(*)), 1) AS nls_pct,
        |       round(100.0 * SUM(CAST(round(bleu * 1000000) AS BIGINT)) / (1000000.0 * COUNT(*)), 1) AS bleu_pct,
        |       round(100.0 * SUM(repetition) / COUNT(*), 1) AS repetition_pct,
        |       round(100.0 * SUM(is_empty) / COUNT(*), 1) AS is_empty_pct,
        |       COUNT(*) AS n
        |FROM read_parquet('/root/repo/src/test/resources/expected/pipeline_eval.parquet')
        |GROUP BY GROUPING SETS ((main_language), (document_type), (main_language, document_type))
        |ORDER BY language_g, type_g""".stripMargin,
    "pipeline_extract" ->
      """SELECT doc_id, "order", kind, media_ref, text
        |FROM read_parquet('/root/repo/src/test/resources/expected/pipeline_extract.parquet')
        |ORDER BY doc_id, "order"""".stripMargin,
    "q_embed_ivf_fixed" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id >= 5 AND vec_id < ${5 + Queries.EmbedIvfCentroids}),
        |cand AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |assigned AS (SELECT vec_id, v, cent_id FROM (
        |  SELECT cand.vec_id, cand.v, cents.cent_id,
        |    row_number() OVER (PARTITION BY cand.vec_id
        |      ORDER BY list_cosine_similarity(cand.v, cents.cv) DESC, cents.cent_id ASC) AS arn
        |  FROM cand, cents) t WHERE arn = 1),
        |probes AS (SELECT q_id, qv, cent_id FROM (
        |  SELECT q.q_id, q.qv, cents.cent_id,
        |    row_number() OVER (PARTITION BY q.q_id
        |      ORDER BY list_cosine_similarity(q.qv, cents.cv) DESC, cents.cent_id ASC) AS prn
        |  FROM q, cents) t WHERE prn <= ${Queries.EmbedIvfProbes})
        |SELECT q_id, vec_id, round(cos, 4) AS cos4, CAST(rn AS INT) AS rn FROM (
        |  SELECT probes.q_id AS q_id, assigned.vec_id AS vec_id,
        |    list_cosine_similarity(probes.qv, assigned.v) AS cos,
        |    row_number() OVER (PARTITION BY probes.q_id
        |      ORDER BY list_cosine_similarity(probes.qv, assigned.v) DESC, assigned.vec_id ASC) AS rn
        |  FROM probes JOIN assigned ON assigned.cent_id = probes.cent_id) t
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,
    // Fixture-backed oracles from the independent pure-Python twin
    // (tools/gen_ivf_fixture.py): same documented integer-hash fixture and
    // seeded k-means, plain-loop IEEE arithmetic — bit-identical by
    // construction, derived without executing any Scala.
    "q_embed_ivf_kmeans" ->
      """SELECT q_id, vec_id, cos4, rn
        |FROM read_parquet('/root/repo/src/test/resources/expected/ivf_kmeans.parquet')
        |ORDER BY q_id, rn""".stripMargin,
    "q_ann_recall" ->
      """SELECT method, scanned_frac, recall3
        |FROM read_parquet('/root/repo/src/test/resources/expected/ann_recall.parquet')
        |ORDER BY method""".stripMargin,
    "q_simhash" -> simhashOracle,
    "q_simhash_pairs" -> simhashPairsOracle,
    "q_embed_neardup" -> embedNearDupOracle,
    "q_fingerprint" ->
      """SELECT doc_id,
        | CASE WHEN length(text) = 0 THEN 0
        |      ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(1, length(text) + 1),
        |               i -> CAST(unicode(substring(text, i, 1)) AS BIGINT))),
        |             (h, c) -> (h * 31 + c) % 4294967296)
        | END AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        | abs(approx_count_distinct(user_id) - COUNT(DISTINCT user_id)) <= 0.05 * COUNT(DISTINCT user_id) AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_embed_lsh" -> (embedBitsCtes +
      """,
        |bk AS (SELECT vec_id, bits,
        |         list_reduce(list_prepend(0, list_slice(bits, 1, 8)), (acc, x) -> acc * 2 + x) AS bucket
        |       FROM b)
        |SELECT vec_id, bucket, count(*) OVER (PARTITION BY bucket) AS bucket_n,
        |       array_to_string(bits, '') AS sig
        |FROM bk ORDER BY vec_id""".stripMargin),
    "q_embed_lsh_topk" -> (embedBitsCtes +
      s""",
        |pk AS (SELECT vec_id, ${(0 until Queries.EmbedLshPlanes / 32).map(k =>
             s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(bits, ${k * 32 + 1}, ${k * 32 + 32})), (a, b) -> (a << 1) | b) AS s$k").mkString(", ")} FROM b),
        |q AS (SELECT vec_id AS q_id, ${(0 until Queries.EmbedLshPlanes / 32).map(k => s"s$k AS q$k").mkString(", ")} FROM pk WHERE vec_id < 5),
        |c AS (SELECT * FROM pk WHERE vec_id >= 5),
        |h AS (SELECT q_id, c.vec_id AS vec_id,
        |        ${(0 until Queries.EmbedLshPlanes / 32).map(k => s"bit_count(xor(s$k, q$k))").mkString(" + ")} AS ham
        |      FROM c, q),
        |s AS (SELECT q_id, vec_id FROM (
        |        SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, vec_id ASC) AS hrn FROM h)
        |      WHERE hrn <= ${Queries.EmbedLshScanM}),
        |qv AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5)
        |SELECT q_id, vec_id, round(cos, 4) AS cos4, CAST(rn AS INT) AS rn FROM (
        |  SELECT s.q_id AS q_id, s.vec_id AS vec_id, list_cosine_similarity(qv.qv, cv.v) AS cos,
        |    row_number() OVER (PARTITION BY s.q_id ORDER BY list_cosine_similarity(qv.qv, cv.v) DESC, s.vec_id) AS rn
        |  FROM s JOIN qv ON qv.q_id = s.q_id JOIN e cv ON cv.vec_id = s.vec_id) t
        |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)
  )

  /** Sign-bit CTEs shared by the embedding-LSH oracles — generated from the
    * same plane constants as [[Queries.signBitsExpr]].
    */
  private val embedBitsCtes: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS (SELECT vec_id, list_transform(range(0, ${Queries.EmbedLshPlanes}), p ->
       |        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(0, 64), i -> v[i + 1] * (((2654435761 * (p * 64 + i + 1)) % 2147483647) % 1024 - 512))),
       |          (acc, e2) -> acc + e2) > 0 THEN 1 ELSE 0 END) AS bits
       |      FROM e)""".stripMargin

  /** Shared simhash CTE chain ending in `sh(doc_id, simhash)`. */
  private val simhashShCtes: String = {
    val bitSums = (0 until 64).map { i =>
      val d = i / 4; val p = 1 << (i % 4)
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substring(h, ${d + 1}, 1)) - 1) // $p) % 2 = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(", ")
    val hexConcat = (0 until 16).map { d =>
      val digit = (0 until 4)
        .map(bp => s"(CASE WHEN s${4 * d + bp} > 0 THEN ${1 << bp} ELSE 0 END)").mkString(" + ")
      s"lower(to_hex($digit))"
    }.mkString(" || ")
    s""", words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM all_docs),
       |wh AS (SELECT doc_id, substring(md5(w), 1, 16) AS h FROM words),
       |s AS (SELECT doc_id, $bitSums FROM wh GROUP BY doc_id),
       |sh AS (SELECT doc_id, $hexConcat AS simhash FROM s)""".stripMargin
  }

  /** SimHash near-dup pairs: pigeonhole 8-bit bands + exact bit distance. */
  private val simhashPairsOracle: String = {
    val hexDigits = (0 until 16).map { d =>
      s"bit_count(xor(strpos('0123456789abcdef', substring(sa, ${d + 1}, 1)) - 1, " +
        s"strpos('0123456789abcdef', substring(sb, ${d + 1}, 1)) - 1))"
    }.mkString(" + ")
    val bandUnion = (0 until 8).map(k =>
      s"SELECT doc_id, simhash, $k AS band_id, substring(simhash, ${k * Queries.SimhashBandBits + 1}, ${Queries.SimhashBandBits}) AS bv FROM sh")
      .mkString(" UNION ALL ")
    dupsCte + simhashShCtes +
      s""",
         |bands AS ($bandUnion),
         |capped AS (SELECT doc_id, simhash, band_id, bv FROM (
         |    SELECT doc_id, simhash, band_id, bv, count(*) OVER (PARTITION BY band_id, bv) AS bsz FROM bands)
         |  WHERE bsz <= ${Queries.MinhashBucketCap}),
         |pr AS (SELECT DISTINCT x.doc_id AS a, x.simhash AS sa, y.doc_id AS b, y.simhash AS sb
         |       FROM capped x JOIN capped y
         |       ON x.band_id = y.band_id AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST($hexDigits AS BIGINT) AS hamming FROM pr
         |WHERE $hexDigits <= ${Queries.SimhashMaxHamming}
         |ORDER BY a, b""".stripMargin
  }

  /** Embedding near-dup oracle: same planted copies, banding, Hamming gate,
    * exact cosine.
    */
  private val embedNearDupOracle: String = {
    val bandUnion = (0 until Queries.EmbedLshPlanes / 8).map(k =>
      s"SELECT vec_id, bits, $k AS band_id, " +
        s"list_reduce(list_prepend(0, list_slice(bits, ${8 * k + 1}, ${8 * k + 8})), (acc, x) -> acc * 2 + x) AS bv FROM b")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |e AS (SELECT vec_id, v FROM e0
       |      UNION ALL
       |      SELECT vec_id + 10000 AS vid,
       |             list_transform(range(0, 64), i -> v[i + 1] * 1.02 + ((i * 7 + vec_id) % 11 - 5) * 0.002) AS v
       |      FROM e0 WHERE vec_id % 10 = 0),
       |b AS (SELECT vec_id, list_transform(range(0, ${Queries.EmbedLshPlanes}), p ->
       |        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(range(0, 64), i -> v[i + 1] * (((2654435761 * (p * 64 + i + 1)) % 2147483647) % 1024 - 512))),
       |          (acc, e2) -> acc + e2) > 0 THEN 1 ELSE 0 END) AS bits
       |      FROM e),
       |bands AS ($bandUnion),
       |capped AS (SELECT vec_id, bits, band_id, bv FROM (
       |    SELECT vec_id, bits, band_id, bv, count(*) OVER (PARTITION BY band_id, bv) AS bsz FROM bands)
       |  WHERE bsz <= ${Queries.MinhashBucketCap}),
       |pr AS (SELECT DISTINCT x.vec_id AS a, x.bits AS ba, y.vec_id AS b, y.bits AS bb
       |       FROM capped x JOIN capped y
       |       ON x.band_id = y.band_id AND x.bv = y.bv AND x.vec_id < y.vec_id),
       |gated AS (SELECT a, b FROM pr
       |  WHERE list_reduce(list_prepend(0, list_transform(range(0, ${Queries.EmbedLshPlanes}),
       |          j -> CASE WHEN ba[j + 1] = bb[j + 1] THEN 0 ELSE 1 END)), (acc, x) -> acc + x)
       |        <= ${Queries.EmbedNearDupMaxHamming})
       |SELECT a, b, round(cos, 4) AS cos4 FROM (
       |  SELECT a, b, list_cosine_similarity(va.v, vb.v) AS cos
       |  FROM gated JOIN e va ON va.vec_id = a JOIN e vb ON vb.vec_id = b) t
       |WHERE cos >= 0.99 ORDER BY a, b""".stripMargin
  }

  /** SimHash oracle generated from the same bit/digit layout as
    * [[Queries.simhash]].
    */
  private val simhashOracle: String =
    dupsCte + simhashShCtes + "\nSELECT doc_id, simhash FROM sh ORDER BY doc_id"
}
