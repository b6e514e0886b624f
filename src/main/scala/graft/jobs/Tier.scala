package graft.jobs

import graft.functions.ChurroFunctions
import graft.layout.{ExtractConfig, GlyphOcr}
import graft.media.{GlyphFont, ImageDecode}
import graft.metrics.Profile
import graft.model.Doc
import graft.ops.{AnnKMeans, CacheTracker, Queries}
import graft.pipeline.{DocsGen, Extract}
import graft.storage.Snapshots
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Scale tiers: one operator family at 10–100× catalog size, on a
  * deterministic synthetic input, through the shipped code, with the
  * family's own self-checks. The sf0.1 catalog's noise floor hides plan
  * regressions that these sizes show.
  *
  * One protocol ([[timed]]): inputs are built off the clock; each timed leg
  * runs one untimed warm pass, then reports the faster of two timed passes,
  * whose results must agree. Sizes other than `rows` keep fixed ratios:
  *  - rank: hosts = rows/4;
  *  - crawl: [[CrawlPagesPerFile]] pages per file, files = rows/200;
  *  - ann: [[AnnPerCluster]] vectors per cluster, clusters = rows/625,
  *    [[AnnQueries]] queries, probes = clusters/4.
  *
  * Run: `graft.jobs.Tier <family> [rows] [cores]` → one JSON line
  * {tier, rows, cores, ...family fields}.
  */
object Tier {

  /** family → (default rows, fields of one run). */
  private val Families: Map[String, (Long, (SparkSession, Long) => Seq[(String, Any)])] = Map(
    "ann" -> ((160000L, ann _)),
    "bpe" -> ((500000L, bpe _)),
    "crawl" -> ((51200L, crawl _)),
    "dedup" -> ((500000L, dedup _)),
    "extract" -> ((50000L, extract _)),
    "heavy_hitters" -> ((2000000L, heavyHitters _)),
    "lm" -> ((1000000L, lm _)),
    "ocr" -> ((5000L, ocr _)),
    "rank" -> ((4000000L, rank _)),
    "substr" -> ((500000L, substr _)),
    "tfidf" -> ((500000L, tfidf _)))

  private val Usage =
    s"usage: Tier <${Families.keys.toSeq.sorted.mkString("|")}> [rows] [cores]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 1 && args.length <= 3 && Families.contains(args(0)), Usage)
    val rows = args.lift(1).map(_.toLong).getOrElse(Families(args(0))._1)
    val spark = ExtractJob.session(args.lift(2).getOrElse(ExtractJob.DefaultCores))
    try println(run(spark, args(0), rows)) finally spark.stop()
  }

  /** One tier run of `family` at `rows`; returns its JSON line. */
  def run(spark: SparkSession, family: String, rows: Long): String = {
    val (_, fields) = Families.getOrElse(family, throw new IllegalArgumentException(Usage))
    Profile.json(Seq("tier" -> family, "rows" -> rows, "cores" -> spark.sparkContext.defaultParallelism) ++
      fields(spark, rows))
  }

  /** One untimed warm pass (JIT, codegen), then the faster of two timed
    * passes; the two must agree on `key` of their results (timings taken
    * inside a pass are not part of the key). Caches the pass tracked are
    * released after each pass, so every pass does the full work.
    */
  private def timed[T](pass: => T, key: T => Any = (t: T) => t): (Double, T) = {
    def once(): (Double, T) = {
      val t0 = System.nanoTime()
      val r = pass
      val sec = (System.nanoTime() - t0) / 1e9
      Queries.releaseCaches()
      (sec, r)
    }
    once()
    val (a, b) = (once(), once())
    require(key(a._2) == key(b._2), s"repeat pass diverged: ${a._2} vs ${b._2}")
    if (a._1 <= b._1) a else b
  }

  /** The family's input, persisted and counted off the clock. A plain
    * persist, not [[CacheTracker]]: [[timed]] releases the tracked caches
    * between passes.
    */
  private def materialized(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  private def par(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  // ---- word corpora ---------------------------------------------------------

  private val WordsPerDoc = 40

  /** `k` words of document `id`: word j is the SQL expression `word` over
    * (id, j). No driver loop and no files, so any size synthesizes in
    * parallel.
    */
  private def words(k: Int, word: String): String =
    s"transform(sequence(0, ${k - 1}), j -> $word)"

  /** `n` (doc_id, text) documents of [[WordsPerDoc]] space-joined words. */
  private def corpus(spark: SparkSession, n: Long, word: String): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      expr(s"concat_ws(' ', ${words(WordsPerDoc, word)})").as("text"))

  /** Family-chain word: documents form families of [[FamilySize]]; member
    * m of a family mutates the first m of its words, so adjacent members
    * differ by one word (near-dups the banding must catch) while distant
    * members drift apart — a similarity CHAIN of diameter ~[[FamilySize]],
    * the structure that forces multi-round label propagation (star-shaped
    * dup clusters converge in 1–2 rounds regardless). For substring dedup
    * the shared runs are the adversarial load: most of every doc is erased.
    */
  private val FamilySize = 16
  private val FamilyWord = {
    val vocab = (0 until 64).map(i => s"w${i}x").mkString("array('", "','", "')")
    s"""element_at($vocab,
       |    pmod(hash(CAST(id DIV $FamilySize AS INT), j,
       |              IF(j < id % $FamilySize, 1, 0)), 64) + 1)""".stripMargin
  }

  /** Zipf-headed word: h = hash(id, j) even → one of 4 head tokens (50% of
    * all instances), odd → one of [[TailVocab]] tail tokens (~200 instances
    * each at 500k docs) — a vocabulary bounded regardless of row count.
    */
  private val TailVocab = 50000
  private val ZipfWord =
    s"""IF(pmod(hash(CAST(id AS INT), j), 2) = 0,
       |     element_at(array('the','of','and','to'), pmod(hash(CAST(id AS INT), j, 1), 4) + 1),
       |     concat('t', pmod(hash(CAST(id AS INT), j, 2), $TailVocab)))""".stripMargin

  /** Retrieval word: h ≡ 0 (mod 16) → one of the catalog query terms (~6%
    * of instances, the regime the map-side term filter exists for),
    * otherwise a tail token.
    */
  private val QueryTerms = Queries.TfidfQueries.map(_._2).distinct
  private val TfidfWord =
    s"""IF(pmod(hash(CAST(id AS INT), j), 16) = 0,
       |     element_at(array(${QueryTerms.map("'" + _ + "'").mkString(",")}),
       |                pmod(hash(CAST(id AS INT), j, 1), ${QueryTerms.length}) + 1),
       |     concat('t', pmod(hash(CAST(id AS INT), j, 2), $TailVocab)))""".stripMargin

  // ---- dedup family ---------------------------------------------------------

  /** shingle → minhash → banded pairs, then connected components with the
    * loop's per-round changed-label counts and wall times: the datapoint
    * behind the O(log diameter) claim.
    */
  private def dedup(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val docs = materialized(corpus(spark, rows, FamilyWord).repartition(par(spark)))
    val pairs = Queries.minhashPairsCore(Queries.minhashSigCoreFrom(Queries.shingledFrom(docs)))
      .select(col("a"), col("b"))
    val (pairsSec, nPairs) = timed(pairs.count())
    // a local checkpoint, not a persist: dedupComponentsFrom tracks its
    // input, and a tracked cache would be dropped between passes
    val edges = pairs.localCheckpoint()
    val (ccSec, (changed, stats, roundMs)) = timed({
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val comp = Queries.dedupComponentsFrom(spark, edges, (_, ch, ms) => rounds += ((ch, ms)))
      val s = comp.agg(count(lit(1)), countDistinct(col("component")),
        max(col("n_members"))).collect()(0)
      (rounds.map(_._1).toSeq, s, rounds.map(_._2).toSeq)
    }, (r: (Seq[Long], Row, Seq[Long])) => (r._1, r._2))
    docs.unpersist()
    Seq("docs" -> rows, "pairs" -> nPairs, "pairs_sec" -> pairsSec,
      "rounds" -> changed.length, "round_ms" -> roundMs, "changed" -> changed,
      "cc_sec" -> ccSec, "nodes" -> stats.getLong(0), "components" -> stats.getLong(1),
      "max_component" -> stats.getLong(2), "total_sec" -> (pairsSec + ccSec))
  }

  /** Exact-substring dedup over the family-chain corpus: heavy natural
    * 10-gram duplication (every run shared across a family), so a large
    * dup-gram set, wide coverage explosion, and most of every doc erased.
    */
  private def substr(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val docs = materialized(corpus(spark, rows, FamilyWord).repartition(par(spark)))
    val (sec, stats) = timed(Queries.substringDedupFrom(docs)
      .agg(count(lit(1)), sum(col("n_kept"))).collect()(0))
    docs.unpersist()
    Seq("docs" -> rows, "grams" -> rows * (WordsPerDoc - Queries.SubstrGramLen + 1),
      "surviving_docs" -> stats.getLong(0), "tokens_total" -> rows * WordsPerDoc,
      "tokens_kept" -> (if (stats.isNullAt(1)) 0L else stats.getLong(1)),
      "sec" -> sec, "docs_per_sec" -> math.round(rows / sec))
  }

  // ---- tokenizer and LM filter ----------------------------------------------

  /** BPE training: the corpus-scale cost is ONE word-count pass, and the
    * merge rounds run over the bounded distinct-word table, so scaling
    * docs 10× scales the corpus pass while the rounds stay flat.
    */
  private def bpe(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val docs = materialized(corpus(spark, rows, ZipfWord))
    val (_, (merges, vocab, corpusMs, roundsMs)) = timed({
      var vocab = 0L
      var corpusMs = 0L
      var roundsMs = 0L
      val m = Queries.bpeMergesFrom(spark, docs, (step, detail, ms) =>
        if (step == 0) { vocab = detail; corpusMs = ms } else roundsMs += ms).collect().toSeq
      (m, vocab, corpusMs, roundsMs)
    }, (r: (Seq[Row], Long, Long, Long)) => (r._1, r._2))
    docs.unpersist()
    require(merges.length == Queries.BpeMergeRounds,
      s"expected ${Queries.BpeMergeRounds} merges, got ${merges.length}")
    Seq("docs" -> rows, "vocab" -> vocab, "merges" -> merges.length,
      "corpus_pass_sec" -> corpusMs / 1000.0, "rounds_sec" -> roundsMs / 1000.0,
      "round_avg_sec" -> roundsMs / 1000.0 / merges.length)
  }

  /** Reference slice for the LM model: CONSTANT across tiers (the reference
    * corpus does not grow when the crawl does).
    */
  private val LmTrainDocs = 20000L

  /** LM quality scoring: the model trains once from the bounded slice and
    * broadcasts, so a 10× corpus pays 10× row-local work and nothing else.
    * The scored corpus carries a 1-in-97 out-of-vocabulary gibberish plant
    * (md5-fragment tokens); every plant must score the exact all-backoff
    * floor of 0 with zero model-bigram hits, every clean doc above it.
    */
  private def lm(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val train = corpus(spark, LmTrainDocs, ZipfWord)
    val clean = corpus(spark, rows, ZipfWord)
    val plants = clean.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + rows).as("doc_id"),
        expr("array_join(transform(split(text, ' '), w -> substring(md5(w), 1, 6)), ' ')")
          .as("text"))
    val docs = materialized(clean.unionAll(plants).repartition(par(spark)))
    val total = docs.count()
    val (sec, agg) = timed(Queries.lmQualityFrom(train, docs).agg(
      sum(when(col("doc_id") >= rows && (col("mean_p_micro") > 0 || col("bigram_hits") > 0), 1L)
        .otherwise(0L)),
      sum(when(col("doc_id") < rows && col("mean_p_micro") <= 0, 1L).otherwise(0L)),
      count(lit(1))).collect()(0))
    docs.unpersist()
    require(agg.getLong(0) == 0L, s"${agg.getLong(0)} plants scored above the backoff floor")
    require(agg.getLong(1) == 0L, s"${agg.getLong(1)} clean docs scored zero")
    require(agg.getLong(2) == total, s"scored ${agg.getLong(2)} of $total docs")
    Seq("docs" -> rows, "train_docs" -> LmTrainDocs,
      "model_bigrams" -> Queries.lmBigramModel(train).count(), "plants" -> (total - rows),
      "sec" -> sec, "docs_per_sec" -> math.round(total / sec))
  }

  // ---- retrieval and frequent items -------------------------------------------

  /** The catalog's filter-before-aggregate retrieval plan against the naive
    * inverted index (tf over EVERY (term, doc) pair, query terms joined
    * after) over a shared scoring core; both must return the same top-k.
    */
  private def tfidf(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    import spark.implicits._
    val docs = materialized(corpus(spark, rows, TfidfWord).repartition(par(spark)))
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val stats = toks.agg(count(lit(1)),
      sum(when(col("term").isin(QueryTerms: _*), 1L).otherwise(0L))).collect()(0)
    val (filteredSec, filtered) = timed(Queries.tfidfRankFrom(spark, docs).collect().toSeq)
    val (naiveSec, naive) = timed {
      val tfAll = CacheTracker.track(
        toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
          .join(broadcast(QueryTerms.toDF("term")), "term"))
      Queries.tfidfScoreAndRank(tfAll, rows).collect().toSeq
    }
    docs.unpersist()
    require(filtered == naive, "naive inverted-index result diverged from the filtered plan")
    Seq("docs" -> rows, "tokens" -> stats.getLong(0),
      "hit_frac" -> stats.getLong(1).toDouble / stats.getLong(0),
      "filtered_sec" -> filteredSec, "naive_sec" -> naiveSec)
  }

  private val HhKeysPerDoc = 8
  private val HhM = 16384
  private val HhK = 20

  /** Misra-Gries top-k against the exact groupBy + top-k over a key space
    * that grows with the corpus. Each doc emits [[HhKeysPerDoc]] keys: ~1/3
    * go to one of 64 hot keys with TRIANGULAR weights (hot key i ∝ i+1, from
    * idx uniform in [0, 2080) via i = ⌊(√(8·idx+1) − 1)/2⌋), so adjacent hot
    * keys sit ~N/(3·2080) apart, above the sketch's ε = N/(m+1); the rest
    * are per-instance-unique tail keys. Separation > ε makes a top-k set
    * mismatch a real failure, and every estimate must be an underestimate
    * within ε.
    */
  private def heavyHitters(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val docs = materialized(spark.range(rows).select(expr(words(HhKeysPerDoc,
      s"""IF(pmod(hash(CAST(id AS INT), j), 3) = 0,
         |     concat('h', CAST(floor((sqrt(8 * pmod(hash(CAST(id AS INT), j, 1), 2080) + 1) - 1) / 2) AS INT)),
         |     concat('u', id * $HhKeysPerDoc + j))""".stripMargin)).as("ks"))
      .repartition(par(spark)))
    val nInstances = docs.select(sum(size(col("ks")))).collect()(0).getLong(0)
    def pairs(df: DataFrame): Seq[(String, Long)] =
      df.collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
    val (exactSec, exact) = timed(pairs(docs.select(explode(col("ks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(HhK)))
    // a merged sketch's estimates depend on merge order; its key set does not
    val (sketchSec, sketch) = timed(pairs(docs
      .agg(ChurroFunctions.heavy_hitters(col("ks"), HhM, HhK).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token"), col("h.cnt"))), (s: Seq[(String, Long)]) => s.map(_._1).toSet)
    val distinct = docs.select(explode(col("ks")).as("w"))
      .agg(countDistinct(col("w"))).collect()(0).getLong(0)
    docs.unpersist()
    val exactMap = exact.toMap
    val eps = nInstances.toDouble / (HhM + 1)
    // set equality FIRST: a sketch key outside the exact top-K has no
    // exactMap entry, so its error would read as its whole estimate
    require(exact.map(_._1).toSet == sketch.map(_._1).toSet,
      s"top-$HhK sets differ:\n exact=${exact.map(_._1).mkString(",")}\n sketch=${sketch.map(_._1).mkString(",")}")
    val maxErr = sketch.map { case (w, est) => math.abs(exactMap(w) - est) }.max
    require(maxErr <= eps, s"sketch estimate off by $maxErr > eps $eps")
    require(sketch.forall { case (w, est) => est <= exactMap(w) }, "sketch overestimated a key")
    Seq("docs" -> rows, "instances" -> nInstances, "distinct_keys" -> distinct,
      "exact_sec" -> exactSec, "sketch_sec" -> sketchSec, "topk_set_match" -> true,
      "max_abs_err" -> maxErr, "eps_bound" -> eps)
  }

  // ---- link authority -------------------------------------------------------

  /** The catalog's ten-iteration integer PageRank over a web-shaped host
    * graph: uniform sources, QUADRATICALLY skewed targets (host 0 absorbs
    * in-links from everywhere, inverse-CDF u² over a hash-derived u), self
    * edges dropped, distinct. Per round the loop shuffles the node table
    * once over cached never-reshuffled edges, so wall should grow
    * sub-linearly in edges until the contribution agg dominates.
    */
  private def rank(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val hosts = math.max(1L, rows / 4)
    val edges = spark.range(rows).select(
        expr(s"pmod(hash(id, 11), ${hosts}L)").as("src"),
        expr(s"CAST(pow(pmod(hash(id, 13), 1000000) / 1000000.0, 2.0) * $hosts AS BIGINT)")
          .as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    val (buildSec, nEdges) = timed(edges.count())
    val (rankSec, row) = timed(
      Queries.linkRankFrom(spark, edges).agg(sum(col("rank")), count(lit(1))).collect()(0))
    Seq("hosts" -> row.getLong(1), "edges" -> nEdges, "iters" -> Queries.RankIters,
      "build_sec" -> buildSec, "rank_sec" -> rankSec,
      "edge_iters_per_sec" -> math.round(nEdges.toDouble * Queries.RankIters / rankSec),
      "mass" -> (if (row.isNullAt(0)) 0L else row.getLong(0)))
  }

  // ---- ANN --------------------------------------------------------------------

  private val AnnPerCluster = 625
  private val AnnQueries = 100
  private val AnnTrainSample = 4096

  /** The trained-quantizer IVF search at 100× the oracle fixture: index
    * build (training + snapshot commit of the cent_id-partitioned posting
    * lists), partition-pruned search against the committed index, and
    * exact brute force; recall@3 against brute force and the scanned
    * fraction audited from the committed index.
    */
  private def ann(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val clusters = math.max(1L, rows / AnnPerCluster).toInt
    val probes = math.max(1, clusters / 4)
    val n = clusters * AnnPerCluster
    val cands = materialized(
      AnnKMeans.candidates(spark, n, AnnPerCluster).repartition(par(spark)))
    val qs = AnnKMeans.queries(spark, AnnQueries)
    def pairs(df: DataFrame): Set[(Int, Int)] =
      df.select(col("q_id"), col("vec_id")).collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val root = java.nio.file.Files.createTempDirectory("tier_ann").toFile
    try {
      var builds = 0 // each build commits a fresh index
      val (indexSec, _) = timed {
        builds += 1
        AnnKMeans.buildIndex(spark, cands, s"$root/$builds", clusters, AnnTrainSample)
          .map(_.toSeq).toSeq
      }
      val index = s"$root/$builds"
      val (searchSec, ivf) =
        timed(pairs(AnnKMeans.searchIndex(spark, index, qs, probes, AnnKMeans.TopK)))
      val (bfSec, bf) = timed(pairs(AnnKMeans.bfTop3(cands, qs)))
      // SUM over zero probe rows is NULL
      val scannedRow = AnnKMeans.probes(spark, qs, Snapshots.read(spark, s"$index/centroids", 1L), probes)
        .join(Snapshots.read(spark, s"$index/postings", 1L)
          .groupBy("cent_id").agg(count(lit(1)).as("csz")), "cent_id")
        .agg(sum("csz")).collect()(0)
      val scanned = if (scannedRow.isNullAt(0)) 0L else scannedRow.getLong(0)
      Seq("n" -> n, "clusters" -> clusters, "queries" -> AnnQueries, "probes" -> probes,
        "index_sec" -> indexSec, "search_sec" -> searchSec, "bf_sec" -> bfSec,
        "recall3" -> (ivf & bf).size.toDouble / bf.size,
        "scanned_frac" -> scanned.toDouble / (AnnQueries.toLong * n))
    } finally {
      cands.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  // ---- extraction -------------------------------------------------------------

  /** [[Extract.run]] over seeded [[DocsGen]] docs, 256 partitions at any
    * core count: the N and 4N legs of tools/scalingbench.sh read one input.
    */
  private def extract(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    import spark.implicits._
    val docs = materialized(DocsGen.docs(spark, rows, partitions = 256).toDF())
    val (sec, r) = timed(Extract.run(docs.as[Doc], ExtractConfig.Default)
      .agg(count(lit(1)), sum(size(col("spans")))).collect()(0))
    docs.unpersist()
    val (n, spans) = (r.getLong(0), r.getLong(1))
    require(n == rows, s"extracted $n of $rows docs")
    Seq("docs" -> n, "spans" -> spans, "sec" -> sec, "docs_per_sec" -> n / sec,
      "spans_per_sec" -> spans / sec)
  }

  // ---- crawl ------------------------------------------------------------------

  private val CrawlPagesPerFile = 200

  /** The crawl chain WarcIngestJob ships (WARC → HTTP unwrap → charset →
    * LENIENT DOM parse → main-content spans + outlinks, per-page
    * quarantine) over the synthetic crawl, whole files per task, counted
    * with no output write. The crawl is materialized once, untimed, and shared
    * across runs and JVMs (idempotent atomic-rename writes).
    */
  private def crawl(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    val files = math.max(1L, rows / CrawlPagesPerFile).toInt
    val root = s"/tmp/graft_crawlbench_${files}x$CrawlPagesPerFile"
    WarcIngestJob.materializeCrawl(spark,
      WarcIngestJob.Args(files = files, pagesPerFile = CrawlPagesPerFile, out = root))
    val paths = (0 until files).map(WarcIngestJob.filePath(root, _))
    val page = col("kind") =!= "link"
    val (sec, row) = timed(WarcIngestJob.pageRows(spark, paths).agg(
      sum(when(page && col("offset") === 0, 1L).otherwise(0L)),
      sum(when(page && col("offset") >= 0, 1L).otherwise(0L)),
      sum(when(!page, 1L).otherwise(0L))).collect()(0))
    val (pages, spans) = (row.getLong(0), row.getLong(1))
    Seq("files" -> files, "pages" -> pages, "spans" -> spans, "links" -> row.getLong(2),
      "sec" -> sec, "pages_per_sec" -> pages / sec, "spans_per_sec" -> spans / sec)
  }

  // ---- OCR --------------------------------------------------------------------

  private val OcrVocab = Vector(
    "TABLE", "SCAN", "MERGE", "BATCH", "QUERY", "INDEX", "SHARD", "JOIN",
    "GRAIN", "WOOL", "LEDGER", "MARKET", "RIVER", "STONE", "CLOCK", "WIRE")
  private val OcrW = 420
  private val OcrH = 560

  /** Planted text of page `id`, reading order: title, left column, right. */
  private def ocrLines(id: Long): Vector[String] = {
    def line(col: Int, k: Int): String = {
      val a = OcrVocab(((id * 31 + k * 7 + col * 13) % 16).toInt)
      val b = OcrVocab(((id * 17 + k * 3 + col * 5 + 1) % 16).toInt)
      s"$a $b"
    }
    // hyphenated, not spaced: at scale 3 a space cell plus a digit's blank
    // leading glyph column reaches the 24 px XY-cut threshold and the
    // title would split into two blocks for ids starting with '1'
    (s"PAGE-${id % 100000}" +: (0 until 8).map(line(0, _))) ++ (0 until 8).map(line(1, _))
  }.toVector

  /** Page `id` typeset into `rgb` (scale-3 title, two 8-line scale-2
    * columns): one buffer reused per task, because per-page allocation
    * doubles the memory traffic of a bandwidth-bound stage (BENCH.md §12).
    */
  private def ocrPage(rgb: Array[Byte], id: Long): ImageDecode.Decoded = {
    java.util.Arrays.fill(rgb, 0xFF.toByte)
    val page = ImageDecode.Decoded(OcrW, OcrH, rgb)
    val lines = ocrLines(id)
    GlyphFont.drawInto(page, lines.head, 20, 20, 3, (0, 0, 0))
    (0 until 8).foreach { k =>
      GlyphFont.drawInto(page, lines(1 + k), 20, 80 + 26 * k, 2, (0, 0, 0))
      GlyphFont.drawInto(page, lines(9 + k), 240, 80 + 26 * k, 2, (0, 0, 0))
    }
    page
  }

  /** The end-to-end OCR chain (XY-cut segmentation → line boxes →
    * [[GlyphOcr]] with pixel-exact re-render acceptance) on typeset pages;
    * every page's recognized text must equal its planted text, so the tier
    * counts only verified work (`mismatches` must be 0).
    */
  private def ocr(spark: SparkSession, rows: Long): Seq[(String, Any)] = {
    import spark.implicits._
    val (sec, (pages, lines, chars, bad)) = timed {
      val parts = spark.range(rows).repartition(par(spark)).mapPartitions { it =>
        var pages = 0L; var lines = 0L; var chars = 0L; var bad = 0L
        val buf = new Array[Byte](OcrW * OcrH * 3)
        it.foreach { id =>
          val texts = GlyphOcr.recognizePage(ocrPage(buf, id))
            .collect { case (_, _, l) if l.kind == "text" => l.text }
          pages += 1
          lines += texts.size
          chars += texts.map(_.length.toLong).sum
          if (texts != ocrLines(id)) bad += 1
        }
        Iterator.single((pages, lines, chars, bad))
      }.collect()
      (parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum, parts.map(_._4).sum)
    }
    require(bad == 0L, s"$bad pages misrecognized — the tier only counts verified work")
    Seq("pages" -> pages, "lines" -> lines, "chars" -> chars, "sec" -> sec,
      "pages_per_sec" -> pages / sec, "mismatches" -> bad)
  }
}
