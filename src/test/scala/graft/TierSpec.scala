package graft

import graft.jobs.Tier
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every scale-tier family runs through [[Tier.run]] at a small size on one
  * session: its own checks pass (a failed `require` throws), its JSON line
  * parses with exactly its family's fields, and no family leaves a conf
  * behind on the caller's session.
  *
  * Sizes are the smallest at which each family's premise holds:
  *  - heavy_hitters 20,000 docs: 160k key instances put adjacent hot keys
  *    ~26 counts apart against ε = 9.8, so the top-20 sets must match;
  *  - ann 2,500 vectors: 4 clusters, 1 probe (the 25% scan budget);
  *  - bpe 500 docs: a vocabulary wide enough for all 10 merge rounds;
  *  - crawl 400 pages: 2 WARC files, one per task;
  *  - dedup and substr 500 docs: ~31 families of 16 near-dup chain members;
  *  - extract 200 docs over the fixed 256 input partitions;
  *  - lm 500 docs (5 planted gibberish twins) against the fixed 20,000-doc
  *    reference slice;
  *  - rank 2,000 edge draws over 500 hosts; tfidf 500 docs; ocr 40 pages.
  */
class TierSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private var confBefore = Map.empty[String, String]

  override def beforeAll(): Unit = confBefore = spark.conf.getAll

  override def afterAll(): Unit = spark.stop()

  private val common = Set("tier", "rows", "cores")

  private val families: Seq[(String, Long, Set[String])] = Seq(
    ("ann", 2500L, Set("n", "clusters", "queries", "probes", "index_sec", "search_sec",
      "bf_sec", "recall3", "scanned_frac")),
    ("bpe", 500L, Set("docs", "vocab", "merges", "corpus_pass_sec", "rounds_sec",
      "round_avg_sec")),
    ("crawl", 400L, Set("files", "pages", "spans", "links", "sec", "pages_per_sec",
      "spans_per_sec")),
    ("dedup", 500L, Set("docs", "pairs", "pairs_sec", "rounds", "round_ms", "changed",
      "cc_sec", "nodes", "components", "max_component", "total_sec")),
    ("extract", 200L, Set("docs", "spans", "sec", "docs_per_sec", "spans_per_sec")),
    ("heavy_hitters", 20000L, Set("docs", "instances", "distinct_keys", "exact_sec",
      "sketch_sec", "topk_set_match", "max_abs_err", "eps_bound")),
    ("lm", 500L, Set("docs", "train_docs", "model_bigrams", "plants", "sec", "docs_per_sec")),
    ("ocr", 40L, Set("pages", "lines", "chars", "sec", "pages_per_sec", "mismatches")),
    ("rank", 2000L, Set("hosts", "edges", "iters", "build_sec", "rank_sec",
      "edge_iters_per_sec", "mass")),
    ("substr", 500L, Set("docs", "grams", "surviving_docs", "tokens_total", "tokens_kept",
      "sec", "docs_per_sec")),
    ("tfidf", 500L, Set("docs", "tokens", "hit_frac", "filtered_sec", "naive_sec")))

  families.foreach { case (family, rows, fields) =>
    test(s"tier $family at $rows rows passes its checks and prints its fields") {
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Tier.run(spark, family, rows))
      assert(json.fieldNames().asScala.toSet == common ++ fields)
      assert(json.get("tier").asText() == family && json.get("rows").asLong() == rows)
    }
  }

  test("the tier families leave the caller's session conf unchanged") {
    assert(spark.conf.getAll == confBefore)
  }
}
