package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The relational / training-data operator catalog.
  *
  * Each query has a Spark DataFrame implementation here and (where ANSI-SQL
  * expressible) an exactly column-matched DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]]. Numeric parity across engines is engineered,
  * not hoped for: money sums go through DECIMAL(18,2) (exact addition in both
  * engines), ratios are single double divisions of exact integers, and hashes
  * use md5/sha256 (identical hex in both).
  *
  * Operator coverage maps to SURVEY.md §2: scans/pruning (§2.1-2.2),
  * equi/semi/anti joins (§2.3), aggregations + grouping sets + rounded
  * percentages (§2.4), window functions/ordering (§2.5), top-k/offset-limit
  * (§2.6), set ops (§2.7), plus the training-data additions (dedup, minhash,
  * similarity search, text analysis, multimodal plumbing).
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def tracked(df: DataFrame): DataFrame = CacheTracker.track(df)

  /** Re-split `df` for a CPU-heavy narrow stage ONLY if its scan yields too
    * few partitions to occupy the cluster. A consolidated small table (the
    * sf-tier documents parquet is one row group) scans as ONE split, which
    * would serialize per-gram md5 / per-word folds / Levenshtein onto a
    * single core; a 100 TB table scans as thousands of splits, and there
    * the condition is false so NO shuffle of the corpus text is added —
    * an unconditional repartition here would be a full-corpus exchange at
    * scale. Partition assignment is not oracle-visible: every downstream
    * aggregate is order-independent (min / count / integer-unit sums).
    */
  private[graft] def resplitForCpu(spark: SparkSession, df: DataFrame,
                                   minBytes: Long = 4L << 20): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    // probe the split count via this df's own QueryExecution (`toRdd` is the
    // already-planned physical scan, no action) — the round-3 `df.rdd` probe
    // instantiated a SECOND physical plan (extra DeserializeToObject tree)
    // per query just to read a partition count
    val splits = df.queryExecution.toRdd.getNumPartitions
    // SIZE gate (round 6): an under-split input is only worth repartitioning
    // when there are enough bytes for the fan-out to beat the exchange it
    // costs. Adjacent-window A/B at sf0.1 (~0.6-2 MB tables): the
    // unconditional round-3 resplit LOST on every consumer measured —
    // boilerplate 0.48 s → 1.0 s, exact dedup 0.68 → 1.24, simhash pairs
    // 1.0 → 1.6 — because one map task writing 32 shuffle partitions plus a
    // 32-task reduce costs more than single-task row work at KB scale. The
    // catalyst size estimate is file-backed for scans (the only under-split
    // case that matters) and Long.Max for RDD-backed frames, which keeps
    // the synthesized-corpus paths (DocsGen) on the old behavior. Callers
    // whose per-row work is heavy regardless of byte volume (Eval's
    // BLEU/Levenshtein map: measured 3.6-4.3 s single-task vs 2.0-2.9 s
    // re-split at the SAME sf0.1 bytes) pass minBytes = 0 to keep the
    // unconditional round-3 behavior — bytes are a proxy for row work only
    // when the per-row cost is cheap.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (splits < math.max(2, target / 2) && bytes > minBytes) df.repartition(target)
    else df
  }

  /** Release every cache registered since the last call — invoke after each
    * query's terminal action (Bench/Verify do).
    */
  def releaseCaches(): Unit = CacheTracker.releaseAll()

  /** Partition count for a frame whose row count has been MEASURED (an
    * iterative loop's cached working set): ~64 MB per partition (guide
    * §2.2/§6), floor 1. Scale-adaptive by construction — 6k label rows
    * coalesce to one partition (a toy-scale stage stops paying per-task
    * shuffle-file setup 32×), 10^9 rows keep hundreds of partitions.
    * Callers pass a conservative serialized-row-width estimate; coalesce
    * only ever lowers a partition count, so an over-estimate is harmless.
    */
  private[graft] def sizeParts(rows: Long, bytesPerRow: Long): Int =
    math.max(1L, (rows * bytesPerRow) >> 26).min(1 << 20).toInt

  private val dec: DataType = DecimalType(18, 2)

  // ---- scans / filters / projections ---------------------------------------

  /** Projection + filter pushed to the parquet scan (SURVEY §2.2/§4). */
  def scanPrune(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .filter(col("n_chars") > 200)
      .orderBy("doc_id")

  /** Case-insensitive subset filter (`dataset.py:57-92`). */
  def ciFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(lower(trim(col("lang"))) === lit("de"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Offset/limit windowing (`dataset.py:103-133`). */
  def offsetLimit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
      .offset(100).limit(50)

  // ---- aggregations ---------------------------------------------------------

  /** TPC-H Q1-style pricing summary; DECIMAL sums for cross-engine parity. */
  def aggPricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1997-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** The reference's three simultaneous group-bys (`metrics.py:50-78`) as one
    * GROUPING SETS aggregation.
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "documents").createOrReplaceTempView("documents_gs")
    spark.sql(
      """SELECT coalesce(lang, '(all)') AS lang_g, coalesce(source, '(all)') AS source_g,
        |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
        |       COUNT(*) AS n
        |FROM documents_gs
        |GROUP BY GROUPING SETS ((lang), (source), (lang, source))
        |ORDER BY lang_g, source_g""".stripMargin)
  }

  /** ×100 / round-to-1-decimal metric formatting (`metrics.py:37-47`). */
  def roundedPct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(round(
        lit(100.0) * sum(when(col("n_chars") > 200, 1L).otherwise(0L)) / count(lit(1)).cast("double"),
        1).as("pct_long"),
        count(lit(1)).as("n"))
      .orderBy("lang")

  /** Exact distinct counting per group. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  // ---- joins ----------------------------------------------------------------

  /** Broadcast equi-join + aggregate (customer is the small build side). */
  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** Left-semi join: customers that have orders (EXISTS). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders").select(col("o_custkey"))
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  /** Left-anti join: customers without orders (NOT EXISTS). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders").select(col("o_custkey"))
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  // ---- windows / ordering ---------------------------------------------------

  /** Best-candidate rank (`_mineru25.py:408-427` shape): argmax per group via
    * row_number over a total order.
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    t(spark, dir, "lineitem")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy("l_orderkey")
  }

  /** Running (cumulative) sum over a total order — the reference's
    * index-addressed reassembly/page_index analog (SURVEY §2.5).
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .filter(col("l_suppkey") < 10)
      .withColumn("running_qty", sum(col("l_quantity").cast(dec)).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** Top-k with total tiebreak (SURVEY §2.6). */
  def topK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .limit(10)

  // ---- set operations (SURVEY §2.7) ----------------------------------------

  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
    val big = part.filter(col("p_size") > 25).select(col("p_partkey"))
    val cheap = part.filter(col("p_retailprice") < 1200.0).select(col("p_partkey"))
    big.except(cheap).orderBy("p_partkey")
  }

  // ---- time / semi-structured -----------------------------------------------

  /** Tumbling-window event aggregation (batch form; streaming twin below). */
  def timeWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy("hour", "event_type")

  /** JSON path extraction from the events `props` column. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .orderBy("k")

  // ---- deduplication --------------------------------------------------------

  /** Documents plus deterministic near-duplicate copies — the dedup testbed
    * (both engines construct the same union).
    */
  private[graft] def docsWithDups(spark: SparkSession, dir: String): DataFrame = {
    // resplit AFTER the union, not before (round 6): repartitioning the base
    // scan first made each of the three union legs its own 32-partition
    // subtree — 96 map tasks for every downstream exchange (the legs do not
    // share the exchange; Spark plans the repartition subtree once per leg).
    // One round-robin exchange over the united rows gives the same
    // downstream CPU parallelism with a third of the map tasks, and the
    // rows are identical (consumers aggregate or sort — row order is not
    // part of any contract).
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val exact = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("lang"))
    val near = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 200000).as("doc_id"),
        regexp_replace(col("text"), "the", "teh").as("text"), col("lang"))
    resplitForCpu(spark, docs.unionAll(exact).unionAll(near))
  }

  /** Exact dedup: hash-groupBy on content, keep the smallest id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docsWithDups(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy("keep_id")

  /** CROSS-SNAPSHOT exact dedup with a Bloom-sketch prefilter: classify a
    * new crawl batch against the full historical corpus WITHOUT ever
    * shuffling the history. The naive shape joins batch digests against
    * 10^12 history digests — a history-sized exchange every crawl cycle.
    * Here the BATCH (the small side, one cycle's crawl) is summarized as a
    * Bloom filter built by per-partition sketches merged pairwise
    * (`Dataset.reduce` — O(sketch) driver memory, no digest leaves its
    * partition unsketched), and the history scan is PRUNED by the native
    * codegen'd [[graft.functions.BloomMightContain]] probe: only
    * bloom-positive history digests (≈ |batch ∩ history| + fpp·|history|)
    * survive to the exact confirm join, which then broadcasts. False
    * positives cost only wasted broadcast bytes — the confirm join removes
    * them, so the OUTPUT is exact (no false negatives exist) and the DuckDB
    * oracle is plain semi-join arithmetic. History: two scans' worth of
    * I/O, zero exchanges; batch: one sketch pass + one broadcast join.
    * The synthetic batch re-crawls every 3rd doc unchanged (content dup
    * under a fresh capture id) and revises every 5th (genuinely new text).
    */
  def bloomDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val history = base.select(md5(col("text")).as("sha"))
    val batch = base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"))
      .unionAll(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 800000).as("doc_id"),
          concat(col("text"), lit(" fresh revision")).as("text")))
      .select(col("doc_id"), md5(col("text")).as("sha"))
    val sketch = lit(bloomSketchOf(batch.select(col("sha")), fpp = 0.01))
    val hits = history
      .filter(graft.functions.ChurroFunctions.bloom_might_contain(sketch, col("sha")))
      .distinct()
    batch.join(broadcast(hits.withColumn("hit", lit(1))), Seq("sha"), "left")
      .select(col("doc_id"), col("sha"),
        when(col("hit").isNotNull, lit("dup")).otherwise(lit("new")).as("status"))
      .orderBy("doc_id")
  }

  /** Serialized Bloom filter over a single string column: one
    * per-partition sketch (bounded memory, no shuffle), merged pairwise by
    * `Dataset.reduce` — the driver holds O(1) sketches at a time. The
    * sketch's own insert/probe pair ([[org.apache.spark.util.sketch
    * .BloomFilter.putBinary]] on UTF-8 bytes, `mightContainBinary` in the
    * probe expression) is pinned HERE rather than borrowed from
    * `DataFrameStatFunctions`, so the contract can't drift with Spark's
    * internal aggregate. Sized from an exact count — at production scale
    * the batch cardinality is known from the crawl manifest instead.
    */
  private[graft] def bloomSketchOf(shaCol: DataFrame, fpp: Double): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val n = math.max(shaCol.count(), 1L)
    def bytesOf(f: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); f.writeTo(bos); bos.toByteArray
    }
    val spark = shaCol.sparkSession
    import spark.implicits._
    shaCol.as[String].mapPartitions { it =>
      val f = BloomFilter.create(n, fpp)
      it.foreach(s => f.putBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Iterator.single(bytesOf(f))
    }.reduce { (a, b) =>
      val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
      val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
      bytesOf(fa.mergeInPlace(fb))
    }
  }

  /** Max propagation rounds. Pointer jumping halves chain depth every round,
    * so 24 rounds cover graphs of diameter ~2^24 — far past any real dedup
    * graph; hitting the cap without convergence is a failure, not a result.
    */
  val DedupComponentsMaxRounds = 24

  /** Peak tracked-cache count observed inside the last [[dedupComponents]]
    * propagation loop (spec observability for the eager-release contract).
    */
  @volatile private[graft] var componentsMaxLiveCaches: Int = 0

  /** Dedup clustering: connected components over the MinHash near-dup pair
    * graph — the canonical-document-selection step a dedup pipeline runs
    * after candidate pairing. Iterative min-label propagation: every round
    * each node adopts the smallest label among itself and its neighbours
    * (two hash joins + one partial-aggregated groupBy per round — the
    * standard distributed CC shape, no driver-side graph, scales to
    * billions of edges), converging in graph-diameter rounds with an
    * explicit changed-label count as the stop condition (dup clusters are
    * near-cliques, so 2-3 rounds in practice). The DuckDB oracle computes
    * the true transitive closure with WITH RECURSIVE — equal at the
    * fixpoint, so a hash-exact row proves the loop actually converged.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    // STAR edges, not the full pair set (round 6): the LSH candidate graph
    // is a union of per-(band, bucket) cliques — every pair minhashPairsCore
    // emits connects two members of one bucket. For CONNECTED COMPONENTS a
    // bucket's clique and its star (bucket-minimum → each member) have the
    // same transitive closure, and even the per-round label states match
    // (round 1: min over co-members = min over bucket hubs, since each hub
    // is itself a co-member and every co-member ≥ its bucket's hub;
    // inductively the fixpoint is the same partition). The star graph
    // carries Σk edges instead of Σk(k−1)/2 and skips the pair explode +
    // DISTINCT exchange outright (guide §2.4) — same components, same
    // oracle row set, measured 48,026 pairs → ~14k star edges at sf0.1.
    dedupComponentsFrom(spark, minhashStarEdges(minhashSigCore(spark, dir)))

  /** The propagation loop from any (a, b) pair frame; `onRound` observes
    * (round, changedLabels, wallMillis) — the dedup tier's
    * ([[graft.jobs.Tier]]) instrument.
    */
  private[graft] def dedupComponentsFrom(
      spark: SparkSession, pairsIn: DataFrame,
      onRound: (Int, Long, Long) => Unit = (_, _, _) => ()): DataFrame = {
    val pairs = tracked(pairsIn)
    // SIZE-derived partitioning for every frame the loop iterates over
    // (guide §2.2: fewer, larger map tasks). The loop's per-round stages are
    // scans of these caches feeding exchanges, so their partition count IS
    // the map-task count of every round; inheriting the upstream 32-64
    // partitions made each round write hundreds of KB-sized shuffle files
    // (thread profile: tasks parked in DiskBlockObjectWriter.initialize /
    // FileOutputStream.open0 — per-task shuffle-file setup dominated).
    // The explicit pairs.count() doubles as the cache materializer the
    // first round paid anyway and as the size probe.
    val nPairs = pairs.count()
    val parts = sizeParts(2L * nPairs, 24)
    // the loop's per-round frames are LogicalRDD cuts with NO statistics,
    // so the planner can never prove the label map broadcastable and plans
    // every round as exchange+sort-merge (AQE recovers broadcast only
    // after materializing the shuffle — still one stage-job per exchange).
    // We HOLD the measurement the optimizer lacks (guide §8): while the
    // label map (≤ 2·nPairs nodes × 24 B, as in `parts`) fits the session's
    // broadcast threshold (> 0), hint it onto the build side and the round
    // loses its exchanges; else the shuffle join stands. Divided: no overflow.
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val bcastLabels = threshold > 0 && nPairs <= threshold / 48
    def maybeBcast(df: DataFrame): DataFrame = if (bcastLabels) broadcast(df) else df
    val edges = tracked(
      pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
        .coalesce(parts))
    var labels = tracked(
      edges.select(col("a").as("id")).distinct().withColumn("label", col("id"))
        .coalesce(parts))
    var iter = 0
    var converged = false
    componentsMaxLiveCaches = CacheTracker.liveCount
    val labelType = labels.schema("label").dataType
    while (!converged && iter < DedupComponentsMaxRounds) {
      val roundStart = System.nanoTime()
      // the round CARRIES each id's previous label (`prev`) through the
      // aggregation instead of joining `next` back against `labels` for the
      // convergence count — the self branch of the union contributes exactly
      // one non-null prev per id (edge rows carry null, max() ignores them),
      // so the per-round changed-labels equi-join (round 5: one extra
      // exchange-pair + join stage per round) is GONE; `changed` becomes a
      // filter-count over the freshly cached round output.
      val nbrMin = edges
        .join(maybeBcast(labels.select(col("id").as("b"), col("label"))), "b")
        .select(col("a").as("id"), col("label"),
          lit(null).cast(labelType).as("prev"))
        .unionAll(labels.select(col("id"), col("label"), col("label").as("prev")))
        .groupBy(col("id")).agg(min(col("label")).as("label"), max(col("prev")).as("prev"))
      // pointer jumping: label ← label-of-my-label. A label is always a
      // member node's id, so the self-join is total, and the parent's label
      // is ≤ mine by construction. This halves chain depth every round →
      // convergence in O(log diameter) rounds instead of O(diameter) —
      // decisive on near-boilerplate corpora where banding links most docs
      // into one giant component (sf0.1: 5,885 of ~6k nodes in one blob).
      val nbrMinP = tracked(nbrMin.coalesce(parts)) // self-joined below: compute once per round
      // (round-6 A/B note: a SECOND jump per round — label ← label⁴ — was
      // measured and reverted: it saved one round on the fixture (7 → 6)
      // but nearly doubled the per-round stage count (8 → 14 jobs), a net
      // wash locally and two extra exchanges per round at scale.)
      val jumped = nbrMinP
        .join(maybeBcast(nbrMinP.select(col("id").as("label"), col("label").as("jlabel"))), "label")
        .select(col("id"), col("jlabel").as("label"), col("prev"))
      // LINEAGE CUT: `labels` appears twice per round, so without a cut the
      // logical plan nests exponentially (~2^rounds nodes — measured OOM in
      // plan stringification at round ~20). The InternalRow boundary
      // ([[org.apache.spark.sql.graftshim.InternalRows.cutLineage]])
      // flattens each round to a LogicalRDD over the previous round's cached
      // blocks with no external-Row round trip (the round-3 `.rdd` cut
      // deserialized + re-encoded every row every round); at 10^9-node scale
      // the same cut is a reliableCheckpoint to storage.
      val next = tracked(org.apache.spark.sql.graftshim.InternalRows.cutLineage(
        jumped.coalesce(parts)))
      // convergence = zero changed labels, compared against the carried prev.
      // Overflow-safe at any id scale — the round-3 sum(label)-equality probe
      // wraps Long once 10^9+ labels drawn from 10^12-scale ids sum past 2^63
      // and a wraparound collision could falsely signal convergence. The
      // count action doubles as the materializer of `next`'s cache blocks.
      val changed = next.filter(col("label") =!= col("prev")).count()
      converged = changed == 0L
      // eager release: round r−1's label table and this round's propagation
      // intermediate die NOW that `next` is materialized — the round-3 loop
      // held every round's handles (~2 × rounds caches) until query end
      componentsMaxLiveCaches = math.max(componentsMaxLiveCaches, CacheTracker.liveCount)
      CacheTracker.release(labels)
      CacheTracker.release(nbrMinP)
      labels = next
      iter += 1
      onRound(iter, changed, (System.nanoTime() - roundStart) / 1000000L)
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedupComponents did not converge within $DedupComponentsMaxRounds rounds — " +
          "pointer-jumped min-label propagation covers diameter ~2^rounds, so this " +
          "indicates a logic or data error, not a graph that merely needs patience")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    labels.join(maybeBcast(sizes), "label")
      .select(col("id").as("doc_id"), col("label").as("component"), col("n_members"))
      .orderBy("doc_id")
  }

  /** MinHash family size / banding (b×r): 64 hash functions in 32 bands of 2
    * rows, derived from ONE md5 per gram via Kirsch–Mitzenmacher double
    * hashing — h_j = (h1 + j·h2) mod (2^61−1) with h1/h2 the two 56-bit
    * halves of md5(gram) — so the per-gram hash cost is constant in the
    * family size. Empirically validated on the fixture (round 2): the
    * candidate set shrinks from 137,234 pairs (76% of all-pairs, round-1
    * degenerate unigram banding) to 513 pairs while catching 50/50 planted
    * exact dups and 50/50 planted near dups (min 3-gram Jaccard 0.57).
    */
  val MinhashHashes = 64
  val MinhashBandRows = 2
  val MinhashBands: Int = MinhashHashes / MinhashBandRows
  /** 2^61 − 1 (Mersenne prime): (h1 + 63·h2) stays below 2^63 for 56-bit
    * bases, so the modular form is overflow-free in both engines' BIGINT.
    */
  val MinhashMod = 2305843009213693951L
  /** Hot buckets above this size are dropped before the self-join — the
    * standard guard that keeps LSH sub-quadratic under adversarial/boilerplate
    * text at 100 TB (a bucket of k docs costs k² pairs).
    */
  val MinhashBucketCap = 100

  /** Distinct word 3-gram shingles per document (shared by minhash and the
    * Jaccard verify stage).
    */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledFrom(docsWithDups(spark, dir))

  /** Same, from any (doc_id, text) frame — the dedup tier's entry. */
  private[graft] def shingledFrom(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(0, greatest(size(words) - 3, 0)), i -> concat_ws(' ', slice(words, i + 1, 3))))"))
      .select(col("doc_id"), col("grams"))

  /** MinHash signatures over word 3-gram shingles (one md5 per gram, 64
    * derived hashes — see [[MinhashHashes]]): a pure PROJECTION — the
    * native one-pass `minhash_sigs` expression computes all minima
    * row-locally, no explode, no aggregate, no shuffle of anything. The
    * signature is 64 BIGINTs, not hex strings.
    */
  private def minhashSigCore(spark: SparkSession, dir: String): DataFrame =
    // fused shingle+hash (round 6): when no other consumer shares the gram
    // arrays (the standalone sig/pairs/CC queries), the signatures come
    // straight from the word split via the native one-pass
    // `minhash_sigs_text` — bit-identical minima (same gram windows, same
    // md5 bytes; duplicates cannot move a min), but the 4-deep interpreted
    // HOF chain (transform+slice+concat_ws+array_distinct) and its per-gram
    // allocations disappear. Gram-sharing callers (nearDupKeep,
    // ngramJaccard's verify side) keep [[minhashSigCoreFrom]] over the one
    // cached gram table.
    minhashSigsFromText(docsWithDups(spark, dir))

  private[graft] def minhashSigsFromText(docs: DataFrame): DataFrame =
    docs
      .withColumn("sigs", graft.functions.ChurroFunctions.minhash_sigs_text(
        split(col("text"), " "), 3, MinhashHashes, MinhashMod))
      // NULL sigs only for NULL text — the gram twin's filter dropped
      // exactly those rows (split(NULL) → NULL grams)
      .filter(col("sigs").isNotNull)
      .select(col("doc_id") +:
        (0 until MinhashHashes).map(j => element_at(col("sigs"), j + 1).as(s"sig$j")): _*)

  private[graft] def minhashSigCoreFrom(sh: DataFrame): DataFrame = {
    // ONE row-local pass computes all 64 minima (native minhash_sigs, same
    // Kirsch–Mitzenmacher arithmetic as the DuckDB oracle's hex-string
    // form) — the signature stage is a pure PROJECTION. The round-3 plan
    // exploded ~40 gram rows per document through md5_split56 and 64
    // partial-min aggregations with an Exchange; min is order-independent
    // and the per-gram arithmetic identical, so every signature bit is
    // unchanged. The empty-gram filter reproduces the exploded plan's
    // absent rows (shingledFrom always emits ≥1 gram, so it is a no-op in
    // practice). The 64 element_at projections of one deterministic
    // expression are subexpression-eliminated inside whole-stage codegen —
    // the digest pass runs once per row (generated-code assert: SigCseSpec).
    sh.filter(size(col("grams")) > 0)
      .withColumn("sigs",
        graft.functions.ChurroFunctions.minhash_sigs(col("grams"), MinhashHashes, MinhashMod))
      .select(col("doc_id") +:
        (0 until MinhashHashes).map(j => element_at(col("sigs"), j + 1).as(s"sig$j")): _*)
  }

  def minhashSig(spark: SparkSession, dir: String): DataFrame =
    minhashSigCore(spark, dir).orderBy("doc_id")

  /** MinHash+LSH candidate pairs: each band keys r consecutive signature
    * components into a bucket id; docs meet ONLY inside (band, bucket).
    * Single-pass plan (round 3): ONE groupBy collects each (band, bucket)'s
    * members (bounded by [[MinhashBucketCap]] — oversized buckets are
    * dropped, the skew guard) and the ≤ cap²/2 pairs are emitted by a
    * lambda over the sorted member array. The round-2 capped SELF-JOIN
    * computed the same pairs but shuffled the band table twice, needed a
    * window pass for the cap, and forced a persist (whose leaked blocks
    * degraded unrelated queries in a shared session).
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsCore(minhashSigCore(spark, dir)).orderBy("a", "b")

  /** Candidate-graph STAR edges (a, b) = (bucket minimum, member) per
    * (band, bucket) — connectivity-equivalent to [[minhashPairsCore]]'s full
    * pair set (see [[dedupComponents]]) at Σk instead of Σk²/2 rows, with
    * the SAME bucket membership and [[MinhashBucketCap]] skew guard. Edge
    * multiplicity across bands is irrelevant to min-label propagation, so
    * no distinct. Consumed by the CC loop only; the catalog pair queries
    * keep the full verified pair set.
    */
  private[graft] def minhashStarEdges(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until MinhashBands).map { b =>
      struct((0 until MinhashBandRows)
        .map(r => col(s"sig${b * MinhashBandRows + r}").as(s"v$r")): _*)
    }
    sigs
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_id", "bv")))
      .groupBy(col("band_id"), col("bv"))
      .agg(graft.functions.ChurroFunctions
        .collect_list_capped(col("doc_id"), MinhashBucketCap + 1).as("ids"))
      .filter(size(col("ids")).between(2, MinhashBucketCap))
      .select(array_min(col("ids")).as("a"), explode(col("ids")).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** The pair stage without the presentation sort (CC and the scale bench
    * consume pairs unordered — a global sort there is wasted work).
    */
  private[graft] def minhashPairsCore(sigs: DataFrame): DataFrame = {
    // band key as a STRUCT of the r raw signature longs, not a concat_ws
    // string (round 5): componentwise struct equality is exactly the
    // delimited-string equality ("|" made decimal digits unambiguous), but
    // the exchange row carries 2 longs instead of a ~40-byte string, the
    // grouping hashes fixed-width words, and the 32-strings-per-row build
    // disappears from the projection (guide §2.3: narrower shuffle keys).
    val bandCols = (0 until MinhashBands).map { b =>
      struct((0 until MinhashBandRows)
        .map(r => col(s"sig${b * MinhashBandRows + r}").as(s"v$r")): _*)
    }
    val bands = sigs // unsorted: no mid-pipeline global sort
      .select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band_id", "bv")))
    // capped collector: a boilerplate mega-bucket stops accumulating at
    // cap + 1 elements instead of materializing all members in one buffer
    // before the size filter drops it (see CollectListCapped)
    bands.groupBy(col("band_id"), col("bv"))
      .agg(graft.functions.ChurroFunctions
        .collect_list_capped(col("doc_id"), MinhashBucketCap + 1).as("ids"))
      .filter(size(col("ids")).between(2, MinhashBucketCap))
      .withColumn("ids", array_sort(col("ids"))) // collect_list order is nondeterministic
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    y -> struct(element_at(ids, i) AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Word 3-gram Jaccard verify for the LSH candidate pairs. Scale-safe plan:
    * the intersection is an exploded (doc, gram) equi-join counted per pair —
    * gram arrays are never shuffled whole to both sides of the pair join —
    * and the union comes from per-doc gram counts via |A|+|B|−|A∩B|.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // tracked persist: the gram table feeds the minhash chain, both sides of
    // the intersection join and the per-doc counts — 4 consumers (the cache
    // is released by the caller via releaseCaches after the action)
    val grams = tracked(shingled(spark, dir))
    jaccardVerify(grams, minhashPairs(spark, dir), 0.7)
      .select(col("a"), col("b"), col("inter"), col("uni"), col("jaccard"))
      .orderBy("a", "b")
  }

  /** The ONE Jaccard-verify core shared by the catalog query
    * ([[ngramJaccard]]) and the composed pipeline stage ([[nearDupKeep]]):
    * exploded (doc, gram) equi-join intersection counted per pair — gram
    * arrays never ship whole to the pair join — union via |A|+|B|−|A∩B|
    * from per-doc gram counts, pairs kept at `jaccard >= threshold`.
    * A fix to the join shape or the arithmetic lands in both consumers.
    */
  private def jaccardVerify(
      grams: DataFrame, pairs: DataFrame, threshold: Double): DataFrame = {
    // round-6 A/B note: a row-local rewrite (attach both gram ARRAYS to the
    // pair row, size(array_intersect)) was measured and REVERTED — it drags
    // the first side's full array through the second join's exchange
    // (~600 MB at sf0.1 for 48k pairs × ~300-gram docs) and read flat-to-
    // worse (3.2 s → 3.5 s); the exploded join below only ever exchanges
    // matched gram rows.
    val gramRows = grams.select(col("doc_id"), explode(col("grams")).as("g"))
    val gramCounts = grams.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
    pairs
      .join(gramRows.select(col("doc_id").as("a"), col("g")), "a")
      .join(gramRows.select(col("doc_id").as("b"), col("g")), Seq("b", "g"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(gramCounts.select(col("doc_id").as("a"), col("n_grams").as("na")), "a")
      .join(gramCounts.select(col("doc_id").as("b"), col("n_grams").as("nb")), "b")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over md5 word hashes, emitted as a 16-hex-char string.
    * Portable by construction: bit i of word w's hash is bit (i mod 4) of hex
    * digit i/4 of md5(w), so DuckDB computes the identical signature — the
    * round-1 xxhash64 variant was unverifiable (engine-specific hash).
    * A pure PROJECTION (native one-pass `simhash_hex`); no aggregate, no
    * shuffle.
    */
  private def simhashCore(spark: SparkSession, dir: String): DataFrame =
    // ONE row-local pass computes the whole 16-hex signature (native
    // simhash_hex — per word the md5 nibble bits, ±1 position sums, digit
    // assembly; integer addition is order-independent so every hex char
    // matches the DuckDB oracle's 64-term construction). The round-3 plan
    // exploded every word through 64 sum-aggregations with an Exchange;
    // the signature stage is now a pure projection.
    docsWithDups(spark, dir)
      // null text produced NO row in the exploded plan (and produces none
      // in the DuckDB oracle) — filter keeps the row sets identical
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.ChurroFunctions.simhash_hex(split(col("text"), " ")).as("simhash"))

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashCore(spark, dir).orderBy("doc_id")

  /** SimHash near-duplicate pairs at scale: pigeonhole banding — two hashes
    * within Hamming distance d must share at least one of d+1 disjoint
    * chunks, so candidates come from 8 per-band equi-joins over the 8-bit
    * chunks of the 64-bit signature (guaranteed complete for d ≤ 7), with
    * the same bucket cap as minhash; candidates are then verified by exact
    * bit distance ≤ 4 (fixture separation: planted near-dups avg 2.4 bits,
    * background min 6).
    */
  val SimhashBandBits = 2 // hex digits per band (8 bits)
  val SimhashMaxHamming = 4

  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = simhashCore(spark, dir) // unsorted (doc_id, 16-hex-char simhash)
    val bandCols = (0 until 8).map(k => substring(col("simhash"), k * SimhashBandBits + 1, SimhashBandBits))
    val bands = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "bv")))
    // single-pass grouped buckets (see minhashPairs): members collected per
    // (band, bucket) under the cap, pairs emitted from the sorted array —
    // no self-join, no window, no persist
    val pairs = bands.groupBy(col("band_id"), col("bv"))
      .agg(graft.functions.ChurroFunctions
        .collect_list_capped(struct(col("doc_id"), col("simhash")), MinhashBucketCap + 1).as("ms"))
      .filter(size(col("ms")).between(2, MinhashBucketCap))
      .withColumn("ms", array_sort(col("ms")))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ms) - 1),
          |  i -> transform(slice(ms, i + 1, size(ms) - i),
          |    y -> struct(element_at(ms, i).doc_id AS a, element_at(ms, i).simhash AS sa,
          |                y.doc_id AS b, y.simhash AS sb))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.sa").as("sa"), col("p.b").as("b"), col("p.sb").as("sb"))
      .distinct()
    // exact bit distance on survivors only — hex_hamming is a native
    // codegen'd expression (one static call vs 16 interpreted instr/xor terms)
    pairs.withColumn("hamming",
        graft.functions.ChurroFunctions.hex_hamming(col("sa"), col("sb")).cast("long"))
      .filter(col("hamming") <= SimhashMaxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy("a", "b")
  }

  // ---- similarity search -----------------------------------------------------

  /** Brute-force cosine top-k over the embedding column (baseline ANN).
    * Query side is broadcast (tiny); ranking via the two-phase bounded-heap
    * [[TopM]] — a `Window.partitionBy(q_id)` rank here would funnel EVERY
    * candidate row for a query through one task's sort (at 10^9 candidates
    * that single task sorts the whole corpus); TopM keeps O(k) state per
    * (partition, query) and shuffles only partitions×k survivors. Same
    * total order (cos desc, vec_id asc), so the result is unchanged.
    */
  def embedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cand = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("v"))
    // native codegen'd cosine (one static call per pair; the interpreted
    // zip_with/aggregate form it replaces ran ~3·dims lambda frames) —
    // identical fold order, so the rounded cos4 values are unchanged
    val scored = cand.crossJoin(broadcast(q))
      .withColumn("cos", graft.functions.ChurroFunctions.cosine_sim(col("qv"), col("v")))
      .select(col("q_id"), col("vec_id"), col("cos"))
    TopM.topM(scored, "q_id", Seq(("cos", false), ("vec_id", true)), 3, "rn")
      .select(col("q_id"), col("vec_id"), round(col("cos"), 4).as("cos4"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** Sign-quantization ANN parameters: [[EmbedLshPlanes]] deterministic
    * integer hyperplanes (weight = ((2654435761·(p·64+i+1)) mod 2³¹−1) mod
    * 1024 − 512 — exact in both engines' BIGINT, no float-seeded RNG).
    * Candidates are pre-ranked by Hamming distance on the bit signature (a
    * 16×-smaller scan than the raw float vectors), then the best
    * [[EmbedLshScanM]] re-ranked by exact cosine. Measured on the
    * structureless random fixture: recall@3 = 0.933 vs brute force at
    * M=250 (50% scan); planted near-identical neighbors are already found
    * at M=50 (10% scan) — on clustered real-world embeddings the scan
    * fraction drops accordingly.
    */
  val EmbedLshPlanes = 128
  val EmbedLshScanM = 250

  /** array of 0/1 sign bits — a native codegen'd Catalyst expression (one
    * static call per row; the interpreted zip_with/aggregate form costs a
    * 128×64 lambda fold). Accumulation is a left fold from 0.0 in index
    * order, bit-identical to the SQL fold the DuckDB oracles evaluate.
    */
  private def signBitsExpr: Column =
    graft.functions.ChurroFunctions.sign_bits(col("v"))

  /** Signature + bucket view of the embedding table (the dedup/index side of
    * the ANN path): per-vector 128-bit sign signature and its 8-bit bucket
    * with occupancy. Array-free output (signature rendered as a bit string).
    */
  def embedLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
    val sigs = emb.select(col("vec_id"), signBitsExpr.as("bits"))
      .withColumn("bucket", expr("aggregate(slice(bits, 1, 8), 0, (acc, b) -> acc * 2 + b)"))
    // occupancy via partial-aggregated groupBy + broadcast join back — a
    // count().over(Window.partitionBy(bucket)) here shuffles the WHOLE
    // corpus by ~256 skewed bucket keys and sorts each bucket in one task
    // just to attach a count; the aggregate side is ≤2^8 rows at any scale
    val occ = sigs.groupBy(col("bucket")).agg(count(lit(1)).as("bucket_n"))
    sigs.join(broadcast(occ), Seq("bucket"))
      .select(col("vec_id"), col("bucket"), col("bucket_n"),
        expr("array_join(transform(bits, b -> cast(b as string)), '')").as("sig"))
      .orderBy("vec_id")
  }

  /** The complete ANN search: signature scan → per-query Hamming top-M
    * shortlist → exact-cosine re-rank → top-3. At scale the first stage
    * scans only the PACKED signatures — the 128 sign bits live in four
    * 32-bit words, so Hamming distance is four xor+popcount instructions
    * per (candidate, query), the production binary-quantization layout —
    * and the re-rank joins back to the vector table for M rows per query;
    * the full float vectors never enter a cross product.
    */
  def embedLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
    // 128 sign bits packed into 4 big-endian 32-bit words — sign_bits and
    // bits_pack are native codegen'd expressions (one static call per row;
    // the round-2 form ran four interpreted 32-step shift/or folds). The
    // query side is 5 rows, so recomputing the signatures there is cheaper
    // than a persisted cache (round 2 persisted and leaked the handle).
    val words = EmbedLshPlanes / 32
    val packed = emb.select(col("vec_id"),
      graft.functions.ChurroFunctions.bits_pack(signBitsExpr, 32).as("sw"))
    val sigs = packed.select(col("vec_id") +:
      (0 until words).map(k => element_at(col("sw"), k + 1).as(s"s$k")): _*)
    val qs = sigs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id") +:
        (0 until words).map(k => col(s"s$k").as(s"q$k")): _*)
    val hamExpr = (0 until words)
      .map(k => expr(s"bit_count(s$k ^ q$k)"): Column).reduce(_ + _)
    // per-query Hamming top-M via the two-phase bounded selection — the
    // round-2 Window.partitionBy(q_id) sorted EVERY candidate signature for
    // a query in one task (the 10^9-candidate failure shape)
    val hamAll = sigs.filter(col("vec_id") >= 5).crossJoin(broadcast(qs))
      .withColumn("ham", hamExpr)
      .select(col("q_id"), col("vec_id"), col("ham"))
    val shortlist = TopM.topM(hamAll, "q_id",
        Seq(("ham", true), ("vec_id", true)), EmbedLshScanM, "hrn")
      .select(col("q_id"), col("vec_id"))
    val qv = emb.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val reranked = shortlist
      .join(broadcast(qv), "q_id")
      .join(emb.select(col("vec_id"), col("v")), "vec_id")
      .withColumn("cos", graft.functions.ChurroFunctions.cosine_sim(col("qv"), col("v")))
      .select(col("q_id"), col("vec_id"), col("cos"))
    TopM.topM(reranked, "q_id", Seq(("cos", false), ("vec_id", true)), 3, "rn")
      .select(col("q_id"), col("vec_id"), round(col("cos"), 4).as("cos4"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** Embeddings plus planted near-duplicate copies (vec_id+10000): a 2%
    * scale plus a tiny integer-derived additive perturbation — cosine with
    * the source ≈ 0.9999, exactly reproducible in both engines.
    */
  private def embWithDups(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id"), col("v"))
    val near = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        expr("transform(sequence(0, 63), i -> element_at(v, i + 1) * 1.02D + ((i * 7 + vec_id) % 11 - 5) * 0.002D)").as("v"))
    emb.unionAll(near)
  }

  /** Embedding-cosine near-duplicate detection at scale: sign-signature
    * banding (16 per-band equi-joins over 8-bit chunks of the 128-bit
    * signature, bucket-capped) → exact Hamming gate ≤ 15 (the pigeonhole
    * completeness bound for 16 bands) → exact cosine
    * verify ≥ 0.99. Never an all-pairs float comparison; planted
    * near-identical copies differ by only a few signature bits.
    */
  /** 16 disjoint 8-bit bands guarantee a shared band only for Hamming
    * distance <= 15 (pigeonhole) — the gate must not claim more than the
    * blocking can deliver.
    */
  val EmbedNearDupMaxHamming = 15

  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = embWithDups(spark, dir)
    val sigs = base.select(col("vec_id"), signBitsExpr.as("bits"))
    // 16 8-bit band values from ONE native bits_pack call (round 2 ran 16
    // interpreted 8-step folds per row)
    val bands = sigs.select(col("vec_id"), col("bits"),
      posexplode(graft.functions.ChurroFunctions.bits_pack(col("bits"), 8))
        .as(Seq("band_id", "bv")))
    // single-pass grouped buckets (see minhashPairs): no self-join, no
    // window pass for the cap, no persist
    val pairs = bands.groupBy(col("band_id"), col("bv"))
      .agg(graft.functions.ChurroFunctions
        .collect_list_capped(struct(col("vec_id"), col("bits")), MinhashBucketCap + 1).as("ms"))
      .filter(size(col("ms")).between(2, MinhashBucketCap))
      .withColumn("ms", array_sort(col("ms"))) // vec_id is unique: total order
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ms) - 1),
          |  i -> transform(slice(ms, i + 1, size(ms) - i),
          |    y -> struct(element_at(ms, i).vec_id AS a, element_at(ms, i).bits AS ba,
          |                y.vec_id AS b, y.bits AS bb))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.ba").as("ba"), col("p.b").as("b"), col("p.bb").as("bb"))
      .distinct()
      // exact Hamming gate on survivors — native codegen'd expression (the
      // round-2 zip_with/aggregate fold ran 128 interpreted lambda frames)
      .withColumn("ham", graft.functions.ChurroFunctions.hamming_bits(col("ba"), col("bb")))
      .filter(col("ham") <= EmbedNearDupMaxHamming)
      .select(col("a"), col("b"))
    val va = base.select(col("vec_id").as("a"), col("v").as("qv"))
    val vb = base.select(col("vec_id").as("b"), col("v"))
    pairs.join(va, "a").join(vb, "b")
      .withColumn("cos", graft.functions.ChurroFunctions.cosine_sim(col("qv"), col("v")))
      .filter(col("cos") >= 0.99)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos4"))
      .orderBy("a", "b")
  }

  /** IVF probe count. Measured on the structureless random fixture:
    * recall@3 at P probes of 16 centroids ≈ the scan fraction (P=8 → 0.60
    * at 50% scanned) — with no cluster structure a coarse quantizer cannot
    * beat random partitioning, and the sign-signature Hamming pre-rank
    * ([[embedLshTopK]]: 0.93 at the same 50%) dominates. On clustered
    * real-world embeddings the relationship inverts; both scale paths ship.
    */
  val EmbedIvfCentroids = 16
  val EmbedIvfProbes = 8

  /** The assignment subplan of [[embedIvfTopK]], factored for the OpsSpec
    * no-Exchange/no-Window plan assert: the 16 fixed corpus centroids are a
    * bounded deterministic driver fetch (ordered by vec_id, so the literal's
    * index order equals the old window's cent_id-asc tie order) and
    * `cent_id = 5 + argmax index`.
    */
  private[graft] def ivfAssignFixed(spark: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val centRows: Seq[Seq[Double]] = t(spark, dir, "embeddings")
      .filter(col("vec_id") >= 5 && col("vec_id") < lit(5 + EmbedIvfCentroids))
      .orderBy("vec_id")
      .select(expr("transform(embedding, x -> cast(x as double))").as("cv"))
      .collect().toSeq.map(_.getSeq[Double](0))
    cand
      .withColumn("cent_id",
        (graft.functions.ChurroFunctions.argmax_cosine(col("v"), typedlit(centRows)) + lit(5))
          .cast("long"))
      .select(col("vec_id"), col("v"), col("cent_id"))
  }

  /** IVF-style ANN with an UNTRAINED coarse quantizer (centroids = a fixed
    * deterministic sample of the corpus — the contrast case to the trained
    * [[AnnKMeans]] quantizer; on the structureless fixture neither beats the
    * scan fraction, documented above). Assignment is the zero-Exchange
    * per-row argmax: the 16 centroid vectors are collected (a bounded,
    * deterministic 16-row driver fetch — a coarse quantizer is
    * driver-resident by design) and ride the plan as ONE literal constant
    * consumed by [[graft.functions.ArgmaxCosine]], so the corpus vectors
    * never shuffle. The round-3 `crossJoin(broadcast)` + per-vec_id window
    * form computed the same argmax but exchanged 16 expanded copies of
    * every vector (OpsSpec now asserts no Exchange/Window in this subplan).
    * Probe lists then equi-join on the cluster id and the exact-cosine
    * re-rank runs inside the probed lists only.
    */
  def embedIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
    val cents = emb.filter(col("vec_id") >= 5 && col("vec_id") < lit(5 + EmbedIvfCentroids))
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cand = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("v"))
    val qs = emb.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"), col("v").as("qv"))
    def cosExpr(a: String, b: String): Column =
      graft.functions.ChurroFunctions.cosine_sim(col(a), col(b))
    val assigned = ivfAssignFixed(spark, dir, cand)
    // probe lists: VECTOR-FREE top-P (q_id, cent_id) pairs per query —
    // broadcast-sized at any query volume (see AnnKMeans.probes /
    // BENCH.md §7: a qv-carrying probe table can outgrow the broadcast
    // threshold and force a corpus shuffle over few skewed keys)
    val scoredProbes = qs.crossJoin(broadcast(cents))
      .withColumn("qcos", cosExpr("qv", "cv"))
      .select(col("q_id"), col("cent_id"), col("qcos"))
    val probePairs = TopM.topM(scoredProbes, "q_id",
        Seq(("qcos", false), ("cent_id", true)), EmbedIvfProbes, "prn")
      .select(col("q_id"), col("cent_id"))
    // corpus on the streaming side: pairs + query vectors both broadcast;
    // the final rank goes through the two-phase bounded TopM — a
    // Window.partitionBy(q_id) here would sort EVERY probed candidate for a
    // query in one task (corpus/centroids × probes rows at 10^9 vectors),
    // the identical funnel AnnKMeans.bfTop3/search already avoid
    val reranked = assigned.join(broadcast(probePairs), "cent_id")
      .join(broadcast(qs), "q_id")
      .withColumn("cos", cosExpr("qv", "v"))
      .select(col("q_id"), col("vec_id"), col("cos"))
    TopM.topM(reranked, "q_id", Seq(("cos", false), ("vec_id", true)), 3, "rn")
      .select(col("q_id"), col("vec_id"), round(col("cos"), 4).as("cos4"), col("rn"))
      .orderBy("q_id", "rn")
  }

  // ---- text analysis ---------------------------------------------------------

  /** Token rarity scoring: each document's mean CORPUS frequency of its
    * tokens — the two-pass global-statistics shape a perplexity/quality
    * filter needs (a document of rare tokens scores low, boilerplate scores
    * high). Pass 1 is a partial-aggregated global token count; pass 2 joins
    * it back to the exploded tokens (broadcast when the vocabulary is
    * small; an ordinary hash join keyed on the token otherwise — the
    * standard corpus-statistics shape at 100 TB) and re-aggregates per
    * document. All arithmetic is exact integers plus ONE final double
    * division, so the oracle is hash-exact — a log-domain perplexity would
    * differ from DuckDB's libm in final ulps and is deliberately avoided.
    */
  def tokenRarity(spark: SparkSession, dir: String): DataFrame =
    tokenRarityFrom(t(spark, dir, "documents"))

  /** The catalog plan: ONE hash join keyed on the token. The Zipf head
    * ("the" ≈ 5% of English instances) skews the probe side of the shuffle,
    * and the MEASURED adjudication (BENCH.md §8: 500k docs / 20M tokens,
    * 50% of instances on four tokens, broadcast disabled) is that AQE's
    * skew-partition splitting handles it — the naive join beat a
    * head/tail split (top tokens broadcast map-side, only the tail through
    * the hash join) by ~40% BECAUSE the split pays an extra broadcast
    * exchange and union for a skew AQE was already absorbing. Kept naive
    * on evidence; a split pays only where AQE cannot save the join (a
    * single probe key larger than executor spill capacity).
    */
  private[graft] def tokenRarityFrom(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("wc"))
    toks.join(freq, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("wc")).as("freq_sum"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("freq_sum"), col("n_tokens"),
        (col("freq_sum").cast("double") / col("n_tokens")).as("mean_token_freq"))
      .orderBy("doc_id")
  }

  /** Counter bound / returned-k for the heavy-hitters sketch query. The
    * fixture vocabulary (31 distinct tokens at every sf tier) sits far
    * below the 64-counter bound, so no Misra-Gries compress ever fires and
    * the emitted counts are EXACT — the regime the DuckDB oracle can pin
    * with a plain GROUP BY. The ε ≤ N/(m+1) approximation guarantee under
    * m ≪ vocabulary is FunctionsSpec-asserted on a Zipf stream instead.
    */
  val HeavyHittersM = 64
  val HeavyHittersK = 10

  /** Frequent-items top-k via the mergeable Misra-Gries aggregate
    * ([[graft.functions.HeavyHitters]]). The alternative plan —
    * `groupBy(token).count + TopM` — is right when the distinct key set is
    * vocabulary-bounded (q_token_rarity's first pass), but top URLs /
    * hosts / shingles over a 10^12-doc crawl has a distinct set that grows
    * with the corpus: hashing every distinct key through an Exchange IS
    * the bottleneck. Here each map task folds its input into one 64-entry
    * summary, the single Exchange carries partitions×64 rows regardless of
    * corpus size, and the final merge is a bounded fold.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .agg(graft.functions.ChurroFunctions
        .heavy_hitters(split(col("text"), " "), HeavyHittersM, HeavyHittersK).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.token").as("token"), col("h.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)

  /** Exact corpus deciles (d = 1..9) of the per-document token count, via a
    * value-domain histogram — the counting-sort quantile shape. A corpus
    * quantile is the standard length-cutoff / truncation-budget statistic a
    * training-data pipeline computes before filtering, and the naive plan
    * (global sort + row_number, or a single `percentile` buffer) either
    * sorts the corpus or funnels it through one task. Here the ONLY
    * corpus-scale pass is the partial-aggregated `groupBy(n).count`: its
    * Exchange carries at most |value domain| rows per map task, and the
    * domain is bounded by construction (a document's token count is capped
    * by ingest limits / the model context budget — it does NOT grow with
    * corpus row count). The cumulative scan over that bounded histogram
    * runs on the driver — the IVF-centroid / LM-denominator bounded-collect
    * pattern; a global `Window.orderBy(n)` over it would be the same single
    * task with a plan-audit-hostile shape. All arithmetic is exact
    * integers: decile d = min { n : cumCount(n)·10 ≥ d·total }, i.e. the
    * value at rank ceil(d·total/10), with the ceil-division expressed as a
    * cross-multiplied comparison (overflow-safe to 9·10^17 rows).
    * INTENTIONAL empty-input divergence (ADVICE r5 note): an EMPTY corpus
    * throws here ("token-quantile input is empty") where the DuckDB oracle
    * yields zero rows — the same documented divergence discipline as
    * [[quantileSketch]] (which instead emits nine NULL rows to match ITS
    * oracle); no fixture exercises an empty documents table.
    */
  def tokenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = tokenHistogram(spark, dir).collect()
    require(hist.nonEmpty, "token-quantile input is empty")
    val sorted = hist.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    var cum = 0L
    val cumRows = sorted.map { case (n, c) => cum += c; (n, cum) }
    val deciles = (1L to 9L).map { d =>
      (d, cumRows.find { case (_, cle) => cle * 10 >= d * total }.get._1)
    }
    import spark.implicits._
    deciles.toDF("decile", "value").orderBy("decile")
  }

  /** The corpus-scale pass of [[tokenQuantiles]], exposed so OpsSpec can
    * audit its PHYSICAL plan directly: the builder collects this frame (the
    * bounded-histogram pattern), which means the catalog-wide plan gates
    * only ever see the post-collect LocalRelation — a dedicated assert on
    * THIS plan (partial aggregation, no ScalaUDF) compensates for that
    * blindness.
    */
  private[graft] def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("c"))

  /** 1/ε for [[quantileSketch]]'s summary: the GK guarantee is rank error
    * ≤ N/accuracy. At every fixture tier (documents N ≤ 5,000 — sf0.1 is
    * the largest) that bound is ≤ 0.5 < 1 rank, which PINS the discrete
    * answer to the element at the target rank whether or not the summary's
    * internal compression runs — the exact regime the DuckDB
    * `quantile_disc` oracle can check (the same exact-regime-oracle
    * pattern as the Misra-Gries heavy-hitters query; exactness comes from
    * εN < 1, not from an assumption that compression never fires). The
    * approximate regime's deterministic error bound is spec-asserted on a
    * 1M-value stream instead.
    */
  val QuantileSketchAccuracy = 10000

  /** Approximate corpus deciles via Spark's BUILT-IN mergeable
    * Greenwald-Khanna summary (`percentile_approx`) — the UNBOUNDED-domain
    * companion to [[tokenQuantiles]]. The regime split mirrors
    * heavy-hitters vs token-rarity: when the value domain is bounded
    * (token counts, capped by ingest limits), the counting-sort histogram
    * is exact and cheap; when it is not (byte sizes, scores, latencies —
    * domains that grow with the corpus), the histogram Exchange itself
    * becomes corpus-sized and the right shape is a bounded mergeable
    * summary — each map task folds its partition into an ε-summary, ONE
    * Exchange carries partitions×O(1/ε·log εN) tuples regardless of corpus
    * size, and the merge preserves the deterministic rank-error bound
    * ≤ N/[[QuantileSketchAccuracy]]. Built-in, codegen-planned as a
    * two-phase ObjectHashAggregate — nothing custom to maintain. The
    * decile rows come from exploding a LITERAL 1..9 sequence over the
    * single aggregate row (no collect — the aggregation plan stays
    * visible to the catalog plan gates — and no join stage to attach a
    * constant): on an EMPTY corpus the aggregate still yields its one
    * row with a NULL sketch, so the query emits nine (decile, NULL) rows
    * — exactly what the SQL oracle's `quantile_disc` produces there.
    */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .agg(percentile_approx(size(split(col("text"), " ")),
        array((1 to 9).map(d => lit(d / 10.0)): _*),
        lit(QuantileSketchAccuracy)).as("qs"))
      .select(explode(expr("sequence(1L, 9L)")).as("decile"), col("qs"))
      .select(col("decile"),
        element_at(col("qs"), col("decile").cast("int")).cast("long").as("value"))
      .orderBy("decile")

  /** Results per retrieval query in [[tfidfRank]]. */
  val TfidfTopK = 5

  /** The retrieval workload for [[tfidfRank]]: (q_id, term) pairs. Fixed
    * literals (benchmark-sized at any corpus scale — the production shape
    * is a query BATCH, always tiny next to the corpus); terms drawn from
    * the fixture vocabulary including one rare term ("dup") so idf
    * discrimination is actually exercised.
    */
  val TfidfQueries: Seq[(Long, String)] = Seq(
    (1L, "scan"), (1L, "merge"),
    (2L, "dup"), (2L, "customer"),
    (3L, "window"), (3L, "filter"), (3L, "slow"))

  /** Inverted-index ranked retrieval (TF-IDF with BM25-style saturation)
    * over the document corpus — the "find training examples matching a
    * probe set" primitive (targeted decontamination, topical slicing,
    * quality probes). Plan shape, corpus-side first:
    *
    *  1. the query-term list broadcast-joins the exploded tokens — a
    *     map-side filter, so the term-frequency Exchange carries only
    *     postings of query terms, never the corpus;
    *  2. document frequencies come from the (tiny) tf table itself, and the
    *     corpus size N is one number collected into a literal (the
    *     IVF-centroid pattern — no join stage to attach a constant);
    *  3. per-(query, doc) scores aggregate partial-wise, and the final
    *     top-k per query goes through [[TopM]] — never a per-query Window
    *     sort over all matching documents.
    *
    * Scoring is deliberately integer-exact for cross-engine hash equality
    * (the [[lmQualityFrom]] micro-unit convention): BM25's tf saturation
    * tf/(tf+k1) becomes (1000·tf) DIV (tf+2) per-mille, and the idf becomes
    * the rational surrogate N DIV df (monotone in 1/df; the float
    * log-formula would differ from DuckDB's libm in final ulps). Overflow:
    * saturation ≤ 10^3, N DIV df ≤ N ≤ 10^12 docs, terms per query bounded
    * small → each contribution ≤ 10^15 and sums stay far under 2^63.
    */
  def tfidfRank(spark: SparkSession, dir: String): DataFrame =
    tfidfRankFrom(spark, t(spark, dir, "documents").select(col("doc_id"), col("text")))

  /** The scoring core over any (doc_id, text) frame — shared by the catalog
    * query and the tfidf tier ([[graft.jobs.Tier]]), which A/Bs this
    * filter-before-aggregate shape against the naive full-corpus tf
    * aggregation at the 500k-doc tier.
    */
  private[graft] def tfidfRankFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val terms = TfidfQueries.map(_._2).distinct.toDF("term")
    val nRow = docs.agg(count(lit(1))).collect()(0)
    require(nRow.getLong(0) > 0, "retrieval corpus is empty")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    // tracked: tf feeds both the df derivation and the scoring join; the
    // cache keeps the corpus-scale token scan to ONE pass
    val tf = tracked(toks.join(broadcast(terms), "term")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf")))
    tfidfScoreAndRank(tf, nRow.getLong(0))
  }

  /** Score + rank a prebuilt (term, doc_id, tf) postings frame — the ONE
    * scoring core shared by [[tfidfRankFrom]] and
    * the tfidf tier's naive leg ([[graft.jobs.Tier]]), so the tier's
    * "identical arithmetic" equality gate is true by construction rather
    * than by hand-copy.
    */
  private[graft] def tfidfScoreAndRank(tf: DataFrame, n: Long): DataFrame = {
    import tf.sparkSession.implicits._
    val qt = TfidfQueries.toDF("q_id", "term")
    val dfTab = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfTab), "term")
      .join(broadcast(qt), "term")
      .withColumn("contrib", expr(s"((1000L * tf) DIV (tf + 2L)) * (${n}L DIV df)"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_terms_hit"))
    TopM.topM(scored, "q_id", Seq(("score", false), ("doc_id", true)), TfidfTopK, "rn")
      .select(col("q_id"), col("doc_id"), col("score"), col("n_terms_hit"), col("rn"))
      .orderBy("q_id", "rn")
  }

  /** A sentence is boilerplate when it appears in at least this many
    * DISTINCT documents (CCNet-style line-level dedup threshold).
    */
  val BoilerplateMinDocs = 50

  /** CCNet-style line-level boilerplate removal: sentences appearing in
    * ≥ [[BoilerplateMinDocs]] distinct documents (cookie banners,
    * subscription footers) are stripped from every document, which is then
    * reassembled IN ORDER. The corpus has no natural cross-doc sentence
    * duplication at test scale, so deterministic boilerplate is planted
    * in-query (a footer on doc_id % 3, a header on doc_id % 5 — the same
    * planted-structure pattern the dedup family uses). Plan shape: explode
    * with position → global distinct-doc counts (partial-aggregated) →
    * anti join → ORDER-PRESERVING regroup (array_sort over (pos, sent)
    * structs — collect order is nondeterministic, position is data). The
    * per-doc collect buffer is bounded by the document's own length.
    */
  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    boilerplateCleaned(resplitForCpu(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_kept"), md5(col("text")).as("clean_sha"))
      .orderBy("doc_id")

  /** The strip itself, from any (doc_id, text) frame, returning the
    * reassembled CLEAN text (plus the kept-sentence count) so downstream
    * stages can consume it — shared by [[boilerplateStrip]] (which hashes
    * it for the catalog row) and the composed [[dataprepPipeline]].
    * A document whose every sentence is boilerplate disappears (no rows
    * survive the anti join) — identical in the DuckDB twin.
    */
  private[graft] def boilerplateCleaned(docs: DataFrame): DataFrame = {
    val planted = docs.select(col("doc_id"),
      concat(
        when(col("doc_id") % 5 === 0, lit("Cookie notice: this site uses cookies. "))
          .otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit(". Subscribe to our newsletter for updates"))
          .otherwise(lit(""))).as("text"))
    val sents = planted.select(col("doc_id"),
      posexplode(split(col("text"), "\\. ")).as(Seq("pos", "sent")))
    val common = sents.groupBy(col("sent"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= BoilerplateMinDocs)
      .select(col("sent"))
    sents.join(common, Seq("sent"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(struct(pos, sent))), x -> x.sent)"),
          ". ").as("text"))
  }

  /** Context-window chunking parameters: window size and stride in
    * (whitespace) tokens — overlap = window − stride.
    */
  val ChunkWindow = 32
  val ChunkStride = 24

  /** Training-chunk packing: split every document into overlapping
    * fixed-token windows ([[ChunkWindow]] tokens, stride [[ChunkStride]]) —
    * the context-window preparation step between cleaning and tokenization.
    * Realized as a GENERATOR over computed ranges (the video-sampling
    * shape): chunk starts are a row-local `sequence`, posexplode fans out
    * to exactly the chunks, and each chunk's text digest is one md5 — no
    * token rows ever materialize, no shuffle before the final presentation
    * sort. The tail chunk keeps its partial window (every token is covered
    * exactly once by some chunk start).
    */
  def chunkWindows(spark: SparkSession, dir: String): DataFrame =
    chunkWindowsFrom(t(spark, dir, "documents")).orderBy("doc_id", "chunk_idx")

  /** The chunking generator from any (doc_id, text) frame (no presentation
    * sort) — shared by the catalog query and [[dataprepPipeline]].
    */
  private[graft] def chunkWindowsFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), size(col("words")).as("n_words"),
        posexplode(expr(
          s"""transform(sequence(0, CAST(greatest(size(words) - 1, 0) DIV $ChunkStride AS INT)),
             |  k -> struct(
             |    k * $ChunkStride AS start,
             |    slice(words, k * $ChunkStride + 1, $ChunkWindow) AS w))""".stripMargin))
          .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"), col("n_words"),
        col("c.start").as("start_token"),
        size(col("c.w")).as("chunk_tokens"),
        md5(concat_ws(" ", col("c.w"))).as("chunk_sha"))

  /** Contamination n-gram length (the 13-gram rule used for benchmark
    * decontamination of web-scale training sets).
    */
  val DecontaminateGramLen = 8 // 8 words: the synthetic docs are short

  /** Benchmark decontamination: flag training documents sharing any
    * [[DecontaminateGramLen]]-word shingle with a held-out evaluation set —
    * the standard n-gram overlap decontamination step before training. The
    * eval set here is a deterministic corpus slice (doc_id % 97 == 0 plays
    * the benchmark; its own rows are excluded from the scan side). Plan
    * shape: the EVAL side's gram set is tiny and hash-joins against the
    * exploded corpus grams (Spark broadcasts it at this size; at 100 TB the
    * eval set is still benchmark-sized, so the broadcast holds — the
    * corpus-side grams never shuffle), then a partial-aggregated count per
    * contaminated document.
    */
  /** Distinct [[DecontaminateGramLen]]-word shingle rows of a (doc_id, text)
    * frame — shared by [[decontaminate]] and [[dataprepPipeline]].
    */
  private def gramRows8(df: DataFrame): DataFrame = df
    .withColumn("words", split(col("text"), " "))
    .select(col("doc_id"), explode(expr(
      s"""array_distinct(transform(
         |  sequence(0, greatest(size(words) - $DecontaminateGramLen, 0)),
         |  i -> concat_ws(' ', slice(words, i + 1, $DecontaminateGramLen))))""".stripMargin))
      .as("g"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // resplit (round 6): the 8-gram explode below is row-local CPU over a
    // single-split scan
    val docs = resplitForCpu(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    // the natural corpus shares no long shingles across documents, so the
    // contamination to catch is PLANTED (the dedup family's pattern):
    // prefixed copies of eval documents under fresh ids — every interior
    // eval shingle survives the prefix
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .unionAll(evalSet.select((col("doc_id") + 300000).as("doc_id"),
        concat(lit("copied into the training set: "), col("text")).as("text")))
    val evalGrams = gramRows8(evalSet).select(col("g")).distinct()
    gramRows8(train)
      // EXPLICIT broadcast: the eval side is benchmark-sized at any corpus
      // scale, but Catalyst cannot estimate that through explode+distinct —
      // without the hint the size estimate tracks the documents scan and a
      // real corpus would fall back to shuffling every corpus gram by g
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .orderBy("doc_id")
  }

  // ---- HTML main-content extraction (DOM heuristics) ------------------------

  /** Every HtmlImgEvery-th synthesized page carries an inline figure. */
  val HtmlImgEvery = 4

  /** Deterministic full-page HTML around a document's text — the harness
    * for [[htmlSpans]]/[[htmlMain]] (the corpus has no HTML column, so the
    * page is synthesized in-query, the planted-structure pattern the dedup
    * family uses). The page exercises the whole chrome taxonomy the
    * extractor must strip: head with style+script raw text (the script
    * body contains a bare `<`), header/nav link lists, a class-hinted
    * sidebar, the `&lt;article&gt;` with heading + one `<p>` per `'. '`
    * sentence piece (entity-escaped; every HtmlImgEvery-th doc gets an
    * `<img>` after the first paragraph), a class-hinted comments block,
    * and a link-bearing footer. The extractor must return EXACTLY the
    * article's interleaved spans — which the DuckDB oracle reconstructs
    * from the raw text column without parsing any HTML.
    */
  private[graft] def htmlPageFor(docId: Long, text: String, lang: String = "en"): String = {
    val pieces = text.split("\\. ", -1)
    val sb = new java.lang.StringBuilder(text.length + 1200)
    sb.append("<!DOCTYPE html>\n<html lang=\"").append(lang)
      .append("\"><head><title>Doc ").append(docId)
      .append("</title><meta name=\"description\" content=\"About doc ")
      .append(docId).append("\">")
      .append("<link rel=\"canonical\" href=\"https://docs.example/")
      .append(docId).append("\">")
      .append("<style>article{margin:0 auto}</style>")
      .append("<script>var graftPage = 1 < 2;</script></head>\n<body>\n")
      .append("<header><nav><ul><li><a href=\"/\">Home</a></li>")
      .append("<li><a href=\"/archive\">Archive</a></li>")
      .append("<li><a href=\"/about\">About us</a></li></ul></nav></header>\n")
      .append("<aside class=\"sidebar\"><h3>Related posts</h3><ul>")
      .append("<li><a href=\"/p/1\">a related piece about table scan merge order in long form</a></li>")
      .append("<li><a href=\"/p/2\" rel=\"nofollow\">another related article on hash join windows and streams</a></li>")
      .append("<li><a href=\"/p/3\">further reading on batch vectors and partition pruning</a></li>")
      .append("</ul></aside>\n<article><h1>Doc ").append(docId).append(" title</h1>")
    var i = 0
    while (i < pieces.length) {
      sb.append("<p>").append(graft.text.HtmlEntities.escape(pieces(i))).append("</p>")
      if (i == 0 && docId % HtmlImgEvery == 0)
        sb.append("<img src=\"media://doc_").append(docId)
          .append("/img_0\" alt=\"figure for doc ").append(docId).append("\">")
      i += 1
    }
    sb.append("</article>\n<div class=\"comments\"><h3>Comments</h3>")
      .append("<p>first comment nice post thanks for sharing this with us</p>")
      .append("<p>second comment totally agree with the points the author makes here</p></div>\n")
      .append("<footer><p>copyright 2026 example corp all rights reserved ")
      .append("<a href=\"/privacy\">privacy</a> <a href=\"/terms\">terms</a></p></footer>\n")
      .append("</body></html>")
    sb.toString
  }

  /** The SAME page written real-web style: no `</p>` close tags (except
    * before a planted inline `<img>`, which an open `<p>` would swallow),
    * unclosed `<li>`s in the nav/sidebar lists, and no `</body></html>`
    * envelope closes — every omission is one [[graft.text.HtmlDom]]
    * lenient-recovery rule (implied `</p>`/`</li>`, mismatched-close
    * auto-close at `</ul>`/`</article>`, EOF auto-close), and the
    * recovered tree is IDENTICAL to [[htmlPageFor]]'s, so
    * [[htmlSpansSloppy]] shares `q_html_spans`' oracle verbatim.
    */
  private[graft] def htmlPageSloppyFor(docId: Long, text: String, lang: String = "en"): String = {
    val pieces = text.split("\\. ", -1)
    val sb = new java.lang.StringBuilder(text.length + 1100)
    sb.append("<!DOCTYPE html>\n<html lang=\"").append(lang)
      .append("\"><head><title>Doc ").append(docId)
      .append("</title><meta name=\"description\" content=\"About doc ")
      .append(docId).append("\">")
      .append("<link rel=\"canonical\" href=\"https://docs.example/")
      .append(docId).append("\">")
      .append("<style>article{margin:0 auto}</style>")
      .append("<script>var graftPage = 1 < 2;</script></head>\n<body>\n")
      .append("<header><nav><ul><li><a href=\"/\">Home</a>")
      .append("<li><a href=\"/archive\">Archive</a>")
      .append("<li><a href=\"/about\">About us</a></ul></nav></header>\n")
      .append("<aside class=\"sidebar\"><h3>Related posts</h3><ul>")
      .append("<li><a href=\"/p/1\">a related piece about table scan merge order in long form</a>")
      .append("<li><a href=\"/p/2\" rel=\"nofollow\">another related article on hash join windows and streams</a>")
      .append("<li><a href=\"/p/3\">further reading on batch vectors and partition pruning</a>")
      .append("</ul></aside>\n<article><h1>Doc ").append(docId).append(" title</h1>")
    var i = 0
    while (i < pieces.length) {
      sb.append("<p>").append(graft.text.HtmlEntities.escape(pieces(i)))
      if (i == 0 && docId % HtmlImgEvery == 0) {
        sb.append("</p>") // an open <p> would swallow the inline figure
        sb.append("<img src=\"media://doc_").append(docId)
          .append("/img_0\" alt=\"figure for doc ").append(docId).append("\">")
      }
      i += 1
    }
    sb.append("</article>\n<div class=\"comments\"><h3>Comments</h3>")
      .append("<p>first comment nice post thanks for sharing this with us")
      .append("<p>second comment totally agree with the points the author makes here</div>\n")
      .append("<footer><p>copyright 2026 example corp all rights reserved ")
      .append("<a href=\"/privacy\">privacy</a> <a href=\"/terms\">terms</a></footer>\n")
    sb.toString
  }

  /** HTML main-content extraction to INTERLEAVED SPANS — the north rule's
    * "HTML boilerplate strip … DOM heuristics" capability over the
    * input_hint span model: per row, parse the synthesized page
    * ([[graft.text.HtmlDom]]), score candidate containers by
    * text-mass × (1 − link density) × tag/class weights
    * ([[graft.text.MainContent]]), and emit the winner's
    * `(kind, text, media_ref, offset)` spans (heading | text | image).
    * Plan shape: one narrow per-row flatMap over the documents scan — no
    * shuffle before the presentation sort; [[resplitForCpu]] spreads the
    * parse across cores when the scan is a single split. The oracle
    * reconstructs the expected spans directly from the text column (the
    * page is a deterministic wrap), so a parser that mis-nests, an
    * entity that fails to round-trip, or a heuristic that picks the
    * sidebar all hash-mismatch.
    */
  def htmlSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = resplitForCpu(spark,
      t(spark, dir, "documents").select(col("doc_id"), col("text")))
    docs.as[(Long, String)]
      .flatMap { case (d, txt) =>
        graft.text.MainContent.extractHtml(htmlPageFor(d, txt)).spans
          .map(s => (d, s.offset, s.kind, s.text, s.media_ref))
      }
      .toDF("doc_id", "offset", "kind", "text", "media_ref")
      .orderBy("doc_id", "offset")
  }

  /** Document-level view of [[htmlSpans]]: the winning container tag, span
    * counts, and the md5 of the reassembled main text (non-image spans
    * joined by blank lines) — the "clean article text" a training-data
    * pipeline feeds to tokenization. The md5 runs in Spark on the
    * extractor's output so both engines hash identical bytes.
    */
  def htmlMain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = resplitForCpu(spark,
      t(spark, dir, "documents").select(col("doc_id"), col("text")))
    docs.as[(Long, String)]
      .map { case (d, txt) =>
        val ex = graft.text.MainContent.extractHtml(htmlPageFor(d, txt))
        (d, ex.containerTag, ex.spans.length,
          ex.spans.count(_.kind == "image"), ex.mainText)
      }
      .toDF("doc_id", "container", "n_spans", "n_images", "main_text")
      .select(col("doc_id"), col("container"), col("n_spans"), col("n_images"),
        md5(col("main_text")).as("main_sha"))
      .orderBy("doc_id")
  }

  /** [[htmlSpans]] over the REAL-WEB form of the same page
    * ([[htmlPageSloppyFor]]: unclosed `<p>`/`<li>`, no envelope closes)
    * through [[graft.text.MainContent.extractHtmlLenient]] — the
    * oracle-gate for the lenient parser's recovery rules: the recovered
    * tree must be identical to the well-formed page's, so this query
    * shares `q_html_spans`' SQL reconstruction VERBATIM, and any recovery
    * rule that drifts (a paragraph swallowed, a list flattened wrong, an
    * EOF close misplaced) lands as a hash mismatch. Same narrow
    * zero-shuffle plan shape.
    */
  def htmlSpansSloppy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = resplitForCpu(spark,
      t(spark, dir, "documents").select(col("doc_id"), col("text")))
    docs.as[(Long, String)]
      .flatMap { case (d, txt) =>
        graft.text.MainContent.extractHtmlLenient(htmlPageSloppyFor(d, txt)).spans
          .map(s => (d, s.offset, s.kind, s.text, s.media_ref))
      }
      .toDF("doc_id", "offset", "kind", "text", "media_ref")
      .orderBy("doc_id", "offset")
  }

  /** Page METADATA extraction ([[graft.text.PageMeta]]) over the
    * synthesized wrap: `<title>`, `<html lang>` (planted from the corpus
    * `lang` column — data-driven, not a constant), the description meta,
    * the canonical link, and the outlink count (the page plants exactly 8
    * chrome anchors). Same narrow zero-shuffle plan; the oracle
    * reconstructs every field from the documents table.
    */
  def htmlMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = resplitForCpu(spark,
      t(spark, dir, "documents").select(col("doc_id"), col("text"), col("lang")))
    docs.as[(Long, String, String)]
      .map { case (d, txt, lg) =>
        val m = graft.text.PageMeta.ofHtml(htmlPageFor(d, txt, lg))
        (d, m.title, m.lang, m.description, m.canonical, m.links.length)
      }
      .toDF("doc_id", "title", "lang", "description", "canonical", "n_links")
      .orderBy("doc_id")
  }

  // ---- composed data-prep flagship ------------------------------------------

  /** Stage 2 of [[dataprepPipeline]]: exact dedup that KEEPS — one canonical
    * (smallest doc_id) row per distinct cleaned text. min(text) is
    * deterministic and every member of a group carries the same text.
    */
  private[graft] def exactDedupKeep(clean: DataFrame): DataFrame =
    clean.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("text")).as("text"))
      .select(col("doc_id"), col("text"))

  /** Jaccard threshold for VERIFIED near-dup pairs in the composed
    * pipeline (same bar as [[ngramJaccard]]'s catalog query).
    */
  val NearDupJaccard = 0.7

  /** Stage 3: near-dup canonical selection — MinHash+LSH candidate pairs →
    * exact 3-gram Jaccard VERIFICATION → connected components
    * (pointer-jumped min-label propagation) → drop every member whose id
    * is not its component's label. Docs that never paired keep themselves
    * (they are absent from the component table).
    *
    * The verify step is load-bearing, not decoration: banding alone welds
    * vocabulary-sharing NON-duplicates into giant components (the sf0.1
    * corpus collapses to one ~6k-doc blob, and an unverified chain then
    * "dedups" 98% of the corpus away); verified pairs keep only true
    * near-dups and the components stay duplicate-cluster sized. The
    * intersection is the scale-safe exploded gram equi-join — gram arrays
    * never ship whole to the pair join.
    */
  private[graft] def nearDupKeep(spark: SparkSession, docs: DataFrame): DataFrame = {
    val grams = tracked(shingledFrom(docs))
    val pairs = minhashPairsCore(minhashSigCoreFrom(grams))
    val verified = jaccardVerify(grams, pairs, NearDupJaccard)
      .select(col("a"), col("b"))
    val comp = dedupComponentsFrom(spark, verified)
    val nonCanon = comp.filter(col("doc_id") =!= col("component")).select(col("doc_id"))
    docs.join(nonCanon, Seq("doc_id"), "left_anti")
  }

  /** Stage 4: decontamination — drop the held-out benchmark slice itself
    * (doc_id % 97 == 0 of the BASE corpus) and every surviving document
    * sharing an [[DecontaminateGramLen]]-gram with it (e.g. a near-copy of
    * an eval doc that slipped past dedup). Eval grams broadcast: the eval
    * side stays benchmark-sized at any corpus scale.
    */
  private[graft] def decontaminateKeep(spark: SparkSession, dir: String,
                                       docs: DataFrame): DataFrame = {
    val evalDocs = t(spark, dir, "documents")
      .filter(col("doc_id") % 97 === 0).select(col("doc_id"), col("text"))
    val evalGrams = gramRows8(evalDocs).select(col("g")).distinct()
    val contaminated = gramRows8(docs).join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    docs.filter(col("doc_id") % 97 =!= 0).join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The COMPOSED training-data pipeline over the dup-planted corpus:
    * boilerplate strip → exact dedup → near-dup CC canonical selection →
    * benchmark decontamination → context-window chunking — every stage the
    * catalog verifies individually, chained into the end-to-end data-prep
    * flow a training pipeline actually runs. The resumable, per-stage
    * lineage-committed job twin is [[graft.jobs.DataPrepJob]]; the DuckDB
    * oracle recomputes the whole chain (incl. the CC fixpoint via WITH
    * RECURSIVE), so a hash-green row proves five composed stages end to end.
    */
  def dataprepPipeline(spark: SparkSession, dir: String): DataFrame = {
    val clean = boilerplateCleaned(
      docsWithDups(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"))
    // stage-boundary caches (released by the caller): exactKept feeds the
    // shingle chain AND the CC anti join; nearKept feeds the gram join AND
    // the final keep filter — without the persists each consumer recomputes
    // the whole upstream (strip + dedup) from the scan. The job twin
    // (DataPrepJob) gets the same cut for free from its stage snapshots.
    val exactKept = tracked(exactDedupKeep(clean))
    val nearKept = tracked(nearDupKeep(spark, exactKept))
    val kept = decontaminateKeep(spark, dir, nearKept)
    chunkWindowsFrom(kept).orderBy("doc_id", "chunk_idx")
  }

  /** Per-group quota for [[stratifiedSample]]. */
  val StratifiedSampleK = 10

  /** Deterministic stratified sampling: the [[StratifiedSampleK]] documents
    * with the smallest md5("strat:"++id) digests PER LANGUAGE — the
    * per-group quota sampling a mixture-balancing pipeline runs before
    * training. Selection is a keyless hash rank, so the sample is stable
    * across runs/engines, and the per-group top-K goes through the
    * two-phase [[TopM]] (languages are few, candidates are the corpus —
    * exactly TopM's regime; a window would funnel each language's full
    * corpus partition through one task's sort).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val ranked = t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        md5(concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
    TopM.topM(ranked, "lang", Seq(("h", true), ("doc_id", true)), StratifiedSampleK, "rn")
      .select(col("lang"), col("doc_id"), col("rn"))
      .orderBy("lang", "rn")
  }

  /** Token counting (whitespace split; SURVEY training-data ops). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** BPE-style regex token counting: the GPT-2 pre-tokenizer shape (letter
    * runs / digit runs / punctuation runs, each with an optional leading
    * space, plus space runs) restricted to an RE2-safe, escape-free
    * alternation so Spark (Java regex, backslash-escaping SQL literals) and
    * DuckDB (RE2, raw literals) evaluate the identical pattern — the
    * contraction/lookahead clauses of the original are Java-only and
    * dropped on both sides.
    */
  val BpeTokenRegex = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$BpeTokenRegex', 0)")).cast("long").as("n_bpe_tokens"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"))
      .orderBy("doc_id")

  /** Number of merge rules [[bpeMerges]] learns. */
  val BpeMergeRounds = 10

  /** The ONE whitespace-split regex both BPE sides use — the trainer's SQL
    * `split` and the encoder's compiled Pattern MUST tokenize identically
    * or encode-time symbols desynchronize from the trained vocabulary.
    */
  private[graft] val BpeWsRe = "[ \\t\\n\\r]+"

  /** Word → initial symbol sequence (Unicode code points + the end-of-word
    * sentinel), shared by trainer and encoder for the same reason.
    */
  private[graft] def bpeWordSyms(w: String): Seq[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toSeq :+ "</w>"

  /** One greedy left-to-right BPE merge application: every non-overlapping
    * (l, r) adjacency collapses to `m`, scanning once — "a a a" under
    * (a, a) becomes "aa a", never "a aa". Shared by the distributed trainer
    * and BpeSpec's hand-computed cases.
    */
  private[graft] def bpeApplyMerge(syms: Seq[String], l: String, r: String,
                                   m: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += m; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Distributed BPE tokenizer TRAINING — the merge-table learner every
    * modern tokenizer pipeline runs over its corpus (Sennrich et al. 2016;
    * the HF-tokenizers / SentencePiece trainer shape). The corpus-scale
    * pass happens ONCE: whitespace words aggregate to the bounded
    * distinct-word vocabulary with counts — Zipf compresses 10^12 docs to a
    * vocabulary-sized table — and every merge round iterates over THAT,
    * never re-reading the corpus. Each round is (a) a pair-count aggregate
    * over adjacent symbol pairs weighted by word count with a deterministic
    * argmax (count desc, then (left, right) ascending), collected as the
    * round's single learned parameter, and (b) a narrow typed map applying
    * the merge greedily left-to-right, cached with the CC loop's eager
    * per-round release discipline. Words carry an end-of-word sentinel
    * symbol so merges never cross word boundaries. Output: the learned
    * merge table (step, left, right, merged, pair_count). Oracle: an
    * independent pure-Python trainer over the same parquet
    * (tools/gen_bpe_fixture.py) with the identical tie-break.
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrom(spark, t(spark, dir, "documents"))

  /** `onRound` observes (step, detail, wallMillis): step 0 is the one
    * corpus-scale pass (detail = distinct-word vocabulary size), steps 1..K
    * the merge rounds (detail = the winning pair's count) — the bpe
    * tier's ([[graft.jobs.Tier]]) instrument.
    */
  private[graft] def bpeMergesFrom(spark: SparkSession, docs: DataFrame,
      onRound: (Int, Long, Long) => Unit = (_, _, _) => ()): DataFrame = {
    import spark.implicits._
    val phase0 = System.nanoTime()
    val words = docs
      .select(explode(split(col("text"), BpeWsRe)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
    val base = tracked(words.map { case (w, c) => (bpeWordSyms(w), c) }
      .toDF("syms", "cnt"))
    val vocab = base.count() // materialize: the ONLY corpus-scale action
    onRound(0, vocab, (System.nanoTime() - phase0) / 1000000L)
    // size-derived scan parallelism for the merge rounds (the vocab count
    // above is the probe): each round's map-task count is this coalesce, so
    // a tiny vocabulary stops paying 32 shuffle-file setups per round while
    // a 10^8-word vocabulary still fans out
    val baseScan = base.coalesce(sizeParts(vocab, 64))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    // Round r re-applies merges 1..r−1 to the CACHED base vocabulary inside
    // the round's single job instead of materializing a fresh cached table
    // per round (round 5: flatMap-agg action + map-cache-count action = 2
    // jobs/round). One flatMap fuses replay + pair emission, so a round is
    // ONE job — scan base, replay ≤K merges, partial-agg pairs,
    // TakeOrdered(1) — and because the merge table rides in the CLOSURE
    // rather than the plan, every round compiles to the same generated code
    // (no per-round Janino recompile). Replay cost is O(K²·vocab) symbol
    // ops total — vocabulary-bounded (Zipf), never corpus-scale, and K=10.
    var step = 1
    var exhausted = false
    while (step <= BpeMergeRounds && !exhausted) {
      val roundStart = System.nanoTime()
      val table = merges.toList.map(t => (t._2, t._3, t._4)) // stable closure capture
      val best = baseScan.as[(Seq[String], Long)]
        .flatMap { case (syms0, c) =>
          val syms = table.foldLeft(syms0) { case (s, (l, r, m)) => bpeApplyMerge(s, l, r, m) }
          if (syms.length < 2) Iterator.empty
          else syms.iterator.zip(syms.iterator.drop(1)).map { case (l, r) => (l, r, c) }
        }
        .toDF("l", "r", "c")
        .groupBy("l", "r").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect() // 1 row: the round's learned model parameter
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((step, l, r, l + r, c))
        onRound(step, c, (System.nanoTime() - roundStart) / 1000000L)
        step += 1
      }
    }
    CacheTracker.release(base)
    merges.toSeq.toDF("step", "left", "right", "merged", "pair_count")
      .orderBy("step")
  }

  /** BPE ENCODING — the inference side of [[bpeMerges]]: tokenize every
    * document with the learned merge table by replaying the merges in
    * learned (priority) order over each word's code-point symbols. The
    * merge table is a K-row driver value rode into the closure (the model
    * is tiny; the corpus never shuffles) and the encode is a pure per-row
    * map — embarrassingly parallel at 10^12 docs. Output pins the exact
    * token stream: (doc_id, n_syms, md5 of the space-joined symbols).
    * Oracle: the Python trainer twin encodes the same parquet.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeFrom(spark, t(spark, dir, "documents"))

  private[graft] def bpeEncodeFrom(spark: SparkSession, docs: DataFrame): DataFrame =
    bpeEncodeWith(spark, docs,
      bpeMergesFrom(spark, docs).collect().toSeq
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_._1).map(m => (m._2, m._3, m._4)))

  /** Encode with an ALREADY-TRAINED merge table — the composed-job path:
    * a caller that needs both the merges output and the encodings trains
    * once and passes the table here instead of paying the corpus-scale
    * training pass a second time inside [[bpeEncodeFrom]].
    */
  private[graft] def bpeEncodeWith(spark: SparkSession, docs: DataFrame,
      table: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    // compiled once and rode into the closure — a per-row Pattern.compile
    // in the hot encode map is pure waste at corpus scale
    val ws = java.util.regex.Pattern.compile(BpeWsRe)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val syms = ws.split(text).iterator.filter(_.nonEmpty)
          .flatMap { w =>
            table.foldLeft(bpeWordSyms(w)) { case (s, (l, r, m)) => bpeApplyMerge(s, l, r, m) }
          }.toSeq
        (id, syms.length.toLong, syms.mkString(" "))
      }
      .toDF("doc_id", "n_syms", "enc")
      .select(col("doc_id"), col("n_syms"), md5(col("enc")).as("enc_sha"))
      .orderBy("doc_id")
  }

  /** Quality scoring: exact integer char/space/stopword counts + ratios. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("len", length(col("text")).cast("long"))
      .withColumn("n_space", (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long"))
      .withColumn("the_bytes", (length(concat(lit(" "), col("text"), lit(" "))) -
        length(regexp_replace(concat(lit(" "), col("text"), lit(" ")), " the ", ""))).cast("long"))
      .select(col("doc_id"), col("len"), col("n_space"), col("the_bytes"),
        (col("n_space").cast("double") / col("len")).as("space_ratio"))
      .orderBy("doc_id")

  /** PII patterns shared by the Spark plan and the DuckDB oracle — greedy
    * character-class regexes with NO alternation, so Java's leftmost-first
    * backtracking and RE2's leftmost-longest automaton produce the identical
    * match set (the same dialect-intersection discipline as
    * [[BpeTokenRegex]]). Published-pipeline provenance: email/IP redaction
    * is standard in the BigScience ROOTS and FineWeb preparation recipes.
    */
  val PiiEmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4Regex = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRegex = "\\+\\d{1,2} \\d{3} \\d{3} \\d{4}"

  /** PII scrub — the redaction stage every published training-corpus
    * pipeline runs before release: count and replace emails, IPv4
    * addresses, and phone numbers with typed placeholder tokens. A pure
    * per-row projection (counts + three chained regexp_replace passes in one
    * whole-stage-codegen stage): zero shuffle, scales as a map over 10^12
    * docs. The corpus text is digit-and-@-free by construction, so PII is
    * PLANTED deterministically from doc_id on both engines (every 7th doc
    * an email, 11th an IP, 13th a phone — composites get several), making
    * the oracle verify the redaction arithmetic on known-positive rows and
    * the untouched rows on known-negative ones. Output carries md5(clean)
    * rather than the full rewritten text: the hash pins byte-exact
    * redaction without dumping the corpus back out.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(spark, dir, "documents").select(id,
      concat(col("text"),
        when(id % 7 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@example.com for access"))).otherwise(lit("")),
        when(id % 11 === 0, concat(lit(" origin server 10."),
          (id % 256).cast("string"), lit(".0."), (id % 250 + 1).cast("string"),
          lit(" timed out"))).otherwise(lit("")),
        when(id % 13 === 0, concat(lit(" or call +1 415 555 "),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit(""))
      ).as("text"))
    planted.select(id,
      regexp_count(col("text"), lit(PiiEmailRegex)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PiiIpv4Regex)).cast("long").as("n_ipv4"),
      regexp_count(col("text"), lit(PiiPhoneRegex)).cast("long").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), PiiEmailRegex, "<EMAIL>"),
          PiiIpv4Regex, "<IP>"),
        PiiPhoneRegex, "<PHONE>")).as("clean_sha"))
      .orderBy("doc_id")
  }

  /** Mojibake repair — the ftfy-class fix for UTF-8 text mis-decoded as
    * cp1252/Latin-1 upstream ("café"→"cafÃ©", "—"→"â€”"), run as a
    * zero-shuffle codegen'd projection ([[graft.functions.MojibakeFix]] →
    * [[graft.text.Mojibake.fix]]). Corruption is PLANTED deterministically
    * from doc_id (the corpus text is pure ASCII): a 2-byte Latin-1 family,
    * two 3-byte cp1252 punctuation families, and a NEGATIVE family (lead
    * bytes with no valid continuation) that must pass through UNCHANGED —
    * the oracle constructs the expected CLEAN text directly from the same
    * construction (via chr() code points, no literal-encoding hazard) and
    * pins the repair byte-exactly through md5.
    */
  def mojibakeFix(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(spark, dir, "documents").select(id,
      concat(col("text"),
        // escapes, not raw glyphs: the mojibake chars (U+20AC, U+201D, …)
        // must be byte-exact for the repair to re-derive the UTF-8 stream
        when(id % 6 === 0,
          lit(" caf\u00c3\u00a9 ni\u00c3\u00b1o \u00c3\u00bcber")).otherwise(lit("")),
        when(id % 9 === 0,
          lit(" \u00e2\u20ac\u201d dash \u00e2\u20ac\u201c \u00e2\u20ac\u02dcq\u00e2\u20ac\u2122")).otherwise(lit("")),
        when(id % 14 === 0, lit(" \u00e2\u201a\u00ac 3 \u00e2\u201e\u00a2")).otherwise(lit("")),
        when(id % 17 === 0,
          lit(" \u00c3 plain lone \u00e2 end")).otherwise(lit(""))
      ).as("text"))
    planted
      .withColumn("fixed", graft.functions.ChurroFunctions.mojibake_fix(col("text")))
      .select(id,
        (col("fixed") =!= col("text")).as("changed"),
        length(col("fixed")).cast("long").as("fixed_len"),
        md5(col("fixed")).as("fixed_sha"))
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization — the canonical-composition pass corpus
    * releases run so "e + COMBINING ACUTE" and "é" dedup/tokenize
    * identically. True cross-engine algorithmic parity: Spark runs the
    * JDK Normalizer ([[graft.functions.UnicodeNfc]]), the oracle runs
    * DuckDB's independent `nfc_normalize` over the same planted
    * decomposed sequences — two Unicode implementations agreeing on the
    * composed bytes. Already-composed plants prove the fixpoint.
    */
  def unicodeNfc(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(spark, dir, "documents").select(id,
      concat(col("text"),
        when(id % 8 === 0,
          lit(" résumé Ångström")).otherwise(lit("")),
        when(id % 11 === 0, lit(" caf\u00e9 fixe")).otherwise(lit(""))
      ).as("text"))
    planted
      .withColumn("nfc", graft.functions.ChurroFunctions.unicode_nfc(col("text")))
      .select(id,
        (col("nfc") =!= col("text")).as("changed"),
        length(col("nfc")).cast("long").as("nfc_len"),
        md5(col("nfc")).as("nfc_sha"))
      .orderBy("doc_id")
  }

  /** Language-ID marker scores (exact integer occurrence arithmetic; the
    * argmax labeling lives in [[langId]]).
    */
  def langidScores(spark: SparkSession, dir: String): DataFrame = {
    def occBytes(marker: String): Column =
      (length(concat(lit(" "), col("text"), lit(" "))) -
        length(regexp_replace(concat(lit(" "), col("text"), lit(" ")),
          s" $marker ", ""))).cast("long")
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        occBytes("the").as("score_en"),
        occBytes("der").as("score_de"),
        occBytes("el").as("score_es"))
      .orderBy("doc_id")
  }

  /** Heuristic language-ID label (argmax of marker scores; rows-only). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langidScores(spark, dir)
      .withColumn("lang_pred",
        when(col("score_de") > col("score_en") && col("score_de") > col("score_es"), "de")
          .when(col("score_es") > col("score_en") && col("score_es") >= col("score_de"), "es")
          .otherwise("en"))
      .select(col("doc_id"), col("lang"), col("lang_pred"))
      .orderBy("doc_id")

  /** ROLLUP aggregation (hierarchical grouping-sets form). */
  def rollupStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"),
        (sum(col("n_chars")).cast("double") / count(col("n_chars"))).as("avg_chars"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang_g"),
        coalesce(col("source"), lit("(all)")).as("source_g"), col("n"), col("avg_chars"))
      .orderBy("lang_g", "source_g")

  /** INTERSECT set operation. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val part = t(spark, dir, "part")
    val big = part.filter(col("p_size") > 20).select(col("p_partkey"))
    val cheap = part.filter(col("p_retailprice") < 1500.0).select(col("p_partkey"))
    big.intersect(cheap).orderBy("p_partkey")
  }

  /** Approximate distinct counting (HLL sketch). The sketch estimate is
    * engine-specific, so the oracle-checked surface is the exact count plus
    * a tolerance verdict — each engine asserts its own sketch lands within
    * 5% of its exact count, and that boolean (deterministically true at this
    * cardinality) hash-matches.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
        (abs(approx_count_distinct(col("user_id")) - countDistinct(col("user_id")))
          <= lit(0.05) * countDistinct(col("user_id"))).as("approx_ok"))
      .orderBy("event_type")

  /** Rolling-hash document fingerprint: polynomial 32-bit-wrapped fold over
    * codepoints as a native `aggregate` higher-order function (no Scala UDF —
    * stays inside Catalyst, column-prunable, and DuckDB reproduces it exactly
    * with list_reduce; 64-bit wrap was unverifiable because DuckDB BIGINT
    * overflow throws rather than wrapping).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        when(length(col("text")) === 0, lit(0L)).otherwise(expr(
          """aggregate(sequence(1, length(text)), CAST(0 AS BIGINT),
            |  (h, i) -> (h * 31 + ascii(substring(text, i, 1))) % 4294967296)""".stripMargin))
          .as("fingerprint"))
      .orderBy("doc_id")

  /** Raw-text NLS evaluation rows (`evaluate_page.py:97-103` arithmetic) over
    * deterministic corrupted predictions — levenshtein is built-in (and
    * identical) in both engines.
    */
  def nlsEval(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("pred", regexp_replace(col("text"), "the", "teh"))
      .withColumn("lev", levenshtein(col("pred"), col("text")).cast("long"))
      .withColumn("maxlen", greatest(length(col("pred")), length(col("text"))))
      .select(col("doc_id"), col("lang"), col("lev"),
        (lit(1.0) - col("lev").cast("double") / col("maxlen")).as("nls"))
      .orderBy("doc_id")

  // ---- multimodal plumbing ----------------------------------------------------

  /** Opaque-binary column plumbing: utf-8 encode → BinaryType, byte length +
    * sha256 digest (the decode/feature steps on real media are stubbed — the
    * schema, partitioning and digest path are real).
    */
  def multimodalSha(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("payload", encode(col("text"), "utf-8"))
      .select(col("doc_id"), octet_length(col("payload")).cast("long").as("n_bytes"),
        sha2(col("payload"), 256).as("sha"))
      .orderBy("doc_id")

  /** Video frame sampling — the remaining multimodal op family (decode /
    * feature-extract / resize are covered by the image path; this is the
    * frame-sample shape). Videos are opaque binary payloads with typed
    * metadata (fps, duration_ms); a deterministic subset of documents
    * plays the video table. Sampling is uniform in TIME (one frame per
    * 500 ms), realized as a generator over a computed sequence — the scan
    * fans out to exactly the sampled frames, never one-row-per-source-frame
    * (a 2-hour 30 fps video is 216k frames but only 14.4k samples). The
    * per-frame decode is the documented sandbox stub: frame_sha stands in
    * for the decoded frame bytes as sha256(content_sha ':' frame_idx) —
    * deterministic, schema/partitioning/generator plumbing all real; on a
    * cluster the decode step is the same shape with the codec call inside
    * a mapPartitions batch.
    */
  def videoFrames(spark: SparkSession, dir: String): DataFrame = {
    val vids = t(spark, dir, "documents")
      .filter(col("doc_id") % 4 === 0)
      .select(col("doc_id").as("video_id"),
        // fps alternates PER VIDEO (every 4th doc is a video, so the parity
        // of doc_id div 4 — plain doc_id % 2 would be constant 0 here)
        expr("cast(24 + ((doc_id div 4) % 2) * 6 as bigint)").as("fps"),
        (lit(2000) + (col("doc_id") % 20) * 500).cast("long").as("duration_ms"),
        sha2(encode(col("text"), "utf-8"), 256).as("content_sha"))
    vids
      .select(col("video_id"), col("fps"), col("duration_ms"), col("content_sha"),
        explode(expr("sequence(0L, (duration_ms - 1) div 500)")).as("k"))
      .select(col("video_id"),
        (col("k") * 500).as("ts_ms"),
        expr("(k * 500 * fps) div 1000").as("frame_idx"),
        sha2(concat(col("content_sha"), lit(":"),
          expr("cast((k * 500 * fps) div 1000 as string)")), 256).as("frame_sha"))
      .orderBy("video_id", "ts_ms")
  }

  /** REAL per-frame video decode over a binaryFile scan of GFV1 containers
    * (committed fixtures; an MJPEG-style length-prefixed frame stream with
    * lossless frames — see [[graft.media.VideoFrames]]): uniform-in-time
    * sampling (one frame per 500 ms), length-prefix skip of unsampled
    * frames, actual pixel decode of each sampled frame through the same
    * [[graft.media.ImageDecode]] path as the image queries. Complements
    * [[videoFrames]] (the generator-shape query over the documents table,
    * whose per-frame decode is a digest stub): here the pixel_sha values
    * are oracle-checked against expectations an independent pure-Python
    * writer computed from the raw pattern arrays before any encoding.
    */
  def videoDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/*.gfv")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.media.VideoFrames.sampledFrames(bytes).map { s =>
          (n, s.tsMs, s.frameIdx, s.frame.width, s.frame.height,
            graft.media.ImageDecode.sha256Hex(s.frame.rgb))
        }
      }
      .toDF("name", "ts_ms", "frame_idx", "width", "height", "pixel_sha")
      .orderBy("name", "ts_ms")
  }

  /** Real image decode over a binaryFile scan: `load_image` parity
    * (`_internal/image.py:20-29` — ImageIO decode + EXIF orientation
    * normalize) in a typed map, with the base64 data-URI transport encode
    * (`image.py:56-66`) and digests as NATIVE expressions. Reads the
    * repo-committed PNG fixtures; the oracle's expected pixel digests were
    * produced by an independent pure-Python encoder before the PNGs ever
    * existed (tools/gen_media_fixture.py), so a green row proves the JVM
    * decode path bit-exact.
    */
  /** Media fixture dir — env-overridable; defaults to the repo-relative
    * committed fixtures (resolved from the working directory, so any
    * checkout run from the repo root works), with the sandbox absolute
    * path as the last fallback for driver-side runs from another cwd.
    */
  private def mediaDir: String =
    sys.env.getOrElse("GRAFT_MEDIA_DIR", {
      val rel = new java.io.File("src/test/resources/media")
      if (rel.isDirectory) rel.getAbsolutePath
      else "/root/repo/src/test/resources/media"
    })

  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile")
      .load(s"$mediaDir/*.png")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      // Spark's base64 emits RFC-2045 MIME chunking (\r\n every 76 chars);
      // a data URI needs the unchunked RFC-4648 form the reference's
      // b64encode produces — strip the line breaks natively
      .withColumn("data_uri", concat(lit("data:image/png;base64,"),
        regexp_replace(base64(col("content")), "\r\n", "")))
      .select(col("name"), col("content"),
        sha2(col("data_uri"), 256).as("uri_sha"),
        octet_length(col("content")).cast("long").as("n_bytes"))
    val decoded = files.select(col("name"), col("content")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (n, b) =>
        val d = graft.media.ImageDecode.loadImage(b)
        (n, d.width, d.height, graft.media.ImageDecode.sha256Hex(d.rgb))
      }).toDF("name", "width", "height", "pixel_sha")
    files.drop("content").join(decoded, "name")
      .select(col("name"), col("width"), col("height"), col("pixel_sha"),
        col("uri_sha"), col("n_bytes"))
      .orderBy("name")
  }

  /** Scanned-PDF page fan-out (`rasterize_pdf`, `_internal/pdf.py:20-54`):
    * one binary PDF row explodes into its per-page embedded raster images
    * (the scanned-document case — see [[graft.media.PdfPages]] for the
    * supported subset), verified against pixel digests computed by the
    * independent pure-Python PDF writer before embedding.
    */
  def pdfPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/*.pdf")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.media.PdfPages.pages(bytes).map { p =>
          (n, p.pageIndex, p.image.width, p.image.height,
            graft.media.ImageDecode.sha256Hex(p.image.rgb))
        }
      }
      .toDF("name", "page_index", "width", "height", "pixel_sha")
      .orderBy("name", "page_index")
  }

  /** Native text extraction from BORN-DIGITAL PDFs ([[graft.media.PdfText]]):
    * binaryFile scan → per-page content-stream interpretation (BT/ET text
    * blocks, Td/TD/Tm/T* positioning, Tj/'/"/TJ shows with the kern-space
    * rule, full literal/hex string decoding) → one row per text line in
    * top-down order. The reference rasterizes every PDF and OCRs the
    * pixels; for a text PDF the transcription IS the embedded text, so a
    * training-data pipeline extracts it directly and skips the render+OCR
    * round trip (scanned PDFs keep going through [[pdfPages]]). Oracle:
    * expected lines computed by the independent pure-Python interpreter
    * twin (tools/gen_pdftext_fixture.py) from the same documented rules.
    */
  def pdfText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/textpdf/*.pdf")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.media.PdfText.lines(bytes).map(l => (n, l.pageIndex, l.lineIndex, l.y, l.text))
      }
      .toDF("name", "page_index", "line_index", "y", "text")
      .orderBy("name", "page_index", "line_index")
  }

  /** Subset rasterization of VECTOR/TEXT PDF pages ([[graft.media.PdfRaster]]):
    * binaryFile scan → per-page content-stream rendering (re/m/l/c/v/y/h
    * path construction with 16-chord Bézier flattening, nonzero f and
    * even-odd f* pixel-center scanline fills, butt-cap quad strokes S/s/B
    * with w width and RG/G stroke color, rg/g fill color, q/Q state,
    * rectangle AND general polygon/even-odd clip paths, raster-XObject
    * `Do` compositing under ANY invertible CTM (axis-preserving forward
    * blit + inverse-mapped arbitrary-angle blit), axial `sh` shading,
    * form XObjects (translation-placed nested streams), Tr 3 invisible
    * text, and visible text via the built-in GlyphFont bitmaps at
    * dpi 144) → one row per page with the pixel digest. This narrows
    * the one pdfium-blocked reference capability (`_internal/pdf.py:20-54`
    * renders ANY page) to the deterministic subset, with radial/mesh
    * shading and scaled/rotated form placement rejected loudly. Oracle:
    * pixel digests computed by the independent pure-Python renderer twin
    * (tools/gen_pdfraster_fixture.py) under the same documented pixel
    * rules — every scanline formula written in the identical order so
    * IEEE doubles agree bit-for-bit.
    */
  def pdfRaster(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/rasterpdf/*.pdf")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.media.PdfRaster.rasterize(bytes, dpi = 144).map { p =>
          (n, p.pageIndex, p.image.width, p.image.height,
            graft.media.ImageDecode.sha256Hex(p.image.rgb))
        }
      }
      .toDF("name", "page_index", "width", "height", "pixel_sha")
      .orderBy("name", "page_index")
  }

  /** Classical layout analysis over rasterized pages — the north-star's
    * named pipeline run as ONE distributed projection: rasterize each
    * born-digital page ([[graft.media.PdfRaster]]), then segment it with
    * [[graft.layout.PageSegment]] (ink mask → recursive XY-cut in reading
    * order → per-block projection-profile line count, 8-connected
    * component count, and stroke-regularity printed/handwritten class).
    * Per page this is pure integer pixel arithmetic with no model in the
    * loop, so at 10^12 pages it is a narrow `flatMap` — no shuffle, no
    * inference service, byte-reproducible. Oracle: the fixture twin
    * renders pixel-identical pages (pixel_sha-asserted by q_pdf_raster)
    * and segments them with an independent Python implementation.
    */
  def pageSegment(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/rasterpdf/*.pdf")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.media.PdfRaster.rasterize(bytes, dpi = 144).flatMap { p =>
          graft.layout.PageSegment.segment(p.image).zipWithIndex.map {
            case (blk, i) =>
              (n, p.pageIndex, i, blk.box.x0, blk.box.y0, blk.box.x1, blk.box.y1,
                blk.nLines, blk.nComponents, blk.inkPx, blk.straightPx, blk.script)
          }
        }
      }
      .toDF("name", "page_index", "block_idx", "x0", "y0", "x1", "y1",
        "n_lines", "n_cc", "ink_px", "straight_px", "script")
      .orderBy("name", "page_index", "block_idx")
  }

  /** END-TO-END OCR-span extraction with no model in the loop — the
    * composed chain the baseline metric names: PDF bytes → rasterize
    * ([[graft.media.PdfRaster]]) → XY-cut segment + line boxes
    * ([[graft.layout.PageSegment]]) → deterministic template recognition
    * ([[graft.layout.GlyphOcr]], accepted only when re-rendering the
    * recognized glyphs reproduces the line's pixels EXACTLY — false reads
    * are structurally impossible). One narrow flatMap per page at any
    * scale; output is (block, line) spans in reading order. The scrawl
    * band and pure-fill scenes emit kind='unrecognized' rather than
    * guesses. Oracle: the fixture twin runs the same search (mirrored
    * spec) over pixel-identical renders.
    */
  def pageOcr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/rasterpdf/*.pdf")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.media.PdfRaster.rasterize(bytes, dpi = 144).flatMap { p =>
          graft.layout.GlyphOcr.recognizePage(p.image).map { case (bi, li, l) =>
            (n, p.pageIndex, bi, li, l.box.x0, l.box.y0, l.box.x1, l.box.y1,
              l.iscale, l.kind, l.text)
          }
        }
      }
      .toDF("name", "page_index", "block_idx", "line_idx",
        "x0", "y0", "x1", "y1", "iscale", "kind", "text")
      .orderBy("name", "page_index", "block_idx", "line_idx")
  }

  /** Audio decode + per-file features — the audio leg of multimodal
    * ingestion, and a REAL decode, not a stub: RIFF PCM needs no codec
    * library ([[graft.media.Wav]] parses the published container format
    * the way Warc/PdfPages do). Exact integer features (frame/duration
    * arithmetic, peak, Σs² energy — bounded ≤ 2^31·frames, zero
    * crossings on channel 0, sha of the raw PCM) so the oracle is an
    * exact fixture match against the generator's twin, which computed
    * them from the sample arrays BEFORE framing them as WAV. One narrow
    * map per file; scales as a binary scan.
    */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/audio/*.wav")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .map { case (n, bytes) =>
        val a = graft.media.Wav.decode(bytes)
        var peak = 0
        var energy = 0L
        var i = 0
        while (i < a.samples.length) {
          val s = a.samples(i).toInt
          if (math.abs(s) > peak) peak = math.abs(s)
          energy += s.toLong * s
          i += 1
        }
        var zc = 0L
        var f = a.channels // channel 0 strided walk, from frame 1
        while (f < a.samples.length) {
          if (a.samples(f - a.channels).toInt * a.samples(f).toInt < 0) zc += 1
          f += a.channels
        }
        val pcm = java.nio.ByteBuffer.allocate(a.samples.length * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        a.samples.foreach(pcm.putShort)
        (n, a.channels, a.sampleRate, a.frames.toLong,
          a.frames.toLong * 1000000L / a.sampleRate, peak, energy, zc,
          graft.media.ImageDecode.sha256Hex(pcm.array()))
      }
      .toDF("name", "channels", "sample_rate", "frames", "duration_us",
        "peak", "energy", "zero_crossings", "pcm_sha")
      .orderBy("name")
  }

  /** Per-20ms-window audio features over channel 0 — the feature-extract
    * batch shape the brief asks for: a per-file generator fans each file
    * into its full windows (no sample-row materialization between),
    * emitting exact integer energy / zero-crossing rows. Still a narrow
    * flatMap: windows of one file never leave their task.
    */
  def audioWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/audio/*.wav")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        val a = graft.media.Wav.decode(bytes)
        val win = audioWin20ms(n, a)
        (0 until a.frames / win).map { wi =>
          val (energy, zc) = winEnergyZc0(a, win, wi, needZc = true)
          (n, wi, win, energy, zc)
        }
      }
      .toDF("name", "win_idx", "n_frames", "energy", "zero_crossings")
      .orderBy("name", "win_idx")
  }

  /** 20 ms window size for `a` — the ONE windowing rule [[audioWindows]]
    * and [[audioVad]] share (the VAD oracle recomputes its islands from
    * the audio_windows fixture, so the two operators MUST window
    * identically — a shared rule makes divergence impossible).
    * Reject-loudly contract: a <50 Hz rate truncates the window to 0 and
    * the frame division at the callers would throw a bare
    * ArithmeticException.
    */
  private def audioWin20ms(name: String, a: graft.media.Wav.WavAudio): Int = {
    val win = a.sampleRate / 50
    require(win > 0, s"$name: sample rate ${a.sampleRate} Hz below the " +
      "50 Hz minimum for 20 ms windows")
    win
  }

  /** Channel-0 (Σs² energy, zero-crossing count) of full window `wi`
    * (frames [wi·win, (wi+1)·win)) in ONE pass — the single source of
    * truth for the window accumulation [[audioWindows]] (the fixture the
    * VAD oracle reads) and [[audioVad]] share. `needZc = false` skips the
    * sign-compare work entirely (the VAD test only consumes energy; the
    * branch is hoisted OUT of the per-sample loop so the corpus-scale VAD
    * pass pays nothing for the unused component).
    */
  private def winEnergyZc0(a: graft.media.Wav.WavAudio, win: Int, wi: Int,
                           needZc: Boolean): (Long, Long) = {
    var energy = 0L
    var zc = 0L
    var f = wi * win
    if (needZc) {
      var prev = 0
      while (f < (wi + 1) * win) {
        val s = a.samples(f * a.channels).toInt
        energy += s.toLong * s
        if (f > wi * win && prev * s < 0) zc += 1
        prev = s
        f += 1
      }
    } else {
      while (f < (wi + 1) * win) {
        val s = a.samples(f * a.channels).toInt
        energy += s.toLong * s
        f += 1
      }
    }
    (energy, zc)
  }

  /** 16 kHz-mono resampling — the normalization every ASR-prep pipeline
    * runs (Whisper-class models consume 16 kHz mono): stereo downmixes by
    * round-half-up averaged channels ((l+r+1) floor-div 2 — NOT a plain
    * floor average; the +1 biases ties upward, ADVICE r5), then linear
    * interpolation to 16 kHz in
    * INTEGER arithmetic only — the source position j·srcRate/16000 stays
    * a rational (quotient, remainder) pair, the lerp rounds half-up via
    * +8000, and every division is `Math.floorDiv` so the Python twin's
    * floor-division `//` matches exactly on negative samples. A 16 kHz
    * source reduces to the identity (frac = 0 everywhere). Per-file
    * narrow map — scales as a binary scan. Products bounded:
    * |s|·16000 < 2^30, so the lerp stays in Int.
    */
  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/audio/*.wav")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .map { case (n, bytes) =>
        val a = graft.media.Wav.decode(bytes)
        require(a.channels == 1 || a.channels == 2,
          s"$n: ${a.channels}-channel downmix unsupported (mono/stereo only)")
        val ch: Array[Short] =
          if (a.channels == 1) a.samples
          else Array.tabulate(a.samples.length / 2)(i =>
            Math.floorDiv(a.samples(2 * i) + a.samples(2 * i + 1) + 1, 2).toShort)
        val r2 = 16000
        val nOut = (ch.length.toLong * r2 / a.sampleRate).toInt
        val out = new Array[Short](nOut)
        var j = 0
        while (j < nOut) {
          val num = j.toLong * a.sampleRate
          val i0 = (num / r2).toInt
          val frac = (num % r2).toInt
          val s0 = ch(i0).toInt
          val s1 = (if (i0 + 1 < ch.length) ch(i0 + 1) else ch(ch.length - 1)).toInt
          out(j) = Math.floorDiv(s0 * (r2 - frac) + s1 * frac + r2 / 2, r2).toShort
          j += 1
        }
        var peak = 0
        var energy = 0L
        var i = 0
        while (i < out.length) {
          val s = out(i).toInt
          if (math.abs(s) > peak) peak = math.abs(s)
          energy += s.toLong * s
          i += 1
        }
        val pcm = java.nio.ByteBuffer.allocate(out.length * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.foreach(pcm.putShort)
        (n, a.sampleRate, a.channels, out.length.toLong, peak, energy,
          graft.media.ImageDecode.sha256Hex(pcm.array()))
      }
      .toDF("name", "src_rate", "src_channels", "out_frames", "out_peak",
        "out_energy", "out_sha")
      .orderBy("name")
  }

  /** Energy-threshold voice-activity detection over the 20 ms windows —
    * the silence-filtering stage an audio training pipeline runs before
    * transcription (ship only voiced spans to the expensive ASR model).
    * A window is VOICED iff its channel-0 energy exceeds 250 000 per
    * frame (RMS 500 of int16 full scale — integer-exact, no floats);
    * consecutive voiced windows merge into one segment, bridging gaps of
    * up to 2 unvoiced windows (the classic hangover), and longer gaps
    * split. Segmentation runs INSIDE each file's generator task — the
    * windows of one file never leave their task, so the whole operator is
    * a zero-Exchange binary scan at any corpus size (a
    * `Window.partitionBy(name)` would shuffle every row to get the same
    * answer). Oracle: a DuckDB gaps-and-islands query over the SAME
    * per-window fixture that q_audio_windows is hash-checked against.
    */
  def audioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/audio/*.wav")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        val a = graft.media.Wav.decode(bytes)
        val win = audioWin20ms(n, a) // same rule + energy as audioWindows
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(String, Int, Int, Int, Long, Long)]
        var segStart = -1; var segEnd = -1
        var nVoiced = 0L; var sumE = 0L; var segIdx = 0
        def flush(): Unit = if (segStart >= 0) {
          out += ((n, segIdx, segStart, segEnd, nVoiced, sumE))
          segIdx += 1; segStart = -1; nVoiced = 0L; sumE = 0L
        }
        var wi = 0
        val nWins = a.frames / win
        while (wi < nWins) {
          val energy = winEnergyZc0(a, win, wi, needZc = false)._1
          if (energy > win.toLong * 250000L) {
            // voiced: start, extend, or split on a gap > 2 windows
            if (segStart >= 0 && wi - segEnd > 3) flush()
            if (segStart < 0) segStart = wi
            segEnd = wi; nVoiced += 1; sumE += energy
          }
          wi += 1
        }
        flush()
        out
      }
      .toDF("name", "seg_idx", "start_win", "end_win", "n_voiced", "sum_energy")
      .orderBy("name", "seg_idx")
  }

  /** Perceptual-hash image near-dup — the MULTIMODAL member of the dedup
    * family ([[graft.media.PHash]]: Pillow-bit-exact 32×32 resize →
    * integer-cosine-table DCT → median-split 63-bit hash). The hash is a
    * pure per-image projection; the fixture-scale nearest neighbour here
    * is a broadcast crossJoin + `min(struct(dist, name))` aggregate (no
    * per-key window) — at corpus scale the hash feeds the banded-LSH
    * pair machinery the text family ships (q_simhash_pairs' shape).
    * Oracle: per-image hashes from the independent Python twin, the NN
    * recomputed in DuckDB with its own hex-cast/xor/bit_count.
    */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = tracked(spark.read.format("binaryFile")
      .load(s"$mediaDir/phash/*.png")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .map { case (n, bytes) =>
        (n, graft.media.PHash.hex(graft.media.PHash.of(
          graft.media.ImageDecode.decode(bytes))))
      }.toDF("name", "phash"))
    val other = hashes.select(col("name").as("o_name"), col("phash").as("o_phash"))
    hashes.crossJoin(broadcast(other))
      .filter(col("name") =!= col("o_name"))
      .withColumn("dist",
        expr("bit_count(cast(conv(phash, 16, 10) as bigint) ^ cast(conv(o_phash, 16, 10) as bigint))"))
      .groupBy(col("name"), col("phash"))
      .agg(min(struct(col("dist"), col("o_name"))).as("best"))
      .select(col("name"), col("phash"),
        col("best.o_name").as("nn_name"), col("best.dist").cast("int").as("nn_dist"),
        (col("best.dist") <= 10).as("near_dup"))
      .orderBy("name")
  }

  /** CER (character error rate) — the OCR evaluation metric the
    * north-star names for its divergence lineage: per recognized line,
    * Levenshtein edits against a reference, normalized by reference
    * length. Runs over the REAL recognizer output ([[pageOcr]], which is
    * exact on the fixture class), so the nonzero-CER cases come from a
    * deterministic perturbation of every third line — both engines build
    * the same perturbed hypothesis and run their own INDEPENDENT
    * Levenshtein implementations (Spark codegen'd vs DuckDB's), agreeing
    * on exact integer edit counts; cer is one double division of those
    * ints (bit-identical cross-engine). A typed narrow map at any scale.
    */
  def ocrCer(spark: SparkSession, dir: String): DataFrame = {
    val hyp = when((col("block_idx") + col("line_idx")) % 3 === 0,
      concat(lit("X"), expr("substring(text, 2)"), lit(" Z")))
      .otherwise(col("text"))
    pageOcr(spark, dir).filter(col("kind") === "text")
      .select(col("name"), col("page_index"), col("block_idx"), col("line_idx"),
        col("text").as("ref"), hyp.as("hyp"))
      .withColumn("ref_len", length(col("ref")).cast("long"))
      .withColumn("edits", levenshtein(col("ref"), col("hyp")).cast("long"))
      .withColumn("cer", col("edits").cast("double") / col("ref_len"))
      .orderBy("name", "page_index", "block_idx", "line_idx")
  }

  /** Seeded corpus SHUFFLE-SHARD — the final stage of training-data prep:
    * a deterministic pseudo-random permutation (md5 over a seeded key) and
    * a shard assignment for the training-file writer. Assignment is a pure
    * projection (zero shuffle); at write time the files come out of
    * `repartition(shard) + sortWithinPartitions(rk)` — the catalog query
    * verifies the PERMUTATION through order-statistics aggregates
    * (count / min_by / max_by / sum per shard) rather than a global
    * per-shard rank, which would funnel each shard through one task's
    * sort. Oracle recomputes the same assignment with DuckDB's
    * hex-cast + arg_min/arg_max.
    */
  def shuffleShard(spark: SparkSession, dir: String): DataFrame = {
    val shards = 8
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5(concat(lit("shuf-"), col("doc_id").cast("string"))).as("rk"))
      .withColumn("shard",
        (conv(substring(col("rk"), 1, 8), 16, 10).cast("long") % shards).cast("int"))
      .groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("rk")).as("first_doc"),
        max_by(col("doc_id"), col("rk")).as("last_doc"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy("shard")
  }

  /** WARC record inventory over the committed fixture captures (one plain
    * file, one gzip-member-per-record file — the Common Crawl layout):
    * every record's framing fields plus a sha256 of its (HTTP-unwrapped)
    * body. The oracle is the independent expected table
    * `tools/gen_warc_fixture.py` computes from the bytes it assembles —
    * any drift in record framing, gzip-member concatenation, or HTTP
    * header parsing lands as a hash mismatch.
    */
  def warcRecords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.sources.Warc.records(bytes).map { r =>
          (n, r.recIdx, r.warcType, r.targetUri, r.httpStatus,
            r.httpContentType, r.body.length,
            graft.media.ImageDecode.sha256Hex(r.body))
        }
      }
      .toDF("name", "rec_idx", "warc_type", "uri", "status", "content_type",
        "body_len", "body_sha")
      .orderBy("name", "rec_idx")
  }

  /** The composed from-the-crawl chain: WARC member → HTTP unwrap →
    * charset decode → [[graft.text.HtmlDom]] parse →
    * [[graft.text.MainContent]] spans — one narrow flatMap per capture
    * file, the full ingestion path of the north rule starting from the
    * crawl container instead of a pre-extracted text column. Only 200
    * `text/html` responses extract (a crawl always carries request/
    * metadata records and non-HTML bodies alongside).
    */
  def warcExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.sources.Warc.htmlPages(bytes).flatMap { case (uri, html) =>
          graft.text.MainContent.extractHtml(html).spans
            .map(s => (n, uri, s.offset, s.kind, s.text, s.media_ref))
        }
      }
      .toDF("name", "uri", "offset", "kind", "text", "media_ref")
      .orderBy("name", "uri", "offset")
  }

  /** Crawl-FRONTIER extraction over the committed captures: every anchor
    * of every 200 `text/html` page in document order — href, flattened
    * anchor text, and `rel` (the nofollow signal a crawler honors) — via
    * [[graft.text.PageMeta]]. The oracle is the independent expected
    * table the fixture generator computes from the links it plants.
    */
  def warcLinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (n, bytes) =>
        graft.sources.Warc.htmlPages(bytes).flatMap { case (uri, html) =>
          graft.text.PageMeta.ofHtml(html).links.zipWithIndex.map {
            case (l, i) => (n, uri, i, l.href, l.anchor, l.rel)
          }
        }
      }
      .toDF("name", "uri", "link_idx", "href", "anchor", "rel")
      .orderBy("name", "uri", "link_idx")
  }

  /** Crawl-frontier BUILD over the committed captures: every followable
    * outlink resolved against its page URI (RFC 3986 §5.2 via
    * [[graft.text.UrlResolve]]), canonicalized (case-folded scheme/host,
    * default port dropped, fragment stripped, non-http(s) schemes and
    * `rel` token lists containing `nofollow` excluded), then deduped with
    * a per-URL reference count. Resolution + normalization are pure
    * per-row projections, so the only shuffle is the terminal hash-agg on
    * the canonical URL — the minimal frontier-dedup shuffle; at crawl
    * scale the next hop repartitions BY HOST for politeness scheduling,
    * which this host column feeds. Oracle: the expected table the fixture
    * generator computes with Python's urllib (an independent RFC 3986
    * implementation) over the links it plants.
    */
  def warcFrontier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    warcOutlinks(spark)
      .map { case (_, u) => (u, graft.text.UrlResolve.hostOf(u)) }
      .toDF("url", "host")
      .groupBy("url", "host").agg(count(lit(1)).as("n_refs"))
      .select("url", "host", "n_refs")
      .orderBy("url")
  }

  /** ANCHOR-TEXT aggregation — the classic web-corpus description signal:
    * for every canonical link target, the inbound anchor texts collected
    * across the crawl (how the web DESCRIBES a page — used for retrieval
    * labels, title synthesis, and authority features). Per target:
    * inbound-link count, distinct referring pages, distinct referring
    * hosts (the cross-host count is the anti-spam denominator), distinct
    * anchor variants, and the most frequent anchor with a deterministic
    * lexicographic-min tiebreak (`min(struct(-cnt, anchor))` — an
    * aggregate, NOT a per-target window sort). Same followable-link
    * stream as the frontier ([[warcOutlinks]] semantics, anchor kept);
    * the parse output is cached once and feeds both aggregation branches,
    * which meet url-partitioned — the join adds no third shuffle of the
    * link volume. Oracle: DuckDB recomputes the whole aggregation from
    * the fixture generator's independently resolved per-link table.
    */
  def warcAnchors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val links = tracked(spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.Warc.htmlPages(bytes).flatMap { case (uri, html) =>
          graft.text.PageMeta.ofHtml(html).links.iterator
            .filterNot(_.noFollow)
            .flatMap(l => graft.text.UrlResolve.normalizeHttp(
              graft.text.UrlResolve.resolve(uri, l.href))
              .map(u => (u, uri, graft.text.UrlResolve.hostOf(uri), l.anchor)))
        }
      }.toDF("url", "page", "src_host", "anchor"))
    val tot = links.groupBy(col("url")).agg(
      count(lit(1)).as("n_links"),
      countDistinct(col("page")).as("n_pages"),
      countDistinct(col("src_host")).as("n_hosts"))
    val ac = links.groupBy(col("url"), col("anchor")).agg(count(lit(1)).as("cnt"))
    val top = ac.groupBy(col("url")).agg(
      count(lit(1)).as("n_anchors"),
      min(struct((-col("cnt")).as("neg"), col("anchor").as("anchor"))).as("best"))
      .select(col("url"), col("n_anchors"),
        col("best.anchor").as("top_anchor"), (-col("best.neg")).as("top_anchor_n"))
    tot.join(top, Seq("url"))
      .select(col("url"), col("n_links"), col("n_pages"), col("n_hosts"),
        col("n_anchors"), col("top_anchor"), col("top_anchor_n"))
      .orderBy("url")
  }

  /** Domain suffixes blocked before fetch (UT1-style category blocklist —
    * here the crawl's asset CDNs) and URL path keywords marking
    * site-furniture pages (the C4/FineWeb URL-filter stage drops
    * terms/privacy/login boilerplate by path). Tiny here; ~4M rows in the
    * real UT1 lists — still broadcast-sized.
    */
  val BlockedHostSuffixes: Seq[String] = Seq("cdn.example", "static.example")
  val BlockedPathKeywords: Seq[String] = Seq("privacy", "terms")

  /** URL blocklist gate over the crawl frontier — the filter every
    * published web-corpus pipeline runs BEFORE fetching: a domain
    * blocklist entry blocks its exact host and every subdomain, and path
    * keywords drop site-furniture pages. The subdomain match is NOT a
    * per-entry LIKE scan (O(|frontier|·|blocklist|) at 4M entries): each
    * host explodes into its O(#labels) dot-suffixes — a constant ≤ ~6 per
    * URL — and EQUI-joins the broadcast blocklist, so the frontier is one
    * narrow pass + one broadcast hash join at any scale. Host rules take
    * precedence over path rules; the emitted rule names the matched entry.
    * Oracle: DuckDB recomputes the verdicts from the independently
    * generated frontier fixture with the OTHER mechanics (per-entry
    * suffix-LIKE join), so the explode-join is verified against a
    * different algorithm, not itself.
    */
  def warcBlocklist(spark: SparkSession, dir: String): DataFrame = {
    val blk = broadcast(
      spark.createDataFrame(BlockedHostSuffixes.map(Tuple1(_))).toDF("entry"))
    val pathRule = BlockedPathKeywords.foldRight(lit(null).cast("string")) {
      (k, rest) => when(col("url").contains(s"/$k"), lit(k)).otherwise(rest)
    }
    // LEFT-join the ≤6 suffixes per URL against the broadcast list, then
    // collapse back with a partial-aggregated min — no url-keyed join-back
    // materializing (and broadcasting) the blocked subset, whose size is a
    // frontier-fraction, not a dimension, at real scale
    warcFrontier(spark, dir)
      .withColumn("parts", split(col("host"), "\\."))
      .withColumn("sfx", explode(expr(
        "transform(sequence(1, size(parts)), i -> array_join(slice(parts, i, size(parts)-i+1), '.'))")))
      .join(blk, col("sfx") === col("entry"), "left")
      .groupBy(col("url"), col("host"), col("n_refs"))
      .agg(min(col("entry")).as("host_rule"))
      .select(col("url"), col("host"), col("n_refs"),
        when(col("host_rule").isNotNull, lit("blocked_host"))
          .when(pathRule.isNotNull, lit("blocked_path"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("host_rule"), pathRule, lit("")).as("rule"))
      .orderBy("url")
  }

  /** The followable-outlink stream every frontier-family query starts from:
    * (page_uri, resolved_url) pairs — `rel=nofollow` dropped, RFC 3986
    * resolution against the page URI, canonical http(s) form. A pure
    * per-page projection: no shuffle until the consumer aggregates.
    */
  private def warcOutlinks(spark: SparkSession): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.Warc.htmlPages(bytes).flatMap { case (uri, html) =>
          graft.text.PageMeta.ofHtml(html).links.iterator
            .filterNot(_.noFollow)
            .flatMap(l => graft.text.UrlResolve.normalizeHttp(
              graft.text.UrlResolve.resolve(uri, l.href)))
            .map(u => (uri, u))
        }
      }
  }

  /** Politeness gate over the frontier ([[graft.text.Robots]], RFC 9309):
    * robots.txt captures in the same crawl are keyed by ORIGIN
    * (scheme://host[:port], the §2.3 scope — the :8080 origin does NOT
    * inherit the :443 rules), broadcast-joined against the frontier (the
    * per-origin rule table is tiny at any crawl scale), and each URL's
    * path?query target is evaluated under the longest-match/allow-ties
    * precedence for the crawling agent. Origins without a captured
    * robots.txt default to allowed. Oracle: the fixture generator's
    * independent Python RFC 9309 twin over the rules it plants.
    */
  def warcRobots(spark: SparkSession, dir: String): DataFrame =
    warcRobotsCore(spark).orderBy("url")

  /** (url, host, n_refs, allowed) without the presentation sort — shared by
    * the catalog query and the scheduler that consumes it unordered.
    */
  private def warcRobotsCore(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val robots = spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .select(col("content")).as[Array[Byte]]
      .flatMap { b =>
        graft.sources.Warc.records(b)
          .filter(r => r.warcType == "response" && r.httpStatus == 200 &&
            graft.text.UrlResolve.parse(r.targetUri).path == "/robots.txt")
          .flatMap { r =>
            // parse ONCE per origin, here on the tiny robots side — the
            // old per-row urlAllowed call re-parsed the whole robots.txt
            // body for EVERY frontier URL of the host (O(frontier ×
            // body)); what rides the broadcast is the agent-resolved rule
            // list, exactly the pre-parsed broadcast-table shape the
            // Robots scaladoc prescribes
            val body = new String(r.body, java.nio.charset.StandardCharsets.UTF_8)
            val rules = graft.text.Robots
              .rulesFor(graft.text.Robots.parse(body), "graftbot")
              .map(ru => (ru.allow, ru.pattern))
            graft.text.UrlResolve.originOf(r.targetUri).map(o => (o, rules))
          }
          .toSeq
      }.toDF("origin", "rules")
    val frontier = warcOutlinks(spark)
      .map { case (_, u) =>
        (u, graft.text.UrlResolve.hostOf(u),
          graft.text.UrlResolve.originOf(u).get)
      }
      .toDF("url", "host", "origin")
      .groupBy("url", "host", "origin").agg(count(lit(1)).as("n_refs"))
    frontier.join(broadcast(robots), Seq("origin"), "left")
      .as[(String, String, String, Long, Option[Seq[(Boolean, String)]])]
      .map { case (_, url, host, n, rules) =>
        val ok = rules.forall { rs =>
          val u = graft.text.UrlResolve.parse(url)
          val target = (if (u.path.isEmpty) "/" else u.path) +
            u.query.fold("")("?" + _)
          graft.text.Robots.allowed(
            rs.iterator.map(t => graft.text.Robots.Rule(t._1, t._2)).toVector,
            target)
        }
        (url, host, n, ok)
      }
      .toDF("url", "host", "n_refs", "allowed")
  }

  /** Per-host fetch budget for this wave. */
  private[graft] val ScheduleBudget = 2

  /** Politeness SCHEDULER over the gated frontier: each host contributes at
    * most [[ScheduleBudget]] URLs to the next fetch wave (most-referenced
    * first, URL as the total tiebreak), because a polite crawler fetches a
    * bounded number of pages per host per wave regardless of how big the
    * host's frontier backlog is. Selection runs through [[TopM]] — per-key
    * bounded heaps with map-side partial selection — so a mega-host with a
    * 10^8-URL backlog costs O(budget) state per partition instead of one
    * task sorting the whole backlog (the WindowExec funnel); the heap map's
    * footprint at high host cardinality is the same as a partial hash-agg
    * buffer. Oracle: the equivalent `row_number()` window in DuckDB over
    * the expected robots table.
    */
  def warcSchedule(spark: SparkSession, dir: String): DataFrame = {
    val allowed = warcRobotsCore(spark).where(col("allowed")).drop("allowed")
    TopM.topM(allowed, "host", Seq(("n_refs", false), ("url", true)),
        ScheduleBudget, "wave")
      .select(col("host"), col("url"), col("n_refs"), col("wave"))
      .orderBy("host", "wave")
  }

  private[graft] val RankIters = 10
  private[graft] val RankBase = 1000000000L // 1e9 micro-units seeded per host

  /** Link-graph authority scoring: PageRank (damping 0.85) over the HOST
    * graph of the crawl, [[RankIters]] fixed power iterations in integer
    * micro-units so the result is exactly reproducible across engines —
    * each host seeds [[RankBase]], a round sends `rank div out_degree` down
    * every distinct out-edge (self-edges dropped), and
    * `rank' = 0.15·base + 0.85·Σ contributions` evaluated as
    * `(85 · Σc) div 100` (sums of longs are order-independent, unlike float
    * PageRank whose result depends on partitioning). Mass reaching a
    * dangling host (no out-edges) leaves the system — the standard
    * simplification, mirrored in both oracles. Per iteration the only
    * shuffle is the contribution hash-agg keyed by target host
    * (map-side-combined); edges / out-degrees / the node list are computed
    * once and cache-reused across all rounds, and the rank lineage is a
    * linear [[RankIters]]-deep plan (each round references the previous
    * exactly once — no exponential nesting, so no per-round cut is needed;
    * at 10^9-node scale each round's ranks would be checkpointed like the
    * dedup-CC loop's label table). Verified two independent ways: the
    * DuckDB oracle RECOMPUTES all ten iterations from the expected edge
    * table with the same integer arithmetic, and WarcSpec compares against
    * the fixture generator's independent Python twin.
    */
  def warcLinkRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = warcOutlinks(spark)
      .map { case (p, u) =>
        (graft.text.UrlResolve.hostOf(p), graft.text.UrlResolve.hostOf(u))
      }
      .toDF("src", "dst").where(col("src") =!= col("dst")).distinct()
    linkRankFrom(spark, edges).orderBy("host")
  }

  /** Recrawl DELTA over the docs corpus ([[SnapshotDelta]]): generation B
    * is a deterministic synthetic next crawl of `documents` — every 97th
    * doc gone (site vanished), every 13th doc's text revised, every 29th
    * doc re-published under a shifted id (new URL) — and the delta
    * classifies every key across both generations in one full-outer join
    * of (key, content-digest) projections. This is how a 10^12-doc table
    * is MAINTAINED: the next pipeline run consumes `added`/`changed` rows
    * only, instead of reprocessing the corpus. Oracle: the same
    * generation-B view and full-outer classification in DuckDB (text
    * equality there, digest equality here — same verdicts).
    */
  def snapshotDelta(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    SnapshotDelta.delta(a, nextCrawlOf(a), "doc_id", col("text")).orderBy("doc_id")
  }

  /** The deterministic synthetic NEXT CRAWL of a (doc_id, text) generation —
    * every 97th doc gone, every 13th revised, every 29th re-published under
    * a shifted id — shared by [[snapshotDelta]] (which classifies it) and
    * [[incrementalUpdate]] (which maintains a derived table against it).
    */
  private def nextCrawlOf(a: DataFrame): DataFrame =
    a.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionAll(a.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))

  /** DELTA-DRIVEN incremental maintenance — the step AFTER [[snapshotDelta]]
    * classifies a recrawl: a derived per-doc table (here word count + content
    * digest, standing in for any expensive per-doc extraction) is brought up
    * to generation B by REUSING generation A's rows for `unchanged` keys and
    * recomputing ONLY `added`/`changed` keys; `removed` keys drop out. At
    * 10^12 docs this is the difference between reprocessing the corpus and
    * touching the few-percent churn of one crawl cycle: the delta join ships
    * 8-byte digests, the recompute side is delta-sized, and the reuse side is
    * a semi join against delta keys (shuffle-free when both sides share the
    * key bucketing). The `src` column carries the provenance so the claim is
    * oracle-checked: the merged table must equal a FULL recompute over
    * generation B, row for row, with `reused` exactly on the unchanged keys.
    */
  def incrementalUpdate(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val b = nextCrawlOf(a)
    // the per-doc derivation being maintained (any pure projection works —
    // reuse is valid because unchanged keys have byte-equal content)
    def derived(df: DataFrame, srcTag: String): DataFrame =
      df.select(col("doc_id"), size(split(col("text"), " ")).as("n_words"),
        md5(col("text")).as("sha"), lit(srcTag).as("src"))
    val d = tracked(SnapshotDelta.delta(a, b, "doc_id", col("text")))
    val reused = derived(a, "reused")
      .join(d.filter(col("status") === "unchanged").select("doc_id"), Seq("doc_id"), "left_semi")
    val fresh = derived(b, "fresh")
      .join(d.filter(col("status").isin("added", "changed")).select("doc_id"), Seq("doc_id"), "left_semi")
    reused.unionAll(fresh).orderBy("doc_id")
  }

  // ---- published web-corpus quality filters --------------------------------

  /** Gopher quality-rule parameters (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", App. A1.1):
    * word-count bounds, mean-word-length band, minimum fraction of words
    * containing an alphabetic character, and minimum distinct stop-word
    * presence. Documents failing any rule are dropped before training.
    */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMinAlphaFrac = 0.8
  val GopherMinStopwords = 2
  /** The stop-word presence list. Gopher's published list is {the, be, to,
    * of, and, that, have, with}; of those only "the" occurs in the synthetic
    * corpus vocabulary, so the paper's rule would constant-fail here and
    * assert nothing. The list is therefore LOCALIZED to the vocabulary's two
    * attested function words — same rule shape (≥ [[GopherMinStopwords]]
    * distinct members present), discriminating on this corpus (~half the
    * docs pass all rules).
    */
  val GopherStopwords: Seq[String] = Seq("the", "a")

  /** GOPHER document-quality rules as one narrow projection: every metric is
    * a row-local fold over the doc's own word array (exact integer sums, one
    * double division each — the cross-engine float protocol), so the filter
    * runs inside the scan stage with ZERO shuffles at any corpus scale; the
    * presentation sort is the only exchange. The verdict is emitted as an
    * int flag alongside the metrics (not applied as a filter) so the oracle
    * checks every rule's arithmetic, not just the survivor set.
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = GopherStopwords.map(s => s"'$s'").mkString(", ")
    t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        size(col("words")).as("n_words"),
        expr("aggregate(words, 0L, (acc, w) -> acc + length(w))").as("len_sum"),
        expr("size(filter(words, w -> w rlike '[a-zA-Z]'))").as("alpha_words"),
        expr(s"size(filter(array($stopArr), s -> array_contains(words, s)))").as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        (col("len_sum").cast("double") / col("n_words")).as("mean_word_len"),
        (col("alpha_words").cast("double") / col("n_words")).as("alpha_frac"),
        col("n_stop"),
        (col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords &&
          col("len_sum").cast("double") / col("n_words") >= GopherMinMeanWordLen &&
          col("len_sum").cast("double") / col("n_words") <= GopherMaxMeanWordLen &&
          col("alpha_words").cast("double") / col("n_words") >= GopherMinAlphaFrac &&
          col("n_stop") >= GopherMinStopwords).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** C4 cleaning parameters (Raffel et al. 2020, "Exploring the Limits of
    * Transfer Learning with a Unified Text-to-Text Transformer", §2.2): the
    * line-level keep rules (terminal punctuation, minimum words, no
    * "javascript") and the document-level drops (lorem ipsum, curly brace,
    * minimum surviving sentences). [[C4SentLen]] is local: the synthetic
    * corpus is one unpunctuated line per doc, so sentence structure is
    * CONSTRUCTED deterministically (fixed-width word chunks; full chunks get
    * a terminal '.', the partial tail none — a truncated-scrape tail), the
    * same planted-structure pattern the boilerplate/dedup family uses.
    */
  val C4SentLen = 8
  val C4MinLineWords = 3
  val C4MinSentences = 3

  /** C4-style corpus cleaning: line-level keep rules then document-level
    * drops, with ORDER-PRESERVING reassembly of the survivors. Plan shape:
    * sentence construction and both document-level `contains` checks are
    * row-local projections (no shuffle), the explode fans out lines, the
    * line rules filter narrowly, and the single exchange is the per-doc
    * regroup (array_sort over (pos, sent) structs — collect order is
    * nondeterministic, position is data). Bad docs are filtered BEFORE the
    * explode, so a dropped doc costs one row, not its line fan-out.
    */
  def c4Filter(spark: SparkSession, dir: String): DataFrame = {
    // resplit (round 6): single-split scan feeding interpreted per-row
    // line construction — spread it across cores first
    val lined = resplitForCpu(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"),
        expr(
          s"""transform(sequence(0, (size(words) - 1) DIV $C4SentLen),
             |  k -> concat(concat_ws(' ', slice(words, k * $C4SentLen + 1, $C4SentLen)),
             |    IF(size(slice(words, k * $C4SentLen + 1, $C4SentLen)) = $C4SentLen, '.', '')))""".stripMargin)
          .as("lines0"))
      // planted real-web debris, keyed to the doc id so the oracle plants
      // identically: a JS-wall line, a too-short line, a lorem-ipsum line
      // (dooms the doc), a code line (dooms the doc via the brace rule)
      .select(col("doc_id"), concat(col("lines0"),
        when(col("doc_id") % 7 === 0, array(lit("enable javascript to view this site.")))
          .otherwise(expr("CAST(array() AS array<string>)")),
        when(col("doc_id") % 11 === 0, array(lit("terms apply.")))
          .otherwise(expr("CAST(array() AS array<string>)")),
        when(col("doc_id") % 13 === 0, array(lit("lorem ipsum dolor sit amet.")))
          .otherwise(expr("CAST(array() AS array<string>)")),
        when(col("doc_id") % 19 === 0, array(lit("function() { return page; }.")))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("lines"))
    lined
      .filter(instr(lower(concat_ws(" ", col("lines"))), "lorem ipsum") === 0 &&
        instr(concat_ws(" ", col("lines")), "{") === 0)
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "sent")))
      .filter(col("sent").rlike("[.!?]$") &&
        size(split(col("sent"), " ")) >= C4MinLineWords &&
        instr(lower(col("sent")), "javascript") === 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          expr("transform(array_sort(collect_list(struct(pos, sent))), x -> x.sent)"),
          " ")).as("clean_sha"))
      .filter(col("n_kept") >= C4MinSentences)
      .orderBy("doc_id")
  }

  /** Gopher REPETITION-rule parameters (Rae et al. 2021, App. A1.1): a doc
    * is dropped when too much of it is internal repetition — characters in
    * the most frequent 2-gram, in duplicated 5-grams, or in duplicate lines.
    * Thresholds are LOCALIZED (the paper's 0.20/0.15/0.30 assume page-scale
    * documents where repetition concentrates; these ~54-word synthetic docs
    * need tighter bounds for the rules to discriminate — a planted repeated
    * line lands at ~0.25 duplicate-line fraction). Lines are constructed
    * [[C4SentLen]]-word chunks (the corpus is one unpunctuated line per
    * doc), and every 23rd doc gets its FIRST line replanted at the end —
    * the within-doc repetition the rules exist to catch.
    */
  val RepTop2GramMaxFrac = 0.10
  val RepDup5GramMaxFrac = 0.05
  val RepDupLineMaxFrac = 0.10

  /** GOPHER repetition rules: per-document repetition fractions and the keep
    * verdict. All three signals are WITHIN-document statistics, so every
    * aggregate is keyed by doc_id and partial-aggregates before its
    * exchange; the top-2-gram selection is a max(struct(cnt, g)) aggregation
    * (deterministic tie-break on the gram text), NOT a per-doc window sort —
    * the same no-WindowExec funnel rule the rest of the catalog follows.
    * Ratios are exact integer character sums over one double division.
    */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    // resplit (round 6): the documents table is a single parquet split, so
    // the interpreted line/gram construction below otherwise runs on ONE
    // task; the row-local work dwarfs the one tiny exchange
    val base = tracked(resplitForCpu(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), expr(
        s"""transform(sequence(0, (size(words) - 1) DIV $C4SentLen),
           |  k -> concat_ws(' ', slice(words, k * $C4SentLen + 1, $C4SentLen)))""".stripMargin)
        .as("lines0"))
      .select(col("doc_id"), concat(col("lines0"),
        when(col("doc_id") % 23 === 0, slice(col("lines0"), 1, 1))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("lines"))
      .withColumn("full", array_join(col("lines"), " "))
      .select(col("doc_id"), col("lines"), length(col("full")).as("total_chars"),
        split(col("full"), " ").as("w2")))
    // guard the sub-n-word doc: Spark's sequence(0, negative) DESCENDS
    // ([0,-1,…] — negative slice starts throw), where the DuckDB oracle's
    // range(0, negative) is EMPTY; the CASE makes both sides emit no grams
    def gramsOf(n: Int) = base.select(col("doc_id"),
      explode(expr(
        s"""CASE WHEN size(w2) >= $n THEN
           |  transform(sequence(0, size(w2) - $n), i -> concat_ws(' ', slice(w2, i + 1, $n)))
           |ELSE CAST(array() AS array<string>) END""".stripMargin)).as("g"))
    val top2 = gramsOf(2)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(max(struct(col("cnt"), col("g"))).as("top"))
      .select(col("doc_id"), (col("top.cnt") * length(col("top.g"))).as("top2_chars"))
    val dup5 = gramsOf(5)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(
        sum(when(col("cnt") >= 2, col("cnt") * length(col("g"))).otherwise(lit(0L))).as("dup5_chars"),
        sum(col("cnt") * length(col("g"))).as("all5_chars"))
    val dupLine = base.select(col("doc_id"), explode(col("lines")).as("l"))
      .groupBy(col("doc_id"), col("l")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(
        sum(when(col("cnt") >= 2, col("cnt") * length(col("l"))).otherwise(lit(0L))).as("dupline_chars"),
        sum(col("cnt") * length(col("l"))).as("allline_chars"))
    base.select(col("doc_id"), col("total_chars"))
      .join(top2, Seq("doc_id")).join(dup5, Seq("doc_id")).join(dupLine, Seq("doc_id"))
      .select(col("doc_id"),
        (col("top2_chars").cast("double") / col("total_chars")).as("top2_frac"),
        (col("dup5_chars").cast("double") / col("all5_chars")).as("dup5_frac"),
        (col("dupline_chars").cast("double") / col("allline_chars")).as("dup_line_frac"),
        (col("top2_chars").cast("double") / col("total_chars") <= RepTop2GramMaxFrac &&
          col("dup5_chars").cast("double") / col("all5_chars") <= RepDup5GramMaxFrac &&
          col("dupline_chars").cast("double") / col("allline_chars") <= RepDupLineMaxFrac)
          .cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** LM quality-filter parameters (Wenzek et al. 2020, "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", §3: a small
    * in-domain language model scores every crawled document and the
    * worst-predicted tail is dropped). [[LmTrainMod]] selects the bounded
    * in-domain training slice (doc_id ≡ 0 mod 10 — CCNet trains its KenLM
    * on Wikipedia, a fixed reference corpus, NOT on the corpus being
    * scored; the slice plays that role here and is what makes the model a
    * bounded artifact at any corpus scale). [[LmPruneMinCount]] is the
    * model-pruning threshold (KenLM's `--prune`: singleton n-grams are
    * dropped, which both shrinks the artifact and exercises the backoff
    * path on every pruned gram). [[LmBackoffMicroNum]]/[[LmMicro]] encode
    * the stupid-backoff weight α = 0.4 (Brants et al. 2007, "Large
    * Language Models in Machine Translation", §4) in the micro-unit
    * integer space. [[LmKeepMinMicroMean]] is the keep cutoff, chosen to
    * discriminate on the synthetic corpus (~the head+middle fraction CCNet
    * keeps); any constant is oracle-exact since both engines compare the
    * same integer.
    */
  val LmTrainMod = 10
  val LmPruneMinCount = 2
  val LmMicro = 1000000L
  val LmBackoffMicroNum = 400000L
  val LmKeepMinMicroMean = 10000L

  /** CCNet-style LM quality scoring: a bigram stupid-backoff model trained
    * on a CLEAN in-domain reference slice (CCNet trains its KenLM on
    * Wikipedia, never on the crawl being scored) scores every document;
    * badly-modeled documents (gibberish, wrong-language residue, binary
    * spill decoded as text) score low and are flagged for the drop the
    * CCNet tail bucket gets. The planted failure class is exactly that:
    * every 29th doc gets an out-of-vocabulary twin (tokens replaced by
    * md5-fragment gibberish, deterministic in both engines) whose every
    * bigram AND unigram misses the model — unigram statistics alone
    * ([[tokenRarity]], [[gopherQuality]]) would need the vocabulary too,
    * but the LM filter is the member of the family that ALSO kills
    * well-formed-vocabulary word salad on real corpora via the bigram
    * term.
    *
    * Scoring is in LINEAR micro-unit probabilities, not log space — the
    * deliberate integer-exact twin of a float classic, exactly like the
    * integer-micro-unit PageRank ([[graft.SparkEntry.oracleSql]]
    * q_warc_rank): per-token score = ⌊10^6·cnt(w₁w₂)/cnt(w₁)⌋ when the
    * bigram survives pruning, else the backoff ⌊0.4·10^6·cnt(w₂)/N⌋, all
    * BIGINT division identical in Spark (`DIV`) and DuckDB (`//`), so the
    * oracle is hash-exact where a log-domain perplexity would drift in
    * libm ulps (the same adjudication [[tokenRarity]] documents). The mean
    * micro-prob ranks documents monotonically opposite to perplexity for a
    * fixed length regime, which is all a quantile/threshold filter uses.
    *
    * Plan shape at 10^12 docs: the model is trained from the bounded
    * reference slice with two partial-aggregated counts (one exchange each,
    * keyed on the gram — slice-sized, not corpus-sized), pruned, and
    * BROADCAST: the scored corpus never shuffles on a gram key, and the
    * per-doc re-aggregation collapses map-side because an exploded doc's
    * grams are co-located (one exchange of one row per doc). The backoff
    * denominator (the slice's token total) is collected into a LITERAL at
    * build time — the IVF-centroid pattern — so no per-gram-row join exists
    * just to attach a constant. If a reference corpus ever outgrew the
    * broadcast threshold, the escape hatch is the ordinary gram-keyed hash
    * join — the measured [[tokenRarityFrom]] adjudication.
    */
  def lmQuality(spark: SparkSession, dir: String): DataFrame = {
    // resplit (round 6): single-split scan; both the planted-noise leg's
    // per-word md5 rewrite and the scoring explode are row-local CPU
    val base = resplitForCpu(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    val scoredSide = base.unionAll(base.filter(col("doc_id") % 29 === 0)
      .select((col("doc_id") + 600000).as("doc_id"),
        expr("array_join(transform(split(text, ' '), w -> substring(md5(w), 1, 6)), ' ')")
          .as("text")))
    lmQualityFrom(base.filter(col("doc_id") % LmTrainMod === 0), scoredSide)
      .orderBy("doc_id")
  }

  /** The scoring core: train the backoff model on `trainIn`, score every
    * document of `docsIn` (both (doc_id, text); no presentation sort) —
    * shared by [[lmQuality]] and the lm tier ([[graft.jobs.Tier]]). Separate train/score
    * inputs are the production shape: the reference model corpus is a
    * fixed curated artifact, the scored corpus is the crawl.
    */
  private[graft] def lmQualityFrom(trainIn: DataFrame, docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), split(col("text"), " ").as("words"))
    val train = trainIn.select(split(col("text"), " ").as("words"))
    // unigram counts over the training slice: feeds the prefix denominator,
    // the backoff numerator AND the total — tracked, released by the caller
    val uni = tracked(train.select(explode(col("words")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt_uni")))
    // the backoff denominator is ONE number from the bounded slice —
    // collect it into a literal (the IVF-centroid pattern) instead of
    // crossJoin(broadcast(1 row)): a BroadcastNestedLoopJoin per gram row
    // is a whole join stage spent attaching a constant, and the catalog
    // plan audit rightly rejects the shape
    val totRow = uni.agg(sum(col("cnt_uni"))).collect()(0)
    require(!totRow.isNullAt(0) && totRow.getLong(0) > 0L,
      "LM training slice is empty — the backoff model has no denominator")
    val total = totRow.getLong(0)
    val bi = lmBigramModel(trainIn)
    lmBigrams(docs, col("doc_id"))
      .join(broadcast(bi), Seq("w1", "w2"), "left_outer")
      .join(broadcast(uni.select(col("w").as("w1"), col("cnt_uni").as("cnt_prefix"))),
        Seq("w1"), "left_outer")
      .join(broadcast(uni.select(col("w").as("w2"), col("cnt_uni").as("cnt_next"))),
        Seq("w2"), "left_outer")
      .select(col("doc_id"),
        when(col("cnt_bi").isNotNull, expr(s"($LmMicro * cnt_bi) DIV cnt_prefix"))
          .otherwise(expr(s"($LmBackoffMicroNum * coalesce(cnt_next, 0L)) DIV ${total}L"))
          .as("p_micro"),
        col("cnt_bi").isNotNull.cast("long").as("hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(col("hit")).as("bigram_hits"),
        sum(col("p_micro")).as("score_sum"))
      .select(col("doc_id"), col("n_scored"), col("bigram_hits"),
        expr("score_sum DIV n_scored").as("mean_p_micro"),
        (expr("score_sum DIV n_scored") >= LmKeepMinMicroMean).cast("int").as("keep"))
  }

  /** The model's pruned bigram table (w1, w2, cnt_bi) from the (doc_id,
    * text) training slice — the bounded artifact [[lmQualityFrom]]
    * broadcasts.
    */
  private[graft] def lmBigramModel(trainIn: DataFrame): DataFrame =
    lmBigrams(trainIn.select(split(col("text"), " ").as("words")))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt_bi"))
      .filter(col("cnt_bi") >= LmPruneMinCount)

  private def lmBigrams(df: DataFrame, keep: Column*): DataFrame = df
    .filter(size(col("words")) >= 2)
    .select(keep :+ explode(expr(
      """transform(sequence(0, size(words) - 2),
        |  i -> named_struct('w1', element_at(words, i + 1), 'w2', element_at(words, i + 2)))"""
        .stripMargin)).as("g"): _*)
    .select(keep :+ col("g.w1").as("w1") :+ col("g.w2").as("w2"): _*)

  /** Exact-substring dedup gram length, in words (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better", use 50
    * BPE tokens; 10 words here because the synthetic docs are ~50 words).
    */
  val SubstrGramLen = 10

  /** EXACT SUBSTRING deduplication (Lee et al. 2021): any
    * [[SubstrGramLen]]-word run that occurs more than once ANYWHERE in the
    * corpus is removed from every document (the aggressive remove-all
    * variant — deterministic, and the one that needs no canonical-occurrence
    * tiebreak), and each document reassembles its surviving words in order.
    * This is the span-level member of the dedup family: exact/minhash/simhash
    * dedup drop whole documents, this removes the duplicated REGIONS that
    * survive document-level dedup (template paragraphs, quoted reposts).
    * The corpus shares no natural 10-grams at test scale, so duplication is
    * planted: every 17th doc gets a prefixed mirror copy under a fresh id —
    * interior grams duplicate, the mirror's prefix words survive. Plan
    * shape: grams are md5 digests computed row-locally (32-byte shuffle
    * rows, never gram text), the dup set is one partial-aggregated count,
    * coverage expands dup grams to positions via a row-local sequence, and
    * the kept-token regroup is the array_sort struct reassembly. A fully
    * covered document vanishes (its every gram duplicated), like the
    * all-boilerplate doc in [[boilerplateStrip]].
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame = {
    // resplit (round 6): the md5-per-gram explosion in the core ran on the
    // TWO tasks of the base∪mirror single-split scans
    val base = resplitForCpu(spark, t(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    substringDedupFrom(base
      .unionAll(base.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("mirror copy of "), col("text")).as("text"))))
      .orderBy("doc_id")
  }

  /** The substring-dedup core from any (doc_id, text) frame (no planted
    * mirrors, no presentation sort) — shared by [[substringDedup]] and the
    * substr tier ([[graft.jobs.Tier]]).
    *
    * Shape adjudicated by a same-JVM alternating A/B at 500k docs / 15.5M
    * grams / 93% duplication (the family-chain adversarial corpus): the
    * coverage blow-up here looks expensive ([[SubstrGramLen]] rows per
    * dup-gram occurrence before the distinct) but the positions of one
    * document's grams are CO-LOCATED, so the map-side partial aggregate
    * collapses the 10× expansion back to ≤token volume before any exchange,
    * and every stage stays inside whole-stage codegen. The "obvious"
    * row-local rewrite (collect dup-gram starts per doc, join back once,
    * erase with filter/transform/array_contains lambdas) measured 2.2×
    * SLOWER (17.7 s vs 38.8 s, min of 2 alternating runs): higher-order
    * functions evaluate interpreted outside codegen, the erase pays
    * O(len·coverage) array_contains per doc, and the full words arrays
    * still shuffle to meet the per-doc start lists — it trades three
    * digest/int-row exchanges for one token-text exchange plus interpreted
    * per-token CPU, and loses, so it is not shipped.
    */
  private[graft] def substringDedupFrom(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), split(col("text"), " ").as("words"))
    val grams = tracked(docs.select(col("doc_id"),
      posexplode(expr(
        s"""CASE WHEN size(words) >= $SubstrGramLen THEN
           |  transform(sequence(0, size(words) - $SubstrGramLen),
           |    i -> md5(concat_ws(' ', slice(words, i + 1, $SubstrGramLen))))
           |ELSE CAST(array() AS array<string>) END""".stripMargin))
        .as(Seq("gpos", "gh"))))
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("gh"))
    val covered = grams.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(gpos, gpos + ${SubstrGramLen - 1})")).as("pos"))
      .distinct()
    docs.select(col("doc_id"), posexplode(col("words")).as(Seq("pos", "w")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"),
          " ")).as("clean_sha"))
  }

  /** MIRROR detection — exact content dedup at the CAPTURE layer: html 200
    * payloads grouped by their sha-256 digest; every digest shared by ≥2
    * URLs emits its members with the group's canonical (minimum) URL, the
    * crawl-time form of exact dedup (the same page served from mirrors /
    * CDNs / tracking-parameter variants should be fetched once and crawled
    * from its canonical home). One hash-agg on the digest + a join back —
    * digests are uniform so there is no skew to handle, and the digest is
    * computed row-locally during the scan. URLs stay as captured (the
    * records layer's identity; canonicalization happens in the frontier
    * queries). Oracle: the same grouping recomputed in DuckDB over the
    * expected records table's body_sha column.
    */
  def warcMirrors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // tracked: `pages` feeds BOTH the digest group-by and the join-back
    // probe — uncached, the binaryFile scan + full WARC parse + SHA-256
    // of every capture would run twice (the same reason warcAnchors
    // caches its shared link frame)
    val pages = tracked(spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .select(col("content")).as[Array[Byte]]
      .flatMap { b =>
        // SAME html gate as every extraction leg (case-insensitive): a
        // mirror copy served with 'Text/HTML' must not dodge dedup while
        // warcExtract still processes it
        graft.sources.Warc.records(b)
          .filter(graft.sources.Warc.isHtml200)
          .map(r => (graft.media.ImageDecode.sha256Hex(r.body), r.targetUri))
          .toSeq
      }.toDF("body_sha", "url"))
    val groups = pages.groupBy("body_sha")
      .agg(min(col("url")).as("canonical_url"), count(lit(1)).as("n_copies"))
    pages.join(groups, "body_sha")
      .where(col("n_copies") >= 2)
      .select("body_sha", "url", "canonical_url", "n_copies")
      .orderBy("body_sha", "url")
  }

  /** CDX capture index — the random-access layer over a WARC archive
    * (Common Crawl publishes exactly this next to its crawls): one row per
    * response capture keyed by SURT ([[graft.text.UrlResolve.surt]], host
    * labels reversed so a site's captures sort adjacent) + timestamp, with
    * the capture's gzip MEMBER byte range ([[graft.sources.Warc
    * .memberRecords]] parses RFC 1952 framing directly to recover the
    * boundaries GZIPInputStream erases). At 100 TB this is what makes the
    * archive addressable: a sorted-index range scan finds a site, and an
    * HTTP range request for (rec_offset, rec_length) yields one
    * self-contained gzip member — no archive scan. The index build itself
    * is one narrow pass over the member-per-record files plus the output
    * sort; WarcSpec proves the random-access contract by re-reading every
    * (offset, length) slice as a standalone file. Oracle: the fixture
    * generator records each member's byte range as it WRITES it and
    * computes SURT/digest with an independent Python twin.
    */
  def warcCdx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*.warc.gz")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        graft.sources.Warc.memberRecords(bytes)
          .filter(_.record.warcType == "response")
          .flatMap { m =>
            val r = m.record
            graft.text.UrlResolve.surt(r.targetUri).map { key =>
              (key, r.date.filter(_.isDigit), r.targetUri,
                r.httpContentType.split(';')(0).trim, r.httpStatus,
                graft.media.ImageDecode.sha256Hex(r.body), m.offset, m.length, name)
            }
          }
      }
      .toDF("surt", "ts", "url", "mime", "status", "digest",
        "rec_offset", "rec_length", "filename")
      .orderBy("surt", "ts", "rec_offset")
  }

  /** Sitemap SEED extraction — the crawl's third URL source besides
    * outlinks and redirects: robots.txt `Sitemap:` announcements joined
    * against the XML captures in the same crawl, `<sitemapindex>` files
    * expanded ONE level (the protocol forbids nested indexes — a deeper
    * one throws), `<urlset>` entries canonicalized and passed through the
    * protocol's CROSS-ORIGIN guard (an entry outside its sitemap's origin
    * is ignored — the rule that stops a sitemap from injecting foreign
    * URLs into the frontier). Every sitemap document is parsed exactly
    * once: level-0 classification emits entries and child references in
    * the same pass, children join back against the (cached) XML captures.
    * Output: (url, host, lastmod, sitemap_url); lastmod is empty when the
    * sitemap carries none. Oracle: the fixture generator's independent
    * ElementTree twin over the sitemaps it plants.
    */
  def warcSitemap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bytes = spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .select(col("content")).as[Array[Byte]]
    val xmlDocs = tracked(bytes.flatMap { b =>
      graft.sources.Warc.records(b)
        .filter { r =>
          // case-insensitive like isHtml200 — header casing varies by server
          val ct = r.httpContentType.toLowerCase(java.util.Locale.ROOT)
          r.warcType == "response" && r.httpStatus == 200 &&
            (ct.startsWith("application/xml") || ct.startsWith("text/xml"))
        }
        .flatMap(r => graft.text.UrlResolve.normalizeHttp(r.targetUri)
          .map(u => (u, new String(r.body, java.nio.charset.StandardCharsets.UTF_8))))
        .toSeq
    }.toDF("sm_url", "xml"))
    val announced = bytes.flatMap { b =>
      graft.sources.Warc.records(b)
        .filter(r => r.warcType == "response" && r.httpStatus == 200 &&
          graft.text.UrlResolve.parse(r.targetUri).path == "/robots.txt")
        .flatMap { r =>
          graft.text.Robots.sitemapsOf(
              new String(r.body, java.nio.charset.StandardCharsets.UTF_8))
            .flatMap(graft.text.UrlResolve.normalizeHttp)
        }.toSeq
    }.toDF("sm_url").distinct()

    def urlsetRows(u: String, es: Vector[graft.text.Sitemaps.Entry]) = {
      val org = graft.text.UrlResolve.originOf(u)
      es.iterator
        .flatMap(e => graft.text.UrlResolve.normalizeHttp(e.loc).map((_, e.lastmod)))
        .filter { case (loc, _) => graft.text.UrlResolve.originOf(loc) == org }
        .map { case (loc, lm) =>
          ("entry", loc, graft.text.UrlResolve.hostOf(loc), lm, u)
        }
    }
    // level 0: announced AND captured; one parse classifies and emits
    val l0 = announced.join(xmlDocs, "sm_url").as[(String, String)]
      .flatMap { case (u, x) =>
        graft.text.Sitemaps.parse(x, u) match {
          case graft.text.Sitemaps.UrlSet(es) => urlsetRows(u, es)
          case graft.text.Sitemaps.Index(children) =>
            children.iterator.flatMap(graft.text.UrlResolve.normalizeHttp)
              .map(c => ("child", c, "", "", u))
        }
      }.toDF("kind", "url", "host", "lastmod", "sitemap_url")
    val l1 = l0.filter(col("kind") === "child")
      .select(col("url").as("sm_url")).distinct()
      .join(xmlDocs, "sm_url").as[(String, String)]
      .flatMap { case (u, x) =>
        graft.text.Sitemaps.parse(x, u) match {
          case graft.text.Sitemaps.UrlSet(es) => urlsetRows(u, es)
          case _: graft.text.Sitemaps.Index =>
            throw new IllegalArgumentException(
              s"$u: nested sitemap index (the protocol forbids index-in-index)")
        }
      }.toDF("kind", "url", "host", "lastmod", "sitemap_url")
    l0.filter(col("kind") === "entry").unionAll(l1)
      .select("url", "host", "lastmod", "sitemap_url")
      .distinct()
      .orderBy("sitemap_url", "url")
  }

  /** Redirect map of the crawl: every 3xx response with a `Location`
    * header, the target resolved against the redirecting URI (RFC 7231
    * allows relative Location values) and canonicalized like any frontier
    * URL. A pure per-record projection. Oracle: the fixture generator's
    * expected table over the redirects it plants.
    */
  def warcRedirects(spark: SparkSession, dir: String): DataFrame =
    warcRedirectsCore(spark).orderBy("from_url")

  private val RedirectStatuses = Set(301, 302, 303, 307, 308)
  private[graft] val RedirectMaxHops = 8

  private def warcRedirectsCore(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/warc/*")
      .select(col("content")).as[Array[Byte]]
      .flatMap { b =>
        graft.sources.Warc.records(b)
          .filter(r => r.warcType == "response" &&
            RedirectStatuses(r.httpStatus) && r.httpLocation.nonEmpty)
          .flatMap { r =>
            for {
              f <- graft.text.UrlResolve.normalizeHttp(r.targetUri)
              t <- graft.text.UrlResolve.normalizeHttp(
                graft.text.UrlResolve.resolve(r.targetUri, r.httpLocation))
            } yield (f, t, r.httpStatus)
          }
          .toSeq
      }
      .toDF("from_url", "to_url", "status")
  }

  /** Redirect CHAIN resolution: each redirecting URL followed through the
    * in-crawl redirect map to its final destination, capped at
    * [[RedirectMaxHops]] hops — a URL whose chain has not terminated by the
    * cap (a redirect loop, or a pathological chain) comes back
    * `unresolved` with an empty final and hop 0 instead of hanging the
    * query. Realized as the unrolled bounded iteration: round i extends
    * round i−1's still-redirecting heads by one equi-join against the
    * (cached, deduped) map; the terminals are everything a left-anti join
    * against the map's sources keeps. The map is redirect-sized (a small
    * fraction of the page corpus at any crawl scale) and every join is an
    * equi-join on the current head — no growth beyond chains × hops rows.
    * Oracle: the same resolution recomputed by a DuckDB recursive CTE over
    * the expected redirect table; the generator's Python follow-loop is the
    * third independent implementation (WarcSpec).
    */
  def warcRedirectChains(spark: SparkSession, dir: String): DataFrame = {
    val m = tracked(
      warcRedirectsCore(spark).select("from_url", "to_url").distinct())
    // (round-6 A/B note: a measured-broadcast probe — m.count() + explicit
    // broadcast() hints on the 8 hop joins, the CC-loop pattern — was
    // tried and REVERTED: the before-plan already carries 36
    // BroadcastExchange nodes because the binaryFile lineage DOES expose
    // size stats, so the planner had broadcast every hop all along and the
    // probe only added a driver sync.)
    var step = m.select(col("from_url").as("src"), col("to_url").as("cur"),
      lit(1).as("hops"))
    var all = step
    for (i <- 2 to RedirectMaxHops) {
      val mi = m.select(col("from_url").as(s"f_$i"), col("to_url").as(s"t_$i"))
      step = step.join(mi, col("cur") === col(s"f_$i"))
        .select(col("src"), col(s"t_$i").as("cur"), lit(i).as("hops"))
      all = all.unionAll(step)
    }
    val terminal = all
      .join(m.select(col("from_url").as("cur")), Seq("cur"), "left_anti")
      .select(col("src").as("url"), col("cur").as("final_url"), col("hops"))
    m.select(col("from_url").as("url")).distinct()
      .join(terminal, Seq("url"), "left")
      .select(col("url"),
        coalesce(col("final_url"), lit("")).as("final_url"),
        coalesce(col("hops"), lit(0)).as("hops"),
        col("final_url").isNull.as("unresolved"))
      .orderBy("url")
  }

  /** The power-iteration loop from any (src, dst) edge frame — shared by the
    * catalog query and the rank tier ([[graft.jobs.Tier]]). Out-degree is
    * loop-invariant, so it is joined into the edge table ONCE and the result
    * cached partitioned by `src`: across all [[RankIters]] rounds the (big)
    * edge table never reshuffles — each round moves only the (node-sized)
    * rank table to src partitioning (shuffle-hash-joined against the cached
    * edges) and hash-aggregates contributions by target, both map-side
    * combined. That is the 10^10-edge shape: per-round network cost is
    * O(nodes + edges-partial-aggregated), not O(edges).
    */
  private[graft] def linkRankFrom(spark: SparkSession, edgesIn: DataFrame): DataFrame = {
    val outdeg = edgesIn.groupBy("src").agg(count(lit(1)).as("deg"))
    val edges = tracked(
      edgesIn.join(outdeg, "src").repartition(col("src")))
    val nodes = tracked(edges.select(col("src").as("host"))
      .unionAll(edges.select(col("dst").as("host"))).distinct())
    var ranks = nodes.withColumn("rank", lit(RankBase))
    for (_ <- 1 to RankIters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("host", "src").hint("shuffle_hash"), "src")
        .select(col("dst").as("host"), expr("rank div deg").as("c"))
        .groupBy("host").agg(sum(col("c")).as("contrib"))
      ranks = nodes.join(contrib, Seq("host"), "left")
        .select(col("host"),
          expr(s"${RankBase * 15L / 100L} + (85 * coalesce(contrib, CAST(0 AS BIGINT))) div 100")
            .as("rank"))
    }
    ranks
  }

  /** Batched multimodal feature extraction — the Spark-native shape of the
    * brief's `mapInPandas` decode/feature step: a binaryFile scan feeds
    * `mapPartitions` where [[graft.pipeline.Batching.mapBatched]] groups
    * rows into fixed-size decode batches (the batch shape a vectorized
    * model/featurizer would consume); features here are real decoded
    * channel means (exact integer sums / one double division — the oracle's
    * expectations come from the independent Python pixel arrays).
    */
  def imageFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$mediaDir/*.png")
      .withColumn("name", element_at(split(col("path"), "/"), -1))
      .select(col("name"), col("content")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        graft.pipeline.Batching.mapBatched(it, batchSize = 2) { batch =>
          batch.map { case (n, bytes) =>
            val d = graft.media.ImageDecode.loadImage(bytes)
            val (r, g, b) = graft.media.ImageDecode.channelSums(d)
            val nPx = (d.width * d.height).toDouble
            (n, d.width, d.height, r / nPx, g / nPx, b / nPx)
          }
        }
      }
      .toDF("name", "width", "height", "mean_r", "mean_g", "mean_b")
      .orderBy("name")
  }
}
