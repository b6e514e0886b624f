package graft.ops

import graft.storage.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF ANN with a TRAINED coarse quantizer over a CLUSTERED fixture.
  *
  * The `/root/testdata` embeddings are structureless random noise, on which
  * no coarse quantizer can beat random partitioning (measured in round 2:
  * IVF recall ≈ scan fraction). This module provides the missing evidence
  * that the IVF path earns its keep on clusterable data:
  *
  *  - a deterministic clustered fixture ([[Clusters]] well-separated centers,
  *    [[PerCluster]] members each, exact integer-hash arithmetic — both this
  *    code and the independent Python oracle generator
  *    (tools/gen_ivf_fixture.py) reproduce it bit-identically, no data files,
  *    no RNG);
  *  - a seeded k-means coarse quantizer: collect a BOUNDED-COUNT
  *    deterministic sample to the driver ([[TrainSampleN]] md5-ranked rows
  *    via TakeOrderedAndProject — the FAISS-style fixed-size training
  *    sample, a constant driver footprint even at 10^12 vectors),
  *    [[LloydIters]] Lloyd iterations with cosine assignment, deterministic
  *    evenly-spaced init, fixed left-to-right summation order so the
  *    centroids are bit-equal to the oracle's pure-Python loops;
  *  - the IVF search itself stays fully distributed: per-row
  *    [[graft.functions.ArgmaxCosine]] assignment against the literal
  *    centroid constant (zero Exchange — the vectors never shuffle, asserted
  *    in OpsSpec), probe-list equi-join, exact-cosine re-rank through the
  *    two-phase [[TopM]] (no per-query single-task sort);
  *  - [[annRecall]]: recall@3 vs the exact brute-force answer for BOTH scale
  *    paths (IVF probes and sign-LSH Hamming shortlist) at the same 25%
  *    scan budget, as an oracle-checked query — the documented comparison
  *    the structureless fixture could not support.
  */
object AnnKMeans {

  val Clusters = 16
  val PerCluster = 100
  val Dims = 64
  val NumQueries = 5
  val Probes = 4 // of 16 centroids → 25% nominal scan budget
  val LloydIters = 5

  /** Quantizer training-sample size — a BOUNDED COUNT, not a corpus
    * fraction. The round-3 `vec_id % 4 == 0` rule collected 25% of the
    * corpus to the driver — fine at 1,600 vectors, a driver OOM at 10^12.
    * The FAISS-style pattern is a fixed-size sample whatever the corpus
    * size: rank by a deterministic per-id digest (md5 of "ivf:<id>" — the
    * same keyless hash both engines compute identically) and keep the
    * smallest [[TrainSampleN]], which Spark plans as TakeOrderedAndProject
    * (per-partition bounded heap → driver merge of N rows, never a full
    * collect). The selected ids are then processed in vec_id order so the
    * Lloyd summation order — and every centroid bit — stays fixed.
    */
  val TrainSampleN = 400
  val LshScanM: Int = Clusters * PerCluster / 4 // 400 = the same 25% budget
  val TopK = 3

  def nCandidates: Int = Clusters * PerCluster

  /** Cluster centers c_k[i] = ((2654435761·(k·64+i+1)) mod 2^31−1) mod 2001
    * − 1000, scaled by 1/1000 → [−1, 1]. Exact integer arithmetic; the
    * division of exact integers rounds identically in every IEEE engine.
    */
  private def centerSql(kExpr: String): String =
    s"(CAST(2654435761 AS BIGINT) * (CAST(($kExpr) AS BIGINT) * $Dims + i + 1)) % 2147483647 % 2001 - 1000"

  /** Member/query perturbations use a different multiplier (1099087573) so
    * they are uncorrelated with the centers; amplitude ±0.1 keeps members
    * an order of magnitude closer to their own center than to any other.
    */
  private def perturbSql(idExpr: String): String =
    s"(CAST(1099087573 AS BIGINT) * (CAST(($idExpr) AS BIGINT) * $Dims + i + 1)) % 2147483647 % 201 - 100"

  /** The clustered candidate vectors: vec_id ∈ [0, n), cluster =
    * vec_id div perCluster, v[i] = center + member perturbation. Defaults
    * are the frozen oracle fixture; the ann tier ([[graft.jobs.Tier]])
    * passes 100× sizes — the CONSTRUCTION is shared so the tier certifies
    * the same code.
    */
  def candidates(spark: SparkSession, n: Int = nCandidates,
                 perCluster: Int = PerCluster): DataFrame =
    spark.range(n.toLong)
      .select(col("id").cast("int").as("vec_id"),
        expr(s"""transform(sequence(0, ${Dims - 1}), i ->
                |  (${centerSql("vec_id div " + perCluster)}) / 1000.0D
                |+ (${perturbSql("vec_id")}) / 1000.0D)""".stripMargin).as("v"))

  /** Held-out queries, one per cluster 0..nq−1: center + a query-specific
    * perturbation (id offset 7777 decorrelates it from every member).
    */
  def queries(spark: SparkSession, nq: Int = NumQueries): DataFrame =
    spark.range(nq.toLong)
      .select(col("id").cast("int").as("q_id"),
        expr(s"""transform(sequence(0, ${Dims - 1}), i ->
                |  (${centerSql("q_id")}) / 1000.0D
                |+ (${perturbSql("q_id + 7777")}) / 1000.0D)""".stripMargin).as("qv"))

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Seeded k-means over the driver-collected sample (sorted by vec_id so
    * the summation order — and therefore every centroid bit — is fixed):
    * evenly-spaced init over the sample, cosine argmax assignment with
    * lowest-centroid tiebreak, arithmetic-mean update, empty cluster keeps
    * its previous centroid.
    */
  def trainCentroids(spark: SparkSession): Array[Array[Double]] = synchronized {
    // the fixture and the training are fully deterministic (seeded init,
    // fixed summation order, no RNG), so the centroids are a constant of
    // the module — memoize across queries (ivfTopK and annRecall both train)
    if (centroidCache != null) return centroidCache
    centroidCache = trainCentroidsFor(candidates(spark), Clusters, TrainSampleN)
    centroidCache
  }

  /** The quantizer training itself, parameterized (no memoization) — shared
    * with the ann tier ([[graft.jobs.Tier]]) so the 100× tier certifies
    * THIS code, not a copy: bounded md5-ranked sample via TakeOrderedAndProject, vec_id
    * summation order, evenly-spaced init, [[LloydIters]] Lloyd iterations
    * with lowest-centroid tiebreak, empty cluster keeps its centroid.
    */
  def trainCentroidsFor(cands: DataFrame, k: Int, sampleN: Int): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = cands
      .withColumn("h", md5(concat(lit("ivf:"), col("vec_id").cast("string"))))
      .orderBy("h", "vec_id") // TakeOrderedAndProject: bounded driver return
      .limit(sampleN)
      .orderBy("vec_id") // fixed summation order over the N selected rows
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    val n = sample.length
    var cents = Array.tabulate(k)(j => sample(j * n / k).clone())
    var it = 0
    while (it < LloydIters) {
      val sums = Array.fill(k)(new Array[Double](Dims))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestCos = cos(v, cents(0))
        var c = 1
        while (c < k) {
          val s = cos(v, cents(c))
          if (s > bestCos) { best = c; bestCos = s }
          c += 1
        }
        val s = sums(best)
        var i = 0
        while (i < Dims) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    cents
  }

  @volatile private var centroidCache: Array[Array[Double]] = _

  private def centroidsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    trainCentroids(spark).zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cent_id", "cv")
  }

  /** Native codegen'd cosine ([[graft.functions.CosineSim]]) — identical
    * fold order to the interpreted zip_with/aggregate form and to the
    * pure-Python oracle twin's loops, so every rounded cos4 is unchanged.
    */
  private def cosExpr(a: String, b: String) =
    graft.functions.ChurroFunctions.cosine_sim(col(a), col(b))

  /** Zero-Exchange assignment of every candidate to its best centroid: the
    * trained centroid table rides the plan as ONE literal constant and
    * [[graft.functions.ArgmaxCosine]] picks the argmax per row — a pure
    * projection over the scan, so the vectors genuinely never shuffle. The
    * round-3 `crossJoin(broadcast(cents))` + `Window.partitionBy(vec_id)`
    * form computed the same argmax but forced an Exchange hash-partitioning
    * of 16 centroid-crossed copies of every full float vector (16× shuffle
    * amplification of the corpus at 10^12 rows). Tie order is identical
    * (first maximum = lowest cent_id) and the comparisons run through the
    * same [[graft.functions.ExprImpl.cosineSim]], so every assignment bit
    * matches the window plan and the pure-Python oracle twin.
    * OpsSpec asserts the subplan contains no Exchange and no Window.
    */
  private[graft] def assigned(spark: SparkSession, cands: DataFrame): DataFrame = {
    val centsLit = typedlit(trainCentroids(spark).map(_.toSeq).toSeq)
    cands
      .withColumn("cent_id", graft.functions.ChurroFunctions.argmax_cosine(col("v"), centsLit))
      .select(col("vec_id"), col("v"), col("cent_id"))
  }

  /** Top-[[Probes]] centroid lists per query (TopM keeps the whole search
    * plan free of per-query window sorts).
    */
  private[graft] def probes(spark: SparkSession, qs: DataFrame, cents: DataFrame,
                     nProbes: Int = Probes): DataFrame = {
    // VECTOR-FREE (q_id, cent_id) pairs — broadcast-sized at any query
    // volume. The 100× ann tier (BENCH.md §7) measured why qv must not ride
    // along: at 1,000 queries a vector-carrying probe table exceeded the
    // broadcast threshold and the probe join fell back to exchanging 41M
    // vector-carrying corpus rows over 256 skewed keys.
    val scored = qs.crossJoin(broadcast(cents))
      .withColumn("qcos", cosExpr("qv", "cv"))
      .select(col("q_id"), col("cent_id"), col("qcos"))
    TopM.topM(scored, "q_id", Seq(("qcos", false), ("cent_id", true)), nProbes, "prn")
      .select(col("q_id"), col("cent_id"))
  }

  /** The probed re-rank input with the corpus on the STREAMING side: probe
    * pairs and query vectors both broadcast, so the candidate vectors never
    * shuffle — the only probe-join shape that survives 10^9 candidates.
    */
  private def probedRanked(spark: SparkSession, asg: DataFrame, prb: DataFrame): DataFrame =
    asg.join(broadcast(prb), "cent_id")
      .join(broadcast(queries(spark)), "q_id")
      .withColumn("c", cosExpr("qv", "v"))
      .select(col("q_id"), col("vec_id"), col("c"))

  // ---- persisted IVF index --------------------------------------------------

  /** Build + snapshot-commit the IVF index for a candidate corpus: the
    * trained centroid table (`<root>/centroids`) and the posting lists
    * (`<root>/postings`, PARTITIONED by cent_id so a probe read scans only
    * the probed centroids' directories). A production pipeline builds this
    * once and serves many query batches against it — round 4 rebuilt the
    * quantizer inside every search. Returns the trained centroids.
    */
  def buildIndex(spark: SparkSession, cands: DataFrame, root: String,
                 k: Int = Clusters, sampleN: Int = TrainSampleN): Array[Array[Double]] = {
    import spark.implicits._
    val cents = trainCentroidsFor(cands, k, sampleN)
    Snapshots.commit(
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("cent_id", "cv"),
      s"$root/centroids", 1L)
    // zero-Exchange assignment (argmax against the centroid literal), then
    // ONE shuffle keyed on the partition column so each centroid directory
    // gets a single file — without it every write task emits a file into
    // every directory it touches (measured: 32 tasks × 256 dirs ≈ 8k tiny
    // files, and the probe read's 14 s was file-listing/open overhead, 4×
    // slower than brute force; with one file per posting list the pruned
    // read opens exactly `probes` files)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    Snapshots.commit(
      cands.withColumn("cent_id",
        graft.functions.ChurroFunctions.argmax_cosine(col("v"), centsLit))
        .select(col("cent_id"), col("vec_id"), col("v"))
        .repartition(col("cent_id")),
      s"$root/postings", 1L, partitionBy = Seq("cent_id"))
    cents
  }

  /** IVF search against a committed index: probe selection from the (tiny)
    * centroid snapshot, then a PARTITION-PRUNED read of only the probed
    * posting lists — at a 1.6% scan fraction the other 98.4% of the index
    * is never read from storage — and the vector-free-broadcast re-rank
    * through TopM. Returns (q_id, vec_id, c, rn).
    */
  def searchIndex(spark: SparkSession, root: String, qs: DataFrame,
                  nProbes: Int = Probes, topK: Int = TopK): DataFrame = {
    val centsDf = Snapshots.read(spark, s"$root/centroids", 1L)
    val prb = CacheTracker.track(probes(spark, qs, centsDf, nProbes))
    val probedCents = prb.select(col("cent_id")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val postings = Snapshots.read(spark, s"$root/postings", 1L)
      .filter(col("cent_id").isInCollection(probedCents)) // partition-pruned
    val ranked = postings.join(broadcast(prb), "cent_id")
      .join(broadcast(qs), "q_id")
      .withColumn("c", cosExpr("qv", "v"))
      .select(col("q_id"), col("vec_id"), col("c"))
    TopM.topM(ranked, "q_id", Seq(("c", false), ("vec_id", true)), topK, "rn")
  }

  /** Per-JVM index location for the frozen oracle fixture: built once
    * (deterministic content), then every [[ivfTopK]] call is search-only.
    */
  @volatile private var indexRootCache: String = _

  private def indexRoot(spark: SparkSession): String = synchronized {
    if (indexRootCache == null) {
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_index").toString
      buildIndex(spark, candidates(spark), root)
      indexRootCache = root
    }
    indexRootCache
  }

  /** q_embed_ivf_kmeans: the full trained-quantizer IVF search, top-3 per
    * query via the two-phase TopM — READING the committed snapshot index
    * (centroids + partition-pruned posting lists) instead of retraining
    * per query; the math is identical, so the oracle is unchanged:
    * expected/ivf_kmeans.parquet from the independent pure-Python twin
    * (tools/gen_ivf_fixture.py).
    */
  def ivfTopK(spark: SparkSession): DataFrame =
    searchIndex(spark, indexRoot(spark), queries(spark))
      .select(col("q_id"), col("vec_id"), round(col("c"), 4).as("cos4"), col("rn"))
      .orderBy("q_id", "rn")

  /** Exact brute-force top-3 of `qs` over `cands` (the ground truth for recall). */
  private[graft] def bfTop3(cands: DataFrame, qs: DataFrame): DataFrame = {
    val all = cands.crossJoin(broadcast(qs))
      .withColumn("c", cosExpr("qv", "v"))
      .select(col("q_id"), col("vec_id"), col("c"))
    TopM.topM(all, "q_id", Seq(("c", false), ("vec_id", true)), TopK, "rn")
      .select(col("q_id"), col("vec_id"))
  }

  /** Sign-LSH top-3 at the same scan budget: Hamming shortlist of
    * [[LshScanM]] (25% of the corpus), exact-cosine re-rank, top-3.
    */
  private def lshTop3(spark: SparkSession, cands: DataFrame): DataFrame = {
    import graft.functions.ChurroFunctions.{bits_pack, sign_bits}
    val words = 128 / 32
    val sigC = cands.select(col("vec_id"), bits_pack(sign_bits(col("v")), 32).as("sw"))
      .select(col("vec_id") +: (0 until words).map(k => element_at(col("sw"), k + 1).as(s"s$k")): _*)
    val sigQ = queries(spark).select(col("q_id"), bits_pack(sign_bits(col("qv")), 32).as("sw"))
      .select(col("q_id") +: (0 until words).map(k => element_at(col("sw"), k + 1).as(s"q$k")): _*)
    val hamExpr = (0 until words).map(k => expr(s"bit_count(s$k ^ q$k)"): org.apache.spark.sql.Column).reduce(_ + _)
    val ham = sigC.crossJoin(broadcast(sigQ))
      .withColumn("ham", hamExpr)
      .select(col("q_id"), col("vec_id"), col("ham"))
    val shortlist = TopM.topM(ham, "q_id", Seq(("ham", true), ("vec_id", true)), LshScanM, "hrn")
      .select(col("q_id"), col("vec_id"))
    val ranked = shortlist
      .join(broadcast(queries(spark)), "q_id")
      .join(cands, "vec_id")
      .withColumn("c", cosExpr("qv", "v"))
      .select(col("q_id"), col("vec_id"), col("c"))
    TopM.topM(ranked, "q_id", Seq(("c", false), ("vec_id", true)), TopK, "rn")
      .select(col("q_id"), col("vec_id"))
  }

  /** q_ann_recall: recall@3 vs brute force and the achieved scan fraction
    * for both scale paths on the clustered fixture — the oracle-checked
    * evidence that a trained quantizer beats its scan budget on clusterable
    * data (round-2 gap #4). Exact integer ratios → bit-identical doubles.
    */
  def annRecall(spark: SparkSession): DataFrame = {
    // tracked persist: the candidate fixture feeds brute force, the LSH
    // path and the IVF path (released by the caller via releaseCaches)
    val cands = CacheTracker.track(candidates(spark))
    val bf = bfTop3(cands, queries(spark))
    val cents = centroidsDF(spark)
    // assignment and probe lists each feed BOTH the ivf3 search and the
    // scanned-fraction audit below — tracked persists stop the 1600×16
    // argmax and the probe TopM from running twice (released by the caller)
    val asg = CacheTracker.track(assigned(spark, cands))
    val prb = CacheTracker.track(probes(spark, queries(spark), cents))
    val ivf3 =
      TopM.topM(probedRanked(spark, asg, prb),
        "q_id", Seq(("c", false), ("vec_id", true)), TopK, "rn")
        .select(col("q_id"), col("vec_id"))
    val methods = ivf3.withColumn("method", lit("ivf_kmeans"))
      .unionAll(lshTop3(spark, cands).withColumn("method", lit("lsh_hamming")))
    val recall = methods
      .join(bf.withColumn("hit", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy(col("method"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double")
        / lit((NumQueries * TopK).toDouble)).as("recall3"))
    // achieved scan fraction: IVF = probed-list rows / (queries × corpus);
    // LSH = the fixed re-rank budget M / corpus
    val ivfScan = prb.join(asg.groupBy(col("cent_id")).agg(count(lit(1)).as("csz")), "cent_id")
      .agg((sum(col("csz")).cast("double")
        / lit((NumQueries.toLong * nCandidates).toDouble)).as("scanned_frac"))
      .withColumn("method", lit("ivf_kmeans"))
    val lshScan = spark.range(1).select(lit("lsh_hamming").as("method"),
      lit(LshScanM.toDouble / nCandidates).as("scanned_frac"))
    recall.join(ivfScan.select(col("method"), col("scanned_frac"))
        .unionAll(lshScan), "method")
      .select(col("method"), col("scanned_frac"), col("recall3"))
      .orderBy("method")
  }
}
