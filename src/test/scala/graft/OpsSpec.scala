package graft

import graft.metrics.Profile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Catalog smoke + plan-shape checks on sf0.001.
  *
  * Plan assertions encode the scale contract: filters/projections reach the
  * parquet scan, the dimension join broadcasts, aggregations are partial
  * (map-side combine) before the exchange.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every catalog query executes, returns a well-formed frame, and leaves no cache residue") {
    val conf0 = spark.conf.getAll
    // each query's work is tagged with its name and held to its budget
    val profile = new Profile
    val overBudget = scala.collection.mutable.Buffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val (df, n) = profile.tagged(spark, name) {
        val df = fn(spark, dir)
        (df, df.count())
      }
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
      // plan-shape guard on the SAME build (the iterative/streaming
      // entries do real work on construction — don't build twice):
      // intended cross joins broadcast their tiny side and compile to
      // BroadcastNestedLoopJoin; a CartesianProductExec means NEITHER
      // side broadcast — the n×m shuffle-and-pair that kills any query at
      // corpus scale must never appear silently
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${plan.take(2000)}")
      graft.ops.Queries.releaseCaches()
      // round-2 defect: leaked persists accumulated across the 45-query
      // bench session and degraded unrelated queries — every cache a query
      // registers must be released by releaseCaches
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name left persisted RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
      // a catalog query runs under the caller's session posture: building or
      // running it must not write (or unset) any conf the next query sees
      val conf = spark.conf.getAll
      assert(conf == conf0, s"$name changed session conf: " +
        (conf.toSet diff conf0.toSet).mkString(", ") + " (was: " +
        (conf0.toSet diff conf.toSet).mkString(", ") + ")")
      overBudget ++= WorkBudget.over(name, profile.work(Some(name)))
    }
    assert(overBudget.isEmpty, s"work over budget:\n${overBudget.mkString("\n")}")
  }

  test("the work budget has one line per catalog query plus extract_job") {
    assert(WorkBudget.lines.keySet == SparkEntry.queries.keySet + "extract_job")
  }

  test("html main-content extraction is a narrow per-row plan: no hash shuffle, no window") {
    // parse + DOM heuristics run row-local inside one flatMap/map stage;
    // the only exchange either query may plan is the presentation sort's
    // rangepartitioning — a hash shuffle or a WindowExec would mean the
    // extraction itself stopped being embarrassingly parallel
    Seq(graft.ops.Queries.htmlSpans(spark, dir),
        graft.ops.Queries.htmlSpansSloppy(spark, dir),
        graft.ops.Queries.htmlMain(spark, dir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"html extraction must not hash-shuffle:\n${plan.take(2000)}")
      // NB "Window", not "WindowExec" — physical nodes print with the Exec
      // suffix stripped, so a "WindowExec" grep matches nothing and passes
      // vacuously (also catches the benign WindowGroupLimit, which these
      // narrow plans must not contain either)
      assert(!plan.contains("Window"),
        s"html extraction must not plan a window:\n${plan.take(2000)}")
    }
  }

  test("IVF centroid assignment is a zero-Exchange projection in both quantizer paths") {
    import org.apache.spark.sql.functions.{col, expr}
    // round-3 defect: crossJoin(broadcast(cents)) + Window.partitionBy(vec_id)
    // exchanged 16 centroid-crossed copies of every full float vector — a
    // 16×-amplified corpus shuffle at 10^12 rows. The argmax_cosine form is
    // a pure projection; neither assignment subplan may contain an Exchange
    // or a Window.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
    val cand = emb.filter(col("vec_id") >= 5).select(col("vec_id"), col("v"))
    val fixedPlan = graft.ops.Queries.ivfAssignFixed(spark, dir, cand)
      .queryExecution.executedPlan.toString
    assert(!fixedPlan.contains("Exchange"), s"fixed assignment must not shuffle:\n$fixedPlan")
    assert(!fixedPlan.contains("Window"), s"fixed assignment must not window:\n$fixedPlan")
    val trainedPlan = graft.ops.AnnKMeans
      .assigned(spark, graft.ops.AnnKMeans.candidates(spark))
      .queryExecution.executedPlan.toString
    assert(!trainedPlan.contains("Exchange"), s"trained assignment must not shuffle:\n$trainedPlan")
    assert(!trainedPlan.contains("Window"), s"trained assignment must not window:\n$trainedPlan")
  }

  test("ann shortlist has no per-query window sort (two-phase TopM)") {
    val plan = SparkEntry.queries("q_embed_lsh_topk")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("windowspecdefinition(q_id"),
      "per-query WindowExec funnels every candidate for a query through one task")
  }

  test("embed_topk and embed_lsh plan no per-key WindowExec at all") {
    // round-4 verdict: these were the catalog's last two single-task-sort
    // shapes — embedTopK ranked the full cross product through a per-query
    // window (one task sorts ALL candidates for a query) and embedLsh
    // attached bucket occupancy via a full-corpus window over ~256 skewed
    // bucket keys. Both now use bounded machinery (TopM / groupBy+broadcast
    // join back) — no WindowExec may appear in either physical plan.
    // q_warc_schedule joined round 5: per-host top-budget selection through
    // the same TopM machinery — a window would funnel a mega-host's whole
    // frontier backlog through one task
    // q_embed_ivf_fixed joined round 5: its probe-list and final reranks
    // now go through TopM too (the rerank window sorted every probed
    // candidate for a query — corpus/centroids × probes rows — in one task)
    for (name <- Seq("q_embed_topk", "q_embed_lsh", "q_warc_schedule",
        "q_embed_ivf_fixed")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"), s"$name must not plan a window:\n${plan.take(2000)}")
    }
  }

  test("snapshot delta classifies all four generation transitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = Seq((1L, "same"), (2L, "old text"), (3L, "gone")).toDF("doc_id", "text")
    val b = Seq((1L, "same"), (2L, "new text"), (4L, "fresh")).toDF("doc_id", "text")
    val got = graft.ops.SnapshotDelta.delta(a, b, "doc_id", col("text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toVector
    assert(got == Vector((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
    // the catalog query's synthetic generation hits every class
    val statuses = SparkEntry.queries("q_snapshot_delta")(spark, dir)
      .collect().map(_.getString(1)).toSet
    assert(statuses == Set("added", "removed", "changed", "unchanged"))
    graft.ops.Queries.releaseCaches()
  }

  test("incremental update reuses exactly the unchanged keys and covers generation B") {
    import org.apache.spark.sql.functions.col
    val delta = SparkEntry.queries("q_snapshot_delta")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = SparkEntry.queries("q_incremental_update")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    // the maintained table's keys are generation B's keys: delta minus removed
    val bKeys = delta.filter(_._2 != "removed").map(_._1).toSet
    assert(got.map(_._1).toSet == bKeys)
    assert(got.map(_._1).distinct.length == got.length, "one row per key")
    // provenance: reused iff unchanged, fresh iff added/changed
    val unchanged = delta.filter(_._2 == "unchanged").map(_._1).toSet
    got.foreach { case (id, src) =>
      assert((src == "reused") == unchanged.contains(id), s"doc $id src=$src")
    }
    graft.ops.Queries.releaseCaches()
  }

  test("gopher quality verdict is consistent with its own emitted metrics") {
    val rows = SparkEntry.queries("q_gopher_quality")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, mean, alpha, nStop, keep) =
        (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getInt(4), r.getInt(5))
      val expect = n >= graft.ops.Queries.GopherMinWords &&
        n <= graft.ops.Queries.GopherMaxWords &&
        mean >= graft.ops.Queries.GopherMinMeanWordLen &&
        mean <= graft.ops.Queries.GopherMaxMeanWordLen &&
        alpha >= graft.ops.Queries.GopherMinAlphaFrac &&
        nStop >= graft.ops.Queries.GopherMinStopwords
      assert(keep == (if (expect) 1 else 0), s"doc ${r.getLong(0)}")
    }
    // the rules must actually discriminate on this corpus
    assert(rows.exists(_.getInt(5) == 1) && rows.exists(_.getInt(5) == 0))
    graft.ops.Queries.releaseCaches()
  }

  test("gopher repetition rules catch the planted line repeats without a per-doc window") {
    val df = SparkEntry.queries("q_gopher_repetition")(spark, dir)
    // the top-2-gram pick is a max(struct) aggregation, NOT a window sort —
    // a WindowExec here would funnel every gram of a doc through one task's
    // sort at corpus scale
    assert(!df.queryExecution.sparkPlan.toString.contains("Window"),
      "repetition metrics must not plan a window")
    val rows = df.collect()
    rows.foreach { r =>
      val expect = r.getDouble(1) <= graft.ops.Queries.RepTop2GramMaxFrac &&
        r.getDouble(2) <= graft.ops.Queries.RepDup5GramMaxFrac &&
        r.getDouble(3) <= graft.ops.Queries.RepDupLineMaxFrac
      assert(r.getInt(4) == (if (expect) 1 else 0), s"doc ${r.getLong(0)}")
      // every planted doc (replanted first line) must show duplicate-line
      // mass and fail the verdict; unplanted docs have no duplicate lines
      if (r.getLong(0) % 23 == 0) {
        assert(r.getDouble(3) > 0.0 && r.getInt(4) == 0, s"planted doc ${r.getLong(0)}")
      } else assert(r.getDouble(3) == 0.0, s"doc ${r.getLong(0)} has no planted repeats")
    }
    assert(rows.exists(_.getInt(4) == 1))
    graft.ops.Queries.releaseCaches()
  }

  test("lm quality filter drops the out-of-vocabulary plants and never shuffles the corpus on a gram key") {
    val df = SparkEntry.queries("q_lm_quality")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the pruned model and the unigram table are bounded reference-corpus
    // artifacts and must BROADCAST — a SortMergeJoin would shuffle the
    // whole scored corpus keyed on Zipf-skewed grams; a WindowExec has no
    // business here at all
    assert(!plan.contains("SortMergeJoin"), "model joins must broadcast")
    assert(!plan.contains("Window"), "no per-doc window sort")
    // the backoff total is a collected literal, not a crossJoin(1 row) —
    // no join stage may exist whose only job is attaching a constant
    assert(!plan.contains("BroadcastNestedLoopJoin"), "total must be a literal")
    val rows = df.collect()
    rows.foreach { r =>
      val (id, mean, keep) = (r.getLong(0), r.getLong(3), r.getInt(4))
      assert(keep == (if (mean >= graft.ops.Queries.LmKeepMinMicroMean) 1 else 0), s"doc $id")
      if (id >= 600000) {
        // planted gibberish twin: every unigram misses the model, so the
        // score is the all-backoff floor — far under the cutoff
        assert(keep == 0 && mean < graft.ops.Queries.LmKeepMinMicroMean / 2, s"plant $id mean=$mean")
        assert(r.getLong(2) == 0L, s"plant $id should hit no model bigram")
      } else {
        assert(keep == 1, s"clean doc $id mean=$mean dropped")
      }
    }
    assert(rows.exists(_.getLong(0) >= 600000), "plants present")
    graft.ops.Queries.releaseCaches()
  }

  test("c4 filter drops lorem-ipsum and code docs wholesale, keeps >=3-line survivors") {
    val kept = SparkEntry.queries("q_c4_filter")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kept.nonEmpty)
    // doc-level drops: every doc with the planted lorem-ipsum or brace line
    assert(!kept.keys.exists(id => id % 13 == 0 || id % 19 == 0))
    assert(kept.values.forall(_ >= graft.ops.Queries.C4MinSentences))
    graft.ops.Queries.releaseCaches()
  }

  test("substring dedup erases the duplicated regions on both sides of a planted mirror") {
    val got = SparkEntry.queries("q_substring_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // a mirrored source doc's every gram is duplicated → fully covered →
    // the doc VANISHES; its mirror keeps exactly the 3 prefix words (the
    // only positions no duplicated gram covers)
    val mirrored = got.keys.filter(_ >= 400000L)
    assert(mirrored.nonEmpty, "planted mirrors must survive with their prefix")
    mirrored.foreach { id =>
      assert(got(id) == 3L, s"mirror $id keeps its 3-word prefix, got ${got(id)}")
      assert(!got.contains(id - 400000L),
        s"source ${id - 400000L} is fully duplicated and must vanish")
    }
    // untouched docs keep every token (no natural 10-gram duplication)
    assert(got.exists { case (id, _) => id < 400000L && id % 17 != 0 })
    graft.ops.Queries.releaseCaches()
  }

  test("dedup finds the injected duplicate groups") {
    val exact = SparkEntry.queries("q_dedup_exact")(spark, dir).collect()
    assert(exact.nonEmpty, "exact dedup must find the unioned copies")
    assert(exact.forall(_.getLong(2) == 2L))
    val pairs = SparkEntry.queries("q_minhash_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // exact copies (doc_id + 100000) share identical signatures → must pair
    assert(pairs.exists { case (a, b) => b - a == 100000L },
      s"minhash LSH should recover exact dup pairs, got ${pairs.take(5).toSeq}")
  }

  test("near-dup jaccard pairs score high for corrupted copies") {
    val rows = SparkEntry.queries("q_ngram_jaccard")(spark, dir).collect()
    graft.ops.Queries.releaseCaches()
    rows.foreach(r => assert(r.getDouble(4) >= 0.7))
  }

  test("embed_topk returns k=3 ranked neighbors for each query vector") {
    val rows = SparkEntry.queries("q_embed_topk")(spark, dir).collect()
    assert(rows.length == 15)
    assert(rows.map(_.getInt(3)).forall(rn => rn >= 1 && rn <= 3))
  }

  test("token quantiles equal a driver-side brute-force rank selection") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.Queries.tokenQuantiles(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 9L).toSet)
    // independent expectation: materialize every per-doc token count, sort,
    // index at rank ceil(d·total/10) (1-based) — the quantile_disc definition
    // the histogram scan implements without the global sort
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(_.getLong(0)).sorted
    (1 to 9).foreach { d =>
      val rank = (d.toLong * lens.length + 9) / 10
      assert(got(d.toLong) == lens((rank - 1).toInt),
        s"decile $d: got ${got(d.toLong)}, brute-force ${lens((rank - 1).toInt)}")
    }
    assert((1L to 8L).forall(d => got(d) <= got(d + 1)), "deciles must be non-decreasing")
  }

  test("token histogram plan (collected by the quantile builder) is a partial aggregation") {
    // tokenQuantiles collects this frame at build time, so the catalog-wide
    // plan gates only ever see the post-collect LocalRelation — this assert
    // audits the corpus-scale pass those gates are blind to
    val plan = graft.ops.Queries.tokenHistogram(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"histogram aggregation not partial:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("CartesianProduct"), plan)
  }

  test("quantile sketch: exact at fixture scale, rank-error-bounded in the approximate regime") {
    import org.apache.spark.sql.functions._
    // exact regime: the GK summary never compresses below its accuracy
    // threshold, so the sketch deciles equal the counting-sort exact answer
    val exact = graft.ops.Queries.tokenQuantiles(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sk = graft.ops.Queries.quantileSketch(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk == exact, s"sketch deciles $sk != exact $exact")
    // approximate regime: 1M deterministic values, accuracy 100 → the GK
    // bound is DETERMINISTIC: each returned value's rank interval must
    // come within N/accuracy of the target rank
    val n = 1000000
    val vals = spark.range(n)
      .selectExpr("CAST(pmod(hash(id), 100000) AS INT) AS v")
    val got = vals.agg(expr("percentile_approx(v, array(0.1, 0.5, 0.9), 100)"))
      .collect()(0).getSeq[Int](0)
    val sorted = vals.collect().map(_.getInt(0)).sorted
    got.zip(Seq(0.1, 0.5, 0.9)).foreach { case (v, p) =>
      val lo = sorted.indexWhere(_ == v) + 1   // 1-based first rank of v
      val hi = sorted.lastIndexWhere(_ == v) + 1
      assert(lo >= 1, s"sketch returned $v which is not in the input")
      val target = math.ceil(p * n).toLong
      val eps = n / 100
      assert(lo <= target + eps && hi >= target - eps,
        s"p=$p: returned $v spans ranks [$lo,$hi], target $target ± $eps")
    }
  }

  test("tfidf rank matches a driver-side brute-force of the integer scoring") {
    import org.apache.spark.sql.functions._
    val got = graft.ops.Queries.tfidfRank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    graft.ops.Queries.releaseCaches()
    // independent expectation: per-doc term counts on the driver, the same
    // per-mille saturation × N DIV df arithmetic, full sort, take 5
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val n = docs.length.toLong
    val terms = graft.ops.Queries.TfidfQueries.map(_._2).distinct
    val tf = docs.map { case (id, ws) =>
      id -> terms.map(t => t -> ws.count(_ == t).toLong).filter(_._2 > 0).toMap
    }.toMap
    val dfc = terms.map(t => t -> tf.valuesIterator.count(_.contains(t)).toLong).toMap
    val expected = graft.ops.Queries.TfidfQueries.groupBy(_._1).toSeq.flatMap {
      case (qid, qts) =>
        val scored = docs.flatMap { case (id, _) =>
          val hits = qts.map(_._2).filter(t => tf(id).contains(t))
          if (hits.isEmpty) None
          else Some((id,
            hits.map(t => ((1000L * tf(id)(t)) / (tf(id)(t) + 2L)) * (n / dfc(t))).sum,
            hits.length.toLong))
        }
        scored.sortBy { case (id, s, _) => (-s, id) }.take(graft.ops.Queries.TfidfTopK)
          .zipWithIndex.map { case ((id, s, h), i) => (qid, id, s, h, i + 1) }
    }.sortBy(t => (t._1, t._5))
    assert(got.toSeq == expected,
      s"tfidf mismatch:\n got      ${got.toSeq}\n expected $expected")
  }

  test("dedup components: every planted copy lands in its base doc's cluster") {
    val rows = graft.ops.Queries.dedupComponents(spark, dir).collect()
    graft.ops.Queries.releaseCaches()
    // eager per-round release: at most ONE round's working set may be live
    // mid-loop — pairs + edges + current labels + the transient round pair
    // (nbrMin, next) = 5; the round-3 loop accumulated ~2 caches per round
    // for up to 20 rounds before releasing any
    assert(graft.ops.Queries.componentsMaxLiveCaches <= 5,
      s"propagation loop held ${graft.ops.Queries.componentsMaxLiveCaches} live caches mid-round")
    assert(rows.nonEmpty)
    val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // planted exact copies (base % 10 == 0 → base + 100000) and near copies
    // (base % 10 == 1 → base + 200000) must share their base's component
    comp.keys.filter(_ >= 100000).foreach { copy =>
      val base = copy % 100000
      assert(comp.contains(base), s"base $base of copy $copy must be in the graph")
      assert(comp(copy) == comp(base), s"copy $copy split from base $base")
    }
    // component label is the min member id
    rows.groupBy(_.getLong(1)).foreach { case (label, members) =>
      assert(members.map(_.getLong(0)).min == label, s"component $label label != min member")
      assert(members.forall(_.getLong(2) == members.length), "n_members wrong")
    }
  }

  test("video frame sampling: one frame per 500ms, idx = ts*fps/1000, deterministic") {
    val rows = graft.ops.Queries.videoFrames(spark, dir).collect()
    assert(rows.nonEmpty)
    val byVid = rows.groupBy(_.getLong(0))
    byVid.foreach { case (vid, frames) =>
      assert(vid % 4 == 0, "only every 4th doc is a video")
      val fps = 24 + ((vid / 4) % 2) * 6
      val durationMs = 2000 + (vid % 20) * 500
      assert(frames.length == durationMs / 500, s"video $vid frame count")
      frames.foreach { r =>
        val ts = r.getLong(1)
        assert(ts >= 0 && ts < durationMs, s"sample inside the video")
        assert(r.getLong(2) == ts * fps / 1000, s"frame_idx from timestamp")
        assert(r.getString(3).length == 64, "sha256 hex frame digest")
      }
    }
    // deterministic: a second evaluation is byte-identical
    assert(graft.ops.Queries.videoFrames(spark, dir).collect().map(_.toString).toSeq ==
      rows.map(_.toString).toSeq)
  }

  test("scan pruning reaches the parquet reader") {
    val df = SparkEntry.queries("q_scan_prune")(spark, dir)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(n_chars,200)"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"column pruning failed (text column read):\n$scan")
  }

  test("dimension join broadcasts the small side") {
    val df = SparkEntry.queries("q_join_agg")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("aggregation is partial (map-side combine) before the shuffle") {
    val df = SparkEntry.queries("q_agg_pricing")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pairs around one Exchange
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 1, plan)
  }

  test("extraction is a narrow plan: no Exchange before the map stage") {
    import spark.implicits._
    val docs = graft.pipeline.DocsGen.docs(spark, 100, partitions = 4)
    val out = graft.pipeline.Extract.run(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extraction must not shuffle:\n$plan")
    // the production read path: docs read back from parquet stay narrow and
    // extract to exactly the spans of the in-memory docs
    val tmp = java.nio.file.Files.createTempDirectory("extractparquet").toString
    docs.write.mode("overwrite").parquet(tmp)
    val fromParquet = graft.pipeline.Extract.run(spark.read.parquet(tmp).as[graft.model.Doc])
    val parquetPlan = fromParquet.queryExecution.executedPlan.toString
    assert(!parquetPlan.contains("Exchange"), s"extraction must not shuffle:\n$parquetPlan")
    assert(fromParquet.collect().sortBy(_.doc_id).toSeq == out.collect().sortBy(_.doc_id).toSeq)
  }

  test("bloom dedup: history is scan+probe only, confirm join broadcasts") {
    val df = SparkEntry.queries("q_dedup_bloom")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the sketch probe must sit in the history scan's filter stage —
    // the history side never reaches a join or exchange un-pruned
    assert(plan.toLowerCase.contains("bloommightcontain"),
      s"bloom probe missing from the plan:\n$plan")
    // the exact confirm join broadcasts the pruned history residue; a
    // SortMergeJoin here would mean the batch (and at scale the history)
    // shuffled for what the sketch made broadcast-sized
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast confirm join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"history-volume join leaked:\n$plan")
    // classification sanity on the synthetic batch: every re-crawled doc
    // (id+700000) is a dup, every revised doc (id+800000) is new
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0); val status = r.getString(2)
      if (id >= 800000) assert(status == "new", s"doc $id")
      else assert(status == "dup", s"doc $id")
    }
  }

  test("pii scrub: planted counts, redaction changes the hash, pure map plan") {
    val df = SparkEntry.queries("q_pii_scrub")(spark, dir)
    // per-row projection: no join, no aggregate — only the oracle-ordering sort
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"pii scrub must stay a pure map stage:\n$plan")
    val byId = df.collect().map(r => r.getLong(0) -> r).toMap
    // doc 0 is divisible by 7, 11 AND 13: one of each PII kind planted
    val d0 = byId(0L)
    assert(d0.getLong(1) == 1 && d0.getLong(2) == 1 && d0.getLong(3) == 1)
    // doc 1 has none (corpus text is digit-and-@-free by construction)
    val d1 = byId(1L)
    assert(d1.getLong(1) == 0 && d1.getLong(2) == 0 && d1.getLong(3) == 0)
    // doc 7: email only; doc 11: ip only; doc 13: phone only
    assert(byId(7L).getLong(1) == 1 && byId(7L).getLong(2) == 0)
    assert(byId(11L).getLong(2) == 1 && byId(11L).getLong(1) == 0)
    assert(byId(13L).getLong(3) == 1 && byId(13L).getLong(2) == 0)
  }

  test("url blocklist: subdomain-suffix host rules, path keywords, host precedence") {
    val rows = SparkEntry.queries("q_warc_blocklist")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    def statusOf(u: String) = (rows(u).getString(3), rows(u).getString(4))
    assert(statusOf("https://cdn.example/app.js") == ("blocked_host", "cdn.example"))
    assert(statusOf("https://static.example/logo.png") == ("blocked_host", "static.example"))
    assert(statusOf("https://example.org/privacy") == ("blocked_path", "privacy"))
    assert(statusOf("https://mirror.example/terms") == ("blocked_path", "terms"))
    assert(statusOf("https://example.org/") == ("kept", ""))
    // port-carrying host is not a suffix match for anything
    assert(statusOf("http://example.org:8080/alt")._1 == "kept")
  }

  test("wav decode: features match the pre-framing twin; rejects are loud") {
    // differential: both queries equal the expected tables byte-for-byte
    val gotF = SparkEntry.queries("q_audio_features")(spark, dir)
      .collect().map(_.toSeq).toVector
    val expF = spark.read
      .parquet("src/test/resources/expected/audio_features.parquet")
      .orderBy("name").collect().map(_.toSeq).toVector
    assert(gotF.size == 4 && gotF == expF)
    val gotW = SparkEntry.queries("q_audio_windows")(spark, dir)
      .collect().map(_.toSeq).toVector
    val expW = spark.read
      .parquet("src/test/resources/expected/audio_windows.parquet")
      .orderBy("name", "win_idx").collect().map(_.toSeq).toVector
    assert(gotW.size == 92 && gotW == expW)
    // VAD: aud_04's 2-window quiet gap BRIDGES into segment 0 (hangover)
    // while its 6-window gap SPLITS; the continuous tones are one segment
    val vad = SparkEntry.queries("q_audio_vad")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toVector
    assert(vad.filter(_._1 == "aud_04.wav") ==
      Vector(("aud_04.wav", 0, 5, 19), ("aud_04.wav", 1, 26, 35)))
    assert(vad.count(_._1 == "aud_00.wav") == 1, "continuous tone = one segment")
    // resample: a 16 kHz mono source is the IDENTITY — its out_sha must
    // equal the features query's pcm_sha; the 44.1 kHz stereo file must
    // change both frame count and digest
    val rs = SparkEntry.queries("q_audio_resample")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getString(6))).toMap
    val featSha = gotF.map(r => r.head.toString -> r.last.toString).toMap
    assert(rs("aud_00.wav")._2 == featSha("aud_00.wav"), "16 kHz mono = identity")
    assert(rs("aud_04.wav")._2 == featSha("aud_04.wav"), "16 kHz mono = identity")
    assert(rs("aud_01.wav")._1 == 11025L * 16000 / 44100, "44.1k frame count")
    assert(rs("aud_01.wav")._2 != featSha("aud_01.wav"), "44.1k stereo is transformed")
    // the aud_02 LIST chunk (odd length → word-alignment pad) was skipped,
    // proven by its row being present and exact above; 8-bit PCM rejects
    val b8 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/audio/aud_03.wav8"))
    val e = intercept[IllegalArgumentException](graft.media.Wav.decode(b8))
    assert(e.getMessage.contains("8-bit"))
    // framing tampering is loud, not garbage
    val ok = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/audio/aud_00.wav"))
    val bad = ok.clone(); bad(8) = 'X'.toByte
    assert(intercept[IllegalArgumentException](graft.media.Wav.decode(bad))
      .getMessage.contains("WAVE"))
    assert(intercept[IllegalArgumentException](
      graft.media.Wav.decode(java.util.Arrays.copyOf(ok, 100)))
      .getMessage.contains("overruns"))
    // a corrupt chunk size ≥ 2^31 must hit the overrun require LOUDLY —
    // a truncating toInt made it negative, the check passed spuriously,
    // and the word-aligned walk advanced by ≤ 0: an infinite loop
    val huge = new Array[Byte](44)
    "RIFF".getBytes("US-ASCII").copyToArray(huge, 0)
    "WAVE".getBytes("US-ASCII").copyToArray(huge, 8)
    "LIST".getBytes("US-ASCII").copyToArray(huge, 12)
    huge(16) = 0xF8.toByte; huge(17) = 0xFF.toByte
    huge(18) = 0xFF.toByte; huge(19) = 0xFF.toByte // size = 0xFFFFFFF8
    assert(intercept[IllegalArgumentException](graft.media.Wav.decode(huge))
      .getMessage.contains("overruns"))
  }

  test("image phash: variants collapse to the base, different scenes stay far") {
    val got = SparkEntry.queries("q_image_phash")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // brightness shift and low-bit noise are hash-IDENTICAL to the base
    assert(got("ph_bright.png").getString(1) == got("ph_base.png").getString(1))
    assert(got("ph_noise.png").getString(1) == got("ph_base.png").getString(1))
    assert(got("ph_base.png").getInt(3) == 0 && got("ph_base.png").getBoolean(4))
    // structurally different scenes are far from everything
    Seq("ph_moved.png", "ph_vgrad.png", "ph_checker.png").foreach { n =>
      assert(got(n).getInt(3) > 20 && !got(n).getBoolean(4), s"$n too close")
    }
    // differential: hashes equal the Python twin's (resample + DCT + median)
    val exp = spark.read
      .parquet("src/test/resources/expected/image_phash.parquet")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    got.foreach { case (n, r) => assert(r.getString(1) == exp(n), s"$n hash drift") }
  }

  test("ocr cer: perturbed lines score exact integer edits, clean lines zero") {
    val rows = SparkEntry.queries("q_ocr_cer")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val perturbed = (r.getInt(2) + r.getInt(3)) % 3 == 0
      val edits = r.getLong(7)
      if (perturbed) assert(edits >= 2, s"perturbed line scored $edits")
      else assert(edits == 0L, s"clean line scored $edits")
      assert(r.getDouble(8) == edits.toDouble / r.getLong(6))
    }
    // "ANNUAL REPORT" -> "XNNUAL REPORT Z": 1 substitution + 2 appends
    val t0 = rows.find(r => r.getString(4) == "ANNUAL REPORT").get
    assert(t0.getString(5) == "XNNUAL REPORT Z" && t0.getLong(7) == 3)
  }

  test("shuffle shard: permutation covers the corpus, no per-shard window sort") {
    val df = SparkEntry.queries("q_shuffle_shard")(spark, dir)
    // "Window", not "WindowExec": plan strings strip the Exec suffix
    assert(!df.queryExecution.executedPlan.toString.contains("Window"))
    val rows = df.collect()
    assert(rows.map(_.getInt(0)).toSeq == (0 until 8))
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total)
    // deterministic: same seed, same assignment
    val again = SparkEntry.queries("q_shuffle_shard")(spark, dir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("anchor aggregation: cross-page counts and the deterministic top-anchor tiebreak") {
    val rows = SparkEntry.queries("q_warc_anchors")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    // the root is linked from page A (same host) and the other.example hub
    // (cross host): 2 links, 2 pages, 2 HOSTS, 2 anchor variants; the count
    // tie resolves by lexicographic min ("Home" < "back to the hub")
    val root = rows("https://example.org/")
    assert(root.getLong(1) == 2 && root.getLong(2) == 2 && root.getLong(3) == 2)
    assert(root.getLong(4) == 2)
    assert(root.getString(5) == "Home" && root.getLong(6) == 1)
    // /p/1 collects two different anchors from two same-host pages; the
    // mirror's relative copy of the link resolves to ITS OWN host, not here
    val p1 = rows("https://example.org/p/1")
    assert(p1.getLong(1) == 2 && p1.getLong(2) == 2 && p1.getLong(3) == 1)
    assert(p1.getLong(4) == 2)
    assert(p1.getString(5) == "a related piece about table scan merge order in long form")
    assert(p1.getLong(6) == 1)
    assert(rows.contains("https://mirror.example/p/1"))
    // the nofollowed /p/2 never becomes a target; /hidden likewise
    assert(!rows.contains("https://example.org/p/2"))
    assert(!rows.contains("https://example.org/hidden"))
  }

  test("gopher repetition survives sub-n-word documents (no descending-sequence crash)") {
    import spark.implicits._
    // Spark's sequence(0, negative) DESCENDS ([0,-1]) where DuckDB's range
    // is empty — pre-fix a 1-word doc crashed slice() inside gramsOf; the
    // CASE guard makes short docs emit no grams on both engines
    val tmp = java.nio.file.Files.createTempDirectory("gophershort").toString
    Seq((1L, "one"), (2L, "two words"), (3L, "three tiny words"),
        (8L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val rows = graft.ops.Queries.gopherRepetition(spark, tmp).collect()
    graft.ops.Queries.releaseCaches()
    // docs with <2 words have no bigrams, <5 words no 5-grams: the inner
    // joins drop them (matching the oracle); the 8-word doc survives
    assert(rows.map(_.getLong(0)).toSet == Set(8L))
    assert(!rows(0).getDouble(1).isNaN && !rows(0).getDouble(2).isNaN)
  }
}
