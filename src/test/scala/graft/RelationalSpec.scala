package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Plan-shape and reconciliation tests for the relational surface —
  * the "would this survive 100×" asserts (VERDICT r1 next-round #4:
  * assert broadcast via queryExecution, not visually). */
class RelationalSpec extends SparkSpec {

  test("join_broadcast_dim plans a BroadcastHashJoin and never shuffles the fact side") {
    val df = SparkEntry.queries("join_broadcast_dim")(spark, sf("sf0.001"))
    df.count() // finalize AQE
    val nodes = collectPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"no BroadcastHashJoin in:\n${df.queryExecution.executedPlan}")
    // the only shuffles allowed are for the final groupBy/orderBy, both
    // AFTER the join — the scan→join path itself must be shuffle-free.
    val joinNode = nodes.collectFirst { case j: BroadcastHashJoinExec => j }.get
    assert(collectPlan(joinNode).count(_.isInstanceOf[ShuffleExchangeExec]) === 0,
      "fact side shuffled before the broadcast join")
  }

  test("semi + anti partition orders exactly (reconciliation)") {
    val total = Tables.orders(spark, sf("sf0.001")).count()
    val withLi = Tables.orders(spark, sf("sf0.001"))
      .join(Tables.lineitem(spark, sf("sf0.001")),
        col("o_orderkey") === col("l_orderkey"), "left_semi").count()
    val withoutLi = SparkEntry.queries("join_anti")(spark, sf("sf0.001")).count()
    assert(withLi + withoutLi === total)
    assert(withoutLi > 0, "anti join is vacuous on this data")
  }

  test("snapshot diff classifies added/removed/changed and drops identical rows") {
    import spark.implicits._
    val before = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val after = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("doc_id", "text")
    val got = graft.queries.Audit.snapshotDiff(before, after, "doc_id",
        concat_ws("|", col("doc_id").cast("string"), col("text")))
      .as[(Long, String)].collect().toSet
    assert(got === Set((2L, "changed"), (3L, "removed"), (4L, "added")), s"got $got")
  }

  test("contract check counts violations per rule in one pass; null rows count as non-violations") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), "ok", 5L), (Some(2L), "", 0L), (None, "also ok", 7L))
      .toDF("id", "t", "n")
    val out = graft.queries.Audit.contractCheck(df, Seq(
      "id_not_null" -> col("id").isNotNull,
      "t_nonempty" -> (length(col("t")) > 0),
      "n_positive" -> (col("n") > 0L)))
      .as[(String, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("id_not_null") === ((1L, 0)))
    assert(out("t_nonempty") === ((1L, 0)))
    assert(out("n_positive") === ((1L, 0)))
    // the one-pass claim: a single aggregate regardless of rule count
    val plan = graft.queries.Audit.contractCheck(df, Seq(
      "a" -> col("n").isNotNull, "b" -> (col("n") >= 0L)))
      .queryExecution.optimizedPlan.toString
    assert("Aggregate".r.findAllIn(plan).length === 1, plan)
  }

  test("no CartesianProduct in any declared query plan") {
    // 1-row broadcast probe joins (vector-search pattern) are legitimate
    // cross joins: the broadcast side is a single row by construction.
    // ml_e2e_metrics is excluded because its run() trains and collects
    // eagerly and returns a LocalRelation — inspecting that plan asserts
    // nothing while paying a full ML pipeline.
    // text_tfidf_exact's cross side is the 1-row global doc count,
    // broadcast — a BroadcastNestedLoopJoin over one row, same class as
    // the probe joins.
    // embed_rp_preserve compares every vector against the broadcast
    // 1-row probe in both spaces — the same probe-join class.
    // audit_key_skew / curation_mixture_temperature /
    // curation_negative_pairs join a broadcast SINGLE-ROW
    // totals/max/count frame back over the data — the same 1-row
    // broadcast class (the alternative is a window over the whole
    // frame, which is the scale anti-pattern these avoid).
    // search_keyword_topk crosses the |query|-bounded df frame with
    // the broadcast 1-row global doc count, and stats_histogram_eqdepth
    // crosses the NDV-bounded value frame with the broadcast 1-row
    // total — the same 1-row class as text_tfidf_exact.
    // events_cusum_alarms joins the broadcast 1-row global mean (the
    // CUSUM target) back over the data — same 1-row class.
    // ml_e2e_metrics_pinned crosses the data with THREE broadcast
    // 1-row frames (the selected threshold, the AP scalar, the
    // confusion row) — the same 1-row broadcast class; the alternative
    // is collecting the scalars to the driver, which the r20
    // driver-budget gate exists to discourage.
    val excluded = Set("embed_cosine_topk", "embed_ann_topk", "embed_ivf_topk",
      "embed_rp_preserve", "ml_e2e_metrics", "ml_e2e_metrics_pinned",
      "text_tfidf_exact",
      "audit_key_skew", "curation_mixture_temperature",
      "curation_negative_pairs", "search_keyword_topk", "stats_histogram_eqdepth",
      "basket_pairs_topk", "events_survival_curve", "events_cusum_alarms",
      // sample-vs-exact quantile rows stitch two 1-ROW aggregate frames
      // on a constant key — the optimizer folds that to a (1×1) cross;
      // the join-size estimator and the KS drift test stitch the same
      // class of 1-row broadcast frames
      "sketch_sample_quantiles", "sketch_cms_join_size", "audit_ks_drift",
      "audit_ks_drift_bucketed",
      // r10 session-2 scalar-subquery composites: each crosses the data
      // frame with a broadcast SINGLE-ROW aggregate (the decorrelated
      // MAX / global-baseline / fraction-of-global scalar) — the same
      // 1-row broadcast class as the probe joins above
      "analytics_top_supplier", "analytics_global_baseline",
      "analytics_value_share",
      // per-feature PSI generates its bucket grid as |features| × B —
      // a cross of two BOUNDED frames (3 × 16 here), the same
      // domain-grid class as range(B) in the ungrouped psi/benford
      "audit_psi_by_feature",
      // log-histogram quantiles crosses the 4-row rank-target frame
      // with the broadcast 1-row total, then inequality-joins it over
      // the BOUNDED bucket grid — the domain-grid + 1-row classes
      "sketch_log_histogram_quantiles",
      // r12: the HLL register fill crosses the |groups|-bounded frame
      // with the broadcast 256-slot register grid — the same
      // domain-grid class as the PSI bucket grid (batch and the
      // streaming read-out share hllEstimate, hence both names)
      "sketch_hll_distinct", "streaming_hll_distinct",
      // RFM joins the broadcast 1-row anchor day and the 1-row user
      // count back over the per-user frame — the 1-row class twice
      "events_rfm_segments",
      // the bigram LM crosses the broadcast 1-row vocabulary size V
      // into the scoring join — the text_tfidf_exact 1-row class
      "text_bigram_lm",
      // r10 session-4: target encoding and chi-square cross the
      // broadcast 1-row GLOBAL totals frame into bounded per-group
      // frames (25 rows / 15 cells); BM25 crosses the 1-row corpus
      // totals into the |query|-bounded df frame — all the same
      // 1-row broadcast class
      "ml_target_encode", "ml_chi2_independence", "search_bm25_topk",
      // r12: RRF fuses the BM25 list (whose plan carries bm25's 1-row
      // corpus-totals broadcast cross) with the cosine list (the 1-row
      // probe cross) — both inherited members of the same class; the
      // temperature mix crosses its |sources|-bounded weight frame
      // with the broadcast 1-row totals (W, N) — the audit_key_skew
      // 1-row totals class
      "search_rrf_fusion", "curation_temperature_mix",
      // topic terms crosses the token-df frame with the broadcast
      // 1-row global doc count — the search_keyword_topk idf class
      "corpus_topic_terms",
      // the TTL sweep crosses the broadcast 1-row corpus-max anchor
      // over the data — the RFM anchor-day 1-row class
      "audit_ttl_sweep",
      // r12 session 5: conformal crosses the broadcast 1-row gpred/
      // n_train frame and the 1-row q̂ order-statistic frame over the
      // cal/test rows — the 1-row broadcast class twice; t-closeness
      // crosses the QI-group frame with the m-bounded domain and the
      // broadcast 1-row (N, m) totals — the PSI domain-grid + 1-row
      // classes
      "ml_conformal_interval", "audit_t_closeness",
      // r15: the pinned IVF/PQ serving paths cross every vector with
      // the broadcast 16-row hash-seeded centroid/codebook frame (the
      // PSI domain-grid class), the broadcast 128-cell LUT grid, and
      // the broadcast 1-row probe (the embed_cosine_topk probe class)
      "embed_ivf_topk_pinned", "embed_pq_topk_pinned",
      // r16: the append-pinned PQ form is the same pqTopKPinned
      // machinery (frozen base-slice codebooks — identical grid/LUT/
      // probe crosses), and the pinned Lloyd round crosses every
      // vector with the broadcast 16-row seed/centroid frames twice
      // (assign + reassign) — the same k-bounded domain-grid class
      "embed_pq_topk_append_pinned", "embed_kmeans_step_pinned",
      // the staleness audit crosses the 6-row probe frame with the
      // two broadcast 16-row seed grids and the corpus with the
      // broadcast probe frame — the annRecall probe class + the
      // k-bounded domain-grid class
      "embed_ivf_staleness_audit",
      // r17: the planted-drift variant is the same stalenessTable
      // machinery over the integer-derived fixture — identical probe
      // + seed-grid crosses
      "embed_ivf_staleness_planted",
      // incremental semantic dedup assigns corpus + delta via the
      // broadcast 16-row seed grid (the same k-bounded domain-grid
      // class as the pinned IVF forms)
      "dedup_semantic_incremental",
      // r16: the refresh capstone embeds the incrementalSemDedup tier,
      // inheriting its broadcast 16-row seed-grid cross verbatim (the
      // streaming form assigns via the array-literal expression — no
      // cross — but its batch-side eval slice of the same cascade
      // plans the identical seed grid when it re-derives tier frames)
      "corpus_incremental_refresh",
      // the funnel aggregates the same cascade — same inherited cross
      "corpus_refresh_funnel",
      // r19: the hash-pinned HLL sibling joins its 1-row estimate to
      // the broadcast 1-row exact count — the single-group instance
      // of hllDistinct's grp equi-join, which the optimizer folds to
      // a 1-row×1-row cross (the same 1-row totals class as
      // text_tfidf_exact / audit_key_skew above)
      "agg_approx_distinct_pinned")
    for (q <- SparkEntry.all if !excluded.contains(q.name)) {
      val df = q.run(spark, sf("sf0.001"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"),
        s"cartesian product in ${q.name}")
    }
  }

  test("runtime bloom filter prunes the fact scan of a selective shuffle join") {
    // The 100 TB story for selective fact⋈dim SHUFFLE joins (dim too big
    // to broadcast): Spark's runtime-filter rule builds a bloom filter
    // from the filtered creation side and injects bloom_filter_might_contain
    // into the fact scan, dropping most fact rows BEFORE the exchange.
    // Thresholds are sized for clusters, so the test lowers them to
    // demonstrate/pin the mechanism at fixture scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.orders(spark, sf("sf0.01"))
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = Tables.lineitem(spark, sf("sf0.01"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$optimized")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("z-order tiles bound BOTH key dimensions (the pruning property)") {
    val out = SparkEntry.queries("zorder_tiles")(spark, sf("sf0.01"))
    val bad = out.filter(
      col("max_x") - col("min_x") > 15 || col("max_y") - col("min_y") > 15)
    assert(bad.count() === 0, "a z-prefix tile exceeded its 16×16 bound")
    // non-degenerate: multiple tiles, and some tile holds multiple keys
    assert(out.count() > 1)
  }

  test("typed mapGroups fold equals the untyped columnar aggregate") {
    val typed = SparkEntry.queries("typed_user_stats")(spark, sf("sf0.001"))
    val untyped = Tables.events(spark, sf("sf0.001"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max("value").as("max_value"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("value_cents"))
      .orderBy("user_id")
    assert(typed.exceptAll(untyped).count() === 0 &&
      untyped.exceptAll(typed).count() === 0)
  }

  test("gapfill spine is hole-free and actually fills zero days") {
    val out = SparkEntry.queries("timeseries_gapfill")(spark, sf("sf0.01"))
    // per user: rows == datediff(last, first) + 1 (complete calendar spine)
    val bad = out.groupBy("user_id")
      .agg(count(lit(1)).as("rows"), min("day").as("d0"), max("day").as("d1"))
      .filter(col("rows") =!= datediff(col("d1"), col("d0")) + 1)
    assert(bad.count() === 0, "spine has holes")
    // the fill is non-vacuous: some days had no events
    assert(out.filter(col("n_events") === 0).count() > 0,
      "no gaps in the data — gapfill untested")
  }

  test("full outer join yields all three presence classes, keys reconcile") {
    val out = SparkEntry.queries("join_full_outer")(spark, sf("sf0.01")).collect()
    val classes = out.map(_.getAs[String]("presence")).toSet
    assert(classes === Set("both", "purchase_only", "error_only"),
      s"expected all three classes, got $classes")
    // every user_id appears exactly once (full outer over pre-aggregated sides)
    assert(out.map(_.getAs[Long]("user_id")).distinct.length === out.length)
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // The other half of the skew story (join_salted_skew is the manual
    // rewrite): AQE detects an oversized shuffle partition after the
    // map stage and splits it across reducers, marking the join
    // skew=true. Thresholds lowered so fixture-scale bytes qualify.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      // half the rows land on key 0 → one shuffle partition dwarfs the rest
      val fact = spark.range(200000)
        .select(when(col("id") < 100000, 0L).otherwise(col("id")).as("k"),
          concat(lit("x"), col("id")).as("payload"))
      val dim = spark.range(64).select(col("id").as("k"), lit(1).as("tag"))
      val joined = fact.join(dim, "k")
      // run THIS QueryExecution's plan (count() would build a separate
      // one and leave this AdaptiveSparkPlan unfinalized)
      val qe = joined.queryExecution
      val n = qe.executedPlan.execute().count()
      assert(n === 100000L) // only key 0 exists on both sides
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("topk_per_key plans a WindowGroupLimit (per-map top-k before the shuffle)") {
    val df = SparkEntry.queries("topk_per_key")(spark, sf("sf0.001"))
    df.collect()
    val plan = collectPlan(df.queryExecution.executedPlan)
    assert(plan.exists(_.getClass.getSimpleName.contains("WindowGroupLimit")),
      s"rank filter was not pushed into a group limit:\n${df.queryExecution.executedPlan}")
  }

  test("upsert_changeset: deletes gone, updates repriced, inserts present, rest untouched") {
    val out = SparkEntry.queries("upsert_changeset")(spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val before = Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    before.foreach { case (k, v) =>
      if (k % 10 == 0) assert(out(k) === v * 1.1, s"update missed for $k")
      else if (k % 7 == 3) assert(!out.contains(k), s"delete missed for $k")
      else assert(out(k) === v, s"untouched row changed for $k")
    }
    val inserts = before.keys.filter(_ % 1000 == 1).map(_ + 10000000L)
    assert(inserts.nonEmpty && inserts.forall(k => out(k) === 1.0), "inserts missing")
    assert(out.size === before.size - before.keys.count(k => k % 7 == 3 && k % 10 != 0)
      + inserts.size)
  }

  test("approx_count_distinct lands within its error bound of the exact count") {
    val r = SparkEntry.queries("agg_approx_distinct")(spark, sf("sf0.01")).head()
    val approx = r.getAs[Long]("approx_orders").toDouble
    val exact = r.getAs[Long]("exact_orders").toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact off by >5%")
  }

  test("as-of join: backward match, inclusive ties, null before first build row") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val probe = Seq(
      (1L, ts("2024-01-01 05:00:00"), 7L, 10.0), // before any build row → null
      (2L, ts("2024-01-02 00:00:00"), 7L, 20.0), // EXACTLY at build ts → inclusive match
      (3L, ts("2024-01-03 09:00:00"), 7L, 30.0), // between builds → carries latest
      (4L, ts("2024-01-05 00:00:00"), 8L, 40.0)) // other key, no builds → null
      .toDF("event_id", "ts", "user_id", "value")
    val build = Seq(
      (7L, ts("2024-01-02 00:00:00"), 1.5),
      (7L, ts("2024-01-03 00:00:00"), 2.5))
      .toDF("user_id", "ts", "prev_day_mean")
    val out = AsOfJoin.asofBackward(probe, build, "user_id", "ts")
      .orderBy("event_id")
      .select("event_id", "prev_day_mean")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) === None)
    assert(out(2L) === Some(1.5))
    assert(out(3L) === Some(2.5))
    assert(out(4L) === None)
  }

  test("forward as-of join: earliest at-or-after match, inclusive ties, null after last build") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val probe = Seq(
      (1L, ts("2024-01-01 05:00:00"), 7L, 10.0), // before any build → earliest build
      (2L, ts("2024-01-02 00:00:00"), 7L, 20.0), // EXACTLY at build ts → inclusive match
      (3L, ts("2024-01-02 09:00:00"), 7L, 30.0), // between builds → carries NEXT, not prev
      (4L, ts("2024-01-03 00:00:01"), 7L, 40.0), // after last build → null
      (5L, ts("2024-01-05 00:00:00"), 8L, 50.0)) // other key, no builds → null
      .toDF("event_id", "ts", "user_id", "value")
    val build = Seq(
      (7L, ts("2024-01-02 00:00:00"), 1.5),
      (7L, ts("2024-01-03 00:00:00"), 2.5))
      .toDF("user_id", "ts", "upcoming_mean")
    val out = AsOfJoin.asofForward(probe, build, "user_id", "ts")
      .select("event_id", "upcoming_mean")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) === Some(1.5))
    assert(out(2L) === Some(1.5))
    assert(out(3L) === Some(2.5))
    assert(out(4L) === None)
    assert(out(5L) === None)
  }

  test("agg_mode_argmax: brute-force parity on sf0.001; both rank-1 windows plan WindowGroupLimit") {
    val df = SparkEntry.queries("agg_mode_argmax")(spark, sf("sf0.001"))
    val got = df.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val rows = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = rows.groupBy(_._1).map { case (flag, rs) =>
      val (modeStatus, nMode) = rs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (s, n) => (-n, s) }.head
      val (_, _, topKey, topPrice) = rs.sortBy { case (_, _, k, p) => (-p, k) }.head
      flag -> (modeStatus, nMode, topKey, topPrice)
    }
    assert(got === want)
    val wgl = collectPlan(df.queryExecution.executedPlan)
      .count(_.getClass.getSimpleName.contains("WindowGroupLimit"))
    assert(wgl >= 2, s"expected both rank-1 windows as WindowGroupLimit, found $wgl:\n" +
      df.queryExecution.executedPlan)
  }

  test("agg_weighted_median: brute-force parity; weight actually moves the median") {
    val got = SparkEntry.queries("agg_weighted_median")(spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = rows.groupBy(_._1).map { case (flag, rs) =>
      // per-(flag, price) weight, cumulative in price order, first value
      // whose doubled cumulative weight reaches the total (quantities
      // are small integral doubles — the sums are exact)
      val byV = rs.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      val tot = byV.map(_._2).sum
      var cum = 0.0
      val med = byV.find { case (_, w) => cum += w; 2 * cum >= tot }.get._1
      flag -> (med, tot)
    }
    assert(got === want)
    // the weighting is not vacuous: for at least one group the weighted
    // median differs from the unweighted one
    val unweighted = rows.groupBy(_._1).map { case (flag, rs) =>
      val vs = rs.map(_._2).sorted
      flag -> vs((vs.length - 1) / 2)
    }
    assert(got.exists { case (f, (m, _)) => m != unweighted(f) },
      "weighted and unweighted medians coincide everywhere — fixture vacuous")
  }

  test("ksDrift: disjoint distributions read D=1, identical read D=0, shifted fixture exact") {
    import spark.implicits._
    import graft.queries.Audit
    def frame(a: Seq[Double], b: Seq[Double]) =
      (a.map((_, 1)) ++ b.map((_, 2))).toDF("v", "side")
    def ks(a: Seq[Double], b: Seq[Double]) = {
      val r = Audit.ksDrift(frame(a, b)).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    // disjoint: every v of side 1 below side 2 → D = 1 at the side-1 max
    assert(ks(Seq(1, 2, 3), Seq(10, 11)) === ((3L, 2L, 6L, 1.0, 3.0)))
    // identical multisets → D = 0 (d_num 0; ks_at is the first grid point)
    val (_, _, d0, s0, _) = ks(Seq(1, 2, 2, 5), Seq(1, 2, 2, 5))
    assert(d0 === 0L && s0 === 0.0)
    // hand-computed mixed case: a={1,2,3,4}, b={3,4,5,6}:
    // at v=2 |2·4 − 0·4| = 8 is the max → D = 8/16 = 0.5, at v=2
    assert(ks(Seq(1, 2, 3, 4), Seq(3, 4, 5, 6)) === ((4L, 4L, 8L, 0.5, 2.0)))
  }

  test("ksDrift: empty input yields ONE row of NULLs, matching the oracle's aggregate CTE") {
    // ADVICE r9: a groupBy spine returned ZERO rows on an empty frame
    // while the SQL oracle's aggregate CTE returns one NULL row — a
    // shape mismatch if either drift side ever filters to empty. The
    // global-agg spine makes the shapes agree.
    import spark.implicits._
    import graft.queries.Audit
    val empty = Seq.empty[(Double, Int)].toDF("v", "side")
    val rows = Audit.ksDrift(empty).collect()
    assert(rows.length === 1, s"expected one row, got ${rows.length}")
    val r = rows.head
    assert((0 to 4).forall(r.isNullAt), s"expected all-NULL row, got $r")
  }

  test("fdAudit: a held dependency reads zero violations; a broken one counts repairs") {
    import spark.implicits._
    import graft.queries.Audit
    val df = Seq(
      ("k1", "x"), ("k1", "x"), ("k1", "x"),      // held
      ("k2", "x"), ("k2", "y"), ("k2", "y"), ("k2", "z") // majority y, 2 repairs
    ).toDF("a", "b")
    val got = Audit.fdAudit(df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))))
      .toMap
    assert(got("k1") === ((3L, 1L, "x", 0L)))
    assert(got("k2") === ((4L, 3L, "y", 2L)))
    // tiebreak: equal counts pick the smaller consequent, deterministically
    val tie = Audit.fdAudit(Seq(("k", "b"), ("k", "a")).toDF("a", "b")).collect().head
    assert(tie.getString(3) === "a" && tie.getLong(4) === 1L)
  }

  test("benfordAudit: multiplicative data conforms, uniform data fails loudly") {
    import spark.implicits._
    import graft.queries.Audit
    // powers of a ratio spiral through magnitudes — the classic
    // Benford-conforming generator (deterministic, no randomness)
    val mult = (0 until 2000).map(i => math.pow(1.01, i)).filter(_ >= 1)
    val chiMult = Audit.benfordAudit(mult.toDF("v")).collect().head.getDouble(4)
    val unif = (1 to 2000).map(_.toDouble)
    val chiUnif = Audit.benfordAudit(unif.toDF("v")).collect().head.getDouble(4)
    // chi-square critical value at 8 dof / 0.01 is 20.1: the
    // multiplicative fixture sits well under, uniform far over
    assert(chiMult < 20.1, s"multiplicative fixture should conform, chi=$chiMult")
    assert(chiUnif > 100.0, s"uniform fixture should fail loudly, chi=$chiUnif")
    // grid is always the full 1..9 even when digits are missing
    val sparse = Audit.benfordAudit(Seq(1.0, 1.5, 19.0).toDF("v")).collect()
    assert(sparse.length === 9 && sparse.count(_.getLong(1) > 0) === 1)
    // sub-1 values carry no first significant digit at integer
    // resolution and are excluded
    assert(Audit.benfordAudit(Seq(0.3, 0.9).toDF("v")).collect()
      .forall(_.getLong(1) === 0L))
  }

  test("psiDrift: identical sides read exactly 0, planted shift reads high, empty grid is full") {
    import spark.implicits._
    import graft.queries.Audit
    def frame(a: Seq[Double], b: Seq[Double]) =
      (a.map((_, 1)) ++ b.map((_, 2))).toDF("v", "side")
    // identical multisets → every bucket has p = q → each contribution
    // and the total are EXACTLY 0 (not merely small)
    val vs = (1 to 64).map(_.toDouble)
    val same = Audit.psiDrift(frame(vs, vs), 8).collect()
    assert(same.length === 8)
    assert(same.forall(_.getDouble(3) === 0.0), s"identical sides nonzero: ${same.toSeq}")
    assert(same.head.getDouble(4) === 0.0)
    // planted shift: baseline mass in the low half, current in the high
    // half → way past the 0.25 "shifted" rule of thumb
    val shifted = Audit.psiDrift(
      frame(Seq.fill(50)(1.0) ++ Seq.fill(50)(2.0), Seq.fill(50)(99.0) ++ Seq.fill(50)(100.0)),
      8).collect()
    assert(shifted.head.getDouble(4) > 1.0,
      s"planted full shift should read PSI >> 0.25, got ${shifted.head.getDouble(4)}")
    // smoothing: buckets empty on BOTH sides still appear (full grid)
    // and carry only the finite prior term — no NaN/Inf anywhere
    assert(shifted.length === 8)
    assert(shifted.forall(r => !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite))
    // empty input: same B-row shape, PSI exactly 0 (p = q = 1/B prior)
    val empty = Audit.psiDrift(Seq.empty[(Double, Int)].toDF("v", "side"), 8).collect()
    assert(empty.length === 8 && empty.head.getDouble(4) === 0.0)
  }

  test("psiDriftByFeature: flags only the shifted feature; grid is per-feature complete") {
    import spark.implicits._
    import graft.queries.Audit
    // feature a: identical sides; feature b: full shift
    val vs = (1 to 40).map(_.toDouble)
    val rows =
      vs.map(v => ("a", v, 1)) ++ vs.map(v => ("a", v, 2)) ++
        vs.map(v => ("b", v, 1)) ++ vs.map(v => ("b", v + 1000.0, 2))
    val got = Audit.psiDriftByFeature(rows.toDF("f", "v", "side"), 8).collect()
    assert(got.length === 16, s"2 features × 8 buckets expected, got ${got.length}")
    val totals = got.map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(totals("a") === 0.0, s"identical feature must read exactly 0: $totals")
    assert(totals("b") > 1.0, s"shifted feature must flag loudly: $totals")
  }

  test("peak detection: strict local maxima only — plateaus and endpoints never qualify") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: 1,5,2,2,9,9,3 → one strict peak (5); the 9-plateau is not
    // strict. user 2: monotone 1..4 → no peaks (endpoint max excluded).
    val ev = Seq(
      (1L, 1.0), (2L, 5.0), (3L, 2.0), (4L, 2.0), (5L, 9.0), (6L, 9.0), (7L, 3.0))
      .zipWithIndex.map { case ((id, v), i) => (id, t(i), 1L, v) } ++
      (1 to 4).map(i => (100L + i, t(i), 2L, i.toDouble))
    val df = ev.toDF("event_id", "ts", "user_id", "value")
    val got = graft.queries.TimeSeries.peakDetection(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((1L, 5.0)), s"plateau must not count as a peak: $got")
    assert(!got.contains(2L), s"monotone series has no interior peak: $got")
  }

  test("ksDriftBucketed: lower-bounds the exact D; equals it when buckets dominate NDV") {
    import spark.implicits._
    import graft.queries.Audit
    val a = (1 to 50).map(_.toDouble); val b = (30 to 80).map(_.toDouble)
    val fx = (a.map((_, 1)) ++ b.map((_, 2))).toDF("v", "side")
    val exact = Audit.ksDrift(fx).collect().head.getDouble(3)
    val coarse = Audit.ksDriftBucketed(fx, 8).collect().head.getDouble(3)
    val fine = Audit.ksDriftBucketed(fx, 1024).collect().head.getDouble(3)
    assert(coarse <= exact + 1e-9, s"bucketed $coarse exceeds exact $exact")
    assert(math.abs(fine - exact) < 1e-9, s"fine bucketing $fine != exact $exact")
    // degenerate single-value column: one bucket, D = 0
    val one = (Seq.fill(5)((2.0, 1)) ++ Seq.fill(3)((2.0, 2))).toDF("v", "side")
    assert(Audit.ksDriftBucketed(one, 64).collect().head.getLong(2) === 0L)
  }

  test("exactAuc: separated scores give 1, all-tied give exactly 0.5, reversed give 0") {
    import spark.implicits._
    import graft.queries.Audit
    def auc(rows: Seq[(Double, Int)]): (Long, Long, Long, Double) = {
      val r = Audit.exactAuc(rows.toDF("score", "label")).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    }
    // positives all score above negatives → AUC 1
    assert(auc(Seq((0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1))) === ((2L, 2L, 8L, 1.0)))
    // one constant score → average-rank ties give EXACTLY 0.5
    assert(auc(Seq((5.0, 0), (5.0, 1), (5.0, 0), (5.0, 1))) === ((2L, 2L, 4L, 0.5)))
    // anti-correlated → AUC 0
    assert(auc(Seq((0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1))) === ((2L, 2L, 0L, 0.0)))
    // mixed hand case: scores 1..4, labels 0,1,0,1 → U = 3, AUC = 0.75
    assert(auc(Seq((1.0, 0), (2.0, 1), (3.0, 0), (4.0, 1))) === ((2L, 2L, 6L, 0.75)))
  }

  test("kCore: hand fixture strips the tail, keeps the triangle; declared 2-core is a fixpoint") {
    import spark.implicits._
    import graft.queries.Graphs
    // triangle 1-2-3 plus a tail 3-4-5: peeling removes 5 then 4; the
    // triangle survives with all induced degrees 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graphs.kCore(edges, k = 2, iters = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // the r13 trace narrates the same peel level by level: 5 nodes,
    // then 4 (node 5 peeled), then the triangle, then no-ops — and its
    // terminal count equals the kCore survivor count by construction
    val trace = Graphs.kCoreTrace(edges, k = 2, iters = 4).collect()
      .map(r => r.getAs[Long]("iter") -> r.getAs[Long]("n_nodes")).toMap
    assert(trace === Map(0L -> 5L, 1L -> 4L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // the declared query's 6 iterations reach the true 2-core: one
    // more iteration must be a no-op
    val fx = Graphs.fixtureEdges(
      Tables.documents(spark, sf("sf0.001")).select(col("doc_id")))
    val six = Graphs.kCore(fx, 2, 6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val seven = Graphs.kCore(fx, 2, 7).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(six === seven && six.nonEmpty, "declared iteration count is not a fixpoint")
    // the converge-to-fixpoint library form agrees on the fixture...
    val conv = Graphs.kCoreConverged(fx, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(conv === six)
    // ...and is CORRECT on a long chain ending in a triangle, where a
    // fixed 6-round peel would stop early (the chain needs one round
    // per node peeled from its open end)
    val chain = ((1L to 20L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("a", "b")
    val truncated = Graphs.kCore(chain, 2, 6).collect().map(_.getLong(0)).toSet
    val full = Graphs.kCoreConverged(chain, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((20L, 2L), (21L, 2L), (22L, 2L)),
      s"converged form must peel the whole chain, got $full")
    assert(truncated.size > 3, "fixture chain too short to demonstrate truncation")
  }

  test("kCoreConverged fails loudly at its cap instead of returning a half-peeled core") {
    import spark.implicits._
    import graft.queries.Graphs
    // the 22-node chain-into-triangle above peels one node a round from
    // its open end, so 5 rounds end mid-chain with no no-op round
    val chain = ((1L to 20L).sliding(2).map(s => (s.head, s.last)).toSeq ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("a", "b")
    val e = intercept[IllegalStateException](Graphs.kCoreConverged(chain, 2, maxIter = 5))
    assert(e.getMessage.contains("in 5 rounds"), s"the error must name the cap: ${e.getMessage}")
  }

  test("parquet scans prune columns (ReadSchema ⊂ table schema)") {
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sf("sf0.001"))
    val scan = df.queryExecution.executedPlan.toString
    // 4 of 11 lineitem columns needed; the scan must not read the rest
    assert(!scan.contains("l_shipdate"), "unpruned column in scan:\n" + scan)
    assert(!scan.contains("l_partkey"), "unpruned column in scan:\n" + scan)
  }

  test("chronological split filter is pushed to the parquet scan") {
    val df = Tables.orders(spark, sf("sf0.001"))
      .filter(col("o_totalprice") > 50000.0)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,50000.0)]"),
      s"filter not pushed:\n$physical")
  }

  test("analytics_dnf_revenue: per-side disjunctions extracted from the DNF reach BOTH scans") {
    // The Q19 shape's point: the OR-of-ANDs straddles the join, but
    // Catalyst's CNF extraction must still derive each side's implied
    // disjunction and push it into the parquet scan — part sees the
    // (brand∧size) groups, lineitem sees the union of qty ranges.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("analytics_dnf_revenue")(spark, sf("sf0.001"))
    val scans = collectPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    def pushed(table: String): String =
      scans.find(_.metadata("Location").contains(s"$table.parquet"))
        .getOrElse(fail(s"no $table scan in plan"))
        .metadata("PushedFilters")
    val partSide = pushed("part")
    assert(partSide.contains("EqualTo(p_brand,Brand#12)") &&
      partSide.contains("EqualTo(p_brand,Brand#23)") &&
      partSide.contains("Or("),
      s"part-side disjunction not pushed: $partSide")
    val liSide = pushed("lineitem")
    assert(liSide.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
      liSide.contains("LessThanOrEqual(l_quantity,30.0)") &&
      liSide.contains("Or("),
      s"lineitem-side qty disjunction not pushed: $liSide")
  }

  test("corrMatrix: perfect linear, perfect inverse, and constant-free exactness") {
    import spark.implicits._
    import graft.queries.Audit
    // b = 2a (corr +1), c = -a (corr -1), d alternates orthogonally
    val d = Seq(
      (1.0, 2.0, -1.0, 1.0), (2.0, 4.0, -2.0, -1.0),
      (3.0, 6.0, -3.0, 1.0), (4.0, 8.0, -4.0, -1.0))
      .toDF("a", "b", "c", "d")
    val got = Audit.corrMatrix(d, Seq("a", "b", "c", "d"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(math.abs(got(("a", "b")) - 1.0) < 1e-12)
    assert(math.abs(got(("a", "c")) + 1.0) < 1e-12)
    assert(math.abs(got(("a", "d")) - (-0.4472135954999579)) < 1e-12) // hand: -1/sqrt(5)
    assert(got.size === 6)
  }

  test("analytics_forecast_revenue: all scan-side predicates reach the parquet scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("analytics_forecast_revenue")(spark, sf("sf0.001"))
    val scan = collectPlan(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      pushed.contains("LessThanOrEqual(l_discount,0.07)") &&
      pushed.contains("LessThan(l_quantity,24.0)"),
      s"numeric predicates not pushed: $pushed")
  }

  test("agg_mixed_distinct plans via Expand (one-pass exact multi-distinct)") {
    val df = SparkEntry.queries("agg_mixed_distinct")(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"multi-distinct should plan via Expand:\n$plan")
  }

  test("spearmanMatrix: monotone nonlinear data gives rho=1 where Pearson < 1; ties averaged") {
    import spark.implicits._
    import graft.queries.Audit
    val d = Seq((1.0, 1.0), (2.0, 8.0), (3.0, 27.0), (4.0, 64.0), (5.0, 125.0))
      .toDF("x", "y") // y = x³: perfectly monotone, not linear
    val rho = Audit.spearmanMatrix(d, Seq("x", "y"))
      .as[(String, String, Long, Double)].head()._4
    assert(math.abs(rho - 1.0) < 1e-12, s"rho=$rho")
    val pearson = Audit.corrMatrix(d, Seq("x", "y"))
      .as[(String, String, Long, Double)].head()._4
    assert(pearson < 0.95, s"cubic fixture too linear for the contrast: $pearson")
    // ties: co-monotone with duplicated values must still be exactly 1
    // (average ranks — a min-rank transform would break the symmetry)
    val t = Seq((1.0, 3.0), (1.0, 3.0), (2.0, 5.0), (2.0, 5.0), (4.0, 9.0))
      .toDF("x", "y")
    val rhoT = Audit.spearmanMatrix(t, Seq("x", "y"))
      .as[(String, String, Long, Double)].head()._4
    assert(math.abs(rhoT - 1.0) < 1e-12, s"tied rho=$rhoT")
  }

  test("ml_chi2_independence semantics: exactly proportional table gives chi2 = 0") {
    import spark.implicits._
    // Build the chi2 pipeline shape by hand over a perfectly
    // independent 2×2 contingency (counts 10/20 vs 30/60): every
    // O == E so every term and the statistic must be exactly 0.
    val cell = Seq(("s1", "x", 10L), ("s1", "y", 20L), ("s2", "x", 30L), ("s2", "y", 60L))
      .toDF("seg", "status", "o")
    val rt = cell.groupBy(col("seg").as("seg2")).agg(sum(col("o")).as("rr"))
    val ct = cell.groupBy(col("status").as("status2")).agg(sum(col("o")).as("cc"))
    val nn = cell.agg(sum(col("o")).as("n"))
    val dev = (col("o").cast("double") * col("n").cast("double")) -
      (col("rr").cast("double") * col("cc").cast("double"))
    val terms = cell
      .join(broadcast(rt), col("seg") === col("seg2"))
      .join(broadcast(ct), col("status") === col("status2"))
      .crossJoin(broadcast(nn))
      .select((dev * dev /
        ((col("n").cast("double") * col("rr").cast("double")) *
          col("cc").cast("double"))).as("term"))
      .as[Double].collect()
    assert(terms.length === 4 && terms.forall(_ === 0.0), s"got ${terms.toSeq}")
  }

  test("mergeUpsert: delta wins on collision, inserts land, base carries, no row comparison") {
    import spark.implicits._
    import graft.queries.Audit
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val delta = Seq((2L, "B2"), (4L, "d")).toDF("k", "v")
    val got = Audit.mergeUpsert(base, delta, "k")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")), s"got $got")
    // idempotent: re-applying the same delta changes nothing
    val again = Audit.mergeUpsert(Audit.mergeUpsert(base, delta, "k"), delta, "k")
      .as[(Long, String)].collect().toSet
    assert(again === got, "merge must be idempotent on the same delta")
  }

  test("keySkew: shares and skew factors are the exact integer ratios, top-N ordered") {
    import spark.implicits._
    import graft.queries.Audit
    // 'a'×6, 'b'×2, 'c'×1, 'd'×1 → total 10, 4 keys, mean 2.5
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d")).toDF("k")
    val rows = Audit.keySkew(df, "k", topN = 3)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._1) === Seq("a", "b", "c"), s"order wrong: $rows")
    assert(rows(0) === (("a", 6L, 0.6, 2.4)), s"got ${rows(0)}")
    assert(rows(1) === (("b", 2L, 0.2, 0.8)), s"got ${rows(1)}")
  }

  test("tableProfile: nulls, exact ndv, lexical min/max per column in one pass") {
    import spark.implicits._
    import graft.queries.Audit
    val df = Seq(
      (Some(1L), Some("x")), (Some(2L), None), (Some(2L), Some("a")), (None, Some("a")))
      .toDF("id", "tag")
    val got = Audit.tableProfile(df, Seq(
      "id" -> col("id").cast("string"), "tag" -> col("tag")))
      .as[(String, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("id") === ((1L, 2L, Some("1"), Some("2"))), s"got ${got("id")}")
    assert(got("tag") === ((1L, 2L, Some("a"), Some("x"))), s"got ${got("tag")}")
    // identifier-unsafe names fail loudly before SQL interpolation
    intercept[IllegalArgumentException] {
      Audit.tableProfile(df, Seq("bad`name" -> col("id")))
    }
  }

  test("hashSplit: stable assignment, sane fractions, invalid percents rejected") {
    import graft.llm.Curation
    val docs = Tables.documents(spark, sf("sf0.01"))
    val a = Curation.hashSplit(docs).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(a("train") / n - 0.90) < 0.03, s"train frac off: $a")
    assert(math.abs(a("valid") / n - 0.05) < 0.03, s"valid frac off: $a")
    assert(math.abs(a("test") / n - 0.05) < 0.03, s"test frac off: $a")
    // STABILITY is the point of hash assignment: recomputing yields the
    // identical per-doc mapping (rand() would reassign)
    val m1 = Curation.hashSplit(docs).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val m2 = Curation.hashSplit(docs).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1 === m2)
    intercept[IllegalArgumentException] { Curation.hashSplit(docs, 96, 5) }
  }

  test("temperatureMixture: largest source anchors at 1.0, small sources boosted by sqrt") {
    import spark.implicits._
    import graft.llm.Curation
    // tokens: big = 16 one-token docs... construct exact token counts:
    // big: 4 docs x 4 tokens = 16; small: 1 doc x 4 tokens = 4 → ratio 4
    val docs = ((1L to 4L).map(i => (i, "t t t t", "big")) :+ ((9L, "t t t t", "small")))
      .toDF("doc_id", "text", "source")
    val got = Curation.temperatureMixture(docs)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("big") === ((4L, 16L, 1.0, 1.0)), s"got ${got("big")}")
    // w_rel = sqrt(4/16) = 0.5; boost = sqrt(16/4) = 2.0 — exact
    assert(got("small") === ((1L, 4L, 0.5, 2.0)), s"got ${got("small")}")
  }

  test("cohortRetention: offset-0 cells equal cohort sizes, cells conserve activity") {
    import graft.queries.EventAnalytics
    val events = Tables.events(spark, sf("sf0.001"))
    val cells = EventAnalytics.cohortRetention(events).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells.nonEmpty && cells.keys.forall(_._2 >= 0L))
    // offset 0 = the cohort itself: every cohort member is by definition
    // active on their own first day
    val cohortSizes = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min("day").as("d"))
      .groupBy("d").count()
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(cells.filter(_._1._2 == 0L).map { case ((d, _), n) => d -> n } === cohortSizes)
    // conservation: Σ cells = distinct (user, day) pairs
    val distinctUD = events
      .select(col("user_id"), to_date(col("ts"))).distinct().count()
    assert(cells.values.sum === distinctUD)
  }

  test("stepFunnel: monotone non-increase; hand fixture pins the ordering rule") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    val funnel = EventAnalytics.stepFunnel(
        Tables.events(spark, sf("sf0.001")),
        Seq("signup", "view", "click", "purchase"))
      .orderBy("step").collect().map(r => r.getLong(1))
    assert(funnel.length === 4)
    assert(funnel.sliding(2).forall(p => p(0) >= p(1)), funnel.mkString(","))
    // u1 completes in order; u2 has the events but out of order (view
    // before signup) — counts step 1 only; u3 ties signup/view at the
    // same ts (ties allowed) but never clicks
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val fx = Seq(
      (1L, "signup", ts("2024-01-01 00:00:00")), (1L, "view", ts("2024-01-01 01:00:00")),
      (1L, "click", ts("2024-01-01 02:00:00")), (1L, "purchase", ts("2024-01-01 03:00:00")),
      (2L, "view", ts("2024-01-01 00:00:00")), (2L, "signup", ts("2024-01-01 01:00:00")),
      (2L, "click", ts("2024-01-01 02:00:00")),
      (3L, "signup", ts("2024-01-02 00:00:00")), (3L, "view", ts("2024-01-02 00:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.stepFunnel(fx, Seq("signup", "view", "click", "purchase"))
      .orderBy("step").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got === Array(
      ("1:signup", 3L, 1.0), ("2:view", 2L, round6(2.0 / 3)),
      ("3:click", 1L, round6(1.0 / 3)), ("4:purchase", 1L, round6(1.0 / 3))))
  }

  test("window_topn_per_group: plan carries WindowGroupLimit (map-side group limit)") {
    val df = SparkEntry.queries("window_topn_per_group")(spark, sf("sf0.001"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter did not lower to WindowGroupLimit:\n$plan")
    // and the limit is real: exactly <= 3 rows per priority
    val byP = df.collect().groupBy(_.getString(0)).view.mapValues(_.length)
    assert(byP.values.forall(_ <= 3) && byP.nonEmpty)
  }

  test("windowedFunnel: deadline cuts chains the loose funnel counts; greedy chain is maximal") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val H = 3600L * 1000000
    // u1: completes signup→view→purchase within 5 h (inside the 6 h window)
    // u2: has all steps IN ORDER but the purchase lands 10 h after the
    //     signup anchor — the loose funnel counts it, the window cuts it
    // u3: two views; the EARLIER one (1 h) must be matched and still
    //     admits the purchase at 5 h (greedy-earliest is maximal here)
    val fx = Seq(
      (1L, "signup", ts("2024-01-01 00:00:00")), (1L, "view", ts("2024-01-01 02:00:00")),
      (1L, "purchase", ts("2024-01-01 05:00:00")),
      (2L, "signup", ts("2024-01-01 00:00:00")), (2L, "view", ts("2024-01-01 01:00:00")),
      (2L, "purchase", ts("2024-01-01 10:00:00")),
      (3L, "signup", ts("2024-01-01 00:00:00")), (3L, "view", ts("2024-01-01 01:00:00")),
      (3L, "view", ts("2024-01-01 04:00:00")), (3L, "purchase", ts("2024-01-01 05:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val steps = Seq("signup", "view", "purchase")
    val windowed = EventAnalytics.windowedFunnel(fx, steps, 6 * H)
      .orderBy("step").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(windowed.toSeq === Seq(("1:signup", 3L), ("2:view", 3L), ("3:purchase", 2L)),
      s"windowed: ${windowed.mkString(",")}")
    val loose = EventAnalytics.stepFunnel(fx, steps)
      .orderBy("step").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(loose.toSeq === Seq(("1:signup", 3L), ("2:view", 3L), ("3:purchase", 3L)),
      "loose funnel must count u2 — otherwise the window fixture is vacuous")
    // declared shape sanity at sf0.001: monotone non-increasing
    val real = EventAnalytics.windowedFunnel(
        Tables.events(spark, sf("sf0.001")),
        Seq("signup", "view", "click", "purchase"), 72L * 3600 * 1000000)
      .orderBy("step").collect().map(_.getLong(1))
    assert(real.length === 4 && real.sliding(2).forall(p => p(0) >= p(1)),
      real.mkString(","))
  }

  private def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("scd2Merge: close/open on change, no-op on identical, insert, carry, re-merge idempotent") {
    import spark.implicits._
    import graft.queries.Audit
    def d(s: String) = java.sql.Date.valueOf(s)
    val history = Seq(
      (1L, 10.0, d("2024-01-01"), d("2099-12-31"), 1), // will change
      (2L, 20.0, d("2024-01-01"), d("2099-12-31"), 1), // arrives identical
      (3L, 30.0, d("2024-01-01"), d("2099-12-31"), 1), // absent from delta
      (4L, 5.0, d("2023-01-01"), d("2024-01-01"), 0),  // closed history row
      (4L, 6.0, d("2024-01-01"), d("2099-12-31"), 1))  // current of 4, will change
      .toDF("k", "price", "valid_from", "valid_to", "is_current")
    val delta = Seq((1L, 11.0), (2L, 20.0), (4L, 7.0), (9L, 90.0)).toDF("k", "price")
    val got = Audit.scd2Merge(history, delta, "k", Seq("price"), to_date(lit("2024-06-01")))
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDate(2).toString,
        r.getDate(3).toString, r.getInt(4))).toSet
    assert(rows === Set(
      (1L, 10.0, "2024-01-01", "2024-06-01", 0),
      (1L, 11.0, "2024-06-01", "2099-12-31", 1),
      (2L, 20.0, "2024-01-01", "2099-12-31", 1),
      (3L, 30.0, "2024-01-01", "2099-12-31", 1),
      (4L, 5.0, "2023-01-01", "2024-01-01", 0),
      (4L, 6.0, "2024-01-01", "2024-06-01", 0),
      (4L, 7.0, "2024-06-01", "2099-12-31", 1),
      (9L, 90.0, "2024-06-01", "2099-12-31", 1)))
    // one open version per key, and re-applying the SAME delta later is a no-op
    assert(got.filter(col("is_current") === 1).groupBy("k").count()
      .filter(col("count") > 1).count() === 0L)
    val again = Audit.scd2Merge(got, delta, "k", Seq("price"), to_date(lit("2024-07-01")))
    assert(again.collect().map(_.toSeq).toSet === got.collect().map(_.toSeq).toSet)
  }

  test("scd2AsOf: time travel reconstructs every historical state; boundary is half-open") {
    import spark.implicits._
    import graft.queries.Audit
    def d(s: String) = java.sql.Date.valueOf(s)
    val history = Seq(
      (1L, 10.0, d("2024-01-01"), d("2099-12-31"), 1),
      (2L, 20.0, d("2024-01-01"), d("2099-12-31"), 1),
      (4L, 5.0, d("2023-01-01"), d("2024-01-01"), 0),
      (4L, 6.0, d("2024-01-01"), d("2099-12-31"), 1))
      .toDF("k", "price", "valid_from", "valid_to", "is_current")
    val delta = Seq((1L, 11.0), (9L, 90.0)).toDF("k", "price")
    val merged = Audit.scd2Merge(history, delta, "k", Seq("price"), to_date(lit("2024-06-01")))
    def snap(at: String): Set[(Long, Double)] =
      Audit.scd2AsOf(merged, to_date(lit(at)))
        .select("k", "price").as[(Long, Double)].collect().toSet
    // before day one of key 4's second version: its FIRST version shows
    assert(snap("2023-06-01") === Set((4L, 5.0)))
    // pre-merge: the day-one current state, including the to-be-closed 1
    assert(snap("2024-03-01") === Set((1L, 10.0), (2L, 20.0), (4L, 6.0)))
    // post-merge: updated 1, inserted 9
    assert(snap("2024-07-01") === Set((1L, 11.0), (2L, 20.0), (4L, 6.0), (9L, 90.0)))
    // half-open boundary: AT the merge instant the new version is
    // already current and the closed one is gone
    assert(snap("2024-06-01") === Set((1L, 11.0), (2L, 20.0), (4L, 6.0), (9L, 90.0)))
    // a snapshot is always one row per key
    Seq("2023-06-01", "2024-03-01", "2024-06-01", "2024-07-01").foreach { at =>
      assert(Audit.scd2AsOf(merged, to_date(lit(at)))
        .groupBy("k").count().filter(col("count") > 1).count() === 0L, at)
    }
  }

  test("incrementalJoinView: three delta terms equal the full recompute; empty deltas are a no-op") {
    import spark.implicits._
    import graft.queries.Relational
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "av")
    val b = Seq((1L, 10), (1L, 11), (2L, 20)).toDF("k", "bv")
    val dA = Seq((3L, "z")).toDF("k", "av")
    // new lines for an existing order AND for the new key
    val dB = Seq((2L, 21), (3L, 30)).toDF("k", "bv")
    val view = a.join(b, Seq("k"))
    val inc = Relational.incrementalJoinView(view, a, b, dA, dB, "k")
    val full = a.unionByName(dA).join(b.unionByName(dB), Seq("k"))
    assert(inc.exceptAll(full).count() === 0L)
    assert(full.exceptAll(inc).count() === 0L)
    // (2,y) joins both its old lines and the new 21; (3,z) only 30
    assert(inc.filter(col("k") === 2L).count() === 2L)
    assert(inc.filter(col("k") === 3L).collect().map(_.getInt(2)).toSeq === Seq(30))
    val empty = Relational.incrementalJoinView(
      view, a, b, dA.limit(0), dB.limit(0), "k")
    assert(empty.exceptAll(view).count() === 0L)
    assert(view.exceptAll(empty).count() === 0L)
  }

  test("kAnonymity: hand fixture pins risky cells and suppressed rows; k=1 is all-safe") {
    import spark.implicits._
    import graft.queries.Audit
    // region r1: cell (a) has 5 rows (safe at k=5), cell (b) has 2
    // (risky); region r2: one singleton cell
    val df = (Seq.fill(5)(("r1", "a")) ++ Seq.fill(2)(("r1", "b")) ++
      Seq(("r2", "c"))).toDF("region", "qi")
    val got = Audit.kAnonymity(df, col("region"), Seq(col("qi")), k = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("r1") === ((2L, 7L, 1L, 2L)))
    assert(got("r2") === ((1L, 1L, 1L, 1L)))
    val allSafe = Audit.kAnonymity(df, col("region"), Seq(col("qi")), k = 1)
    assert(allSafe.filter(col("risky_cells") > 0).count() === 0L)
    // suppressed never exceeds total
    val corpus = Audit.kAnonymity(Tables.customer(spark, sf("sf0.001")),
      col("c_nationkey"), Seq(col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long")), k = 5)
    assert(corpus.filter(col("suppressed_rows") > col("n_rows")).count() === 0L)
    assert(corpus.count() > 0)
  }

  test("lDiversity: homogeneous group flagged with l=1 and full dominant share (r12)") {
    import spark.implicits._
    import graft.queries.Audit
    val df = (Seq.fill(3)(("A", "x")) ++ Seq(("A", "y")) ++ Seq.fill(2)(("B", "x")))
      .toDF("g", "sens")
    val got = Audit.lDiversity(df, Seq("g"), "sens").collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("l_distinct"),
          r.getAs[Long]("top_share_micro")))).toMap
    assert(got("A") === ((4L, 2L, 750000L)))
    assert(got("B") === ((2L, 1L, 1000000L))) // the homogeneity attack row
  }

  test("tCloseness: one-sided groups hit the closed-form EMD, matching group scores 0 (r12)") {
    import spark.implicits._
    import graft.queries.Audit
    // global over j∈{1,2} is 50/50 → a group entirely on one side has
    // EMD 1/2 (either side), and a group matching the global mix has 0
    val df = (Seq.fill(2)(("A", 1L)) ++ Seq.fill(2)(("B", 2L)) ++
      Seq(("C", 1L), ("C", 2L)))
      .toDF("g", "j")
    val got = Audit.tCloseness(df, Seq("g"), "j").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("emd_micro")).toMap
    assert(got("A") === 500000L)
    assert(got("B") === 500000L) // zero cells in the grid are REAL zeros
    assert(got("C") === 0L)
    // degenerate single-value domain: m = 1 → EMD defined as 0
    val one = Seq(("A", 1L), ("B", 1L)).toDF("g", "j")
    assert(Audit.tCloseness(one, Seq("g"), "j").collect()
      .forall(_.getAs[Long]("emd_micro") == 0L))
  }

  test("scd2TemporalJoin: each fact joins its own instant's version exactly once") {
    import spark.implicits._
    import graft.queries.Audit
    def d(s: String) = java.sql.Date.valueOf(s)
    // key 1: three versions partitioning [2024-01-01, 2099-12-31)
    val history = Seq(
      (1L, "v1", d("2024-01-01"), d("2024-02-01"), 0),
      (1L, "v2", d("2024-02-01"), d("2024-03-01"), 0),
      (1L, "v3", d("2024-03-01"), d("2099-12-31"), 1),
      (2L, "w1", d("2024-01-01"), d("2099-12-31"), 1))
      .toDF("k", "ver", "valid_from", "valid_to", "is_current")
    val facts = Seq(
      (1L, d("2024-01-15")), // inside v1
      (1L, d("2024-02-01")), // AT the v1->v2 boundary: half-open => v2
      (1L, d("2024-02-28")), // inside v2
      (1L, d("2024-07-04")), // open version v3
      (2L, d("2024-05-05")), // other key
      (3L, d("2024-05-05"))) // unknown key: no version, dropped
      .toDF("k", "at")
    val got = Audit.scd2TemporalJoin(facts, history, "k", "at")
      .select($"k", $"at", $"ver").as[(Long, java.sql.Date, String)]
      .collect().map { case (k, at, v) => (k, at.toString, v) }.toSet
    assert(got === Set(
      (1L, "2024-01-15", "v1"),
      (1L, "2024-02-01", "v2"),
      (1L, "2024-02-28", "v2"),
      (1L, "2024-07-04", "v3"),
      (2L, "2024-05-05", "w1")))
    // versions partition time: never more than one match per fact
    assert(Audit.scd2TemporalJoin(facts, history, "k", "at")
      .groupBy("k", "at").count().filter(col("count") > 1).count() === 0L)
  }

  test("madOutliers: hand fixture exact; extreme value can't drag the median") {
    import spark.implicits._
    import graft.queries.Audit
    // group a: values 1..9 plus one absurd 1e9 → med 5 (rank ceil(0.5*10)=5),
    // adevs {4,3,2,1,0,1,2,3,4,1e9-5} → mad = rank-5 element of sorted
    // {0,1,1,2,2,3,3,4,4,1e9-5} = 2; only 1e9 exceeds med + 3*2
    val df = (1 to 9).map(v => ("a", v.toDouble)).:+(("a", 1e9)).toDF("g", "v")
    val got = Audit.madOutliers(df, "g", "v", k = 3).collect().head
    assert(got.getString(0) === "a")
    assert(got.getDouble(1) === 5.0)   // median unmoved by the 1e9 row
    assert(got.getDouble(2) === 2.0)   // MAD
    assert(got.getLong(3) === 10L)
    assert(got.getLong(4) === 1L)      // exactly the planted extreme flagged
    assert(got.getDouble(5) === 0.1)
    // mean-based flagging would be blinded: mean ≈ 1e8 makes EVERY
    // normal row a >3σ "outlier" candidate on the other side
  }

  test("equiDepthHistogram: skewed hand fixture, value runs never straddle buckets") {
    import spark.implicits._
    import graft.queries.Audit
    // 6 ones, 1 two, 1 three; B=2 → the hot value owns bucket 0 alone
    val df = (Seq.fill(6)(1.0) ++ Seq(2.0, 3.0)).toDF("v")
    val got = Audit.equiDepthHistogram(df, "v", buckets = 2).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq === Seq((0, 1.0, 1.0, 6L), (1, 2.0, 3.0, 2L)))
    // counts conserve on real data and buckets are contiguous
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val h = Audit.equiDepthHistogram(li, "l_quantity", buckets = 8).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).sortBy(_._1)
    assert(h.map(_._4).sum === li.count())
    h.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"buckets overlap: $a $b")
    }
  }

  test("survivalCurve: monotone non-increasing, k=0 covers everyone, hand fixture exact") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    // u1 lives 0 days, u2 lives 2 days, u3 lives 5 days
    val ev = Seq(
      (1L, ts("2024-01-01")), (1L, ts("2024-01-01")),
      (2L, ts("2024-01-01")), (2L, ts("2024-01-03")),
      (3L, ts("2024-01-01")), (3L, ts("2024-01-06")))
      .toDF("user_id", "ts")
    val got = EventAnalytics.survivalCurve(ev, maxDays = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (0L, 3L, 1.0), (1L, 2L, 0.666667), (2L, 2L, 0.666667),
      (3L, 1L, 0.333333), (4L, 1L, 0.333333), (5L, 1L, 0.333333)))
    got.sliding(2).foreach { case Array(a, b) => assert(a._2 >= b._2) }
  }

  test("frequentSequences: trigrams respect per-user order, short timelines contribute none") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf("2024-01-01 " + s)
    val ev = Seq(
      (1L, 1L, ts("10:00:00"), "a"), (2L, 1L, ts("10:01:00"), "b"),
      (3L, 1L, ts("10:02:00"), "c"), (4L, 1L, ts("10:03:00"), "a"),
      (5L, 2L, ts("10:00:00"), "a"), (6L, 2L, ts("10:01:00"), "b"),
      (7L, 2L, ts("10:02:00"), "c"),
      (8L, 3L, ts("10:00:00"), "x"), (9L, 3L, ts("10:01:00"), "y")) // < 3 events
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.frequentSequences(ev, topK = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // user 1: a>b>c, b>c>a; user 2: a>b>c; user 3: nothing
    assert(got.toSeq === Seq(("a>b>c", 2L), ("b>c>a", 1L)))
  }

  test("lastTouchAttribution: latest view wins, pre-view purchases unattributed, exact latency") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "purchase"), // before any view → -1
      (2L, 1L, ts("2024-01-01 11:00:00"), "view"),
      (3L, 1L, ts("2024-01-01 11:30:00"), "click"),
      (4L, 1L, ts("2024-01-01 12:00:00"), "view"),     // latest touch
      (5L, 1L, ts("2024-01-01 12:00:05"), "purchase"), // → view 4, 5 s
      (6L, 2L, ts("2024-01-01 09:00:00"), "view"),
      (7L, 2L, ts("2024-01-01 09:00:00"), "purchase")) // same-ts view, SMALLER id → credited
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventAnalytics.lastTouchAttribution(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set(
      (1L, -1L, -1L),
      (5L, 4L, 5000000L),
      (7L, 6L, 0L)))
  }

  test("cooccurrence: hand fixture exact, repeated events don't inflate counts") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    val ev = Seq(
      (1L, "a"), (1L, "b"), (1L, "a"), // user 1 repeats a — must not inflate
      (2L, "a"), (2L, "b"),
      (3L, "a"))
      .map { case (u, t) => (u, t, ts("2024-01-01")) }
      .toDF("user_id", "event_type", "ts")
    val got = EventAnalytics.cooccurrence(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(("a", "b", 2L, 3L, 2L, 0.666667)))
  }

  test("basketPairs: hand-computed pair counts and lift; duplicate lines don't inflate") {
    import spark.implicits._
    import graft.queries.Relational
    val li = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 10L), // dup line of part 10 in order 1
      (2L, 10L), (2L, 20L),
      (3L, 10L))
      .toDF("l_orderkey", "l_partkey")
    val got = Relational.basketPairs(li, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(got.toSeq === Seq(
      (10L, 20L, 2L, 1.0),   // 2·3/(3·2)
      (10L, 30L, 1L, 1.0),   // 1·3/(3·1)
      (20L, 30L, 1L, 1.5)))  // 1·3/(2·1)
  }

  test("deltaRefresh: incremental state+delta equals full recompute; empty and new-key deltas") {
    import spark.implicits._
    import graft.queries.Relational
    val orders = Tables.orders(spark, sf("sf0.001"))
    val cut = to_date(lit("1998-01-01"))
    val inc = Relational.deltaRefresh(
      orders.filter(col("o_orderdate") < cut), orders.filter(col("o_orderdate") >= cut),
      "o_orderpriority", "o_totalprice").collect().map(_.toSeq).toSet
    val full = Relational.deltaRefresh(
      orders, orders.limit(0), "o_orderpriority", "o_totalprice")
      .collect().map(_.toSeq).toSet
    assert(inc === full)
    // delta introducing a brand-new key lands with base-less state
    val base = Seq(("x", 10.0), ("x", 20.0)).toDF("k", "v")
    val delta = Seq(("y", 5.0)).toDF("k", "v")
    val got = Relational.deltaRefresh(base, delta, "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got === Set(("x", 2L, 30.0, 15.0), ("y", 1L, 5.0, 5.0)))
  }

  test("transitionMatrix: steps conserve (n_events - 1 per active user), rows normalize") {
    import graft.queries.EventAnalytics
    val events = Tables.events(spark, sf("sf0.001"))
    val m = EventAnalytics.transitionMatrix(events).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // every user with k events contributes exactly k-1 steps
    val expectSteps = events.groupBy("user_id").count()
      .agg(sum(col("count") - 1)).head.getLong(0)
    assert(m.map(_._3).sum === expectSteps)
    // each from-row's probabilities sum to 1 within rounding slack
    m.groupBy(_._1).foreach { case (from, rows) =>
      val p = rows.map(_._4).sum
      assert(math.abs(p - 1.0) < 1e-4, s"row $from sums to $p")
    }
  }

  test("rollingActiveUsers: window=1 is plain DAU, window=7 dominates it, fixture exact") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    val events = Tables.events(spark, sf("sf0.001"))
    val dau = EventAnalytics.rollingActiveUsers(events, 1).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val plainDau = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .groupBy("d").count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(dau === plainDau)
    val wau = EventAnalytics.rollingActiveUsers(events, 7).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(wau.keySet === dau.keySet)
    dau.foreach { case (d, n) => assert(wau(d) >= n, s"WAU($d)=${wau(d)} < DAU $n") }
    // hand fixture: u1 active d1+d3, u2 active d1 only → WAU(d3)=2, DAU(d3)=1
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    val fx = Seq((1L, ts("2024-01-01")), (1L, ts("2024-01-03")), (2L, ts("2024-01-01")))
      .toDF("user_id", "ts")
    val got = EventAnalytics.rollingActiveUsers(fx, 7).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got === Map("2024-01-01" -> 2L, "2024-01-03" -> 2L))
  }

  test("bloomPrunedJoin equals the plain join; probe is codegen might_contain, no UDF") {
    import graft.queries.Relational
    val dir = sf("sf0.01")
    val pruned = Relational.bloomPrunedJoin(spark, dir)
    // plan: the pre-filter is the native BloomFilterMightContain
    // expression inside codegen, never a closure UDF
    val planStr = pruned.queryExecution.optimizedPlan.toString
    assert(planStr.contains("might_contain"), s"no bloom probe in plan:\n$planStr")
    assert(!planStr.contains("ScalaUDF"), s"UDF leaked into plan:\n$planStr")
    // result: identical to the plain (un-pruned) join — false
    // positives die in the exact equi-join
    val sel = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plain = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .join(sel, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double").as("revenue"))
    val got = pruned.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = plain.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("join_null_safe matches NULL keys as values; plain equi-join drops them") {
    val dir = sf("sf0.01")
    val rows = SparkEntry.queries("join_null_safe")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the P-status rows were keyed NULL on both sides and still joined
    assert(rows.contains("<null>"), s"null-safe match missing: ${rows.keySet}")
    // counts reconcile against direct filters
    val o = Tables.orders(spark, dir)
    val expectNullEven = o.filter(col("o_orderstatus") === "P" && col("o_custkey") % 2 === 0).count()
    val expectNullOdd = o.filter(col("o_orderstatus") === "P" && col("o_custkey") % 2 === 1).count()
    assert(rows("<null>") === (expectNullEven, expectNullOdd))
    // the same join with a PLAIN equality drops the NULL group entirely
    val k = when(col("o_orderstatus") === "P", lit(null).cast("string"))
      .otherwise(col("o_orderstatus"))
    val a = o.filter(col("o_custkey") % 2 === 0).groupBy(k.as("ka")).count()
    val b = o.filter(col("o_custkey") % 2 === 1).groupBy(k.as("kb")).count()
    val plainKeys = a.join(b, col("ka") === col("kb")).select(col("ka"))
      .collect().map(_.getString(0)).toSet
    assert(!plainKeys.contains(null) && plainKeys.size === rows.size - 1)
  }

  test("join_nearest picks the true two-sided minimum gap with ties to 'before'") {
    val got = SparkEntry.queries("join_nearest")(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // brute force: per user, compare every purchase against every error
    val ev = Tables.events(spark, sf("sf0.001"))
      .filter(col("event_type").isin("error", "purchase"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = ev.groupBy(_._1)
    val want = byUser.toSeq.flatMap { case (uid, rows) =>
      val errs = rows.filter(_._4 == "error").map(e => (e._3, e._2)).sorted
      rows.filter(_._4 == "purchase").flatMap { case (_, pid, pus, _) =>
        // window order is (us, side, id) with error side first, so an
        // equal-us error counts as PRECEDING with gap 0
        val prev = errs.filter(_._1 <= pus).lastOption
        val next = errs.filter(_._1 > pus).headOption
        (prev, next) match {
          case (None, None) => None
          case (Some((eus, eid)), None) => Some((uid, pid) -> (eid, pus - eus, "before"))
          case (None, Some((eus, eid))) => Some((uid, pid) -> (eid, eus - pus, "after"))
          case (Some((bus, bid)), Some((aus, aid))) =>
            if (pus - bus <= aus - pus) Some((uid, pid) -> (bid, pus - bus, "before"))
            else Some((uid, pid) -> (aid, aus - pus, "after"))
        }
      }
    }.toMap
    assert(got === want)
    assert(got.values.exists(_._3 == "before") && got.values.exists(_._3 == "after"))
  }

  test("seasonalAnomalies: exact 50% deviation is NOT anomalous (strict rule), fixture exact") {
    import spark.implicits._
    import graft.queries.EventAnalytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    // three Mondays of type 'a': counts 10, 10, 40 → S=60, D=3, mean=20.
    // day3 (40): 2·|40·3−60| = 120 > 60 → anomaly.
    // day1/day2 (10): 2·|10·3−60| = 60 ≯ 60 → exactly −50%, NOT anomalous.
    val mondays = Seq("2024-01-01", "2024-01-08", "2024-01-15")
    val counts = Seq(10, 10, 40)
    val fx = mondays.zip(counts).flatMap { case (d, n) =>
      (1 to n).map(_ => ("a", ts(d)))
    }.toDF("event_type", "ts")
    val got = EventAnalytics.seasonalAnomalies(fx).collect()
      .map(r => r.getDate(1).toString -> (r.getLong(2), r.getDouble(4), r.getInt(5))).toMap
    assert(got === Map(
      "2024-01-01" -> (10L, 20.0, 0),
      "2024-01-08" -> (10L, 20.0, 0),
      "2024-01-15" -> (40L, 20.0, 1)))
  }

  test("winsorizedStats: cuts are data elements, clamp counts and sum reconcile") {
    import spark.implicits._
    import graft.queries.Audit
    // integer-valued fixture so the 6-dp display rounding is identity
    // and the sums recompute exactly in the test
    val vals = (1 to 200).map(_.toDouble) :+ 100000.0
    val fx = vals.map(("a", _)).toDF("g", "v")
    val r = Audit.winsorizedStats(fx).collect().head
    val (n, lo, hi) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
    assert(n === vals.size)
    assert(vals.contains(lo) && vals.contains(hi), s"cuts ($lo, $hi) not data elements")
    assert(lo < hi && hi < 100000.0, "spike must be clamped, not chosen as a cut")
    val clamped = vals.map(v => math.min(math.max(v, lo), hi))
    assert(r.getDouble(4) === clamped.sum)
    assert(r.getLong(5) === vals.count(_ < lo))
    assert(r.getLong(6) === vals.count(_ > hi))
  }

  test("rfm: quintiles balance, the dominant user reads 555, non-purchasers are absent") {
    import java.sql.Timestamp
    import graft.queries.EventAnalytics
    import spark.implicits._
    // 10 purchasing users: user i purchases (i+1) times on day i+1
    // (later users: more recent, more frequent, bigger spend — all
    // three rankings agree, so user 10 must read 555 and user 1 reads
    // 111); user 99 only clicks and must not appear.
    val rows: Seq[(Long, Long, java.sql.Timestamp, String, Double)] = (1 to 10).flatMap { i =>
      (1 to i).map(j => (i * 100L + j, i.toLong,
        Timestamp.valueOf(f"2024-02-$i%02d 10:00:$j%02d"), "purchase", i * 10.0))
    } :+ ((9999L, 99L, Timestamp.valueOf("2024-02-28 10:00:00"), "click", 5.0))
    val events = rows.toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = EventAnalytics.rfmSegments(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("segment")).toMap
    assert(!got.contains(99L))
    assert(got(10L) === 555L)
    assert(got(1L) === 111L)
    // quintile balance: 10 users over 5 buckets = exactly 2 per score
    val scores = EventAnalytics.rfmSegments(events).collect()
      .map(_.getAs[Long]("r_score"))
    assert(scores.groupBy(identity).view.mapValues(_.size).toMap ===
      (1L to 5L).map(_ -> 2).toMap)
  }
}
