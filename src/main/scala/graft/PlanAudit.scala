package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** Dev harness: prints AQE-final shuffle/broadcast counts for the
  * operators PLANS.md makes claims about, so the claims stay measured
  * rather than asserted. (`sbt "runMain graft.PlanAudit [sfDir]"`;
  * forked JVM — the sbt console classloader breaks typedLit encoder
  * resolution, so audits must run here, not in `sbt console`.) */
object PlanAudit {

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val through = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    p +: through
  }

  /** Executes `df` (finalizing AQE on the SAME QueryExecution) and
    * returns its (shuffle, broadcast) exchange counts — the number
    * PLANS.md's audit tables record and PlanAuditSpec gates on. */
  def exchangeCounts(df: DataFrame): (Int, Int) = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count() // finalize AQE on the SAME QueryExecution
    val all = walk(qe.executedPlan)
    (all.count(_.isInstanceOf[ShuffleExchangeExec]),
      all.count(_.isInstanceOf[BroadcastExchangeExec]))
  }

  /** Executes `df` and returns the BYTES its exchanges actually moved —
    * (shuffle bytes written, shuffle records, broadcast data size) —
    * from the executed plan's SQLMetrics. Exchange COUNTS say how many
    * barriers a plan has; at 100 TB the cost driver is the VOLUME per
    * barrier, and this is the measured per-row shuffle footprint that
    * PLANS.md's scale extrapolations multiply out. Reused exchanges
    * are deduplicated by node identity (walk() traverses through
    * `ReusedExchangeExec`, so the underlying node appears once per
    * consumer; its metrics must be summed once). */
  def shuffleStats(df: DataFrame): (Long, Long, Long) = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def m(p: SparkPlan, key: String): Long =
      p.metrics.get(key).map(_.value).getOrElse(0L)
    var sBytes = 0L; var sRecs = 0L; var bBytes = 0L
    walk(qe.executedPlan).foreach {
      case s: ShuffleExchangeExec if seen.add(s) =>
        sBytes += m(s, "shuffleBytesWritten"); sRecs += m(s, "shuffleRecordsWritten")
      case b: BroadcastExchangeExec if seen.add(b) =>
        bBytes += m(b, "dataSize")
      case _ => ()
    }
    (sBytes, sRecs, bBytes)
  }

  /** Executes `df` and returns, per finalized shuffle stage, the array
    * of per-reduce-partition COMPRESSED map-output bytes — the numbers
    * AQE's skew-join detector compares against
    * `skewedPartitionThresholdInBytes` (SaltProbe's blind-spot
    * readout: a partition hot in decompressed work but small in
    * compressed bytes evades the detector). */
  def shufflePartitionBytes(df: DataFrame): Seq[Array[Long]] = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    walk(qe.executedPlan).collect {
      case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
        org.apache.spark.sql.GraftBridge.mapOutputBytes(s)
    }.flatten
  }

  /** The shuffle stages that feed a sort-merge / shuffled-hash JOIN
    * input in `p` — the only stages `OptimizeSkewedJoin` is allowed to
    * split (ADVICE r15: the rule rewrites SMJ/SHJ children exclusively;
    * a skewed AGGREGATION shuffle, or any other non-join consumer,
    * never gets the runtime split no matter how far it clears the size
    * thresholds). Identity set: a stage reached from a join child
    * without crossing another join (a nested join's inputs belong to
    * that join, and a join directly under a join shares its output
    * partitioning — no splittable stage in between). */
  private def joinInputStages(p: SparkPlan): java.util.Set[SparkPlan] = {
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val found = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def topStage(n: SparkPlan): Unit = n match {
      case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
        found.add(s); ()
      case _: SortMergeJoinExec | _: ShuffledHashJoinExec => ()
      case a: AdaptiveSparkPlanExec => topStage(a.executedPlan)
      case q: QueryStageExec => q.plan.children.foreach(topStage)
      case r: ReusedExchangeExec => topStage(r.child)
      case other => other.children.foreach(topStage)
    }
    walk(p).foreach {
      case j: SortMergeJoinExec => j.children.foreach(topStage)
      case j: ShuffledHashJoinExec => j.children.foreach(topStage)
      case _ => ()
    }
    found
  }

  /** [[shufflePartitionBytes]] plus, per stage, whether it feeds an
    * SMJ/SHJ join input (the `OptimizeSkewedJoin` applicability bit
    * [[skewAdvice]] needs). Executes `df`. */
  private[graft] def shuffleStagesWithJoinFlag(
      df: DataFrame): Seq[(Array[Long], Boolean)] = {
    val qe = df.queryExecution
    qe.executedPlan.execute().count()
    val joinFed = joinInputStages(qe.executedPlan)
    walk(qe.executedPlan).collect {
      case s: org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec =>
        org.apache.spark.sql.GraftBridge.mapOutputBytes(s)
          .map(bytes => (bytes, joinFed.contains(s)))
    }.flatten
  }

  /** The compressed-vs-true blind factor SaltProbe measured on 200 B
    * padded-hex payloads with the payload ACTUALLY crossing the wire
    * (r15 — the r14 readout's consumer let column pruning drop the
    * wide column, so its published 4.59× was the bare-numeric-row
    * ratio, ADVICE r14): AQE's skew detector thresholds on COMPRESSED
    * map-output bytes while the reducer pays the decompressed volume,
    * and on compressible wide rows the measured gap is 19.25×
    * (49.2 MB seen vs 947.6 MB paid — detector blind under ~4.9 GB of
    * true hot-partition volume at default confs). Payload-dependent:
    * 4.59× for bare numeric rows, higher still for repetitive text —
    * callers with their own measured ratio pass it to [[skewAdvice]]. */
  val MeasuredBlindFactor = 19.25

  /** One shuffle's skew decision, from the numbers AQE itself reads
    * (per-reduce-partition COMPRESSED map-output bytes of the hottest
    * finalized stage) plus the measured compressed→true blind factor
    * AND `OptimizeSkewedJoin`'s applicability bit (ADVICE r15 — the
    * rule only ever splits stages feeding an SMJ/SHJ join input):
    *  - `advice = "none"`      — no skewed partition (hot ≤ factor·median);
    *  - `advice = "aqe-handles"` — skewed, hot's compressed bytes clear
    *    the detector threshold, AND the hot stage feeds a splittable
    *    join input: the runtime split fires, do nothing;
    *  - `advice = "salt"`     — skewed, but the runtime split will NOT
    *    fire: either hot's COMPRESSED bytes sit under the threshold
    *    (the detector is blind while the reducer buffers
    *    ≈ blindFactor × hot true bytes), or the hot stage feeds a
    *    non-join consumer — an aggregation, window, or sort shuffle —
    *    which `OptimizeSkewedJoin` never rewrites regardless of size.
    *    The plan needs `Salted.joinSalted` (join) or a salted two-stage
    *    aggregate.
    * Caveat: `hotIsJoinInput = true` is necessary, not sufficient — the
    * runtime rule additionally requires the OTHER join side to permit
    * splitting (e.g. it declines when both sides of a full-outer join
    * are skewed); "aqe-handles" is the optimistic reading of the two
    * size thresholds plus this bit. */
  final case class SkewAdvice(
      hotBytes: Long, medianBytes: Double, skewFactor: Double,
      thresholdBytes: Long, detectorFactor: Double,
      estTrueHotBytes: Double, hotIsJoinInput: Boolean,
      aqeWouldSplit: Boolean, advice: String)

  /** Apply the AQE skew detector's OWN two conditions (hot > factor ×
    * median AND hot > skewedPartitionThresholdInBytes, both on
    * compressed bytes) — restricted to `OptimizeSkewedJoin`'s actual
    * applicability (SMJ/SHJ join inputs only, ADVICE r15) — to `df`'s
    * hottest finalized shuffle stage, and report whether the runtime
    * mitigation will fire or the plan needs manual salting — the
    * PLANS.md round-14 decision rule ("AQE blind while true
    * hot-partition volume < ratio × 256 MB") as a callable (VERDICT
    * r14 task 7). Executes `df`; None when AQE is disabled (no query
    * stages to read) or the plan has no shuffle. */
  def skewAdvice(
      df: DataFrame,
      blindFactor: Double = MeasuredBlindFactor): Option[SkewAdvice] = {
    val stages = shuffleStagesWithJoinFlag(df).filter(_._1.nonEmpty)
    if (stages.isEmpty) None
    else {
      val (hotStage, joinInput) = stages.maxBy(_._1.max)
      val hot = hotStage.max
      val med = Bench.stat(hotStage.sorted.map(_.toDouble).toSeq)._2
      val conf = df.sparkSession.conf
      val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"))
      val factor =
        conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0").toDouble
      val skewFactor =
        if (med > 0) hot / med else if (hot > 0) Double.PositiveInfinity else 0.0
      val skewed = hot > 0 && skewFactor > factor
      val wouldSplit = skewed && hot > threshold && joinInput
      val advice =
        if (!skewed) "none" else if (wouldSplit) "aqe-handles" else "salt"
      Some(SkewAdvice(hot, med, skewFactor, threshold, factor,
        hot * blindFactor, joinInput, wouldSplit, advice))
    }
  }

  /** One unpartitioned-Window site found by [[unpartitionedWindows]]:
    * the window expressions (truncated) and whether the site's INPUT
    * is provably bounded by plan construction (a Limit/TakeOrdered, a
    * 1-row aggregate, or a literal frame somewhere below every
    * data-sized path). An empty partition spec moves ALL input rows to
    * one task (the `WindowExec: No Partition Defined` WARN) — harmless
    * on an n-bounded frame (rank windows over a top-k list), a 100 TB
    * scale-killer on a data-sized one. */
  final case class GlobalWindowSite(exprs: String, boundedInput: Boolean) {
    override def toString: String =
      s"GlobalWindowSite(bounded=$boundedInput, $exprs)"
  }

  /** Conservative bounded-output prover for [[unpartitionedWindows]]:
    * true only when `p`'s output row count is bounded by a PLAN
    * constant, independent of input data size.
    *  - limits (Global/Local/CollectLimit/TakeOrdered) bound by their
    *    literal;
    *  - an ungrouped aggregate is 1 row; a GROUPED aggregate only
    *    reduces, so it passes its child's verdict through (a bounded
    *    grid grouped further stays bounded; a data-sized input stays
    *    data-sized — group count is not provable from the plan);
    *  - literal frames (LocalTableScan, Range) are plan constants;
    *  - semi/anti/existence joins are bounded by their left side;
    *    other joins need both sides bounded; unions need all children;
    *  - Generate (explode) fan-out is data-dependent → unbounded;
    *  - file/RDD/checkpoint scans → unbounded;
    *  - the known row-preserving or row-reducing one-child nodes
    *    (Project/Filter/Sort/Exchange/Window/Expand/Sample and the
    *    codegen and AQE wrappers) pass the child verdict through;
    *  - any OTHER node is unbounded (fail closed): a MapPartitions-,
    *    FlatMapGroups- or UDTF-style node may emit any number of rows
    *    per input row. */
  private[graft] def boundedOutput(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{CollectLimitExec, ExpandExec, FilterExec,
      GenerateExec, GlobalLimitExec, InputAdapter, LocalLimitExec, LocalTableScanExec,
      ProjectExec, RangeExec, SampleExec, SortExec, TakeOrderedAndProjectExec, UnionExec,
      WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
    p match {
      case a: AdaptiveSparkPlanExec => boundedOutput(a.executedPlan)
      case q: QueryStageExec => boundedOutput(q.plan)
      case r: ReusedExchangeExec => boundedOutput(r.child)
      case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
          _: TakeOrderedAndProjectExec => true
      case _: LocalTableScanExec | _: RangeExec => true
      case agg: BaseAggregateExec =>
        agg.groupingExpressions.isEmpty || boundedOutput(agg.child)
      case j: BaseJoinExec => j.joinType match {
        case LeftSemi | LeftAnti | _: ExistenceJoin => boundedOutput(j.left)
        case _ => boundedOutput(j.left) && boundedOutput(j.right)
      }
      case u: UnionExec => u.children.forall(boundedOutput)
      case _: GenerateExec => false
      case _: ProjectExec | _: FilterExec | _: SortExec | _: Exchange | _: WindowExec |
          _: ExpandExec | _: SampleExec | _: WholeStageCodegenExec | _: InputAdapter |
          _: AQEShuffleReadExec => boundedOutput(p.children.head)
      case _ => false
    }
  }

  /** Unpartitioned-Window census (r21, VERDICT r20 task 3): every
    * `WindowExec` in `df`'s plan whose partition spec is EMPTY, each
    * classified by [[boundedOutput]] over its input subtree. Walks the
    * PRE-EXECUTION physical plan — window shape is AQE-invariant — so
    * a census over every declared query runs no jobs. Checkpoint
    * caveat (the exchangeCounts limitation): a checkpoint hides
    * its upstream plan, so checkpoint-backed inputs read as UNBOUNDED
    * here (fail-closed) and pre-checkpoint cores are audited piecewise
    * in [[main]]. */
  def unpartitionedWindows(df: DataFrame): Seq[GlobalWindowSite] = {
    import org.apache.spark.sql.execution.window.WindowExec
    walk(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        GlobalWindowSite(
          w.windowExpression.map(_.toString).mkString("; ").take(200),
          boundedOutput(w.child))
    }
  }

  /** One driver-side row materialization recorded by
    * [[auditDriverFetches]]: the action name Spark reported, the
    * plan-level limit when the root is a CollectLimit/TakeOrdered
    * (bounded BY PLAN — the strongest form), and the measured row
    * count otherwise. */
  final case class DriverFetch(
      funcName: String, planLimit: Option[Long], rows: Option[Long]) {
    /** Bounded under `bound` rows: a plan-level limit ≤ bound, or a
      * measured materialization ≤ bound. */
    def bounded(bound: Long): Boolean =
      planLimit.map(_ <= bound).orElse(rows.map(_ <= bound)).getOrElse(false)
    override def toString: String =
      s"DriverFetch($funcName, planLimit=${planLimit.getOrElse("-")}, " +
        s"rows=${rows.getOrElse("-")})"
  }

  /** The collect-like Dataset actions that ship ROWS to the driver —
    * scalar actions (count, isEmpty's limit-1 plan is caught as a
    * CollectLimit anyway) are not budget hazards. */
  private val FetchActions: Set[String] =
    Set("collect", "collectAsList", "collectResult", "toLocalIterator",
      "head", "take", "tail")

  /** THE DRIVER-BUDGET GATE's measurement half (r20, VERDICT r19
    * task 4): run `body` with a QueryExecutionListener installed and
    * return every collect-like action it executed, each classified as
    * plan-bounded (root CollectLimit/TakeOrderedAndProject with its
    * limit) or measured (the plan re-executed distributed for its row
    * count — cheap at test scale, and only unlimited roots pay it).
    * The r19 audit established every `.collect()` site in main is a
    * bounded artifact by construction or a hard `require`; this turns
    * that one-time grep into a permanent, failing gate — a new
    * declared query that collects unbounded rows at construction time
    * fails PlanAuditSpec instead of shipping a driver OOM at scale.
    *
    * The listener hears the whole shared session, so `body` must be
    * the only Dataset-action traffic while it runs (test suites are
    * single-threaded here; streaming micro-batches report through the
    * streaming listener, not this one). */
  def auditDriverFetches[T](spark: SparkSession)(body: => T): (T, Seq[DriverFetch]) = {
    import org.apache.spark.sql.execution.{CollectLimitExec, TakeOrderedAndProjectExec}
    val recorded = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (FetchActions.contains(funcName)) { recorded.add((funcName, qe)); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out =
      try body
      finally {
        // events deliver asynchronously — drain before unregistering
        try org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        finally spark.listenerManager.unregister(listener)
      }
    val fetches = recorded.toArray(Array.empty[(String,
        org.apache.spark.sql.execution.QueryExecution)]).toSeq.map {
      case (fn, qe) =>
        def unwrap(p: SparkPlan): SparkPlan = p match {
          case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
          case other => other
        }
        // the action already ran — read its numOutputRows SQLMetric
        // instead of re-executing (queries legitimately delete their
        // construction-time temp artifacts after collecting, so a
        // deferred re-run would read vanished files). Descend through
        // metric-less nodes to populated ones: 1:1 nodes (Project/
        // Sort/WSCG/exchanges) pass their single child through, and a
        // metric-less MULTI-child node (UnionExec — it concatenates,
        // so it carries no numOutputRows) contributes the SUM of its
        // children; any child without a reading poisons the total to
        // None, which `bounded` fails closed (a first-child-only read
        // under-counted unions — review r20).
        def outputRows(p: SparkPlan): Option[Long] = p match {
          case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
          case q: QueryStageExec => outputRows(q.plan)
          case r: ReusedExchangeExec => outputRows(r.child)
          case other => other.metrics.get("numOutputRows").map(_.value)
            .orElse {
              val kids = other.children.map(outputRows)
              if (kids.isEmpty || kids.exists(_.isEmpty)) None
              else Some(kids.flatten.sum)
            }
        }
        unwrap(qe.executedPlan) match {
          case c: CollectLimitExec => DriverFetch(fn, Some(c.limit.toLong), None)
          case t: TakeOrderedAndProjectExec => DriverFetch(fn, Some(t.limit.toLong), None)
          // tail ships at most `limit` rows — charging the child's
          // full count to a 5-row tail would false-positive the gate
          case t: org.apache.spark.sql.execution.CollectTailExec =>
            DriverFetch(fn, Some(t.limit.toLong), None)
          case other => DriverFetch(fn, None, outputRows(other))
        }
    }
    (out, fetches)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def audit(name: String, df: DataFrame): Unit = {
      val (sh, bc) = exchangeCounts(df)
      println(f"AUDIT $name%-28s shuffles=$sh broadcasts=$bc")
    }

    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    audit("srpBanded", llm.Similarity.srpBanded(emb))
    audit("srpBandedCandidates", llm.Similarity.srpBandedCandidates(emb))
    // round-7 native signature paths: EVERY LSH tier's key derivation
    // must stay MAP-ONLY (0 shuffles) — simhash signatures and both
    // fused minhash banded-key expressions
    audit("simhashed64(native)", llm.Dedup.simhashed64(docs))
    audit("simhashed(native16)", llm.Dedup.simhashed(docs))
    audit("tokenBanded(fused)", llm.Dedup.tokenBanded(docs))
    audit("ngramBanded(fused)", llm.Dedup.ngramBanded(docs))
    // NOTE: nearDupPairsByCosine / annJoin / ngramJaccardPairs /
    // decontaminate materialize their results (storage hygiene), so
    // auditing the RETURNED frame shows a checkpoint scan; the numbers
    // that matter are the pre-checkpoint pipelines audited piecewise
    // above/below plus the verify join (2 shuffles keyed id + 1 dedup
    // exchange), which boilerplateChunks exhibits un-checkpointed:
    // round-8 claims: the substring-span pipeline is 3 exchanges (gram
    // min/max agg + LEFT SEMI probe + ONE doc_id exchange shared by
    // the island window and span agg); the incremental probe drops the
    // agg side to the corpus distinct; subword encode is map-only
    audit("substringSpans(plan)", llm.Dedup.spanRowsPlan(docs))
    audit("incrementalSubstring",
      llm.Dedup.incrementalSubstringSpans(docs, docs.limit(50)))
    audit("subwordStats(native)",
      llm.TextAnalysis.subwordStats(docs, Seq("a", "b", "ab", "the"), 6))
    audit("sourceOverlapSketch", llm.Curation.sourceOverlapSketch(docs))
    audit("stripContaminated", llm.Curation.stripContaminated(docs, col("doc_id") % 7 === 0))
    // un-checkpointed core of sourceOverlap — the SHARED plan variant,
    // not an inline copy (r20: the old inline block silently kept the
    // retired self-join shape after the one-grouped-pass rewrite)
    audit("sourceOverlapExact", llm.Curation.sourceOverlapPlan(docs))
    // exact dedup: the declared survivor aggregate + semi-join
    // (broadcast regime, keeps scan partitioning) — the shared variant
    audit("exactDedup(agg)", llm.Curation.exactDedupCorpus(docs))
    // round-9 ops tier: the merge rewrite is delta ∪ (base ANTI delta)
    // — the anti join must broadcast the delta (small side), and the
    // skew profile is one keyed count + a broadcast totals row
    audit("mergeUpsert", {
      val orders = Tables.orders(spark, sfDir)
      queries.Audit.mergeUpsert(
        orders.select(col("o_orderkey"), col("o_totalprice")),
        orders.filter(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice")),
        "o_orderkey")
    })
    audit("keySkew", queries.Audit.keySkew(Tables.orders(spark, sfDir), "o_custkey", 10))
    // familiarity (headline, r9): the SHARED plan variant (the
    // sourceOverlapPlan discipline) — gram-keyed freq aggregate + join
    // + doc rollup
    audit("familiarity(core)", llm.TextAnalysis.familiarityPlan(docs))
    audit("negativePairs", llm.Curation.negativePairs(docs, 4))
    // round-9: within-doc repetition coverage — recurrence test is a
    // window over (doc_id, gram_h), islands+rollup share the doc_id
    // exchange: 2 shuffles, no join; retention: (user, day) distinct
    // and per-user min share one user exchange + bounded grid agg;
    // funnel: per-user conditional-min agg + 1-row rollup
    audit("intraDocSpans", llm.Dedup.intraDocSpans(docs))
    audit("cohortRetention",
      queries.EventAnalytics.cohortRetention(Tables.events(spark, sfDir)))
    audit("stepFunnel", queries.EventAnalytics.stepFunnel(
      Tables.events(spark, sfDir), Seq("signup", "view", "click", "purchase")))
    // transition: 1 user-keyed window exchange + the bounded types²
    // grid (agg + normalizing window); rolling actives: partial
    // distinct → ×7 explode → contribute-day distinct/count
    audit("transitionMatrix",
      queries.EventAnalytics.transitionMatrix(Tables.events(spark, sfDir)))
    audit("rollingActiveUsers",
      queries.EventAnalytics.rollingActiveUsers(Tables.events(spark, sfDir), 7))
    // triangles: degree join → oriented wedge self-join → closure
    // semi-join → corner explode/count; work bounded O(m^{3/2})
    audit("triangleStats", {
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
      val edges = docs
        .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("a"),
          (col("doc_id") + 2000000L).as("b")))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("a"), (col("doc_id") + 2000000L).as("b")))
      llm.Dedup.triangleStats(edges)
    })
    // fuzzy link: 2 map-side key projections → union → distinct →
    // bounded-levenshtein scan; no all-pairs anywhere
    audit("fuzzyLink", {
      val parts = Tables.part(spark, sfDir)
      val base = parts.select(col("p_partkey").as("orig_id"), col("p_name").as("name"))
      val typos = parts.filter(col("p_partkey") % 20 === 0)
        .select((col("p_partkey") + 10000000L).as("typo_id"), col("p_name").as("name"))
      queries.Linkage.fuzzyLink(base, typos, maxDist = 2)
    })
    // scd2: ONE full-outer join (delta broadcast-ineligible under
    // full-outer → shuffle) + filtered projections + union
    audit("scd2Merge", {
      val orders = Tables.orders(spark, sfDir)
      val history = orders.select(col("o_orderkey"), col("o_totalprice"),
        to_date(lit("2024-01-01")).as("valid_from"),
        to_date(lit("2099-12-31")).as("valid_to"), lit(1).as("is_current"))
      val delta = orders.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
      queries.Audit.scd2Merge(history, delta, "o_orderkey", Seq("o_totalprice"),
        to_date(lit("2024-06-01")))
    })
    // MAD: 3 keyed aggregates on the group key + 2 broadcasts of the
    // bounded stats frames
    audit("madOutliers", queries.Audit.madOutliers(
      Tables.orders(spark, sfDir), "o_orderpriority", "o_totalprice", 3))
    // co-occurrence: distinct + user-keyed self-join + bounded-grid aggs
    audit("cooccurrence",
      queries.EventAnalytics.cooccurrence(Tables.events(spark, sfDir)))
    // delta refresh: two partial aggs + one key-wise full-outer join
    audit("deltaRefresh", {
      val orders = Tables.orders(spark, sfDir)
      val cut = to_date(lit("2000-01-01"))
      queries.Relational.deltaRefresh(
        orders.filter(col("o_orderdate") < cut),
        orders.filter(col("o_orderdate") >= cut),
        "o_orderpriority", "o_totalprice")
    })
    // keyword search: scan-level term filter + (doc,term) agg +
    // broadcast idf + TakeOrdered
    audit("keywordSearch", llm.TextAnalysis.keywordSearch(
      docs, Seq("spark", "window", "query"), 20))
    // (labelPropagation checkpoints per round — audited rounds
    // would show checkpoint scans; per-round shape is join + 2 aggs)
    // basket pairs: distinct + order-keyed self-join + pair agg +
    // broadcast marginals + TakeOrdered
    audit("basketPairs", queries.Relational.basketPairs(
      Tables.lineitem(spark, sfDir), topK = 25))
    // attribution: ONE user-keyed window exchange, then a filter
    audit("lastTouchAttribution",
      queries.EventAnalytics.lastTouchAttribution(Tables.events(spark, sfDir)))
    // lang consistency: map-side chunk explode + scores, one
    // (doc, lang) agg, one doc agg
    audit("langConsistency",
      llm.TextAnalysis.langConsistency(Tables.documents(spark, sfDir)))
    // sequences: ONE user-keyed window (two leads share it) + bounded
    // types³ agg + TakeOrdered; survival: span agg + map-only explode
    // + bounded count; pareto: per-size agg + bounded running min +
    // broadcast semi-join
    audit("frequentSequences",
      queries.EventAnalytics.frequentSequences(Tables.events(spark, sfDir), 20))
    audit("survivalCurve",
      queries.EventAnalytics.survivalCurve(Tables.events(spark, sfDir)))
    audit("paretoFrontier",
      queries.Relational.paretoFrontier(Tables.part(spark, sfDir)))
    audit("tableProfile", queries.Audit.tableProfile(docs, Seq(
      "doc_id" -> col("doc_id").cast("string"), "lang" -> col("lang"))))
    audit("boilerplateChunks", llm.Curation.boilerplateChunks(docs))
    // Q8-shaped market share (r10): 3 shuffles (lineitem⋈filtered-
    // orders keyed join feeding the o_custkey partial agg, the
    // custkey-keyed customer join, the 25-row n_name agg; the share
    // window + top-10 ride the single post-agg partition) + 3
    // broadcasts at THIS scale (nation declared; AQE flips the
    // filtered-orders AND customer sides under the threshold — at
    // 100 TB those two revert to the keyed shuffle joins already in
    // the plan) — measured line mirrored in PLANS.md
    audit("marketShare(Q8)",
      SparkEntry.queries("analytics_market_share")(spark, sfDir))
    // Q17 shape: partkey agg + partkey join (AQE co-locates) + brand
    // rollup; Q4 shape: date-pruned semi join + bounded priority agg
    audit("smallQtyRevenue(Q17)",
      SparkEntry.queries("analytics_small_qty_revenue")(spark, sfDir))
    audit("semiCorrelated(Q4)",
      SparkEntry.queries("join_semi_correlated")(spark, sfDir))
    // r10 tail: windowed funnel (chained user-keyed mins — one
    // exchange, reused by every step's join+agg), seasonal deviation
    // (one hour agg, grid self-join broadcast), rolling median /
    // autocorr / gini / kfold / topn / stratified (each one keyed
    // window or agg exchange + bounded tails)
    // un-checkpointed core (the public API checkpoints) — measures
    // the real chained-join pipeline, not a checkpoint scan
    val funnelSteps = Seq("signup", "view", "click", "purchase")
    val funnelEv = queries.EventAnalytics.funnelEvents(Tables.events(spark, sfDir), funnelSteps)
    Materialize.using(funnelEv)(audit("windowedFunnel(core)",
      queries.EventAnalytics.windowedFunnelPlan(funnelEv, funnelSteps, 72L * 3600 * 1000000)))
    audit("seasonalDeviation", SparkEntry.queries("events_seasonal_deviation")(spark, sfDir))
    audit("rollingMedian", SparkEntry.queries("events_rolling_median")(spark, sfDir))
    audit("autocorrLag1", SparkEntry.queries("events_autocorr_lag1")(spark, sfDir))
    audit("giniConcentration", SparkEntry.queries("agg_gini_concentration")(spark, sfDir))
    audit("groupKFold", SparkEntry.queries("ml_group_kfold")(spark, sfDir))
    audit("calibrationCurve", SparkEntry.queries("ml_calibration_curve")(spark, sfDir))
    audit("topnPerGroup", SparkEntry.queries("window_topn_per_group")(spark, sfDir))
    audit("stratifiedSample", SparkEntry.queries("curation_stratified_sample")(spark, sfDir))
    audit("subwordEncodePinned", SparkEntry.queries("text_subword_encode_pinned")(spark, sfDir))
    // r10 s4 TPC-H shapes + the two new library tiers
    audit("orderCountDist(Q13)",
      SparkEntry.queries("analytics_order_count_distribution")(spark, sfDir))
    audit("largeOrders(Q18)", SparkEntry.queries("analytics_large_orders")(spark, sfDir))
    audit("dnfRevenue(Q19)", SparkEntry.queries("analytics_dnf_revenue")(spark, sfDir))
    audit("semiAggThreshold(Q20)",
      SparkEntry.queries("join_semi_agg_threshold")(spark, sfDir))
    audit("nationVolume(Q7)", SparkEntry.queries("analytics_nation_volume")(spark, sfDir))
    audit("profitByNation(Q9)", SparkEntry.queries("analytics_profit_by_nation")(spark, sfDir))
    audit("commonNeighbors", SparkEntry.queries("graph_common_neighbors")(spark, sfDir))
    audit("targetEncode", SparkEntry.queries("ml_target_encode")(spark, sfDir))
    audit("localVolume(Q5)", SparkEntry.queries("analytics_local_volume")(spark, sfDir))
    audit("bm25TopK", SparkEntry.queries("search_bm25_topk")(spark, sfDir))
    audit("corrMatrix", SparkEntry.queries("audit_corr_matrix")(spark, sfDir))
    audit("chi2Independence", SparkEntry.queries("ml_chi2_independence")(spark, sfDir))
    audit("ohlcBars", SparkEntry.queries("events_ohlc_bars")(spark, sfDir))
    audit("spearmanCorr", SparkEntry.queries("audit_spearman_corr")(spark, sfDir))
    audit("shippingPriority(Q3)",
      SparkEntry.queries("analytics_shipping_priority")(spark, sfDir))
    audit("mixedDistinct", SparkEntry.queries("agg_mixed_distinct")(spark, sfDir))
    audit("forecastRevenue(Q6)",
      SparkEntry.queries("analytics_forecast_revenue")(spark, sfDir))
    audit("promoShare(Q14)", SparkEntry.queries("analytics_promo_share")(spark, sfDir))
    audit("returnedCustomers(Q10)",
      SparkEntry.queries("analytics_returned_customers")(spark, sfDir))
    audit("seasonalNaiveMape",
      SparkEntry.queries("timeseries_seasonal_naive_mape")(spark, sfDir))
    audit("cvAucPerFold", SparkEntry.queries("ml_cv_auc_per_fold")(spark, sfDir))
    audit("lateralTopk", SparkEntry.queries("sql_frontdoor_lateral")(spark, sfDir))
    // r12 retrieval composition tier
    audit("rrfFusion", SparkEntry.queries("search_rrf_fusion")(spark, sfDir))
    audit("mmrRerank", SparkEntry.queries("search_mmr_rerank")(spark, sfDir))
    audit("temperatureMix", SparkEntry.queries("curation_temperature_mix")(spark, sfDir))
    // r12 tail: HLL registers, topic terms, the two Spark-4 front doors
    audit("hllDistinct", SparkEntry.queries("sketch_hll_distinct")(spark, sfDir))
    audit("topicTerms", SparkEntry.queries("corpus_topic_terms")(spark, sfDir))
    audit("recursiveWalk", SparkEntry.queries("sql_frontdoor_recursive")(spark, sfDir))
    audit("variantExtract", SparkEntry.queries("ingest_variant_extract")(spark, sfDir))
    audit("hardNegatives", SparkEntry.queries("curation_hard_negatives")(spark, sfDir))
    audit("holtBacktest", SparkEntry.queries("timeseries_holt_backtest")(spark, sfDir))
    audit("holtWinters", SparkEntry.queries("timeseries_holt_winters")(spark, sfDir))
    audit("boilerplateChunksComposed", llm.Curation.boilerplateChunksComposed(docs))
    audit("repetitionSignals", llm.Curation.repetitionSignals(docs))
    audit("packTokenBins", llm.Curation.packTokenBins(docs))

    // timed head-to-head of the generator vs composed chunking (min of
    // 3 warm reps — same discipline as Bench)
    def timeMin(df: => DataFrame): Double = {
      df.count()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
      }.min
    }
    val tGen = timeMin(llm.Curation.boilerplateChunks(docs))
    val tComposed = timeMin(llm.Curation.boilerplateChunksComposed(docs))
    println(f"TIME  chunks generator=$tGen%.3fs composed=$tComposed%.3fs speedup=${tComposed / tGen}%.2fx")

    // round-9 shared-scan consensus: same three tier pipelines, input
    // persisted once vs re-scanned per tier. At THIS scale the win is
    // modest (the verify joins dominate on the vocab-dense corpus; the
    // claim the shared form exists for is 100 TB storage I/O — one
    // corpus pass instead of three), so the honest number is printed,
    // not asserted.
    val tTier = timeMin(llm.Dedup.tierAgreement(docs))
    val tTierShared = timeMin(llm.Dedup.tierAgreementShared(docs))
    println(f"TIME  tierAgreement standalone=$tTier%.3fs shared=$tTierShared%.3fs speedup=${tTier / tTierShared}%.2fx")

    // repetition-signals bigram branch: generator+partial-agg (current)
    // vs the r4 lead()-window form (reconstructed here for comparison)
    val tRepNew = timeMin(llm.Curation.repetitionSignals(docs))
    val tRepOld = timeMin {
      import org.apache.spark.sql.expressions.Window
      val tok = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      val tc = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val ts = tc.groupBy(col("doc_id")).agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        max(col("c")).cast("long").as("top_c"))
      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bc = tok.withColumn("t2", lead(col("t"), 1).over(byPos))
        .filter(col("t2").isNotNull)
        .groupBy(col("doc_id"), concat_ws(" ", col("t"), col("t2")).as("b"))
        .agg(count(lit(1)).as("c"))
      val bs = bc.groupBy(col("doc_id")).agg(
        sum(col("c")).cast("long").as("n_bigrams"),
        max(col("c")).cast("long").as("top_bc"))
      ts.join(bs, Seq("doc_id"), "left")
    }
    println(f"TIME  repetition generator=$tRepNew%.3fs leadWindow=$tRepOld%.3fs speedup=${tRepOld / tRepNew}%.2fx")

    // round-10 additions: the sketch tier + the SCD-2 time-travel read.
    // (The graph loops are audited per-round in PLANS.md — their final
    // frame is a checkpoint, so a whole-query audit would read 0.)
    audit("kmvDistinct", queries.Sketches.kmvDistinct(
      Tables.lineitem(spark, sfDir), "l_returnflag", "l_orderkey"))
    audit("cmsTopTokens", queries.Sketches.cmsTopTokens(docs, 15))
    audit("scd2AsOf(query)", SparkEntry.queries("audit_scd2_asof")(spark, sfDir))

    // round-9 session-3 additions: the new join shapes and audits.
    // join_bloom_pruned / graph_kcore end in collected artifacts or
    // checkpoints, so their interesting stages are audited directly.
    audit("intervalOverlap(query)",
      SparkEntry.queries("join_interval_overlap")(spark, sfDir))
    audit("joinNearest(query)", SparkEntry.queries("join_nearest")(spark, sfDir))
    audit("asofForward(query)", SparkEntry.queries("join_asof_forward")(spark, sfDir))
    audit("modeArgmax(query)", SparkEntry.queries("agg_mode_argmax")(spark, sfDir))
    audit("weightedMedian(query)", SparkEntry.queries("agg_weighted_median")(spark, sfDir))
    audit("refIntegrity(query)",
      SparkEntry.queries("audit_referential_integrity")(spark, sfDir))
    audit("sampleQuantiles(query)",
      SparkEntry.queries("sketch_sample_quantiles")(spark, sfDir))
    audit("annRecall(query)", SparkEntry.queries("embed_ann_recall")(spark, sfDir))
    // r10 session-2 TPC shapes: Q15 (suppkey agg + 1-row max broadcast
    // + winners broadcast into the dim), Q22 (global baseline row
    // broadcast + date-pruned anti join), Q21 (three lineitem sides
    // sharing ONE l_orderkey partitioning through semi+anti+agg)
    audit("topSupplier(Q15)", SparkEntry.queries("analytics_top_supplier")(spark, sfDir))
    audit("globalBaseline(Q22)", SparkEntry.queries("analytics_global_baseline")(spark, sfDir))
    audit("antiCorrelated(Q21)", SparkEntry.queries("join_anti_correlated")(spark, sfDir))
    // r10 session-2 audits + dedup additions: PSI (bounds row + one
    // bucket agg, grid tail), FD (pair agg + collapsed-frame window),
    // Benford (map-side digit + 9-bucket agg), novelty (distinct +
    // map-side-min first-occurrence agg + join + doc rollup), CDC
    // chunking (audited un-checkpointed via the core pipeline — the
    // declared query checkpoints)
    audit("psiDrift(query)", SparkEntry.queries("audit_psi_drift")(spark, sfDir))
    audit("fdAudit(query)", SparkEntry.queries("audit_functional_dependency")(spark, sfDir))
    audit("benford(query)", SparkEntry.queries("audit_benford")(spark, sfDir))
    audit("gramNovelty(query)", SparkEntry.queries("dedup_gram_novelty")(spark, sfDir))
    audit("cdcChunksComposed(core)", llm.Dedup.contentChunksComposedFrom(
      docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
        .withColumn("len", size(col("toks"))), 4, 16))
    // generator form: chunk rows leave the scan directly — only the
    // sharing aggregate + join + sort remain (audited un-checkpointed)
    audit("cdcChunks(native)", {
      val rows = docs.select(col("doc_id"),
        graft.functions.cdc_chunks(col("text"), 4, 16)
          .as(Seq("chunk_idx", "start_pos", "n_tokens", "chunk_fp")))
      val sharing = rows.groupBy(col("chunk_fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
      rows.join(sharing, Seq("chunk_fp"))
    })
    // r10 session-2 tail: per-feature PSI (map-side unpivot + bounds
    // broadcast + (f,bucket) agg + grid window) and peak detection
    // (one user window exchange + same-key rollup)
    audit("psiByFeature(query)", SparkEntry.queries("audit_psi_by_feature")(spark, sfDir))
    audit("peakDetection(query)", SparkEntry.queries("events_peak_detection")(spark, sfDir))
    audit("conjunctive(query)", SparkEntry.queries("search_conjunctive")(spark, sfDir))
    audit("dppJoin(query)", SparkEntry.queries("join_dynamic_partition_prune")(spark, sfDir))
    // round-10 session-3 operators
    audit("interpolateLinear(query)",
      SparkEntry.queries("timeseries_interpolate_linear")(spark, sfDir))
    audit("rollingSlope(query)", SparkEntry.queries("timeseries_rolling_slope")(spark, sfDir))
    audit("ewma(query)", SparkEntry.queries("timeseries_ewma")(spark, sfDir))
    audit("logHistQuantiles(query)",
      SparkEntry.queries("sketch_log_histogram_quantiles")(spark, sfDir))
    audit("jaccardExact(core)", {
      val g = llm.Dedup.bigramSets(docs)
        .withColumn("sz", size(col("grams")).cast("long"))
      llm.Dedup.jaccardExactJoinPlan(g)
    })
    audit("bigramLm(core)", {
      val bg = docs.select(col("doc_id"),
          graft.functions.ngrams(col("text"), 2).as(Seq("pos", "e")))
        .select(col("doc_id"), col("e"))
      llm.TextAnalysis.bigramLmScoreFrom(docs,
        bg.groupBy(col("doc_id"), col("e")).agg(count(lit(1)).as("m")))
    })
    audit("rfmSegments(query)", SparkEntry.queries("events_rfm_segments")(spark, sfDir))
    audit("supplierVariety(Q16)",
      SparkEntry.queries("analytics_supplier_variety")(spark, sfDir))
    audit("runningDistinct(query)",
      SparkEntry.queries("window_running_distinct")(spark, sfDir))
    // r12 session-5 tier: conformal/IR-eval/robust-trend/privacy/
    // entropy/phash/matryoshka/isotonic
    Seq("ml_conformal_interval", "search_eval_metrics",
      "timeseries_theilsen_slope", "timeseries_mann_kendall",
      "audit_l_diversity", "audit_t_closeness", "text_token_entropy",
      "multimodal_phash_pairs", "embed_matryoshka_prefix",
      "ml_isotonic_calibration", "embed_bq_recall")
      .foreach(n => audit(s"$n(query)", SparkEntry.queries(n)(spark, sfDir)))
    spark.stop()
  }
}
