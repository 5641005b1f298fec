package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Plan and execution audits over a DataFrame's AQE-final physical
  * plan: exchange counts and moved bytes, per-partition shuffle sizes
  * and the skew decision built on them, the unpartitioned-Window
  * census, and the driver-fetch budget. PlanAuditSpec gates the
  * operators PLANS.md makes claims about on these, so the claims stay
  * measured rather than asserted. */
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

  /** Executes `df` and returns, per finalized shuffle stage, the array
    * of per-reduce-partition COMPRESSED map-output bytes — the numbers
    * AQE's skew-join detector compares against
    * `skewedPartitionThresholdInBytes` (PLANS.md "Round-15: the AQE
    * blind factor": a partition hot in decompressed work but small in
    * compressed bytes evades the detector) — plus whether the stage
    * feeds an SMJ/SHJ join input (the `OptimizeSkewedJoin`
    * applicability bit [[skewAdvice]] needs). */
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

  /** The compressed-vs-true blind factor measured on 200 B
    * padded-hex payloads with the payload ACTUALLY crossing the wire
    * (r15 — the r14 readout's consumer let column pruning drop the
    * wide column, so its published 4.59× was the bare-numeric-row
    * ratio, ADVICE r14): AQE's skew detector thresholds on COMPRESSED
    * map-output bytes while the reducer pays the decompressed volume,
    * and on compressible wide rows the measured gap is 19.25×
    * (49.2 MB seen vs 947.6 MB paid — detector blind under ~4.9 GB of
    * true hot-partition volume at default confs). Payload-dependent:
    * 4.59× for bare numeric rows, higher still for repetitive text —
    * callers with their own measured ratio pass it to [[skewAdvice]].
    * Measurement: PLANS.md "Round-15: the AQE blind factor"; its
    * probe is listed under "Probe mains removed". */
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
    * by PlanAuditSpec's "core:" and "plan:" entries. */
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
}
