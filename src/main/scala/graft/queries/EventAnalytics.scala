package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Behavioral event analytics over the `events` stream table
  * (round 9): cohort retention and step funnels — the two classic
  * product-analytics operators every event warehouse serves, absent
  * from the reference (its events use is telemetry-only) and from the
  * relational surface so far.
  *
  * Both are exact and engine-portable: day arithmetic on truncated
  * timestamps, integer user counts, ONE final rounded division — no
  * libm, no sampling.
  */
object EventAnalytics {

  /** Cohort retention matrix: cohort = a user's first active day;
    * cell (cohort_day, day_offset) = how many of that cohort were
    * active day_offset days later. Scale shape: the (user, day)
    * distinct and the per-user min fold over the SAME user-keyed
    * exchange; the final aggregate keys on the bounded
    * (cohort, offset) grid. No window anywhere. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val act = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    act.join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** First-occurrence step funnel: a user completes step k when the
    * first occurrences of the step event types happen in order
    * (ties allowed — simultaneous first events still count as
    * ordered). One conditional-min aggregate per user + one
    * single-row rollup stacked to (step, n_users, conversion):
    * two exchanges total, both bounded. */
  def stepFunnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "stepFunnel: need at least two steps")
    val mins = steps.zipWithIndex.map { case (s, i) =>
      min(when(col("event_type") === s, col("ts"))).as(s"t$i")
    }
    val perUser = events.groupBy(col("user_id")).agg(mins.head, mins.tail: _*)
    val reached = steps.indices.map { i =>
      val cond = (1 to i).foldLeft(col("t0").isNotNull) { (acc, j) =>
        acc && col(s"t$j").isNotNull && col(s"t$j") >= col(s"t${j - 1}")
      }
      sum(cond.cast("long")).as(s"n$i")
    }
    val wide = perUser.agg(reached.head, reached.tail: _*)
    val stacked = steps.indices.map { i =>
      s"'${i + 1}:${steps(i)}', `n$i`"
    }.mkString(", ")
    // The conversion base (step-0 count) rides alongside the stack
    // generator as a plain column — no window, no row-order dependence.
    wide.select(expr(s"stack(${steps.size}, $stacked) AS (step, n_users)"),
        col("n0").as("base"))
      .withColumn("conversion",
        round(col("n_users") * lit(1.0) / col("base"), 6) + lit(0.0))
      .drop("base")
  }

  /** Strict WINDOWED funnel (the ClickHouse-`windowFunnel` shape,
    * anchored at each user's FIRST step-0 occurrence): step k counts
    * only if it happens AFTER the matched step k−1 and BEFORE the
    * anchor deadline t0 + `windowUs`. With the deadline fixed at the
    * anchor, matching each step to its EARLIEST valid event is
    * conversion-optimal (an exchange argument: a later choice only
    * shrinks the next step's feasible range), so the greedy chain is
    * both deterministic and maximal — unlike a fixed per-step-gap
    * rule, where greedy-earliest can miss chains. The anchored-first-
    * occurrence simplification vs ClickHouse's all-anchors sweep is
    * the documented contract.
    *
    * Shape for scale: one per-user aggregate for the anchor, then one
    * (filtered scan ⋈ chain ⋈ min-combine) pass per step — every join
    * keyed on user_id, co-partitioned after the first exchange; the
    * event_type filters push into each scan; the final rollup is a
    * steps-bounded stack. */
  def windowedFunnel(
      events: DataFrame, steps: Seq[String], windowUs: Long): DataFrame = {
    val ev = funnelEvents(events, steps)
    Materialize.using(ev)(windowedFunnelPlan(ev, steps, windowUs))
  }

  /** The funnel's event side: ONE user-keyed shuffle paid up front and
    * cached for [[windowedFunnelPlan]] — every per-step filter
    * preserves the hash partitioning, so the k−1 step joins and
    * min-combines all reuse it instead of re-exchanging the (big)
    * event side per step; the chain side is the only thing that moves
    * after this. */
  private[graft] def funnelEvents(events: DataFrame, steps: Seq[String]): DataFrame =
    events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
      .repartition(col("user_id"))

  /** Un-checkpointed core of [[windowedFunnel]] over its cached
    * [[funnelEvents]] frame — split out so PlanAuditSpec can inspect the
    * REAL pipeline (the public API materializes it through
    * [[graft.Materialize]], which would hide it behind a checkpoint
    * scan — the `spanRowsPlan` convention). */
  private[graft] def windowedFunnelPlan(
      ev: DataFrame, steps: Seq[String], windowUs: Long): DataFrame = {
    require(steps.size >= 2, "windowedFunnel: need at least two steps")
    require(windowUs > 0, "windowedFunnel: windowUs must be positive")
    var chain = ev.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("tus")).as("t0"))
      .withColumn("deadline", col("t0") + windowUs)
    for (i <- 1 until steps.size) {
      val stepMin = ev.filter(col("event_type") === steps(i))
        .join(chain.select(col("user_id"), col(s"t${i - 1}"), col("deadline")), "user_id")
        .filter(col("tus") >= col(s"t${i - 1}") && col("tus") <= col("deadline"))
        .groupBy(col("user_id")).agg(min(col("tus")).as(s"t$i"))
      chain = chain.join(stepMin, Seq("user_id"), "left_outer")
    }
    // coalesce: a seedless corpus (empty chain) must report 0 per
    // stage — a bare global sum would give one row of NULLs while the
    // oracle's COUNT(*) scalar subqueries give 0 (the ksDrift empty-
    // shape lesson)
    val reached = steps.indices.map(i =>
      coalesce(sum(col(s"t$i").isNotNull.cast("long")), lit(0L)).as(s"n$i"))
    val wide = chain.agg(reached.head, reached.tail: _*)
    val stacked = steps.indices.map(i => s"'${i + 1}:${steps(i)}', `n$i`").mkString(", ")
    // base = 0 (no step-0 user at all) → −1 sentinel: ANSI mode makes
    // the bare division THROW on the empty corpus (EdgeCaseSpec)
    wide.select(expr(s"stack(${steps.size}, $stacked) AS (step, n_users)"),
        col("n0").as("base"))
      .withColumn("conversion",
        when(col("base") > 0,
          round(col("n_users") * lit(1.0) / col("base"), 6) + lit(0.0))
          .otherwise(lit(-1.0)))
      .drop("base")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: count and row-normalized probability of each
    * (from_type → to_type) step. One user-keyed window (lead) is the
    * only data-sized exchange; the count aggregate and the
    * row-normalizing window both operate on the bounded types² grid.
    * (event_id breaks ts ties, so the sequence — and the oracle — is
    * deterministic.) */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cnt = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    cnt.withColumn("p",
      round(col("n") * lit(1.0) /
        sum(col("n")).over(Window.partitionBy(col("from_type"))), 6) + lit(0.0))
  }

  /** Trailing-window distinct active users per day (WAU-style), via
    * the contribute-forward rewrite: a (user, day) activity row
    * contributes to report days day..day+w−1, so the rolling DISTINCT
    * — which no window function expresses distributively — becomes a
    * map-only ×w explode plus ONE partial-combined distinct and a
    * per-day count. Report days are restricted to days that actually
    * appear (no trailing ghost rows). */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "rollingActiveUsers: windowDays must be >= 1")
    val act = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val contrib = act
      .select(col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("o"), col("day"))
      .select(col("user_id"), date_add(col("day"), col("o")).as("day"))
      .distinct()
    contrib.join(act.select(col("day")).distinct(), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n_active"))
  }

  /** Last-touch attribution: for every conversion event, the most
    * recent PRECEDING touch event of the same user, plus the
    * touch→conversion latency — the question every funnel analysis
    * ends at ("which view gets credit for this purchase").
    *
    * The as-of-join-within-one-table shape: ONE user-keyed window
    * (the only data-sized exchange) with `last(..., ignoreNulls)`
    * over ROWS UNBOUNDED PRECEDING..1 PRECEDING — running "latest
    * touch so far" state, O(1) per row, no self-join, no per-user
    * explode. (event_id breaks ts ties ⇒ deterministic.) Latency is
    * exact integer µs (unix_micros both engines truncate the nano
    * source identically); unattributed conversions carry −1. */
  def lastTouchAttribution(
      events: DataFrame, touch: String = "view", conv: String = "purchase"): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("attr_event",
        last(when(col("event_type") === touch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("attr_ts",
        last(when(col("event_type") === touch, col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === conv)
      .select(
        col("event_id").as("conv_id"),
        col("user_id"),
        coalesce(col("attr_event"), lit(-1L)).as("attr_event"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("attr_ts")), lit(-1L))
          .as("latency_us"))
  }

  /** Lifetime survival curve (Kaplan–Meier-lite, no censoring): the
    * fraction of users still active k days after their first activity
    * — survival(k) = |{u : lifespan(u) ≥ k}| / |users|, the retention
    * summary that complements the per-cohort matrix (cohortRetention
    * answers "how does cohort X behave"; this answers "how long does
    * a user live, overall").
    *
    * Same contribute-forward idiom as the rolling actives: a user of
    * lifespan s contributes one row to every k ≤ min(s, maxDays) —
    * a map-only ≤(maxDays+1)× explode of the per-user span frame,
    * then one bounded count; monotone non-increasing by
    * construction. */
  def survivalCurve(events: DataFrame, maxDays: Int = 30): DataFrame = {
    require(maxDays >= 0, s"survivalCurve: maxDays must be >= 0, got $maxDays")
    // spans feeds the contribute explode AND the totals scalar —
    // checkpoint so the per-user aggregate runs once
    val spans = Materialize(events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(datediff(max(col("day")), min(col("day"))).as("span")))
    spans
      .select(explode(sequence(lit(0), least(col("span"), lit(maxDays)))).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("n_surviving"))
      .crossJoin(broadcast(spans.agg(count(lit(1)).as("n_users"))))
      .select(
        col("k").cast("long").as("k"),
        col("n_surviving"),
        (round(col("n_surviving") * lit(1.0) / col("n_users"), 6) + lit(0.0)).as("frac"))
  }

  /** Frequent behavioral sequences: the most common ordered
    * event-type trigrams across user timelines — the n-gram-over-
    * sessions form of sequential pattern mining (the support-counting
    * core of the PrefixSpan/SPADE family, restricted to contiguous
    * length-3 patterns).
    *
    * Deliberately NOT collect_list-per-user (per-user arrays are
    * unbounded — a bot timeline OOMs the executor): two `lead()`
    * calls over ONE user-keyed window stream the trigrams out with
    * O(1) state per row, then one count aggregate on the bounded
    * types³ grid. The window exchange is the only data-sized
    * shuffle. */
  def frequentSequences(events: DataFrame, topK: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(byUser))
      .withColumn("t3", lead(col("event_type"), 2).over(byUser))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("seq3"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("seq3"))
      .limit(topK)
  }

  /** Bipartite co-occurrence projection: project the (user, item)
    * graph onto items, scoring each item pair by shared users and
    * Jaccard over user sets — the item-item similarity at the core of
    * co-occurrence recommenders ("users who X also Y").
    *
    * Scale shape: the projection self-joins the DISTINCT (user, item)
    * frame on user, so per-user fan-out is C(deg, 2) where deg is
    * bounded by the ITEM vocabulary (here |event_type| = 5, so ≤ 10
    * pairs per user regardless of event volume) — project over the
    * bounded side and the hot-user problem vanishes. For unbounded
    * item spaces this exact form needs a per-user degree cap or
    * threshold sampling (DISCO); that variant belongs with the LSH
    * tiers. All counts are integers; Jaccard is one exact division. */
  def cooccurrence(events: DataFrame): DataFrame = {
    // ut feeds both self-join sides and the size aggregate — checkpoint
    // so the distinct runs once, not three times
    val ut = Materialize(events.select(col("user_id"), col("event_type").as("t")).distinct())
    val pairs = ut.as("a").join(ut.as("b"), "user_id")
      .filter(col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).cast("long").as("co_users"))
    val sizes = ut.groupBy(col("t")).agg(count(lit(1)).cast("long").as("n"))
    pairs
      .join(sizes.select(col("t").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("t").as("type_b"), col("n").as("n_b")), "type_b")
      .select(
        col("type_a"), col("type_b"), col("co_users"), col("n_a"), col("n_b"),
        (round(col("co_users") * lit(1.0) /
          (col("n_a") + col("n_b") - col("co_users")), 6) + lit(0.0)).as("jaccard"))
  }

  /** Shared by the batch query and `streaming_attribution` (the
    * per-user state machine must produce the identical table). */
  /** Shared by `events_funnel_windowed` AND its streaming twin
    * (`streaming_windowed_funnel`) — the driver independently
    * certifies the two forms hash-identical, the tierAgreement
    * discipline. Chained per-step mins under the 72 h anchor
    * deadline; integer-µs arithmetic throughout. */
  private[graft] val funnelWindowedOracleSql: String = {
    val w = 72L * 3600 * 1000000
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
       |c0 AS (SELECT user_id, MIN(tus) AS t0 FROM e
       |       WHERE event_type = 'signup' GROUP BY 1),
       |c1 AS (SELECT e.user_id, MIN(e.tus) AS t1
       |       FROM e JOIN c0 ON c0.user_id = e.user_id
       |       WHERE e.event_type = 'view'
       |         AND e.tus >= c0.t0 AND e.tus <= c0.t0 + $w GROUP BY 1),
       |c2 AS (SELECT e.user_id, MIN(e.tus) AS t2
       |       FROM e JOIN c0 ON c0.user_id = e.user_id
       |              JOIN c1 ON c1.user_id = e.user_id
       |       WHERE e.event_type = 'click'
       |         AND e.tus >= c1.t1 AND e.tus <= c0.t0 + $w GROUP BY 1),
       |c3 AS (SELECT e.user_id, MIN(e.tus) AS t3
       |       FROM e JOIN c0 ON c0.user_id = e.user_id
       |              JOIN c2 ON c2.user_id = e.user_id
       |       WHERE e.event_type = 'purchase'
       |         AND e.tus >= c2.t2 AND e.tus <= c0.t0 + $w GROUP BY 1),
       |w AS (SELECT (SELECT COUNT(*) FROM c0) AS n0,
       |             (SELECT COUNT(*) FROM c1) AS n1,
       |             (SELECT COUNT(*) FROM c2) AS n2,
       |             (SELECT COUNT(*) FROM c3) AS n3),
       |s AS (
       |  SELECT '1:signup' AS step, n0 AS n_users, n0 AS base FROM w
       |  UNION ALL SELECT '2:view', n1, n0 FROM w
       |  UNION ALL SELECT '3:click', n2, n0 FROM w
       |  UNION ALL SELECT '4:purchase', n3, n0 FROM w)
       |SELECT step, CAST(n_users AS BIGINT) AS n_users,
       |       ROUND(n_users * 1.0 / base, 6) + 0 AS conversion
       |FROM s ORDER BY step""".stripMargin
  }

  private[graft] val attributionOracleSql: String =
    """WITH w AS (
      |  SELECT event_id, user_id, ts, event_type,
      |         LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_event,
      |         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_ts
      |  FROM events)
      |SELECT event_id AS conv_id, user_id,
      |       COALESCE(attr_event, -1) AS attr_event,
      |       COALESCE(epoch_us(ts) - epoch_us(attr_ts), -1) AS latency_us
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY conv_id""".stripMargin

  val defs: Seq[Q] = Seq(

    // OHLC time-bucket downsampling (r10 s4): per (user, day) the
    // open/high/low/close/volume bar — the standard lossy series
    // compaction (a 100 TB telemetry lake keeps bars hot and raw
    // cold). Open/close are the FIRST/LAST values under the unique
    // (ts, event_id) order — selected via two row_number windows over
    // the SAME (user, day) partition (one exchange serves both: same
    // keys, opposite sort directions ride the one shuffle, and the
    // bucket-local sort is bounded by events-per-user-day), then one
    // grouped aggregate. min_by/arg_min were rejected: a tied ts
    // would pick an engine-arbitrary row; the composite-order
    // row_number is deterministic by construction. Volume is the
    // decimal sum.
    Q("events_ohlc_bars",
      """WITH e AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         ts, event_id, value
        |  FROM events),
        |o AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, day
        |                            ORDER BY ts, event_id) AS rn_a,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, day
        |                            ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT user_id, day,
        |       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       MAX(value) AS high,
        |       MIN(value) AS low,
        |       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       CAST(COUNT(*) AS BIGINT) AS n_obs,
        |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS volume
        |FROM o GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("ts"), col("event_id"), col("value"))
      val part = Window.partitionBy(col("user_id"), col("day"))
      val o = e
        .withColumn("rn_a", row_number().over(part.orderBy(col("ts"), col("event_id"))))
        .withColumn("rn_d", row_number().over(
          part.orderBy(col("ts").desc, col("event_id").desc)))
      o.groupBy(col("user_id"), col("day"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n_obs"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("volume"))
        .orderBy(col("user_id"), col("day"))
    },

    // Retention matrix over the full 30-day window. The oracle
    // replays day truncation, the per-user first day, and the offset
    // grid — every cell count hash-pinned.
    Q("events_cohort_retention",
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
        |SELECT f.cohort_day,
        |       CAST(date_diff('day', f.cohort_day, act.day) AS BIGINT) AS day_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM act JOIN f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      cohortRetention(Tables.events(s, dir))
        .orderBy(col("cohort_day"), col("day_offset"))
    },

    // signup → view → click → purchase first-occurrence funnel.
    // Counts and the rounded conversion ratios replay exactly.
    Q("events_funnel_steps",
      """WITH m AS (
        |  SELECT user_id,
        |         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
        |         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        |  FROM events GROUP BY user_id),
        |w AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |                   AND t2 IS NOT NULL AND t2 >= t1
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |                   AND t2 IS NOT NULL AND t2 >= t1
        |                   AND t3 IS NOT NULL AND t3 >= t2
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n3
        |  FROM m),
        |s AS (
        |  SELECT '1:signup' AS step, n0 AS n_users, n0 AS base FROM w
        |  UNION ALL SELECT '2:view', n1, n0 FROM w
        |  UNION ALL SELECT '3:click', n2, n0 FROM w
        |  UNION ALL SELECT '4:purchase', n3, n0 FROM w)
        |SELECT step, n_users,
        |       ROUND(n_users * 1.0 / base, 6) + 0 AS conversion
        |FROM s ORDER BY step""".stripMargin) { (s, dir) =>
      stepFunnel(Tables.events(s, dir), Seq("signup", "view", "click", "purchase"))
        .orderBy(col("step"))
    },

    // Strict 72-hour windowed funnel (r10): every chained min and the
    // integer-µs deadline arithmetic replay exactly in SQL, so counts
    // and conversions are hash-pinned. Contrast with the loose
    // first-occurrence funnel above: there step mins are GLOBAL per
    // type; here each step's min is constrained by the previous
    // matched event and the anchor deadline — the chains genuinely
    // differ (fewer conversions under the window).
    Q("events_funnel_windowed", funnelWindowedOracleSql) { (s, dir) =>
      windowedFunnel(Tables.events(s, dir),
        Seq("signup", "view", "click", "purchase"), 72L * 3600 * 1000000)
        .orderBy(col("step"))
    },

    // Markov step matrix: counts and row probabilities both
    // hash-pinned (event_id tiebreak ⇒ both engines see the same
    // sequence; the division is the one rounded float).
    Q("events_transition_matrix",
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) + 0 AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
      transitionMatrix(Tables.events(s, dir))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Last-touch attribution: the IGNORE NULLS running-state window
    // replays identically (same (ts, event_id) order, same frame);
    // every credit assignment and integer-µs latency hash-pinned.
    Q("events_attribution", attributionOracleSql) { (s, dir) =>
      lastTouchAttribution(Tables.events(s, dir)).orderBy(col("conv_id"))
    },

    // Survival curve: spans, the contribute explode, and the exact
    // fractions all replay; monotonicity is structural.
    Q("events_survival_curve",
      """WITH d AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |s AS (
        |  SELECT user_id, date_diff('day', MIN(day), MAX(day)) AS span
        |  FROM d GROUP BY user_id),
        |c AS (SELECT unnest(range(0, least(span, 30) + 1)) AS k FROM s),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM s)
        |SELECT CAST(k AS BIGINT) AS k,
        |       CAST(COUNT(*) AS BIGINT) AS n_surviving,
        |       ROUND(COUNT(*) * 1.0 / t.n_users, 6) + 0 AS frac
        |FROM c CROSS JOIN t GROUP BY k, t.n_users ORDER BY k""".stripMargin) { (s, dir) =>
      survivalCurve(Tables.events(s, dir), maxDays = 30).orderBy(col("k"))
    },

    // Frequent trigram sequences: both leads replay under the same
    // (ts, event_id) order; counts + the full-tiebreak top-k pin the
    // LIST.
    Q("events_frequent_sequences",
      """WITH t AS (
        |  SELECT event_type,
        |         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT event_type || '>' || t2 || '>' || t3 AS seq3,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, seq3 LIMIT 20""".stripMargin) { (s, dir) =>
      frequentSequences(Tables.events(s, dir), topK = 20)
    },

    // Conversion-latency SLO report: per conversion day, attributed
    // share and exact p50/p90 touch→conversion latency — attribution
    // composed with the discrete-quantile aggregate (actual data
    // elements, so both engines pick identical values).
    Q("events_attribution_latency",
      """WITH w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attr_ts
        |  FROM events),
        |conv AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |         epoch_us(ts) - epoch_us(attr_ts) AS lat
        |  FROM w WHERE event_type = 'purchase')
        |SELECT day,
        |       CAST(COUNT(*) AS BIGINT) AS n_conv,
        |       CAST(COUNT(lat) AS BIGINT) AS n_attributed,
        |       CAST(COALESCE(quantile_disc(lat, 0.5), -1) AS BIGINT) AS p50_us,
        |       CAST(COALESCE(quantile_disc(lat, 0.9), -1) AS BIGINT) AS p90_us
        |FROM conv GROUP BY day ORDER BY day""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("attr_ts",
          last(when(col("event_type") === "view", col("ts")), ignoreNulls = true)
            .over(byUser))
        .filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("day"),
          (unix_micros(col("ts")) - unix_micros(col("attr_ts"))).as("lat"))
        .groupBy(col("day"))
        .agg(
          count(lit(1)).cast("long").as("n_conv"),
          count(col("lat")).cast("long").as("n_attributed"),
          // latencies are EXACT integer µs — output them as BIGINT.
          // ROUND(x,6)+0 here is actively wrong: at ~1e11 µs a
          // double's spacing (~1.2e-4) exceeds 6-dp precision and the
          // engines' rounding paths diverge (caught at sf0.001). The
          // quantile is an element, < 2^53, so the double round-trips
          // to long exactly. -1 sentinel for all-unattributed days
          // (NULL→NaN never hash-matches).
          coalesce(graft.functions.exact_quantile(col("lat").cast("double"), 0.5)
            .cast("long"), lit(-1L)).as("p50_us"),
          coalesce(graft.functions.exact_quantile(col("lat").cast("double"), 0.9)
            .cast("long"), lit(-1L)).as("p90_us"))
        .orderBy(col("day"))
    },

    // Item co-occurrence projection: shared-user counts, set sizes,
    // and Jaccard all replay exactly (integer counts + one division).
    Q("events_cooccurrence",
      """WITH ut AS (SELECT DISTINCT user_id, event_type AS t FROM events),
        |p AS (
        |  SELECT a.t AS type_a, b.t AS type_b, CAST(COUNT(*) AS BIGINT) AS co_users
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t < b.t
        |  GROUP BY 1, 2),
        |s AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY t)
        |SELECT p.type_a, p.type_b, p.co_users, sa.n AS n_a, sb.n AS n_b,
        |       ROUND(p.co_users * 1.0 / (sa.n + sb.n - p.co_users), 6) + 0 AS jaccard
        |FROM p JOIN s sa ON p.type_a = sa.t JOIN s sb ON p.type_b = sb.t
        |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
      cooccurrence(Tables.events(s, dir)).orderBy(col("type_a"), col("type_b"))
    },

    // Rolling 7-day distinct actives; the oracle replays the
    // contribute-forward rewrite (cross-join with offsets 0..6) so
    // every per-day count is pinned.
    Q("events_rolling_active",
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |c AS (SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS day
        |      FROM act, (SELECT unnest(range(0, 7)) AS o)),
        |d AS (SELECT DISTINCT day FROM act)
        |SELECT c.day, CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM c JOIN d USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      rollingActiveUsers(Tables.events(s, dir), 7)
        .orderBy(col("day"))
    },

    // Weekday-seasonal anomaly flags — the ops-monitoring complement
    // of events_cusum_alarms (CUSUM finds level SHIFTS; this finds
    // days that break their own weekday's norm, the seasonality CUSUM
    // deliberately ignores). Baseline = mean daily count per
    // (event_type, weekday) over observed days; a day is anomalous
    // when it deviates from its weekday mean by more than 50%. The
    // test |n − S/D| > 0.5·S/D is evaluated as 2·|n·D − S| > S — pure
    // int64 arithmetic, no division, so the FLAG is exact on both
    // engines (the reported mean is display-only under the house
    // ROUND convention). Two bounded aggregates: per-(type,day) counts
    // (data-sized scan, day-domain output), then a weekday rollup over
    // the day-domain frame — nothing data-sized ever re-shuffles.
    // Spark dayofweek() is 1-based Sunday=1; DuckDB dayofweek() is
    // 0-based Sunday=0 — aligned by subtracting 1 on the Spark side.
    Q("events_anomaly_seasonal",
      """WITH d AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |wd AS (
        |  SELECT event_type, day, n, CAST(dayofweek(day) AS BIGINT) AS dow
        |  FROM d),
        |base AS (
        |  SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS s,
        |         CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM wd GROUP BY 1, 2)
        |SELECT w.event_type, w.day, w.n, w.dow,
        |       ROUND(b.s * 1.0 / b.n_days, 6) + 0 AS weekday_mean,
        |       CAST(CASE WHEN 2 * abs(w.n * b.n_days - b.s) > b.s
        |                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
        |FROM wd w JOIN base b ON w.event_type = b.event_type AND w.dow = b.dow
        |ORDER BY w.event_type, w.day""".stripMargin) { (s, dir) =>
      seasonalAnomalies(Tables.events(s, dir))
        .orderBy(col("event_type"), col("day"))
    },

    // RFM segmentation (r10 s3): the classic customer-value cube —
    // Recency (days from the user's last purchase to the corpus's
    // last purchase day), Frequency (purchase count), Monetary
    // (µ-unit spend) — each cut into quintiles by DETERMINISTIC
    // integer rank arithmetic: rn = row_number over (metric in the
    // desirable direction, user_id tiebreak), score = ((rn−1)·5) div
    // n + 1, so 5 always means best and ties split reproducibly in
    // both engines (ntile is deliberately NOT used — its tie
    // placement is engine-arbitrary without the explicit total
    // order). The three rank windows run on the per-user AGGREGATE
    // frame (|users|, tiny next to events); at 100 TB the same
    // two-phase bucket-offset decomposition as the sweep-line prefix
    // sum applies — documented, not needed at any tested SF.
    Q("events_rfm_segments",
      """WITH p AS (
        |  SELECT user_id, ts,
        |         CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS v_us
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1 FROM p),
        |u AS (
        |  SELECT user_id,
        |         datediff('day', CAST(date_trunc('day', MAX(ts)) AS DATE),
        |                  (SELECT d1 FROM mx)) AS recency_days,
        |         COUNT(*) AS frequency,
        |         SUM(v_us) AS m_us
        |  FROM p GROUP BY user_id),
        |n AS (SELECT COUNT(*) AS n FROM u),
        |r AS (
        |  SELECT u.*, n.n,
        |         ROW_NUMBER() OVER (ORDER BY recency_days DESC, user_id) AS rr,
        |         ROW_NUMBER() OVER (ORDER BY frequency ASC, user_id) AS rf,
        |         ROW_NUMBER() OVER (ORDER BY m_us ASC, user_id) AS rm
        |  FROM u CROSS JOIN n)
        |SELECT user_id,
        |       CAST(recency_days AS BIGINT) AS recency_days,
        |       CAST(frequency AS BIGINT) AS frequency,
        |       CAST(m_us AS DOUBLE) / 1000000.0 AS monetary,
        |       CAST((rr - 1) * 5 // n + 1 AS BIGINT) AS r_score,
        |       CAST((rf - 1) * 5 // n + 1 AS BIGINT) AS f_score,
        |       CAST((rm - 1) * 5 // n + 1 AS BIGINT) AS m_score,
        |       CAST(((rr - 1) * 5 // n + 1) * 100 + ((rf - 1) * 5 // n + 1) * 10
        |            + ((rm - 1) * 5 // n + 1) AS BIGINT) AS segment
        |FROM r ORDER BY user_id""".stripMargin) { (s, dir) =>
      rfmSegments(Tables.events(s, dir))
    },
  )

  /** RFM quintile segmentation over purchase events — see the
    * `events_rfm_segments` declaration for the exact rank-arithmetic
    * contract (row_number with user_id tiebreak; score = ((rn−1)·5)
    * div n + 1; 5 = best on every axis; monetary in exact µ-units).
    * Users with no purchases are absent by construction. */
  def rfmSegments(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        (col("value").cast("decimal(20,6)") * lit(1000000)).cast("long").as("v_us"))
    val mx = p.agg(to_date(date_trunc("day", max(col("ts")))).as("d1"))
    val u = p.groupBy(col("user_id"))
      .agg(to_date(date_trunc("day", max(col("ts")))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("v_us")).as("m_us"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"),
        datediff(col("d1"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("m_us"))
    val n = u.agg(count(lit(1)).as("n"))
    val ranked = u.crossJoin(broadcast(n))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("recency_days").desc, col("user_id"))).cast("long"))
      .withColumn("rf", row_number().over(
        Window.orderBy(col("frequency").asc, col("user_id"))).cast("long"))
      .withColumn("rm", row_number().over(
        Window.orderBy(col("m_us").asc, col("user_id"))).cast("long"))
      .withColumn("r_score", expr("(rr - 1) * 5 div n + 1"))
      .withColumn("f_score", expr("(rf - 1) * 5 div n + 1"))
      .withColumn("m_score", expr("(rm - 1) * 5 div n + 1"))
    ranked.select(
      col("user_id"), col("recency_days"), col("frequency"),
      (col("m_us").cast("double") / lit(1000000.0)).as("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
      .orderBy(col("user_id"))
  }

  /** Weekday-baseline anomaly flags over an (event_type, ts) stream —
    * see the `events_anomaly_seasonal` declaration for the exact
    * integer-arithmetic contract (strictly-greater-than-50% rule,
    * pinned at the boundary by RelationalSpec's hand fixture). */
  def seasonalAnomalies(events: DataFrame): DataFrame = {
    val d = events
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
    val base = d.groupBy(col("event_type").as("bt"), col("dow").as("bd"))
      .agg(sum(col("n")).as("s"), count(lit(1)).as("n_days"))
    d.join(broadcast(base), col("event_type") === col("bt") && col("dow") === col("bd"))
      .select(
        col("event_type"), col("day"), col("n"), col("dow"),
        (round(col("s") * lit(1.0) / col("n_days"), 6) + lit(0.0)).as("weekday_mean"),
        when(lit(2) * abs(col("n") * col("n_days") - col("s")) > col("s"), 1)
          .otherwise(0).cast("int").as("is_anomaly"))
  }
}
