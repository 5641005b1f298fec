package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}
import graft.operators.Sessionize

/** Irregular-time-series operators over the `events` table (round 10):
  * the sweep-line concurrency profile, time-weighted averages, and
  * CUSUM change-point detection — the three classic "values arrive at
  * arbitrary timestamps" questions (capacity, fair averaging, drift
  * alarm) that row-frame windows alone don't answer.
  *
  * All three are exact and engine-portable: integer-µs interval
  * arithmetic, decimal-accumulated sums (order-free addition), and at
  * most one correctly-rounded double division per output column.
  */
object TimeSeries {

  /** Sweep-line concurrency: how many sessions are simultaneously
    * open at each session boundary, rolled up to a per-day peak.
    * Sessions are the gap-rule intervals from
    * [[graft.operators.Sessionize.withSessionIds]]; each contributes
    * (+1 at start, −1 at end+1µs) so the running sum counts intervals
    * inclusively. Ties order (ts, delta, user, session) — ends before
    * starts at the same instant — so the instantaneous peak is
    * deterministic in both engines.
    *
    * Scale shape: a GLOBAL running sum cannot be one window at 100 TB
    * (single partition). This is the two-phase distributed prefix sum:
    * (1) per-hour-bucket running sums — windows partitioned BY bucket,
    * fully parallel; (2) per-bucket totals prefix-summed into bucket
    * offsets — the one unpartitioned window, but over the bounded
    * hour-bucket frame (~10⁵ rows for a decade of hours), then
    * broadcast back. concurrency = bucket_offset + within_bucket_run.
    * The per-day peak only samples boundaries that fall in the day —
    * a level carried across a whole silent day is reported on the day
    * it last changed (documented; with gap-rule sessions every open
    * interval's endpoints are real events, so silent days have zero
    * open sessions).
    */
  def concurrencyPeak(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val sess = Sessionize
      .withSessionIds(events.select(col("event_id"), col("ts"), col("user_id")), gapSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
    val deltas = sess
      .select(col("start_ts").as("ts"), lit(1L).as("delta"),
        col("user_id"), col("session_id"))
      .unionByName(sess.select(
        timestamp_micros(unix_micros(col("end_ts")) + 1L).as("ts"),
        lit(-1L).as("delta"), col("user_id"), col("session_id")))
      .withColumn("bucket", date_trunc("hour", col("ts")))
    // Phase 1: bucket totals → running offsets. The orderBy window is
    // unpartitioned BUT the frame is the bounded bucket grid, never
    // the data (same class as the equi-depth histogram prefix sum).
    val offsets = deltas.groupBy(col("bucket"))
      .agg(sum(col("delta")).as("btot"))
      .withColumn("boff",
        coalesce(
          sum(col("btot")).over(
            Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bucket"), col("boff"))
    // Phase 2: within-bucket running sums — partitioned, parallel.
    // (ts, delta, user, session) is a unique total order, so the ROWS
    // frame is tie-free and replays exactly.
    val within = Window.partitionBy(col("bucket"))
      .orderBy(col("ts"), col("delta"), col("user_id"), col("session_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("run", sum(col("delta")).over(within))
      .join(broadcast(offsets), "bucket")
      .select(col("ts"), (col("boff") + col("run")).as("concurrency"))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(max(col("concurrency")).cast("long").as("peak_concurrency"),
        count(lit(1)).cast("long").as("n_boundaries"))
  }

  /** Time-weighted average of `value` per (user, day): each
    * observation holds until the next one, so its weight is the
    * integer-µs gap to the successor (the day's last observation has
    * no successor and contributes no interval — TWAP over the
    * observed span, the standard convention for irregular samples;
    * a plain AVG would let burst periods dominate).
    *
    * Exactness: weights are exact integer µs; value×weight
    * accumulates in decimal (order-free); the ONE double division is
    * correctly rounded. One user-day window + one group-by on the
    * same key — a single exchange.
    */
  def twap(events: DataFrame): DataFrame = {
    val byUserDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"),
        to_date(col("ts")).as("day"))
      .withColumn("nxt", lead(col("ts"), 1).over(byUserDay))
      .filter(col("nxt").isNotNull)
      .withColumn("wt", unix_micros(col("nxt")) - unix_micros(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(
        count(lit(1)).cast("long").as("n_intervals"),
        sum(col("wt")).cast("long").as("span_us"),
        (round(
          sum(col("value").cast("decimal(20,6)") * col("wt").cast("decimal(12,0)"))
            .cast("double") / sum(col("wt")).cast("double"), 6) + lit(0.0)).as("twap"))
  }

  /** One-sided CUSUM drift alarm (Page 1954) per user over `value`:
    * S_i = max(0, S_{i-1} + (x_i − target)), alarm when S_i > h.
    * The recursion is not a window function, but the prefix-sum
    * identity S_i = P_i − min(0, min_{j≤i} P_j) (P = running sum of
    * deviations) turns it into TWO windows over one user-keyed
    * exchange — running sum and running min — which is how CUSUM
    * distributes: no sequential state, no mapPartitions.
    *
    * target is the exact global mean (decimal sum ÷ count, one
    * rounded division, broadcast scalar); deviations are cast to
    * decimal(20,6) so every prefix sum is exact — the alarm SET (not
    * just a statistic) is pinned cross-engine. h is in value units.
    */
  def cusumAlarms(events: DataFrame, h: Double = 50.0): DataFrame = {
    val base = events.select(col("event_id"), col("ts"), col("user_id"), col("value"))
    val mean = base.agg(
      (sum(col("value").cast("decimal(30,6)")).cast("double") /
        count(lit(1)).cast("double")).as("mu"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = base.crossJoin(broadcast(mean))
      .withColumn("dev", (col("value") - col("mu")).cast("decimal(20,6)"))
      .withColumn("p", sum(col("dev")).over(byUser))
      .withColumn("s",
        col("p") - least(lit(java.math.BigDecimal.ZERO).cast("decimal(20,6)"),
          min(col("p")).over(byUser)))
    s.groupBy(col("user_id"))
      .agg(
        (round(max(col("s")).cast("double"), 6) + lit(0.0)).as("max_cusum"),
        sum((col("s") > h).cast("long")).as("n_alarms"),
        coalesce(min(when(col("s") > h, col("event_id"))), lit(-1L)).as("first_alarm_event"))
  }

  /** Oracle for the peak surface — shared verbatim by the batch query
    * and the online streaming form (the tierAgreement discipline). */
  private[graft] val peakDetectionOracleSql: String =
    """WITH n AS (
      |  SELECT user_id, ts, value,
      |         LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv,
      |         LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nv
      |  FROM events),
      |p AS (
      |  SELECT user_id, ts, value FROM n
      |  WHERE pv IS NOT NULL AND nv IS NOT NULL AND value > pv AND value > nv),
      |r AS (
      |  SELECT user_id, COUNT(*) AS n_peaks, MAX(value) AS max_peak
      |  FROM p GROUP BY user_id)
      |SELECT r.user_id,
      |       CAST(r.n_peaks AS BIGINT) AS n_peaks,
      |       r.max_peak,
      |       (SELECT MIN(p.ts) FROM p
      |        WHERE p.user_id = r.user_id AND p.value = r.max_peak) AS first_max_at
      |FROM r ORDER BY r.user_id""".stripMargin

  /** Strict local-extrema detection per user over (event_id, ts,
    * user_id, value) — see the `events_peak_detection` declaration
    * for semantics (strict > on both neighbors; plateaus and series
    * endpoints never qualify; first_max_at = min ts among maximal
    * peaks). */
  def peakDetection(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val peaks = events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("pv", lag(col("value"), 1).over(byUser))
      .withColumn("nv", lead(col("value"), 1).over(byUser))
      .filter(col("pv").isNotNull && col("nv").isNotNull &&
        col("value") > col("pv") && col("value") > col("nv"))
    peaks
      .withColumn("mx", max(col("value")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_peaks"),
        max(col("value")).as("max_peak"),
        min(when(col("value") === col("mx"), col("ts"))).as("first_max_at"))
      .orderBy(col("user_id"))
  }

  /** Linear interpolation over each user's daily spine: the gapfill
    * query marks missing days; this one FILLS them — the value a
    * feature pipeline actually wants on a silent day is the line
    * between the surrounding observations, not a zero (a zero-filled
    * rolling mean reads a quiet weekend as a crash).
    *
    * Semantics: per (user, day) mean of `value` in exact integer
    * µ-units with half-up rounding ((2Σ+n) div 2n — the
    * events_interarrival discipline); the spine runs min..max
    * observed day per user (every missing day is therefore interior —
    * both brackets exist); a missing day at integer day-offset d
    * between observations (d0,m0) and (d1,m1) gets
    * ((d1−d)·m0 + (d−d0)·m1)/(d1−d0), again exact-integer with
    * half-up rounding.
    *
    * Determinism: this query's first draft used ROUND(Σdec/n, 6)
    * double means and the sf0.1 sweep failed it on exactly 9 rows —
    * 2-dp inputs with 2ᵃ5ᵇ-divisor day counts land the true mean
    * EXACTLY on a 6-dp half boundary, where the engines' round
    * implementations split. Integer µ-unit arithmetic removes the
    * boundary entirely; the only double op left is the final
    * µ-units→units division of an exact ≤ 2⁵³ integer by 10⁶, which
    * is one correctly-rounded op in both engines.
    *
    * Shape for scale: daily agg, spine explode, left join, and the
    * two ignore-null bracket windows are ALL keyed/partitioned by
    * user — one exchange class end to end; spine cardinality is
    * users × span-days, tiny next to events.
    */
  def interpolateDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(20,6)") * lit(1000000)).cast("long")).as("s_us"))
      .withColumn("m_us", expr("(2 * s_us + n) div (2 * n)"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
      .select(col("user_id"),
        explode(sequence(col("dmin"), col("dmax"), expr("interval 1 day"))).as("day"))
    val back = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("n").isNotNull, col("day"))
    val obsM = when(col("n").isNotNull, col("m_us"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(back))
      .withColumn("pm", last(obsM, ignoreNulls = true).over(back))
      .withColumn("nd", first(obsDay, ignoreNulls = true).over(fwd))
      .withColumn("nm", first(obsM, ignoreNulls = true).over(fwd))
      .withColumn("v_us",
        when(col("n").isNotNull, col("m_us"))
          .otherwise(expr(
            """(2 * (datediff(nd, day) * pm + datediff(day, pd) * nm)
              |   + datediff(nd, pd)) div (2 * datediff(nd, pd))""".stripMargin)))
      .select(
        col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_events"),
        when(col("n").isNotNull, 1L).otherwise(0L).as("observed"),
        (col("v_us").cast("double") / lit(1000000.0)).as("value_filled"))
  }

  /** Rolling 7-row OLS trend slope per user: the direction-and-rate
    * feature the rolling mean/stddev family lacks (a mean of 50 can
    * be a flat 50 or a 20→80 ramp; the slope tells them apart — the
    * FORCAST-style trend feature over the observation index).
    *
    * x is the per-user observation index (row_number over the unique
    * (ts, event_id) order), so the slope is value-units per
    * observation — deliberately index-based, not time-based: the
    * companion inter-arrival profile carries the cadence, and an
    * index slope is immune to the irregular-gap leverage that makes
    * time-based rolling OLS unstable on bursty series.
    *
    * Exactness: Σx/Σx² are integers; Σy/Σxy accumulate in decimal;
    * numerator and denominator of the closed-form slope
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) are exact, ONE rounded double
    * division. Frames with n=1 have zero variance and are excluded
    * by the same n ≥ 2 predicate both engines evaluate. One
    * user-keyed window exchange.
    */
  def rollingSlope(events: DataFrame): DataFrame = {
    val byU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w7 = byU.rowsBetween(-6, 0)
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("x", row_number().over(byU).cast("long"))
      .withColumn("n", count(lit(1)).over(w7))
      .withColumn("sx", sum(col("x")).over(w7))
      .withColumn("sxx", sum(col("x") * col("x")).over(w7))
      .withColumn("sy", sum(col("value").cast("decimal(20,6)")).over(w7))
      .withColumn("sxy",
        sum(col("x").cast("decimal(12,0)") * col("value").cast("decimal(20,6)")).over(w7))
      .filter(col("n") >= 2)
      .select(
        col("event_id"), col("user_id"), col("n").as("n_frame"),
        (round(
          (col("n").cast("decimal(3,0)") * col("sxy").cast("decimal(25,6)") -
            col("sx").cast("decimal(12,0)") * col("sy").cast("decimal(16,6)"))
            .cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6) + lit(0.0))
          .as("trend_slope"))
      .orderBy(col("event_id"))
  }

  /** Truncated exponentially-weighted moving average (α = 1/2, 20-lag
    * window) per user — the recency-weighted level feature between
    * the uniform rolling mean and the last value. α = 1/2 is chosen
    * because its weights are EXACT dyadic rationals: scaling
    * numerator and denominator by 2²⁰ turns the whole EWMA into
    * integer arithmetic (value in exact µ-units × a power-of-two
    * weight), so the only rounding in the pipeline is the final
    * division — no accumulated float recursion, and the truncation
    * at 20 lags is not an approximation knob but the exact
    * definition (weights below 2⁻²⁰ are dropped AND the normalizer
    * 1 − 2⁻ᵐ matches, so short frames are exactly renormalized).
    *
    * N = Σ_{k=0..19} vi(lag k)·2^(19−k)  (µ-unit BIGINTs, ≤ ~5·10¹⁴)
    * D = 2²⁰ − 2^(20−m),  m = min(row_number, 20)
    * ewma = N / D / 10⁶ — identical IEEE trees both engines.
    *
    * One user-keyed window exchange; the 20 lags and the row_number
    * share one window spec, so Spark evaluates them in a single
    * window pass.
    */
  def ewma(events: DataFrame): DataFrame = {
    val byU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val num = (0 until 20).map { k =>
      val v = if (k == 0) col("vi") else coalesce(lag(col("vi"), k).over(byU), lit(0L))
      v * lit(1L << (19 - k))
    }.reduce(_ + _)
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .withColumn("vi", (col("value").cast("decimal(20,6)") * lit(1000000)).cast("long"))
      .withColumn("m", least(row_number().over(byU), lit(20)).cast("long"))
      .withColumn("num", num)
      .select(
        col("event_id"), col("user_id"), col("m").as("n_frame"),
        (round(col("num").cast("double") /
          (lit(1048576L) - expr("shiftleft(cast(1 as bigint), cast(20 - m as int))"))
            .cast("double") / lit(1000000.0), 6) + lit(0.0)).as("ewma"))
      .orderBy(col("event_id"))
  }

  /** Multi-window SLO burn-rate alert (the Google SRE workbook rule):
    * page only when the error budget burns fast on BOTH a long and a
    * short window — the long window proves it's sustained (not a
    * blip), the short window proves it's still happening (not
    * recovered). Windows are trailing event-time hours on the bucket
    * grid: per-hour (errors, total) counts — ONE data-sized aggregate
    * — then 1 h and 6 h trailing sums as RANGE windows over the
    * integer epoch-hour axis (grid-bounded frames; gaps cannot
    * misalign a range frame). burn = error_rate / budget_rate with
    * budget 1% expressed as the exact integer cross-multiplication
    * err·100 > thr·total (no float division decides an alert);
    * thresholds 14.4× (1 h) and 6× (6 h) are the workbook's fast/slow
    * pair scaled to the hour grid, held as rationals 72/5 and 6/1.
    */
  def sloBurn(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))
    // 1 h trailing = the hour row itself; 6 h trailing = a RANGE frame
    // over the integer epoch-hour axis (grid-bounded, gap-safe — a
    // silent hour is simply absent from the frame sum)
    val w6 = Window.orderBy(col("hr")).rangeBetween(-5, 0)
    hourly
      .withColumn("e1", col("errors"))
      .withColumn("t1", col("total"))
      .withColumn("e6", sum(col("errors")).over(w6))
      .withColumn("t6", sum(col("total")).over(w6))
      // budget 1%: burn_k = (e_k/t_k) / 0.01 = 100·e_k/t_k.
      // fast rule: burn1 > 72/5  ⟺  500·e1 > 72·t1
      // slow rule: burn6 > 6     ⟺  100·e6 > 6·t6
      .select(
        col("hr"), col("errors").cast("long").as("errors"),
        col("total").cast("long").as("total"),
        (round(col("e1") * 100.0 / col("t1"), 6) + lit(0.0)).as("burn_1h"),
        (round(col("e6") * 100.0 / col("t6"), 6) + lit(0.0)).as("burn_6h"),
        when(col("e1") * 500 > col("t1") * 72 && col("e6") * 100 > col("t6") * 6, 1L)
          .otherwise(0L).as("page"))
  }

  /** Theil–Sen estimator over a (user_id, day, m_us) daily series
    * derived from raw events — see the `timeseries_theilsen_slope`
    * declaration for semantics, exactness, and the scale shape.
    * Users with a single day have no pairs and are absent (a robust
    * slope of one point is undefined; the seasonal-naive −1-sentinel
    * convention does not apply because the whole ROW is meaningless,
    * not one column). */
  def theilSenSlope(events: DataFrame): DataFrame = {
    // the daily frame feeds both sides of the pair join — checkpoint
    // so the events scan and aggregate run once, not twice
    val daily = Materialize(events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(expr(
        """(2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
          | + COUNT(*)) div (2 * COUNT(*))""".stripMargin).as("m_us")))
    val nDays = daily.groupBy(col("user_id").as("u3"))
      .agg(count(lit(1)).as("n_days"))
    val b = daily.select(col("user_id").as("u2"), col("day").as("d2"),
      col("m_us").as("m2"))
    val pairs = daily
      .join(b, col("user_id") === col("u2") && col("day") < col("d2"))
      .select(col("user_id"), col("day").as("d1"), col("d2"),
        ((col("m2") - col("m_us")).cast("double") /
          datediff(col("d2"), col("day")).cast("double")).as("slope"))
    val wRank = Window.partitionBy(col("user_id"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    val wAll = Window.partitionBy(col("user_id"))
    pairs
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("np", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("(np + 2) div 2"))
      .groupBy(col("user_id"), col("np"))
      .agg(count(lit(1)).as("nmid"), sum(col("slope")).as("ssum"))
      .join(broadcast(nDays), col("user_id") === col("u3"))
      .select(col("user_id"), col("n_days"), col("np").as("n_pairs"),
        floor(when(col("nmid") === 1, col("ssum"))
          .otherwise(col("ssum") / lit(2.0)) + lit(0.5)).cast("long")
          .as("slope_med_micro"))
  }

  /** Mann–Kendall trend test over the per-user daily-mean series —
    * the nonparametric significance companion to [[theilSenSlope]]
    * (Mann 1945; Kendall's S): S = Σ_{i<j} sign(m_j − m_i) detects a
    * monotone trend with NO distributional assumption, and the
    * tie-corrected variance 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * is pure integer arithmetic. The continuity-corrected normal score
    * z = (S ∓ 1)/√(Var) uses only sqrt and divide — both IEEE
    * correctly-rounded (the corrMatrix precedent; no ln anywhere) —
    * and is emitted half-up-floored in µ-units. S = 0 or Var = 0
    * (constant series) → z = 0. Shape for scale: the same
    * calendar-bounded C(days, 2) pair frame as Theil–Sen plus one
    * (user, value) tie aggregate — nothing data-sized after the day
    * rollup. */
  def mannKendall(events: DataFrame): DataFrame = {
    val daily = Materialize(events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(expr(
        """(2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
          | + COUNT(*)) div (2 * COUNT(*))""".stripMargin).as("m_us")))
    val b = daily.select(col("user_id").as("u2"), col("day").as("d2"),
      col("m_us").as("m2"))
    val sPairs = daily
      .join(b, col("user_id") === col("u2") && col("day") < col("d2"))
      .groupBy(col("user_id"))
      .agg(sum(signum(col("m2") - col("m_us")).cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val ties = daily.groupBy(col("user_id"), col("m_us"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("user_id").as("u3"))
      .agg(sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    sPairs.join(ties, col("user_id") === col("u3"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tie_term"))
      .select(
        col("user_id"), col("n").as("n_days"), col("n_pairs"),
        col("s_stat"), col("var18"),
        when(col("s_stat") === 0 || col("var18") === 0, lit(0L))
          .otherwise(floor(
            (col("s_stat") - signum(col("s_stat")).cast("long")).cast("double") /
              sqrt(col("var18").cast("double") / lit(18.0)) * lit(1e6) + lit(0.5))
            .cast("long")).as("z_micro"))
  }

  val defs: Seq[Q] = Seq(

    // Theil–Sen robust trend slope (Theil 1950; Sen, JASA 1968): the
    // median of all pairwise slopes (m_j − m_i)/(d_j − d_i) over each
    // user's daily-mean series — the robust replacement for the OLS
    // slope (rolling_slope) with a 29.3% breakdown point: a burst of
    // outlier days that drags least-squares arbitrarily far moves the
    // pairwise-slope MEDIAN not at all. Exactness: day means are the
    // half-up integer-µ-unit discipline, each slope is ONE IEEE divide
    // of exact integers (µ-units/day), the median is an exact order
    // statistic under a (slope, d1, d2) total order — the even-count
    // midpoint is a halving of two engine-identical doubles — and the
    // output is half-up-floored to BIGINT µ-units (the Holt emission
    // lesson: integer emission removes the 6-dp rounding-tie class).
    // Shape for scale: the pair explosion is per-series C(days, 2) —
    // bounded by the calendar, independent of row count; the rank
    // window runs partitioned by user over pair frames, never raw
    // events. (For series long enough that C(n,2) bites, the published
    // O(n log n) randomized slope-selection is the alternative; at a
    // month of days the exact frame is ~465 rows/user.)
    Q("timeseries_theilsen_slope",
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         (2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |          + COUNT(*)) // (2 * COUNT(*)) AS m_us
        |  FROM events GROUP BY 1, 2),
        |dc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
        |pr AS (
        |  SELECT a.user_id, a.day AS d1, b.day AS d2,
        |         CAST(b.m_us - a.m_us AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b ON b.user_id = a.user_id AND a.day < b.day),
        |r AS (
        |  SELECT user_id, slope,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY user_id ORDER BY slope, d1, d2) AS BIGINT) AS rn,
        |         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS np
        |  FROM pr),
        |mid AS (
        |  SELECT user_id, np, CAST(COUNT(*) AS BIGINT) AS nmid, SUM(slope) AS ssum
        |  FROM r WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |  GROUP BY 1, 2)
        |SELECT m.user_id, dc.n_days, m.np AS n_pairs,
        |       CAST(FLOOR(CASE WHEN m.nmid = 1 THEN m.ssum
        |                       ELSE m.ssum / CAST(2 AS DOUBLE) END + 0.5) AS BIGINT)
        |         AS slope_med_micro
        |FROM mid m JOIN dc ON dc.user_id = m.user_id
        |ORDER BY m.user_id""".stripMargin) { (s, dir) =>
      theilSenSlope(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    // Mann–Kendall monotone-trend test (see mannKendall): the
    // significance readout beside the Theil–Sen slope — integer S and
    // tie-corrected 18·Var, sqrt/divide-only z in µ-units.
    Q("timeseries_mann_kendall",
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         (2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |          + COUNT(*)) // (2 * COUNT(*)) AS m_us
        |  FROM events GROUP BY 1, 2),
        |sp AS (
        |  SELECT a.user_id,
        |         CAST(SUM(CASE WHEN b.m_us > a.m_us THEN 1
        |                       WHEN b.m_us < a.m_us THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
        |         CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM daily a JOIN daily b ON b.user_id = a.user_id AND a.day < b.day
        |  GROUP BY 1),
        |tg AS (SELECT user_id, m_us, CAST(COUNT(*) AS BIGINT) AS t
        |       FROM daily GROUP BY 1, 2),
        |ti AS (
        |  SELECT user_id, CAST(SUM(t) AS BIGINT) AS n,
        |         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY 1),
        |v AS (
        |  SELECT sp.user_id, ti.n AS n_days, sp.n_pairs, sp.s_stat,
        |         ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie_term AS var18
        |  FROM sp JOIN ti ON ti.user_id = sp.user_id)
        |SELECT user_id, n_days, n_pairs, s_stat, CAST(var18 AS BIGINT) AS var18,
        |       CAST(CASE WHEN s_stat = 0 OR var18 = 0 THEN 0
        |                 ELSE FLOOR(CAST(s_stat - CASE WHEN s_stat > 0 THEN 1 ELSE -1 END AS DOUBLE)
        |                            / sqrt(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE))
        |                            * 1000000.0 + 0.5)
        |            END AS BIGINT) AS z_micro
        |FROM v ORDER BY user_id""".stripMargin) { (s, dir) =>
      mannKendall(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    // Seasonal-naive forecast backtest (r10 s4): forecast each day's
    // per-user mean with the value ONE SEASON (7 days) earlier, and
    // report the mean absolute percentage error — the baseline every
    // real forecasting model must beat, and the shape of a rolling
    // backtest harness (join the series to itself at lag = season).
    // Exactness: day means in integer µ-units with half-up rounding
    // ((2Σ+n) div 2n — the interpolate discipline), APE in integer
    // µ-rate ((|m−f|·10⁶) div m), per-user MAPE again via the
    // half-up integer mean — BIGINTs end to end, nothing to round.
    // Shape: one (user, day) aggregate, one self-join on the
    // (user, day−7) key riding the same partitioning, one per-user
    // rollup. The m>0 guard is vacuous on this positive-valued
    // fixture but keeps the integer division total.
    Q("timeseries_seasonal_naive_mape",
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         (2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |          + COUNT(*)) // (2 * COUNT(*)) AS m_us
        |  FROM events GROUP BY 1, 2),
        |bt AS (
        |  SELECT c.user_id,
        |         (ABS(c.m_us - p.m_us) * 1000000) // c.m_us AS ape_micro
        |  FROM daily c
        |  JOIN daily p ON p.user_id = c.user_id AND p.day = c.day - 7
        |  WHERE c.m_us > 0)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_backtest,
        |       CAST((2 * SUM(ape_micro) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
        |         AS mape_micro
        |FROM bt GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(expr(
          """(2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
            | + COUNT(*)) div (2 * COUNT(*))""".stripMargin).as("m_us"))
      val p = daily.select(col("user_id").as("p_user"), col("day").as("p_day"),
        col("m_us").as("f_us"))
      daily.filter(col("m_us") > 0)
        .join(p, col("user_id") === col("p_user") &&
          col("p_day") === date_sub(col("day"), 7))
        .select(col("user_id"),
          expr("(ABS(m_us - f_us) * 1000000) div m_us").as("ape_micro"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_backtest"),
          expr("CAST((2 * SUM(ape_micro) + COUNT(*)) div (2 * COUNT(*)) AS BIGINT)")
            .as("mape_micro"))
        .orderBy(col("user_id"))
    },

    // Holt double-exponential smoothing backtest (r12): the level +
    // trend forecaster one notch above seasonal-naive and EWMA — the
    // classical sequential recurrence
    //   l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1}),
    //   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
    // at α = β = ½ (every smoothing multiply is an EXACT binary
    // halving; zero-trend init l₁ = y₁, b₁ = 0) over the half-up
    // integer-µ-unit day means the seasonal-naive query established.
    // A per-series recurrence is inherently sequential, so the fold
    // runs INSIDE one row — `aggregate` over the user's sorted
    // (day, m_us) array, series-bounded (≤ days) — and the oracle
    // replays the identical step order as a recursive CTE: same
    // inputs, same IEEE ops, same order ⇒ bit-identical level/trend/
    // MAE doubles. One-step-ahead |y_t − (l+b)| accumulates from
    // t = 2; MAE = Σ/(n−1), −1-sentineled for 1-day series (NULL
    // would NaN the hash). Shape: one (user, day) aggregate + one
    // per-user collect — state per user is the 4-field struct,
    // never the series twice.
    Q("timeseries_holt_backtest",
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         (2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |          + COUNT(*)) // (2 * COUNT(*)) AS m_us
        |  FROM events GROUP BY 1, 2),
        |rk AS MATERIALIZED (
        |  SELECT user_id, m_us,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS t
        |  FROM daily),
        |cnt AS MATERIALIZED (SELECT user_id, MAX(t) AS n FROM rk GROUP BY 1),
        |r AS (
        |  SELECT user_id, 1 AS t, CAST(m_us AS DOUBLE) AS l,
        |         CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS es
        |  FROM rk WHERE t = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t + 1,
        |         CAST(0.5 AS DOUBLE) * CAST(x.m_us AS DOUBLE)
        |           + CAST(0.5 AS DOUBLE) * (r.l + r.b),
        |         CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(x.m_us AS DOUBLE)
        |           + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
        |           + CAST(0.5 AS DOUBLE) * r.b,
        |         r.es + abs(CAST(x.m_us AS DOUBLE) - (r.l + r.b))
        |  FROM r JOIN rk x ON x.user_id = r.user_id AND x.t = r.t + 1),
        |fin AS (
        |  SELECT r.user_id, r.t, r.l, r.b, r.es
        |  FROM r JOIN cnt ON cnt.user_id = r.user_id AND r.t = cnt.n)
        |SELECT user_id, CAST(t AS BIGINT) AS n_days,
        |       COALESCE(CASE WHEN t >= 2
        |         THEN CAST(FLOOR(es / (t - 1) + 0.5) AS BIGINT) END, -1) AS mae_us,
        |       CAST(FLOOR(l + 0.5) AS BIGINT) AS level_us,
        |       CAST(FLOOR(b + 0.5) AS BIGINT) AS trend_us
        |FROM fin ORDER BY user_id""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(expr(
          """(2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
            | + COUNT(*)) div (2 * COUNT(*))""".stripMargin).as("m_us"))
      daily.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("day"), col("m_us")))).as("s"))
        .withColumn("st", expr(
          """aggregate(
            |  s,
            |  named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
            |               'es', CAST(0.0 AS DOUBLE), 'n', 0),
            |  (acc, x) -> CASE WHEN acc.n = 0
            |    THEN named_struct('l', CAST(x.m_us AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
            |                      'es', CAST(0.0 AS DOUBLE), 'n', 1)
            |    ELSE named_struct(
            |      'l', CAST(0.5 AS DOUBLE) * CAST(x.m_us AS DOUBLE)
            |             + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
            |      'b', CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(x.m_us AS DOUBLE)
            |             + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
            |             + CAST(0.5 AS DOUBLE) * acc.b,
            |      'es', acc.es + abs(CAST(x.m_us AS DOUBLE) - (acc.l + acc.b)),
            |      'n', acc.n + 1)
            |    END)""".stripMargin))
        .select(col("user_id"),
          size(col("s")).cast("long").as("n_days"),
          coalesce(
            when(col("st.n") >= 2,
              floor(col("st.es") / (col("st.n") - 1) + lit(0.5)).cast("long")),
            lit(-1L)).as("mae_us"),
          floor(col("st.l") + lit(0.5)).cast("long").as("level_us"),
          floor(col("st.b") + lit(0.5)).cast("long").as("trend_us"))
        .orderBy(col("user_id"))
    },

    // Additive Holt-Winters (r12): the seasonal rung above
    // timeseries_holt_backtest — level + trend + a 7-slot seasonal
    // state (m = 7, the weekly cycle the seasonal-naive query
    // established), α = β = γ = ½ so every smoothing multiply is an
    // exact binary halving; zero seasonal init (first-cycle forecasts
    // reduce to Holt — documented variant; the classical first-cycle
    // decomposition init is a different published choice, not a
    // correctness axis). Same fold-parity architecture as Holt: the
    // recurrence folds inside one row via `aggregate` (the seasonal
    // array updates through `transform` with Spark's 0-BASED lambda
    // index), the oracle replays it as a recursive CTE updating a
    // LIST through `list_transform` with DuckDB's 1-BASED index —
    // same values, per-engine index conventions, bit-identical
    // doubles. One-step errors accumulate from t = 2; season_amp =
    // max − min of the final seasonal state (exact array reductions).
    Q("timeseries_holt_winters",
      """WITH RECURSIVE daily AS MATERIALIZED (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         (2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |          + COUNT(*)) // (2 * COUNT(*)) AS m_us
        |  FROM events GROUP BY 1, 2),
        |rk AS MATERIALIZED (
        |  SELECT user_id, m_us,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS t
        |  FROM daily),
        |cnt AS MATERIALIZED (SELECT user_id, MAX(t) AS n FROM rk GROUP BY 1),
        |r AS (
        |  SELECT user_id, 1 AS t, CAST(m_us AS DOUBLE) AS l,
        |         CAST(0 AS DOUBLE) AS b,
        |         [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
        |          CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
        |          CAST(0 AS DOUBLE)] AS s,
        |         CAST(0 AS DOUBLE) AS es
        |  FROM rk WHERE t = 1
        |  UNION ALL
        |  SELECT user_id, t + 1, l2,
        |         CAST(0.5 AS DOUBLE) * (l2 - l) + CAST(0.5 AS DOUBLE) * b,
        |         list_transform(s, (v, i) -> CASE WHEN i = pos + 1
        |           THEN CAST(0.5 AS DOUBLE) * (y - l2) + CAST(0.5 AS DOUBLE) * sp
        |           ELSE v END),
        |         es + abs(y - (l + b + sp))
        |  FROM (
        |    SELECT r.user_id, r.t, r.l, r.b, r.s, r.es,
        |           CAST(x.m_us AS DOUBLE) AS y,
        |           r.t % 7 AS pos,
        |           r.s[(r.t % 7) + 1] AS sp,
        |           CAST(0.5 AS DOUBLE) * (CAST(x.m_us AS DOUBLE) - r.s[(r.t % 7) + 1])
        |             + CAST(0.5 AS DOUBLE) * (r.l + r.b) AS l2
        |    FROM r JOIN rk x ON x.user_id = r.user_id AND x.t = r.t + 1) q),
        |fin AS (
        |  SELECT r.user_id, r.t, r.l, r.b, r.s, r.es
        |  FROM r JOIN cnt ON cnt.user_id = r.user_id AND r.t = cnt.n)
        |SELECT user_id, CAST(t AS BIGINT) AS n_days,
        |       COALESCE(CASE WHEN t >= 2
        |         THEN CAST(FLOOR(es / (t - 1) + 0.5) AS BIGINT) END, -1) AS mae_us,
        |       CAST(FLOOR(l + 0.5) AS BIGINT) AS level_us,
        |       CAST(FLOOR(b + 0.5) AS BIGINT) AS trend_us,
        |       CAST(FLOOR(list_max(s) - list_min(s) + 0.5) AS BIGINT) AS amp_us
        |FROM fin ORDER BY user_id""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(expr(
          """(2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
            | + COUNT(*)) div (2 * COUNT(*))""".stripMargin).as("m_us"))
      daily.groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("day"), col("m_us")))).as("sr"))
        .withColumn("st", expr(
          """aggregate(
            |  sr,
            |  named_struct('l', CAST(0.0 AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
            |               's', array_repeat(CAST(0.0 AS DOUBLE), 7),
            |               'es', CAST(0.0 AS DOUBLE), 'n', 0),
            |  (acc, x) -> CASE WHEN acc.n = 0
            |    THEN named_struct('l', CAST(x.m_us AS DOUBLE), 'b', CAST(0.0 AS DOUBLE),
            |                      's', acc.s, 'es', CAST(0.0 AS DOUBLE), 'n', 1)
            |    ELSE named_struct(
            |      'l', CAST(0.5 AS DOUBLE) * (CAST(x.m_us AS DOUBLE)
            |             - element_at(acc.s, pmod(acc.n, 7) + 1))
            |             + CAST(0.5 AS DOUBLE) * (acc.l + acc.b),
            |      'b', CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (CAST(x.m_us AS DOUBLE)
            |             - element_at(acc.s, pmod(acc.n, 7) + 1))
            |             + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
            |             + CAST(0.5 AS DOUBLE) * acc.b,
            |      's', transform(acc.s, (v, i) -> IF(i = pmod(acc.n, 7),
            |             CAST(0.5 AS DOUBLE) * (CAST(x.m_us AS DOUBLE)
            |               - (CAST(0.5 AS DOUBLE) * (CAST(x.m_us AS DOUBLE)
            |                   - element_at(acc.s, pmod(acc.n, 7) + 1))
            |                  + CAST(0.5 AS DOUBLE) * (acc.l + acc.b)))
            |               + CAST(0.5 AS DOUBLE) * element_at(acc.s, pmod(acc.n, 7) + 1),
            |             v)),
            |      'es', acc.es + abs(CAST(x.m_us AS DOUBLE)
            |              - (acc.l + acc.b + element_at(acc.s, pmod(acc.n, 7) + 1))),
            |      'n', acc.n + 1)
            |    END)""".stripMargin))
        .select(col("user_id"),
          size(col("sr")).cast("long").as("n_days"),
          coalesce(
            when(col("st.n") >= 2,
              floor(col("st.es") / (col("st.n") - 1) + lit(0.5)).cast("long")),
            lit(-1L)).as("mae_us"),
          floor(col("st.l") + lit(0.5)).cast("long").as("level_us"),
          floor(col("st.b") + lit(0.5)).cast("long").as("trend_us"),
          floor(array_max(col("st.s")) - array_min(col("st.s")) + lit(0.5))
            .cast("long").as("amp_us"))
        .orderBy(col("user_id"))
    },

    // Peak concurrent sessions per day. The oracle replays the gap
    // sessionization, the ±1 sweep, and ONE global running sum — the
    // semantic spec the two-phase prefix sum must equal exactly.
    Q("events_concurrency_peak",
      """WITH s0 AS (
        |  SELECT user_id, ts, event_id,
        |         LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s1 AS (
        |  SELECT user_id, ts,
        |         CAST(SUM(CASE WHEN prev_ts IS NULL
        |                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1
        |                       ELSE 0 END)
        |                OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS session_id
        |  FROM s0),
        |sess AS (SELECT user_id, session_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts
        |         FROM s1 GROUP BY 1, 2),
        |d AS (
        |  SELECT start_ts AS ts, 1 AS delta, user_id, session_id FROM sess
        |  UNION ALL
        |  SELECT end_ts + INTERVAL 1 MICROSECOND, -1, user_id, session_id FROM sess),
        |r AS (
        |  SELECT ts, SUM(delta) OVER (ORDER BY ts, delta, user_id, session_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS conc
        |  FROM d)
        |SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |       CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
        |       CAST(COUNT(*) AS BIGINT) AS n_boundaries
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      concurrencyPeak(Tables.events(s, dir)).orderBy(col("day"))
    },

    // Per-user-day TWAP: integer-µs weights, decimal accumulation,
    // one rounded division — values and interval counts hash-pinned.
    Q("events_twap",
      """WITH n AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value,
        |         LEAD(ts, 1) OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
        |                           ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT user_id, day,
        |       CAST(COUNT(*) AS BIGINT) AS n_intervals,
        |       CAST(SUM(epoch_us(nxt) - epoch_us(ts)) AS BIGINT) AS span_us,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))
        |                      * CAST(epoch_us(nxt) - epoch_us(ts) AS DECIMAL(12,0))) AS DOUBLE)
        |             / CAST(SUM(epoch_us(nxt) - epoch_us(ts)) AS DOUBLE), 6) + 0 AS twap
        |FROM n WHERE nxt IS NOT NULL
        |GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      twap(Tables.events(s, dir)).orderBy(col("user_id"), col("day"))
    },

    // Rolling 7-row MEDIAN per user (r10): the burst-robust rolling
    // center the mean features can't give (one spike drags a mean for
    // its whole window; the median shrugs it off). Exact: the window
    // holds ≤ 7 values, so the per-row sort is O(1); the median is a
    // SELECTED data element (lower-middle rule (n+1)÷2, no
    // interpolation — the quantile_disc discipline), so the output is
    // an exact input double, hash-safe. Same one user-keyed exchange
    // as every rolling feature; the array never leaves the row.
    // Contract: value must be non-null (Spark collect_list DROPS
    // nulls, DuckDB list() keeps them — window lengths would diverge
    // on a nullable column; events.value is non-null by schema).
    Q("events_rolling_median",
      """WITH l AS (
        |  SELECT event_id, user_id, value,
        |         list_sort(list(value) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vs
        |  FROM events)
        |SELECT event_id, user_id, value,
        |       vs[CAST((len(vs) + 1) // 2 AS INT)] AS roll_median
        |FROM l ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w7 = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .withColumn("vs", array_sort(collect_list(col("value")).over(w7)))
        .select(col("event_id"), col("user_id"), col("value"),
          element_at(col("vs"), ((size(col("vs")) + 1) / 2).cast("int")).as("roll_median"))
        .orderBy(col("event_id"))
    },

    // Local-extrema (peak) detection per user (r10): a strict local
    // maximum — value above BOTH neighbors in the (ts, event_id)
    // order — is the burst/spike marker a threshold rule misses when
    // the baseline wanders (a peak at value 40 on a baseline of 10
    // alerts; the same 40 on a baseline of 50 doesn't). Strict >
    // makes plateaus peak-free deterministically (equal neighbors
    // never qualify — no tiebreak ambiguity cross-engine); series
    // endpoints have one neighbor and are excluded by the same
    // NOT-NULL predicate both engines evaluate. Per-user rollup:
    // peak count, the maximum peak value (an exact input double),
    // and the time of the FIRST maximal peak (deterministic min-ts
    // under the max). One user-keyed window exchange + one same-key
    // aggregate — the rolling-feature shape.
    Q("events_peak_detection", peakDetectionOracleSql) { (s, dir) =>
      peakDetection(Tables.events(s, dir))
    },

    // Inter-arrival profile per user (r10): the cadence fingerprint —
    // gap count, mean gap, the exact-selection median gap (robust to
    // one long outage the way the rolling median is to one spike),
    // and the worst gap, all from integer-µs timestamp differences —
    // and ALL FOUR integers end to end. The mean rounds half-up to
    // whole µs in pure integer arithmetic ((2·Σ + n) div 2n): gaps
    // are integer µs, so a ROUND(Σ/n, 6) double mean terminates
    // EXACTLY ON 6-dp boundaries and the engines' 1-ulp quotient
    // difference flips the last digit — caught live by the sf0.1
    // sweep on this query's first draft (one user's mean sat on the
    // boundary; printed values identical, hashes not). Median/max
    // pass through double selection losslessly (µs < 2⁵³), cast back
    // to BIGINT. Single-event users have no gaps and are absent in
    // both engines. One user-keyed window + one same-key aggregate.
    Q("events_interarrival",
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events),
        |d AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL)
        |SELECT user_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |       CAST((2 * SUM(gap) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
        |         AS mean_gap_us,
        |       CAST(quantile_disc(gap, 0.5) AS BIGINT) AS median_gap_us,
        |       CAST(MAX(gap) AS BIGINT) AS max_gap_us
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"))
        .withColumn("gap",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_gaps"),
          expr("CAST((2 * sum(gap) + count(1)) DIV (2 * count(1)) AS BIGINT)")
            .as("mean_gap_us"),
          graft.functions.exact_quantile(col("gap").cast("double"), 0.5)
            .cast("long").as("median_gap_us"),
          max(col("gap")).as("max_gap_us"))
        .orderBy(col("user_id"))
    },

    // Lag-1 autocorrelation per user (r10): does this series remember
    // its last value? — the single most informative stationarity/
    // persistence scalar for telemetry (white noise ~0, trending ~1,
    // oscillating < 0). Pearson corr of (value, previous value) via
    // the decimal-sum moment formula (the agg_stats_family
    // discipline: exact decimal Σx Σy Σxx Σyy Σxy, double arithmetic
    // only in the final expression — identical IEEE both engines).
    // Degenerate users (constant series, < 3 pairs) are excluded by
    // the same deterministic predicate on both sides. One user-keyed
    // window + one aggregate on the same key.
    Q("events_autocorr_lag1",
      """WITH p AS (
        |  SELECT user_id, value AS y,
        |         LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
        |  FROM events),
        |m AS (
        |  SELECT user_id, COUNT(*) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
        |  FROM p WHERE x IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |       ROUND((sxy - sx * sy / n) /
        |             sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) + 0
        |         AS autocorr_lag1
        |FROM m
        |WHERE n >= 3 AND (sxx - sx * sx / n) > 0 AND (syy - sy * sy / n) > 0
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      def ds(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(c.cast("decimal(30,6)")).cast("double")
      val byU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val p = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("value").as("y"))
        .withColumn("x", lag(col("y"), 1).over(byU))
        .filter(col("x").isNotNull)
      p.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          ds(col("x")).as("sx"), ds(col("y")).as("sy"),
          ds(col("x") * col("x")).as("sxx"), ds(col("y") * col("y")).as("syy"),
          ds(col("x") * col("y")).as("sxy"))
        .filter(col("n") >= 3 &&
          col("sxx") - col("sx") * col("sx") / col("n") > 0 &&
          col("syy") - col("sy") * col("sy") / col("n") > 0)
        .select(col("user_id"), col("n").as("n_pairs"),
          (round((col("sxy") - col("sx") * col("sy") / col("n")) /
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n"))), 6) + lit(0.0))
            .as("autocorr_lag1"))
        .orderBy(col("user_id"))
    },

    // Seasonal-baseline deviation monitor (r10): hourly event volume
    // and value mass against the SAME HOUR ONE WEEK EARLIER — the
    // workhorse anomaly check for strongly-periodic telemetry (a
    // global mean would flag every diurnal peak; the seasonal lag
    // self-join doesn't). Shape for scale: ONE data-sized hour-bucket
    // aggregate, then everything — the 168-hour-offset self-join, the
    // ratio projection, the flag — runs on the BOUNDED hour grid
    // (same class as the sweep-line's prefix-sum frame; the offset is
    // epoch-hour integer arithmetic, never a row-lag, so grid gaps
    // can't misalign the baseline). Counts and decimal sums exact;
    // the one rounded division is the ratio; hours with no baseline
    // (first week / silent prior hour) report ratio −1 and never
    // flag.
    Q("events_seasonal_deviation",
      """WITH h AS (
        |  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(value AS DECIMAL(30,6))) AS v
        |  FROM events GROUP BY 1)
        |SELECT a.hr,
        |       a.n, CAST(a.v AS DOUBLE) AS value_sum,
        |       COALESCE(b.n, -1) AS baseline_n,
        |       CASE WHEN b.n IS NULL THEN CAST(-1.0 AS DOUBLE)
        |            ELSE ROUND(a.n * 1.0 / b.n, 6) + 0 END AS volume_ratio,
        |       CAST(CASE WHEN b.n IS NOT NULL
        |                  AND (a.n * 2 < b.n OR a.n > b.n * 2) THEN 1 ELSE 0 END
        |            AS BIGINT) AS flagged
        |FROM h a LEFT JOIN h b ON b.hr = a.hr - 168
        |ORDER BY a.hr""".stripMargin) { (s, dir) =>
      val h = Tables.events(s, dir)
        // `div`: exact integer division — a double `/` then cast could
        // round across an hour boundary at extreme epochs
        .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,6)")).as("v"))
      val b = h.select(col("hr").as("b_hr"), col("n").as("b_n"))
      h.join(b, col("b_hr") === col("hr") - 168, "left_outer")
        .select(
          col("hr"),
          col("n"),
          col("v").cast("double").as("value_sum"),
          coalesce(col("b_n"), lit(-1L)).as("baseline_n"),
          when(col("b_n").isNull, lit(-1.0))
            .otherwise(round(col("n") * lit(1.0) / col("b_n"), 6) + lit(0.0))
            .as("volume_ratio"),
          when(col("b_n").isNotNull &&
              (col("n") * 2 < col("b_n") || col("n") > col("b_n") * 2), 1L)
            .otherwise(0L).as("flagged"))
        .orderBy(col("hr"))
    },

    // CUSUM drift alarms: the prefix-sum identity replays as the same
    // two windows in DuckDB; exact decimal prefix sums pin the alarm
    // SET and the first-alarm event, not just the rounded maximum.
    Q("events_cusum_alarms",
      """WITH mu AS (
        |  SELECT CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS mu
        |  FROM events),
        |d AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(value - mu AS DECIMAL(20,6)) AS dev
        |  FROM events CROSS JOIN mu),
        |p AS (
        |  SELECT user_id, ts, event_id,
        |         SUM(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM d),
        |s AS (
        |  SELECT user_id, event_id,
        |         p - LEAST(CAST(0 AS DECIMAL(20,6)),
        |                   MIN(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        |  FROM p)
        |SELECT user_id,
        |       ROUND(CAST(MAX(s) AS DOUBLE), 6) + 0 AS max_cusum,
        |       CAST(SUM(CASE WHEN s > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |       COALESCE(MIN(CASE WHEN s > 50.0 THEN event_id END), -1) AS first_alarm_event
        |FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      cusumAlarms(Tables.events(s, dir)).orderBy(col("user_id"))
    },

    // Daily linear interpolation (r10 s3): gapfill marks holes, this
    // fills them with the bracket line — exact integer µ-unit
    // arithmetic with half-up rounding end to end; the only double op
    // is the final µ-units→units division.
    Q("timeseries_interpolate_linear",
      """WITH daily AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         COUNT(*) AS n,
        |         SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT)) AS s_us,
        |         (2 * SUM(CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))
        |          + COUNT(*)) // (2 * COUNT(*)) AS m_us
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS dmin, MAX(day) AS dmax
        |         FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |f AS (
        |  SELECT s.user_id, s.day, d.n, d.m_us,
        |         LAST_VALUE(CASE WHEN d.n IS NOT NULL THEN s.day END IGNORE NULLS)
        |           OVER (PARTITION BY s.user_id ORDER BY s.day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |         LAST_VALUE(CASE WHEN d.n IS NOT NULL THEN d.m_us END IGNORE NULLS)
        |           OVER (PARTITION BY s.user_id ORDER BY s.day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm,
        |         FIRST_VALUE(CASE WHEN d.n IS NOT NULL THEN s.day END IGNORE NULLS)
        |           OVER (PARTITION BY s.user_id ORDER BY s.day
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
        |         FIRST_VALUE(CASE WHEN d.n IS NOT NULL THEN d.m_us END IGNORE NULLS)
        |           OVER (PARTITION BY s.user_id ORDER BY s.day
        |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nm
        |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, day,
        |       CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
        |       CAST(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
        |       CAST(CASE WHEN n IS NOT NULL THEN m_us
        |            ELSE (2 * (datediff('day', day, nd) * pm
        |                       + datediff('day', pd, day) * nm)
        |                  + datediff('day', pd, nd)) // (2 * datediff('day', pd, nd))
        |       END AS DOUBLE) / 1000000.0 AS value_filled
        |FROM f ORDER BY user_id, day""".stripMargin) { (s, dir) =>
      interpolateDaily(Tables.events(s, dir)).orderBy(col("user_id"), col("day"))
    },

    // Rolling 7-row OLS trend slope (r10 s3): exact decimal/integer
    // moments, one rounded division; n ≥ 2 excludes the zero-variance
    // frame on both sides.
    Q("timeseries_rolling_slope",
      """WITH b AS (
        |  SELECT event_id, user_id,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS x,
        |         CAST(value AS DECIMAL(20,6)) AS y
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |m AS (
        |  SELECT event_id, user_id,
        |         COUNT(*) OVER f AS n,
        |         SUM(x) OVER f AS sx,
        |         SUM(x * x) OVER f AS sxx,
        |         SUM(y) OVER f AS sy,
        |         SUM(CAST(x AS DECIMAL(12,0)) * y) OVER f AS sxy
        |  FROM b WINDOW f AS (PARTITION BY user_id ORDER BY x
        |                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, CAST(n AS BIGINT) AS n_frame,
        |       ROUND(CAST(CAST(n AS DECIMAL(3,0)) * CAST(sxy AS DECIMAL(25,6))
        |                  - CAST(sx AS DECIMAL(12,0)) * CAST(sy AS DECIMAL(16,6))
        |                  AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) + 0 AS trend_slope
        |FROM m WHERE n >= 2 ORDER BY event_id""".stripMargin) { (s, dir) =>
      rollingSlope(Tables.events(s, dir))
    },

    // Multi-window SLO burn-rate (r10 s3): page iff BOTH the 1 h and
    // 6 h trailing error-budget burns exceed the workbook pair —
    // alert decisions by integer cross-multiplication only.
    Q("events_slo_burn",
      """WITH h AS (
        |  SELECT epoch_us(ts) // 3600000000 AS hr,
        |         COUNT(*) AS total,
        |         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errors
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT hr, errors, total,
        |         SUM(errors) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6,
        |         SUM(total) OVER (ORDER BY hr RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS t6
        |  FROM h)
        |SELECT CAST(hr AS BIGINT) AS hr,
        |       CAST(errors AS BIGINT) AS errors,
        |       CAST(total AS BIGINT) AS total,
        |       ROUND(errors * 100.0 / total, 6) + 0 AS burn_1h,
        |       ROUND(e6 * 100.0 / t6, 6) + 0 AS burn_6h,
        |       CAST(CASE WHEN errors * 500 > total * 72 AND e6 * 100 > t6 * 6
        |                 THEN 1 ELSE 0 END AS BIGINT) AS page
        |FROM w ORDER BY hr""".stripMargin) { (s, dir) =>
      sloBurn(Tables.events(s, dir)).orderBy(col("hr"))
    },

    // Truncated dyadic EWMA (r10 s3): α = 1/2 over 20 lags — integer
    // µ-unit arithmetic end to end, weights are powers of two, one
    // final division. The generated 20-term SUM is the same exact
    // integer both engines accumulate.
    Q("timeseries_ewma", {
      val terms = (0 until 20).map { k =>
        val w = 1L << (19 - k)
        if (k == 0) s"vi * $w" else s"COALESCE(LAG(vi, $k) OVER w, 0) * $w"
      }.mkString("\n        |         + ")
      s"""WITH v AS (
        |  SELECT event_id, ts, user_id,
        |         CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vi
        |  FROM events),
        |e AS (
        |  SELECT event_id, user_id,
        |         LEAST(ROW_NUMBER() OVER w, 20) AS m,
        |         $terms
        |           AS num
        |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, CAST(m AS BIGINT) AS n_frame,
        |       ROUND(CAST(num AS DOUBLE)
        |             / CAST(1048576 - (CAST(1 AS BIGINT) << CAST(20 - m AS INT)) AS DOUBLE)
        |             / 1000000.0, 6) + 0 AS ewma
        |FROM e ORDER BY event_id""".stripMargin
    }) { (s, dir) =>
      ewma(Tables.events(s, dir))
    },
  )
}
