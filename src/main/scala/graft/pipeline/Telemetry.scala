package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Per-entity time-series pipeline — the reference's semantic core
  * (forward-looking label + rolling features + threshold alerting),
  * re-expressed over the `events` test table:
  * `user_id` ↔ serial_number, `ts` ↔ date, `value` ↔ SMART raw counter,
  * `event_type = 'error'` ↔ failure indicator.
  *
  * Reference semantics reproduced exactly (SURVEY.md §2.6), in the
  * reference's 02→03 stage order:
  *  - label = lead(indicator, 1) over per-entity date order on the FULL
  *    timeline (/root/reference/scripts/02_label_engineering.py:113-123)
  *  - failure-day rows dropped AFTER labeling, BEFORE rolling features
  *    (02_label_engineering.py:126-131 writes the filtered parquet that
  *    03_feature_engineering.py:44-46 reads)
  *  - rolling mean/std/max over ROW frames (-6..0), mean over (-13..0)
  *    on the filtered timeline (03_feature_engineering.py:96-120)
  *  - 1-step delta via lag (03_feature_engineering.py:128-132)
  *  - observation age via row_number (03_feature_engineering.py:140-143)
  *  - null fill 0 for warm-up rows (03_feature_engineering.py:146-154)
  *  - alert = score >= threshold (06_deployment_code.py:137-140)
  *
  * Scale notes: one hash Exchange on user_id + one Sort feeds ALL window
  * expressions (same partition/order spec). The is_error filter runs
  * BELOW the feature window (after the label window), shrinking the
  * second window's input ~20%. No driver-side collection anywhere. At
  * 100 TB the knobs are shuffle partition count + AQE; per-user skew
  * would need salting/two-phase windows (test data is uniform).
  */
object Telemetry {
  val FailureType = "error"

  /** Default alerting threshold on the 7-row rolling mean (value is
    * uniform 0..~500, median ~35 — τ=60 yields a sparse-but-nonempty
    * alert set, mirroring the reference's rare-alert regime). */
  val Tau = 60.0

  /** Event-id tiebreak makes per-user ordering total (duplicate µs
    * timestamps would otherwise make window results nondeterministic). */
  private val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
  private val w7 = byUser.rowsBetween(-6, 0)
  private val w14 = byUser.rowsBetween(-13, 0)

  /** round(x, 6) + 0.0 — the +0.0 collapses IEEE −0.0 to +0.0 so both
    * engines hash identically when a rounded stddev lands on zero. */
  private def r6(c: Column): Column = round(c, 6) + lit(0.0)

  /** Early projection + indicator derivation (reference P1/P2/P6:
    * prune columns before any shuffle). */
  def base(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("ts"), col("user_id"), col("value"),
      when(col("event_type") === FailureType, 1).otherwise(0).as("is_error"))

  /** W1: forward-looking label over the FULL per-user timeline.
    * Null lead (last row per user) → 0. */
  def labeled(events: DataFrame): DataFrame =
    base(events).withColumn(
      "failure_next",
      when(lead(col("is_error"), 1).over(byUser) === 1, 1).otherwise(0))

  /** F1: drop failure-day rows after labeling (the reference's stage-02
    * output; stage-03 windows run over this filtered timeline). */
  def filtered(events: DataFrame): DataFrame =
    labeled(events).filter(col("is_error") === 0)

  /** W2-W6 + P7: rolling features, delta, observation age, null-fill —
    * over the filtered timeline (reference 02→03 data flow). Floats are
    * rounded to 6 dp at derivation so every downstream comparison
    * (alerting threshold, oracle hash) sees identical values regardless
    * of partial-aggregation order. */
  def features(events: DataFrame): DataFrame =
    filtered(events).select(
      col("*"),
      r6(avg(col("value")).over(w7)).as("value_mean_7"),
      r6(coalesce(stddev(col("value")).over(w7), lit(0.0))).as("value_std_7"),
      max(col("value")).over(w7).as("value_max_7"),
      r6(avg(col("value")).over(w14)).as("value_mean_14"),
      r6(coalesce(col("value") - lag(col("value"), 1).over(byUser), lit(0.0))).as("value_delta_1"),
      row_number().over(byUser).cast("long").as("obs_seq"))

  /** F5/P6: alert on the rolling mean crossing the threshold. */
  def scored(events: DataFrame, tau: Double = Tau): DataFrame =
    features(events)
      .withColumn("alert", when(col("value_mean_7") >= tau, 1).otherwise(0))

  /** Calibration buckets over the scored frame — see the
    * `ml_calibration_curve` declaration. Equi-width over the observed
    * [min, max] of `value_mean_7` (broadcast bounds row, degenerate
    * range → bucket 0), per-bucket mean score (decimal-summed) and
    * observed failure fraction. */
  def calibration(scoredDf: DataFrame, buckets: Int = 10): DataFrame = {
    val b = scoredDf
      .agg(min(col("value_mean_7")).as("lo"), max(col("value_mean_7")).as("hi"))
      .withColumn("k", lit(1))
    scoredDf.withColumn("k", lit(1)).join(broadcast(b), "k")
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(
            floor((col("value_mean_7") - col("lo")) / (col("hi") - col("lo")) * buckets),
            lit(buckets - 1L)).cast("long")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        r6(sum(col("value_mean_7").cast("decimal(20,6)")).cast("double") / count(lit(1)))
          .as("mean_score"),
        sum(col("failure_next")).cast("long").as("n_pos"),
        r6(sum(col("failure_next")) * lit(1.0) / count(lit(1))).as("frac_pos"))
  }

  /** Isotonic calibration of the reliability curve (Barlow et al.
    * 1972; Zadrozny & Elkan KDD 2002): fit the best NON-DECREASING
    * step function to the per-bucket positive rates — the standard
    * score→probability recalibration between the raw model and the
    * threshold rule. Computed via the minimax identity
    *   iso(i) = max_{j ≤ i} min_{k ≥ i} (Σ pos[j..k]) / (Σ n[j..k])
    * (Robertson–Wright–Dykstra), equivalent to the sequential
    * pool-adjacent-violators walk but DECLARATIVE: on the B-bounded
    * bin frame the O(B³) interval grid is three joins over ≤ B²
    * rows — no driver loop, no recursion, and the engine plans it
    * like any other bounded rollup (the eqdepth small-frame class).
    * Determinism: every interval average is ONE IEEE divide of exact
    * integer sums, and min/max over those doubles pick identical
    * values cross-engine. Input: a (bucket, n, n_pos) frame with
    * buckets in score order. */
  def isotonicCalibration(bins: DataFrame): DataFrame = {
    // the bin frame feeds the cum window, the i-grid, AND the output
    // join — checkpoint it so the (possibly expensive) upstream that
    // PRODUCED the bins runs once, not three times
    val bb = Materialize(bins)
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = Materialize(bb
      .withColumn("cp", sum(col("n_pos")).over(wCum))
      .withColumn("cn", sum(col("n")).over(wCum))) // B rows; feeds both sides of the interval grid
    val jSide = c.select(col("bucket").as("j"),
      (col("cp") - col("n_pos")).as("pj"), (col("cn") - col("n")).as("nj"))
    val kSide = c.select(col("bucket").as("k"),
      col("cp").as("pk"), col("cn").as("nk"))
    val iv = jSide.join(kSide, col("k") >= col("j"))
      .select(col("j"), col("k"),
        ((col("pk") - col("pj")).cast("double") /
          (col("nk") - col("nj")).cast("double")).as("avgv"))
    val iso = bb.select(col("bucket").as("i"))
      .join(iv, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("avgv")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso"))
    bb.join(iso, col("bucket") === col("i"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("(n_pos * 1000000) div n").as("raw_micro"),
        (round(col("iso"), 6) + lit(0.0)).as("iso_cal"))
      .orderBy(col("bucket"))
  }

  /** Lift / gains table over the alerting score (r10 s3): sort by
    * score descending, cut into deciles, and report how many of ALL
    * failures the top k/10 of alerts captures (gain) and how much
    * better than random that is (lift) — the triage-budget question
    * ("page on the top decile only — what do we catch?") that
    * precision/recall at one threshold can't answer.
    *
    * Shape: the ml_auc_exact discipline — pre-aggregate to the
    * DISTINCT-score value frame, run the cumulative and whole-frame
    * windows THERE (same priced-in class as the exact AUC: the frame
    * is score-NDV-sized), and assign deciles at the BLOCK level
    * (decile of a tie-block = (start·10) div n + 1 of its first
    * element) so tied scores are never split across buckets — the
    * statistically honest choice and the deterministic one. gain and
    * lift are exact-integer cross-ratios with one rounded division
    * each.
    */
  def liftTable(scoredDf: DataFrame, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bv = scoredDf.groupBy(col("value_mean_7").as("score"))
      .agg(count(lit(1)).as("nv"), sum(col("failure_next")).cast("long").as("pv"))
    val desc = Window.orderBy(col("score").desc)
    val cum = desc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = desc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bv
      .withColumn("cum_n", sum(col("nv")).over(cum))
      .withColumn("cum_pos", sum(col("pv")).over(cum))
      .withColumn("tn", sum(col("nv")).over(whole))
      .withColumn("tp", sum(col("pv")).over(whole))
      .withColumn("decile", expr(s"((cum_n - nv) * $buckets) div tn + 1"))
      .groupBy(col("decile"))
      .agg(
        sum(col("nv")).cast("long").as("n"),
        sum(col("pv")).cast("long").as("n_pos"),
        max(col("cum_n")).cast("long").as("cum_n"),
        max(col("cum_pos")).cast("long").as("cum_pos"),
        r6(max(col("cum_pos")).cast("double") / max(col("tp")).cast("double"))
          .as("gain"),
        r6((max(col("cum_pos")) * max(col("tn"))).cast("double") /
          (max(col("cum_n")) * max(col("tp"))).cast("double")).as("lift"))
      .orderBy(col("decile"))
  }

  /** A2 level 1: alerts per day. */
  def daily(scoredDf: DataFrame): DataFrame =
    scoredDf
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_obs"),
        sum(col("alert")).cast("long").as("n_alerts"),
        sum(col("failure_next")).cast("long").as("n_failures"),
        r6(avg(col("value_mean_7"))).as("avg_score"))
      .orderBy(col("day"))

  /** A2 level 2: agg-of-agg — mean alerts/day across days
    * (/root/reference/scripts/06_deployment_code.py:178-184). */
  def dailyAvg(scoredDf: DataFrame): DataFrame =
    daily(scoredDf).agg(
      count(lit(1)).as("n_days"),
      r6(avg(col("n_alerts"))).as("avg_alerts_per_day"))

  /** §4.3.1: the five separate count() jobs of
    * /root/reference/scripts/06_deployment_code.py:147-184 collapsed into
    * ONE aggregation pass (single scan, no re-scoring). Zero denominators
    * yield 0.0, matching the reference's `if > 0 else 0.0` guard
    * (06_deployment_code.py:165-170). */
  def confusion(scoredDf: DataFrame): DataFrame = {
    val cell = (a: Int, y: Int) =>
      sum(when(col("alert") === a && col("failure_next") === y, 1).otherwise(0)).cast("long")
    scoredDf.agg(
      cell(1, 1).as("tp"),
      cell(1, 0).as("fp"),
      cell(0, 1).as("fn"),
      cell(0, 0).as("tn"),
      count(lit(1)).as("n"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0, r6(col("tp") / (col("tp") + col("fp")))).otherwise(0.0))
      .withColumn("recall",
        when(col("tp") + col("fn") > 0, r6(col("tp") / (col("tp") + col("fn")))).otherwise(0.0))
  }

  /** Threshold-quality metrics beyond precision/recall — the one-row
    * readout that compares OPERATING POINTS fairly on an imbalanced
    * problem (the reference's 0.005%-positive regime is exactly where
    * accuracy and even F1 mislead): F1, balanced accuracy, Youden's J,
    * Cohen's κ, and Matthews correlation, all from the same one-pass
    * confusion frame. Overflow discipline (ADVICE r13): a PAIR PRODUCT
    * of confusion marginals — (tp+fp)·(fp+tn) etc. — exceeds 2⁶³ once
    * n passes ~3·10⁹ rows, and Spark 4's ANSI default (and DuckDB)
    * would throw mid-query at exactly the 100 TB design point; so each
    * MARGINAL (≤ n, always BIGINT-safe) is cast to double FIRST and
    * every product/sum/sqrt/divide after that is IEEE arithmetic in
    * pinned order, replayed operation-for-operation by the oracle (the
    * Mann–Kendall z convention). The ≤2⁵³ exactness loss this trades
    * away is ~1e-16 relative — invisible under the 6-dp rounding.
    * Undefined marginals → −1 sentinels. */
  def thresholdMetrics(scoredDf: DataFrame): DataFrame = {
    def d(c: Column): Column = c.cast("double")
    confusion(scoredDf)
      .withColumn("f1",
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          r6(col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn"))))
          .otherwise(lit(0.0)))
      .withColumn("balanced_acc",
        when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
          r6((col("tp") / (col("tp") + col("fn")) +
            col("tn") / (col("tn") + col("fp"))) / 2))
          .otherwise(lit(-1.0)))
      .withColumn("youden_j",
        when(col("tp") + col("fn") > 0 && col("tn") + col("fp") > 0,
          r6(col("tp") / (col("tp") + col("fn")) +
            col("tn") / (col("tn") + col("fp")) - 1))
          .otherwise(lit(-1.0)))
      .withColumn("kappa",
        when(d(col("tp") + col("fp")) * d(col("fp") + col("tn")) +
          d(col("tp") + col("fn")) * d(col("fn") + col("tn")) > 0,
          r6((d(col("tp")) * d(col("tn")) - d(col("fp")) * d(col("fn"))) * 2 /
            (d(col("tp") + col("fp")) * d(col("fp") + col("tn")) +
              d(col("tp") + col("fn")) * d(col("fn") + col("tn")))))
          .otherwise(lit(-1.0)))
      .withColumn("mcc",
        when((col("tp") + col("fp")) > 0 && (col("tp") + col("fn")) > 0 &&
          (col("tn") + col("fp")) > 0 && (col("tn") + col("fn")) > 0,
          r6((d(col("tp")) * d(col("tn")) - d(col("fp")) * d(col("fn"))) /
            sqrt(d(col("tp") + col("fp")) * d(col("tp") + col("fn")) *
              (d(col("tn") + col("fp")) * d(col("tn") + col("fn"))))))
          .otherwise(lit(-1.0)))
  }

  /** Expected / maximum calibration error over the [0,1]-normalized
    * score (Naeini et al., AAAI 2015's ECE; MCE beside it): per
    * equi-width confidence bin, |accuracy − confidence| with the
    * n_b/N weight — and the per-bin weighted gap collapses to the
    * EXACT decimal |pos_b − Σs01_b| (n_b·|pos/n − ssum/n| = |pos −
    * ssum|), so ECE = Σ|pos_b − ssum_b| / N is one divide over an
    * exact decimal sum. Per-row normalized scores are 6-dp-rounded
    * into DECIMAL before summing (the corrMatrix dsum discipline —
    * order-free). Emits the psiDrift shape: per-bin rows + the
    * window-summed totals. */
  def calibrationError(scoredDf: DataFrame, buckets: Int = 10): DataFrame = {
    val b = scoredDf
      .agg(min(col("value_mean_7")).as("lo"), max(col("value_mean_7")).as("hi"))
      .withColumn("k", lit(1))
    val s01 = when(col("hi") === col("lo"), lit(0.5))
      .otherwise((col("value_mean_7") - col("lo")) / (col("hi") - col("lo")))
    val bins = scoredDf.withColumn("k", lit(1)).join(broadcast(b), "k")
      .withColumn("s01r", round(s01, 6).cast("decimal(10,6)"))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(floor(s01 * buckets), lit(buckets - 1L)).cast("long")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("failure_next")).cast("long").as("n_pos"),
        sum(col("s01r")).as("ssum"))
      .withColumn("contrib", abs(col("n_pos") - col("ssum")))
    val w = Window.partitionBy()
    bins.select(
      col("bucket"), col("n"), col("n_pos"),
      r6(col("ssum").cast("double") / col("n")).as("conf"),
      r6(col("n_pos") / col("n")).as("acc"),
      r6(col("contrib").cast("double") / col("n")).as("gap"),
      r6(sum(col("contrib")).over(w).cast("double") /
        sum(col("n")).over(w)).as("ece_total"),
      r6(max(col("contrib").cast("double") / col("n")).over(w)).as("mce_total"))
      .orderBy(col("bucket"))
  }

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB). Mirrors the Spark lineage above 1:1; kept
  // adjacent so the two cannot drift silently. Conventions for exact
  // cross-engine hash parity:
  //  - ROUND(x,6)+0 on every derived float (+0 collapses −0.0);
  //  - CAST(SUM(...) AS BIGINT) — DuckDB sums integers to HUGEINT;
  //  - ROWS frames + STDDEV_SAMP to match Spark window semantics;
  //  - total ORDER BY with unique tiebreak on every emitted result.
  // `ts` needs no truncation: DuckDB 1.0 truncates TIMESTAMP(NANOS)
  // parquet to µs exactly like our Tables.events `div 1000`.
  // ---------------------------------------------------------------------

  val baseSql: String =
    s"""SELECT event_id, ts, user_id, value,
       |       CASE WHEN event_type = '$FailureType' THEN 1 ELSE 0 END AS is_error
       |FROM events""".stripMargin

  val featSql: String =
    s"""WITH base AS ($baseSql),
       |lab AS (
       |  SELECT *, CASE WHEN LEAD(is_error, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
       |                 THEN 1 ELSE 0 END AS failure_next
       |  FROM base),
       |filt AS (SELECT * FROM lab WHERE is_error = 0),
       |feat AS (
       |  SELECT event_id, ts, user_id, value, is_error, failure_next,
       |         ROUND(AVG(value) OVER w7, 6) + 0 AS value_mean_7,
       |         ROUND(COALESCE(STDDEV_SAMP(value) OVER w7, 0), 6) + 0 AS value_std_7,
       |         MAX(value) OVER w7 AS value_max_7,
       |         ROUND(AVG(value) OVER w14, 6) + 0 AS value_mean_14,
       |         ROUND(COALESCE(value - LAG(value, 1) OVER wu, 0), 6) + 0 AS value_delta_1,
       |         ROW_NUMBER() OVER wu AS obs_seq
       |  FROM filt
       |  WINDOW
       |    wu  AS (PARTITION BY user_id ORDER BY ts, event_id),
       |    w7  AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       |    w14 AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))""".stripMargin

  def scoredSql(tau: Double = Tau): String =
    s"""$featSql,
       |scored AS (
       |  SELECT *, CASE WHEN value_mean_7 >= $tau THEN 1 ELSE 0 END AS alert
       |  FROM feat)""".stripMargin

  // ---------------------------------------------------------------------
  // Declared queries (driver contract).
  // ---------------------------------------------------------------------

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  val defs: Seq[Q] = Seq(
    Q("telemetry_labeled",
      s"""WITH base AS ($baseSql)
         |SELECT *, CASE WHEN LEAD(is_error, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
         |               THEN 1 ELSE 0 END AS failure_next
         |FROM base ORDER BY event_id""".stripMargin) {
      (s, dir) => labeled(ev(s, dir)).orderBy("event_id")
    },
    Q("telemetry_features",
      s"$featSql SELECT * FROM feat ORDER BY event_id") {
      (s, dir) => features(ev(s, dir)).orderBy("event_id")
    },
    Q("telemetry_scored",
      s"${scoredSql()} SELECT * FROM scored ORDER BY event_id") {
      (s, dir) => scored(ev(s, dir)).orderBy("event_id")
    },

    // Calibration / reliability curve over the alerting score (r10):
    // does a score bucket's observed failure rate track the score? —
    // the deployment check between the threshold rule and the
    // confusion matrix. Equi-width buckets over the OBSERVED score
    // range via a broadcast bounds row (the ksDriftBucketed idiom —
    // both engines replay identical IEEE bucket arithmetic, and the
    // 6-dp score is decimal-exact to sum); one data-sized aggregate,
    // bucket-bounded output.
    Q("ml_calibration_curve",
      s"""${scoredSql()},
         |b AS (SELECT MIN(value_mean_7) AS lo, MAX(value_mean_7) AS hi FROM scored),
         |k AS (
         |  SELECT s.value_mean_7, s.failure_next,
         |         CASE WHEN b.hi = b.lo THEN 0
         |              ELSE LEAST(CAST(FLOOR((s.value_mean_7 - b.lo) / (b.hi - b.lo) * 10)
         |                         AS BIGINT), 9) END AS bucket
         |  FROM scored s, b)
         |SELECT bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       ROUND(CAST(SUM(CAST(value_mean_7 AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) + 0
         |         AS mean_score,
         |       CAST(SUM(failure_next) AS BIGINT) AS n_pos,
         |       ROUND(SUM(failure_next) * 1.0 / COUNT(*), 6) + 0 AS frac_pos
         |FROM k GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      calibration(scored(ev(s, dir))).orderBy(col("bucket"))
    },

    // Isotonic recalibration of the reliability curve (see
    // isotonicCalibration): the PAV fit via the minimax closed form on
    // the bucket frame — monotone by construction, every interval
    // average one IEEE divide of exact integers.
    Q("ml_isotonic_calibration",
      s"""${scoredSql()},
         |b AS (SELECT MIN(value_mean_7) AS lo, MAX(value_mean_7) AS hi FROM scored),
         |kk AS (
         |  SELECT s.failure_next,
         |         CASE WHEN b.hi = b.lo THEN 0
         |              ELSE LEAST(CAST(FLOOR((s.value_mean_7 - b.lo) / (b.hi - b.lo) * 10)
         |                         AS BIGINT), 9) END AS bucket
         |  FROM scored s, b),
         |bins AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(failure_next) AS BIGINT) AS n_pos
         |  FROM kk GROUP BY bucket),
         |c AS (
         |  SELECT bucket, n, n_pos,
         |         CAST(SUM(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cp,
         |         CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
         |  FROM bins),
         |iv AS (
         |  SELECT j.bucket AS j, k.bucket AS k,
         |         CAST(k.cp - (j.cp - j.n_pos) AS DOUBLE)
         |           / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avgv
         |  FROM c j JOIN c k ON k.bucket >= j.bucket),
         |m AS (
         |  SELECT i.bucket AS bucket, iv.j, MIN(iv.avgv) AS mn
         |  FROM bins i JOIN iv ON iv.j <= i.bucket AND iv.k >= i.bucket
         |  GROUP BY 1, 2),
         |iso AS (SELECT bucket, MAX(mn) AS iso FROM m GROUP BY 1)
         |SELECT b2.bucket, b2.n, b2.n_pos,
         |       CAST((b2.n_pos * 1000000) // b2.n AS BIGINT) AS raw_micro,
         |       ROUND(iso.iso, 6) + 0 AS iso_cal
         |FROM bins b2 JOIN iso USING (bucket) ORDER BY bucket""".stripMargin) {
      (s, dir) =>
        isotonicCalibration(
          calibration(scored(ev(s, dir))).select(col("bucket"), col("n"), col("n_pos")))
    },

    // Lift / gains table (r10 s3): deciles over the descending score
    // with tie-blocks never split — see liftTable's scaladoc.
    Q("ml_lift_table",
      s"""${scoredSql()},
         |bv AS (
         |  SELECT value_mean_7 AS score, COUNT(*) AS nv,
         |         SUM(failure_next) AS pv
         |  FROM scored GROUP BY 1),
         |c AS (
         |  SELECT score, nv, pv,
         |         SUM(nv) OVER (ORDER BY score DESC
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         |         SUM(pv) OVER (ORDER BY score DESC
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         |         SUM(nv) OVER () AS tn,
         |         SUM(pv) OVER () AS tp
         |  FROM bv),
         |d AS (SELECT *, (cum_n - nv) * 10 // tn + 1 AS decile FROM c)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |       CAST(SUM(nv) AS BIGINT) AS n,
         |       CAST(SUM(pv) AS BIGINT) AS n_pos,
         |       CAST(MAX(cum_n) AS BIGINT) AS cum_n,
         |       CAST(MAX(cum_pos) AS BIGINT) AS cum_pos,
         |       ROUND(CAST(MAX(cum_pos) AS DOUBLE) / CAST(MAX(tp) AS DOUBLE), 6) + 0
         |         AS gain,
         |       ROUND(CAST(MAX(cum_pos) * MAX(tn) AS DOUBLE)
         |             / CAST(MAX(cum_n) * MAX(tp) AS DOUBLE), 6) + 0 AS lift
         |FROM d GROUP BY decile ORDER BY decile""".stripMargin) { (s, dir) =>
      liftTable(scored(ev(s, dir)))
    },

    Q("telemetry_daily",
      s"""${scoredSql()}
         |SELECT CAST(ts AS DATE) AS day,
         |       COUNT(*) AS n_obs,
         |       CAST(SUM(alert) AS BIGINT) AS n_alerts,
         |       CAST(SUM(failure_next) AS BIGINT) AS n_failures,
         |       ROUND(AVG(value_mean_7), 6) + 0 AS avg_score
         |FROM scored GROUP BY 1 ORDER BY day""".stripMargin) {
      (s, dir) => daily(scored(ev(s, dir)))
    },
    Q("telemetry_daily_avg",
      s"""${scoredSql()},
         |d AS (SELECT CAST(ts AS DATE) AS day, CAST(SUM(alert) AS BIGINT) AS n_alerts
         |      FROM scored GROUP BY 1)
         |SELECT COUNT(*) AS n_days, ROUND(AVG(n_alerts), 6) + 0 AS avg_alerts_per_day
         |FROM d""".stripMargin) {
      (s, dir) => dailyAvg(scored(ev(s, dir)))
    },
    Q("telemetry_confusion",
      s"""${scoredSql()},
         |c AS (
         |  SELECT CAST(SUM(CASE WHEN alert = 1 AND failure_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN alert = 1 AND failure_next = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(SUM(CASE WHEN alert = 0 AND failure_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |         CAST(SUM(CASE WHEN alert = 0 AND failure_next = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         COUNT(*) AS n
         |  FROM scored)
         |SELECT *,
         |       CASE WHEN tp + fp > 0 THEN ROUND(tp / (tp + fp), 6) + 0 ELSE 0.0 END AS precision,
         |       CASE WHEN tp + fn > 0 THEN ROUND(tp / (tp + fn), 6) + 0 ELSE 0.0 END AS recall
         |FROM c""".stripMargin) {
      (s, dir) => confusion(scored(ev(s, dir)))
    },

    // Full operating-point readout (see thresholdMetrics) — wired as a
    // declared query per ADVICE r12 (it was library-only dead code):
    // F1 / balanced accuracy / Youden's J / Cohen's κ / MCC from the
    // same one-pass confusion frame. Every divide replays in DuckDB;
    // κ/MCC cast each MARGINAL to double before any product (BIGINT
    // pair products would overflow both engines past ~3e9 rows —
    // ADVICE r13) and run the same IEEE ops in the same pinned order.
    Q("telemetry_threshold_metrics",
      s"""${scoredSql()},
         |c AS (
         |  SELECT CAST(SUM(CASE WHEN alert = 1 AND failure_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(SUM(CASE WHEN alert = 1 AND failure_next = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(SUM(CASE WHEN alert = 0 AND failure_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |         CAST(SUM(CASE WHEN alert = 0 AND failure_next = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |         COUNT(*) AS n
         |  FROM scored),
         |m AS (
         |  SELECT *,
         |         CASE WHEN tp + fp > 0 THEN ROUND(tp / (tp + fp), 6) + 0 ELSE 0.0 END AS precision,
         |         CASE WHEN tp + fn > 0 THEN ROUND(tp / (tp + fn), 6) + 0 ELSE 0.0 END AS recall
         |  FROM c)
         |SELECT *,
         |       CASE WHEN tp * 2 + fp + fn > 0
         |            THEN ROUND(tp * 2 / (tp * 2 + fp + fn), 6) + 0 ELSE 0.0 END AS f1,
         |       CASE WHEN tp + fn > 0 AND tn + fp > 0
         |            THEN ROUND((tp / (tp + fn) + tn / (tn + fp)) / 2, 6) + 0
         |            ELSE -1.0 END AS balanced_acc,
         |       CASE WHEN tp + fn > 0 AND tn + fp > 0
         |            THEN ROUND(tp / (tp + fn) + tn / (tn + fp) - 1, 6) + 0
         |            ELSE -1.0 END AS youden_j,
         |       CASE WHEN CAST(tp + fp AS DOUBLE) * CAST(fp + tn AS DOUBLE) +
         |                 CAST(tp + fn AS DOUBLE) * CAST(fn + tn AS DOUBLE) > 0
         |            THEN ROUND((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) -
         |                        CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) * 2 /
         |                       (CAST(tp + fp AS DOUBLE) * CAST(fp + tn AS DOUBLE) +
         |                        CAST(tp + fn AS DOUBLE) * CAST(fn + tn AS DOUBLE)), 6) + 0
         |            ELSE -1.0 END AS kappa,
         |       CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
         |            THEN ROUND((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) -
         |                        CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) /
         |                       sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) *
         |                            (CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))), 6) + 0
         |            ELSE -1.0 END AS mcc
         |FROM m""".stripMargin) {
      (s, dir) => thresholdMetrics(scored(ev(s, dir)))
    },

    // Expected/maximum calibration error over the [0,1]-normalized
    // score (see calibrationError) — wired per ADVICE r12. The per-bin
    // weighted gap collapses to |pos_b − Σs01_b| on 6-dp DECIMAL
    // rounded scores, so ECE/MCE are exact-decimal sums + one IEEE
    // divide each; both engines replay the identical bucket and
    // normalization arithmetic (the ml_calibration_curve idiom).
    Q("telemetry_calibration_error",
      s"""${scoredSql()},
         |b AS (SELECT MIN(value_mean_7) AS lo, MAX(value_mean_7) AS hi FROM scored),
         |k AS (
         |  SELECT s.failure_next,
         |         CASE WHEN b.hi = b.lo THEN CAST(0.5 AS DOUBLE)
         |              ELSE (s.value_mean_7 - b.lo) / (b.hi - b.lo) END AS s01,
         |         CASE WHEN b.hi = b.lo THEN 0
         |              ELSE LEAST(CAST(FLOOR((s.value_mean_7 - b.lo) / (b.hi - b.lo) * 10)
         |                         AS BIGINT), 9) END AS bucket
         |  FROM scored s, b),
         |g AS (
         |  SELECT bucket, COUNT(*) AS n,
         |         CAST(SUM(failure_next) AS BIGINT) AS n_pos,
         |         SUM(CAST(ROUND(s01, 6) AS DECIMAL(10,6))) AS ssum
         |  FROM k GROUP BY bucket),
         |h AS (SELECT *, ABS(n_pos - ssum) AS contrib FROM g)
         |SELECT bucket, n, n_pos,
         |       ROUND(CAST(ssum AS DOUBLE) / n, 6) + 0 AS conf,
         |       ROUND(n_pos / n, 6) + 0 AS acc,
         |       ROUND(CAST(contrib AS DOUBLE) / n, 6) + 0 AS gap,
         |       ROUND(CAST(SUM(contrib) OVER () AS DOUBLE) / SUM(n) OVER (), 6) + 0 AS ece_total,
         |       ROUND(MAX(CAST(contrib AS DOUBLE) / n) OVER (), 6) + 0 AS mce_total
         |FROM h ORDER BY bucket""".stripMargin) {
      (s, dir) => calibrationError(scored(ev(s, dir)))
    },
    // §7.5.1 range-frame variant: CALENDAR 7-day window (value-based
    // frame over epoch seconds) vs the reference's row-count frames —
    // a reporting gap no longer silently shifts the horizon. Range
    // frames need a single numeric sort key; ties (same second) are
    // peers and enter the frame together, so the result is
    // deterministic without an id tiebreak.
    Q("telemetry_features_range",
      """WITH b AS (
        |  SELECT event_id, user_id, value, epoch_us(ts) // 1000000 AS sec
        |  FROM events)
        |SELECT event_id, user_id, value, sec,
        |       ROUND(AVG(value) OVER wr, 6) + 0 AS mean_7d,
        |       COUNT(*) OVER wr AS n_7d
        |FROM b
        |WINDOW wr AS (PARTITION BY user_id ORDER BY sec
        |              RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val sec = expr("unix_micros(ts) div 1000000")
      val wr = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-6L * 86400L, 0L)
      ev(s, dir)
        .select(col("event_id"), col("user_id"), col("value"), sec.as("sec"))
        .select(col("*"),
          r6(avg(col("value")).over(wr)).as("mean_7d"),
          count(lit(1)).over(wr).as("n_7d"))
        .orderBy("event_id")
    },

    Q("telemetry_alerts_sink",
      s"""${scoredSql()}
         |SELECT event_id, ts, user_id, value_mean_7, alert
         |FROM scored WHERE alert = 1 ORDER BY event_id""".stripMargin) {
      (s, dir) =>
        scored(ev(s, dir))
          .filter(col("alert") === 1)
          .select("event_id", "ts", "user_id", "value_mean_7", "alert")
          .orderBy("event_id")
    },
  )
}
