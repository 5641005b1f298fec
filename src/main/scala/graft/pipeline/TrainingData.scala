package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Training-data preparation (reference script 04): chronological split
  * → class separation → negative downsampling → recombination
  * (/root/reference/scripts/04_prepare_training_data.py:34-68).
  *
  * Two downsampling forms:
  *  - `downsampled`: the reference's seeded Bernoulli sample with a
  *    computed fraction (04:60-66). Cross-engine nondeterministic
  *    (Spark's seeded RNG ≠ DuckDB's) → declared WITHOUT oracle SQL;
  *    invariants (all positives kept, negative bound, determinism
  *    within Spark) are ScalaTest-checked.
  *  - the `downsample_det_union` query: a deterministic modulo-on-key
  *    variant that IS oracle-checkable, proving the filter→union shape
  *    end-to-end. At 100 TB a hash/modulo predicate on a uniformly
  *    distributed key is also the more reproducible sampling primitive.
  *
  * Scale notes: splits are pure predicate pushdown (parquet min/max
  * row-group skipping at rest); the only driver-side values are the two
  * class counts feeding the sample fraction (bounded scalars, same as
  * the reference). `unionByName` is a zero-shuffle concatenation.
  */
object TrainingData {

  /** Chronological boundaries over the events analog (Jan 2024 data;
    * reference uses '2025-08-25'/'2025-09-15',
    * 04_prepare_training_data.py:34-36). */
  val TrainEnd = "2024-01-15 00:00:00"
  val ValidEnd = "2024-01-22 00:00:00"

  def train(feat: DataFrame): DataFrame = feat.filter(col("ts") < lit(TrainEnd).cast("timestamp"))
  def valid(feat: DataFrame): DataFrame =
    feat.filter(col("ts") >= lit(TrainEnd).cast("timestamp") &&
      col("ts") < lit(ValidEnd).cast("timestamp"))
  def test(feat: DataFrame): DataFrame = feat.filter(col("ts") >= lit(ValidEnd).cast("timestamp"))

  /** F3: class separation. */
  def positives(df: DataFrame): DataFrame = df.filter(col("failure_next") === 1)
  def negatives(df: DataFrame): DataFrame = df.filter(col("failure_next") === 0)

  /** O4 + U1: the reference's downsample — keep ALL positives, sample
    * negatives to ~ratio:1 with a computed fraction, recombine by name.
    * The two counts are the only driver-side values (bounded scalars,
    * mirroring 04_prepare_training_data.py:49-66). */
  def downsampled(df: DataFrame, ratio: Double = 100.0, seed: Long = 42L): DataFrame = {
    val counts = df.groupBy(col("failure_next")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pos = counts.getOrElse(1, 0L)
    val neg = counts.getOrElse(0, 1L)
    val fraction = math.min(1.0, pos * ratio / neg.toDouble)
    positives(df).unionByName(negatives(df).sample(withReplacement = false, fraction, seed))
  }

  private def feat(s: SparkSession, dir: String): DataFrame =
    Telemetry.features(Tables.events(s, dir))

  private val splitCase =
    s"""CASE WHEN ts < TIMESTAMP '$TrainEnd' THEN 'train'
       |     WHEN ts < TIMESTAMP '$ValidEnd' THEN 'valid'
       |     ELSE 'test' END""".stripMargin

  /** Leakage-safe GROUPED k-fold assignment (r10): the fold is a
    * function of the GROUP key (user), never the row, so every row of
    * a user lands in one fold — the grouped-CV discipline that keeps
    * correlated per-entity rows from leaking across train/test folds
    * (row-level folding on timeline data overfits silently). Hash
    * assignment, not RNG — a rerun, a resumed job, or a different
    * engine assigns identical folds (the hashSplit rationale). */
  def groupKFold(events: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 2, "groupKFold: need k >= 2")
    val lab = Telemetry.labeled(events)
    val folds = lab.select(col("user_id")).distinct()
      .withColumn("fold",
        conv(substring(md5(concat(lit("fold:"), col("user_id").cast("string"))), 1, 8),
          16, 10).cast("long") % k)
    lab.join(folds, "user_id")
      .groupBy(col("fold"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_rows"),
        sum(col("failure_next")).cast("long").as("n_pos"),
        (round(sum(col("failure_next")) * lit(1.0) / count(lit(1)), 6) + lit(0.0))
          .as("pos_rate"))
  }

  val defs: Seq[Q] = Seq(

    // Grouped k-fold report (r10): fold id, user/row counts, and label
    // balance per fold — the oracle replays the md5-mod assignment AND
    // the label pipeline, so the ASSIGNMENT is hash-pinned, not just
    // the counts; balance across folds is the stratification-quality
    // readout a CV harness checks before trusting fold metrics.
    Q("ml_group_kfold",
      s"""WITH base AS (${Telemetry.baseSql}),
         |lab AS (
         |  SELECT *, CASE WHEN LEAD(is_error, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
         |                 THEN 1 ELSE 0 END AS failure_next
         |  FROM base),
         |f AS (
         |  SELECT user_id,
         |         CAST(concat('0x', substr(md5('fold:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
         |  FROM (SELECT DISTINCT user_id FROM base))
         |SELECT f.fold,
         |       CAST(COUNT(DISTINCT l.user_id) AS BIGINT) AS n_users,
         |       CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(l.failure_next) AS BIGINT) AS n_pos,
         |       ROUND(SUM(l.failure_next) * 1.0 / COUNT(*), 6) + 0 AS pos_rate
         |FROM lab l JOIN f ON f.user_id = l.user_id
         |GROUP BY f.fold ORDER BY f.fold""".stripMargin) { (s, dir) =>
      groupKFold(Tables.events(s, dir)).orderBy(col("fold"))
    },

    // Leakage-safe out-of-fold target encoding (r10 s4): replace a
    // categorical feature (customer market segment) with the target
    // rate estimated from the OTHER folds — encoding fold f's rows
    // with statistics that include fold f leaks the label into the
    // feature (the classic target-encoding overfit; Micci-Barreca
    // 2001 is the smoothing form). Encoded value for (segment, fold):
    //   (pos_excl + α·prior) / (n_excl + α),  α = 10, prior = P/N
    // computed EXACTLY as one integer division — cross-multiplied to
    //   (pos_excl·N + α·P) / (N·(n_excl + α))
    // so both operands are exact BIGINTs (< 2^53) and the quotient is
    // a single correctly-rounded IEEE divide, hash-stable. The md5
    // fold assignment is the hashSplit/groupKFold idiom (rerun- and
    // engine-stable). Shape for scale: one custkey-keyed fact join,
    // ONE data-sized (segment, fold) aggregate; the exclusion
    // arithmetic runs on the |segments|·|folds| frame (25 rows) via
    // two broadcast re-aggregates — per-row encoded output is then a
    // broadcast map join, never a second scan.
    Q("ml_target_encode",
      """WITH r AS (
        |  SELECT c.c_mktsegment AS seg,
        |         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |         CAST(concat('0x', substr(md5('te:' || CAST(o.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |sf AS (
        |  SELECT seg, fold, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(y) AS BIGINT) AS pos
        |  FROM r GROUP BY 1, 2),
        |st AS (
        |  SELECT seg, CAST(SUM(n) AS BIGINT) AS tn,
        |         CAST(SUM(pos) AS BIGINT) AS tpos
        |  FROM sf GROUP BY 1),
        |g AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS gn,
        |         CAST(SUM(pos) AS BIGINT) AS gpos
        |  FROM sf)
        |SELECT sf.seg, sf.fold, sf.n AS n_rows, sf.pos AS n_pos,
        |       CAST((st.tpos - sf.pos) * g.gn + 10 * g.gpos AS DOUBLE)
        |         / CAST(g.gn * ((st.tn - sf.n) + 10) AS DOUBLE) AS enc
        |FROM sf JOIN st ON st.seg = sf.seg CROSS JOIN g
        |ORDER BY sf.seg, sf.fold""".stripMargin) { (s, dir) =>
      val r = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_orderstatus") === "F").cast("long").as("y"))
        .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
        .withColumn("fold",
          conv(substring(md5(concat(lit("te:"),
            col("o_orderkey").cast("string"))), 1, 8), 16, 10).cast("long") % 5)
      targetEncodeFolds(r, alpha = 10).orderBy(col("seg"), col("fold"))
    },

    // Split conformal prediction (Vovk's inductive conformal; Lei et
    // al., JASA 2018; Angelopoulos & Bates 2023): the distribution-free
    // serving-side guarantee every deployed point predictor should ship
    // with — calibrate a residual quantile on held-out data, then
    // |y − ŷ| ≤ q̂ covers ≥ 90% of exchangeable test rows, NO model or
    // distribution assumptions. Predictor: per-part mean price from the
    // train split (floor-div cents — exact, the target-encode class;
    // unseen parts fall back to the global train mean). q̂ is the
    // ⌈(n_cal+1)·0.9⌉-th smallest calibration score — the EXACT order
    // statistic, not an approximate percentile: selected from the
    // collapsed score-frequency frame (the eqdepth discipline; the
    // cum-window sees score-domain-bounded rows, never the raw split).
    // Everything is BIGINT cents/µ-units end to end — no float on any
    // value path. Shape for scale: one fact pass builds split+cents,
    // the train aggregate is part-bounded (broadcast back), cal/test
    // are map work over the same pass, output is ONE row.
    Q("ml_conformal_interval",
      """WITH r AS (
        |  SELECT l_partkey AS grp,
        |         CAST(CAST(l_extendedprice AS DECIMAL(20,2)) * 100 AS BIGINT) AS cents,
        |         CAST(concat('0x', substr(md5('cp:' || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
        |  FROM lineitem),
        |s AS (
        |  SELECT grp, cents,
        |         CASE WHEN b < 6 THEN 'train' WHEN b < 8 THEN 'cal' ELSE 'test' END AS split
        |  FROM r),
        |tp AS (SELECT grp, CAST(SUM(cents) AS BIGINT) // COUNT(*) AS pred
        |       FROM s WHERE split = 'train' GROUP BY 1),
        |g AS (SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) AS gpred,
        |             CAST(COUNT(*) AS BIGINT) AS n_train
        |      FROM s WHERE split = 'train'),
        |sc AS (SELECT s.split, abs(s.cents - COALESCE(tp.pred, g.gpred)) AS score
        |       FROM s LEFT JOIN tp USING (grp) CROSS JOIN g WHERE s.split <> 'train'),
        |ch AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM sc WHERE split = 'cal' GROUP BY 1),
        |cc AS (SELECT score,
        |              SUM(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum,
        |              CAST(SUM(cnt) OVER () AS BIGINT) AS n_cal
        |       FROM ch),
        |q AS (SELECT score AS qhat, n_cal FROM cc
        |      WHERE cum >= ((n_cal + 1) * 900000 + 999999) // 1000000
        |      ORDER BY score LIMIT 1)
        |SELECT g.n_train, q.n_cal,
        |       CAST(COUNT(*) AS BIGINT) AS n_test,
        |       q.qhat AS qhat_cents,
        |       CAST(2 * q.qhat AS BIGINT) AS width_cents,
        |       CAST(SUM(CASE WHEN sc.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |       (CAST(SUM(CASE WHEN sc.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
        |         // CAST(COUNT(*) AS BIGINT) AS coverage_micro
        |FROM sc CROSS JOIN q CROSS JOIN g
        |WHERE sc.split = 'test'
        |GROUP BY g.n_train, q.n_cal, q.qhat""".stripMargin) { (s, dir) =>
      val rows = Tables.lineitem(s, dir)
        .withColumn("b",
          conv(substring(md5(concat(lit("cp:"),
            (col("l_orderkey") * 10 + col("l_linenumber")).cast("string"))), 1, 8),
            16, 10).cast("long") % 10)
        .select(
          col("l_partkey").as("grp"),
          (col("l_extendedprice").cast("decimal(20,2)") * lit(100)).cast("long").as("cents"),
          when(col("b") < 6, "train").when(col("b") < 8, "cal").otherwise("test").as("split"))
      conformalReport(rows, covMicro = 900000L)
    },

    // F2: the three chronological splits as row-level queries.
    Q("split_train",
      s"${Telemetry.featSql} SELECT * FROM feat WHERE ts < TIMESTAMP '$TrainEnd' ORDER BY event_id") {
      (s, dir) => train(feat(s, dir)).orderBy("event_id")
    },
    Q("split_valid",
      s"""${Telemetry.featSql}
         |SELECT * FROM feat
         |WHERE ts >= TIMESTAMP '$TrainEnd' AND ts < TIMESTAMP '$ValidEnd'
         |ORDER BY event_id""".stripMargin) {
      (s, dir) => valid(feat(s, dir)).orderBy("event_id")
    },
    Q("split_test",
      s"${Telemetry.featSql} SELECT * FROM feat WHERE ts >= TIMESTAMP '$ValidEnd' ORDER BY event_id") {
      (s, dir) => test(feat(s, dir)).orderBy("event_id")
    },

    // F2/A1: split × class histogram — disjointness/exhaustiveness is
    // oracle-checked because total n must reconcile with split_* rows.
    Q("split_chrono_counts",
      s"""${Telemetry.featSql}
         |SELECT $splitCase AS split,
         |       COUNT(*) AS n,
         |       CAST(SUM(failure_next) AS BIGINT) AS n_pos
         |FROM feat GROUP BY 1 ORDER BY split""".stripMargin) { (s, dir) =>
      feat(s, dir)
        .withColumn("split",
          when(col("ts") < lit(TrainEnd).cast("timestamp"), "train")
            .when(col("ts") < lit(ValidEnd).cast("timestamp"), "valid")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("failure_next")).cast("long").as("n_pos"))
        .orderBy(col("split"))
    },

    // F3: label-equality separation (positives of the training split).
    Q("split_label_pos",
      s"""${Telemetry.featSql}
         |SELECT * FROM feat
         |WHERE ts < TIMESTAMP '$TrainEnd' AND failure_next = 1
         |ORDER BY event_id""".stripMargin) {
      (s, dir) => positives(train(feat(s, dir))).orderBy("event_id")
    },

    // O4/U1 deterministic variant: all positives ∪ modulo-sampled
    // negatives, recombined by name — the oracle-checkable proof of the
    // separate→sample→union shape.
    Q("downsample_det_union",
      s"""${Telemetry.featSql}
         |SELECT * FROM feat WHERE ts < TIMESTAMP '$TrainEnd' AND failure_next = 1
         |UNION ALL
         |SELECT * FROM feat
         |WHERE ts < TIMESTAMP '$TrainEnd' AND failure_next = 0 AND event_id % 7 = 0
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val t = train(feat(s, dir))
      positives(t)
        .unionByName(negatives(t).filter(col("event_id") % 7 === 0))
        .orderBy("event_id")
    },

    // O4: the reference's seeded Bernoulli downsample+union — Spark-only
    // determinism, so no oracle (driver rows-only check; invariants in
    // TrainingDataSpec).
    Q.noOracle("sample_downsample_union") { (s, dir) =>
      downsampled(train(feat(s, dir))).orderBy("event_id")
    },

    // O3: random-order top-k (memory-safe negative sample for threshold
    // tuning, 05_01_model_training_xgboost_oom_fix.py:212-220).
    Q.noOracle("sample_topk_rand") { (s, dir) =>
      negatives(feat(s, dir))
        .orderBy(rand(42), col("event_id"))
        .limit(2000)
    },

    // Weighted reservoir sampling (Efraimidis–Spirakis, IPL 2006):
    // key = u^(1/w) per doc with a DETERMINISTIC md5 uniform, take
    // the k largest — one distributed pass, inclusion probability ∝
    // weight, reproducible run over run (unlike rand()). Selection
    // ranks the 6-dp-rounded key with a doc_id tiebreak, so both
    // engines pick the identical sample despite libm pow being the
    // only float in play (same final-round convention as every
    // derived float here). Scale: top-k by key is
    // TakeOrderedAndProject — per-partition k then one driver merge,
    // never a global sort.
    Q("sample_weighted_es",
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |         (CAST(concat('0x', substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
        |           / 4294967296.0 AS u
        |  FROM documents),
        |k AS (SELECT doc_id, w, ROUND(pow(u, 1.0 / w), 6) + 0 AS es_key FROM d),
        |r AS (SELECT doc_id, w, es_key,
        |             CAST(ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS BIGINT) AS rank
        |      FROM k)
        |SELECT doc_id, w, es_key, rank FROM r WHERE rank <= 32
        |ORDER BY rank""".stripMargin) { (s, dir) =>
      weightedSample(
        Tables.documents(s, dir)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w")),
        k = 32)
        .orderBy(col("rank"))
    },
  )

  /** Efraimidis–Spirakis one-pass weighted sampling without
    * replacement over (doc_id, w) rows: the k rows with the largest
    * u^(1/w) keys, u a deterministic per-doc hash uniform in (0, 1].
    * Heavier rows get keys nearer 1 — inclusion probability
    * proportional to weight, exactly the published construction, but
    * replayable (and oracle-checkable) because the randomness is the
    * md5 family, not a seed-threaded RNG. */
  def weightedSample(weighted: DataFrame, k: Int): DataFrame = {
    val u = (conv(substring(md5(concat(lit("es:"), col("doc_id"))), 1, 8), 16, 10)
      .cast("long") + lit(1L)) / lit(4294967296.0)
    // TakeOrderedAndProject does the distributed top-k (per-partition k
    // + one driver merge); the rank window then runs over k rows only
    val top = weighted
      .withColumn("es_key", round(pow(u, lit(1.0) / col("w")), 6) + lit(0.0))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rank",
      row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("es_key").desc, col("doc_id"))).cast("long"))
  }

  /** Out-of-fold target encoding over a (seg, fold, y) frame — see the
    * `ml_target_encode` declaration. Returns one row per observed
    * (seg, fold) with the smoothed encoding computed EXCLUDING that
    * fold's own rows:  (pos_excl·N + α·P) / (N·(n_excl + α))  as one
    * exact-integer IEEE divide (operands must stay < 2^53 — holds for
    * any per-run partition of a corpus; shard the encode by seg range
    * beyond that). */
  def targetEncodeFolds(r: DataFrame, alpha: Int): DataFrame = {
    require(alpha > 0, "targetEncodeFolds: alpha must be positive")
    // the (seg, fold) cell frame feeds the per-seg rollup, the global
    // rollup, AND the output join — checkpoint the |segs|·|folds| rows
    // so the data-sized aggregate (and its upstream fact join) runs
    // once, not once per consumer
    val sf = Materialize(r.groupBy(col("seg"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos")))
    val st = sf.groupBy(col("seg").as("seg2"))
      .agg(sum(col("n")).as("tn"), sum(col("pos")).as("tpos"))
    val g = sf.agg(sum(col("n")).as("gn"), sum(col("pos")).as("gpos"))
    sf.join(broadcast(st), col("seg") === col("seg2"))
      .crossJoin(broadcast(g))
      .select(col("seg"), col("fold"),
        col("n").as("n_rows"), col("pos").as("n_pos"),
        (((col("tpos") - col("pos")) * col("gn") + lit(alpha) * col("gpos"))
          .cast("double") /
          (col("gn") * (col("tn") - col("n") + lit(alpha))).cast("double"))
          .as("enc"))
  }

  /** Split conformal interval report over a prepared
    * (split ∈ train/cal/test, grp, cents) frame — see the
    * `ml_conformal_interval` declaration. Returns ONE row:
    * train/cal/test sizes, q̂ (the ⌈(n_cal+1)·cov⌉-th smallest
    * calibration |residual|), the resulting interval width, and the
    * realized test coverage in µ-units. `covMicro` is the target
    * coverage in µ-units (900000 = 90%).
    *
    * Exactness: the predictor is floor-div cents (BIGINT), scores are
    * BIGINT |differences|, q̂ is an exact order statistic read off the
    * cumulative count of the collapsed (score → freq) frame, and
    * coverage is integer µ-division — no float touches any value path,
    * so the single output row hash-pins at any SF.
    *
    * Shape for scale: the train aggregate collapses to the grp domain
    * (dim-bounded → broadcast back over the fact); the score
    * histogram collapses cal rows to the score domain before the one
    * single-partition cumulative window (the eqdepth/exact-quantile
    * discipline — at 100 TB the window input is the score-domain
    * frame, and a money domain is bounded; if the domain itself were
    * data-sized, the two-phase per-partition-histogram merge is the
    * documented path); the test pass is one map-side compare against
    * the broadcast 1-row q̂ frame. */
  def conformalReport(rows: DataFrame, covMicro: Long): DataFrame = {
    require(covMicro > 0 && covMicro < 1000000L,
      "conformalReport: covMicro must be in (0, 1000000)")
    val tr = rows.filter(col("split") === "train")
    val preds = tr.groupBy(col("grp"))
      .agg(expr("sum(cents) div count(1)").as("pred"))
    val gpred = tr.agg(
      expr("sum(cents) div count(1)").as("gpred"),
      count(lit(1)).as("n_train"))
    // one fact pass feeds the cal histogram AND the test compare
    val scored = Materialize(rows.filter(col("split") =!= "train")
      .join(broadcast(preds), Seq("grp"), "left_outer")
      .crossJoin(broadcast(gpred))
      .withColumn("score", abs(col("cents") - coalesce(col("pred"), col("gpred")))))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val q = scored.filter(col("split") === "cal")
      .groupBy(col("score")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_cal", sum(col("cnt")).over(wAll))
      .filter(col("cum") >=
        expr(s"((n_cal + 1) * $covMicro + 999999) div 1000000"))
      .orderBy(col("score")).limit(1)
      .select(col("score").as("qhat"), col("n_cal"))
    scored.filter(col("split") === "test")
      .crossJoin(broadcast(q))
      .groupBy(col("n_cal"), col("qhat"))
      .agg(
        count(lit(1)).as("n_test"),
        sum((col("score") <= col("qhat")).cast("long")).as("n_covered"))
      .crossJoin(broadcast(gpred.select(col("n_train"))))
      .select(
        col("n_train"), col("n_cal"), col("n_test"),
        col("qhat").as("qhat_cents"),
        (col("qhat") * 2).as("width_cents"),
        col("n_covered"),
        expr("(n_covered * 1000000) div n_test").as("coverage_micro"))
  }
}
