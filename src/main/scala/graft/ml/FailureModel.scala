package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.ml.classification.{GBTClassificationModel, GBTClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}
import graft.pipeline.{Telemetry, TrainingData}

/** ML capability layer (reference scripts 04–06, SURVEY §2.11):
  * distributed GBT training with class-imbalance weighting, UDF-free
  * scoring, PR-AUC evaluation, recall-driven threshold selection, and
  * the threshold/model artifact sidecars.
  *
  * Deliberate deltas from the reference, all Spark-first:
  *  - XGBoost's `scale_pos_weight = neg/pos`
  *    (/root/reference/scripts/05_01_model_training_xgboost_oom_fix.py:99-121)
  *    becomes MLlib `weightCol` with weight neg/pos on positives — same
  *    loss-reweighting intent, trains DISTRIBUTED (no toPandas driver
  *    boundary, 05_01:75-79).
  *  - scoring is `model.transform` + `vector_to_array` — a pure column
  *    path (the reference's per-row Python UDF, 05_01:131-147, is the
  *    expensive process boundary; X1/X2/X3 collapse into the MLlib
  *    transformer, which broadcasts the model itself).
  *  - threshold selection uses exact `approxQuantile(…, 0.0)` over the
  *    positives' scores (M4) instead of collect-then-sort (05_01:224-237)
  *    — no driver materialization of the score vector.
  */
object FailureModel {

  /** The 6 rolling features (analog of the reference's 6 SMART raws,
    * 05_01_model_training_xgboost_oom_fix.py:86-93). */
  val FeatureCols: Seq[String] = Seq(
    "value_mean_7", "value_std_7", "value_max_7",
    "value_mean_14", "value_delta_1", "obs_seq")

  val LabelCol = "failure_next"
  val TargetRecall = 0.8

  private val assembler = new VectorAssembler()
    .setInputCols(FeatureCols.toArray).setOutputCol("features")

  /** weight = neg/pos on positives, 1.0 on negatives (one bounded
    * count aggregation — the only driver-side scalars). */
  def withClassWeights(df: DataFrame): DataFrame = {
    val counts = df.groupBy(col(LabelCol)).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val scale = counts.getOrElse(0, 1L).toDouble / math.max(1L, counts.getOrElse(1, 1L))
    df.withColumn("weight", when(col(LabelCol) === 1, scale).otherwise(1.0))
  }

  /** M2: GBT with the reference's hyperparameter intent (depth 6,
    * lr 0.05, subsample 0.8, colsample 0.8 → featureSubsetStrategy).
    * maxIter is capped for harness wall-clock; at cluster scale it is a
    * config, not a code change. */
  def train(trainDf: DataFrame, maxIter: Int = 30, seed: Long = 42L): GBTClassificationModel = {
    val prepared = assembler.transform(withClassWeights(trainDf))
    new GBTClassifier()
      .setLabelCol(LabelCol)
      .setFeaturesCol("features")
      .setWeightCol("weight")
      .setMaxDepth(6)
      .setMaxIter(maxIter)
      .setStepSize(0.05)
      .setSubsamplingRate(0.8)
      .setFeatureSubsetStrategy("0.8")
      .setSeed(seed)
      .fit(prepared)
  }

  /** M2 completed (round 7, the last reference training behavior with
    * no engine counterpart): GBT with EARLY STOPPING on a validation
    * fold — the reference appendix trains XGBoost with
    * `early_stopping_rounds=30` against an eval set
    * (/root/reference/scripts/Appendix_model_training_xgboost.py:117-125).
    * MLlib's native form: the train and validation frames are unioned
    * with a boolean indicator column, and
    * `setValidationIndicatorCol` + `setValidationTol` stop boosting
    * when the validation loss improvement falls below `tol` —
    * evaluated DISTRIBUTED per iteration, no driver loop. Class
    * weights come from the TRAIN fold only (validation rows weigh 1.0:
    * the stopping metric is measured on the untouched distribution).
    * The fitted model scores identically to `train`'s (same
    * transformer class) — only the tree count differs. */
  def trainWithEarlyStop(
      trainDf: DataFrame, validDf: DataFrame,
      maxIter: Int = 30, tol: Double = 0.01, seed: Long = 42L): GBTClassificationModel = {
    val both = withClassWeights(trainDf).withColumn("is_val", lit(false))
      .unionByName(validDf
        .withColumn("weight", lit(1.0))
        .withColumn("is_val", lit(true)))
    val prepared = assembler.transform(both.na.fill(0.0, FeatureCols))
    val gbt = new GBTClassifier()
      .setLabelCol(LabelCol)
      .setFeaturesCol("features")
      .setWeightCol("weight")
      .setMaxDepth(6)
      .setMaxIter(maxIter)
      .setStepSize(0.05)
      .setSubsamplingRate(0.8)
      .setFeatureSubsetStrategy("0.8")
      .setValidationIndicatorCol("is_val")
      .setSeed(seed)
    // validationTol has no public setter on GBTClassifier — pass it as
    // a fit-time ParamMap override (same effect, public API)
    gbt.fit(prepared, org.apache.spark.ml.param.ParamMap(gbt.validationTol -> tol))
  }

  /** X1 (UDF-free): score → `failure_probability` column. The frame-wide
    * `na.fill(0)` mirrors the reference's warm-up-row fill (P7,
    * 03_feature_engineering.py:146-154) and guards the assembler against
    * nulls at scale. */
  def score(model: GBTClassificationModel, df: DataFrame): DataFrame =
    model.transform(assembler.transform(df.na.fill(0.0, FeatureCols)))
      .withColumn("failure_probability", vector_to_array(col("probability")).getItem(1))
      .drop("features", "rawPrediction", "probability", "prediction")

  /** `score` keeping the assembled feature vector and the raw GBT
    * margin — the input frame for per-row explanations
    * (`TreeContributions.explain` attributes exactly this margin). */
  def scoreWithFeatures(model: GBTClassificationModel, df: DataFrame): DataFrame =
    model.transform(assembler.transform(df.na.fill(0.0, FeatureCols)))
      .withColumn("failure_probability", vector_to_array(col("probability")).getItem(1))
      .withColumn("margin", vector_to_array(col("rawPrediction")).getItem(1))
      .drop("rawPrediction", "probability", "prediction")

  /** X1/X2 surface: the typed scoring UDF form. Always declared
    * DoubleType — the reference's untyped variant silently returns
    * StringType and leans on an implicit cast
    * (05_SHAP_alert_explanation.py:81-91); we reproduce the capability,
    * not the quirk. Kept for surface parity; `linearScore` (pure
    * columns, codegen'd) is the preferred path. */
  val sigmoid: Double => Double = z => 1.0 / (1.0 + math.exp(-z))
  def linearScoreUdf(df: DataFrame): DataFrame = {
    val scoreFn = udf { (vs: Seq[Double]) =>
      val z = W.zip(vs).foldLeft(Bias) { case (acc, ((_, w), v)) => acc + v * w }
      // same HALF_UP-on-decimal-repr rounding as Spark's round()
      java.math.BigDecimal.valueOf(sigmoid(z))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    df.withColumn("failure_probability",
      scoreFn(array(FeatureCols.map(c => col(c).cast("double")): _*)) + lit(0.0))
  }

  /** M3: PR-AUC on a scored frame. */
  def prAuc(scored: DataFrame): Double =
    new BinaryClassificationEvaluator()
      .setMetricName("areaUnderPR")
      .setLabelCol(LabelCol)
      .setRawPredictionCol("failure_probability")
      .evaluate(scored)

  /** M4: recall-driven threshold — the exact (1 − targetRecall)
    * quantile of the positives' scores, computed distributed. */
  def selectThreshold(scoredValid: DataFrame, targetRecall: Double = TargetRecall): Double =
    scoredValid.filter(col(LabelCol) === 1)
      .stat.approxQuantile("failure_probability", Array(1.0 - targetRecall), 0.0)
      .head

  /** P6/F5: alert decision at τ (>= boundary,
    * 06_deployment_code.py:137-140). */
  def withAlert(scored: DataFrame, tau: Double): DataFrame =
    scored.withColumn("alert",
      when(col("failure_probability") >= tau, 1).otherwise(0))

  // --- artifact I/O (S5/S6/S7) -----------------------------------------

  /** S5: threshold sidecar (models/threshold.json analog,
    * 05_01_model_training_xgboost_oom_fix.py:243-256). */
  def saveThreshold(path: String, tau: Double, targetRecall: Double, nPos: Long): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path),
      s"""{"threshold": $tau, "target_recall": $targetRecall, "n_validation_positives": $nPos}""")
  }

  def loadThreshold(spark: SparkSession, path: String): Double =
    spark.read.json(path).select(col("threshold")).head.getDouble(0)

  /** S6: MLlib persistence. */
  def saveModel(model: GBTClassificationModel, path: String): Unit =
    model.write.overwrite().save(path)
  def loadModel(path: String): GBTClassificationModel =
    GBTClassificationModel.load(path)

  /** M5/S7: global feature importances as a frame (the SHAP-summary
    * stand-in, 05_SHAP_alert_explanation.py:129-167). */
  def importances(spark: SparkSession, model: GBTClassificationModel): DataFrame = {
    import spark.implicits._
    FeatureCols.zip(model.featureImportances.toArray)
      .toDF("feature", "importance")
      .orderBy(col("importance").desc, col("feature"))
  }

  // --- deterministic column-expression scorer (oracle-checkable X1) ----

  /** Fixed logistic weights for the expression scorer — a stand-in
    * model whose scoring path is 100% column expressions, so the full
    * score→threshold→alert chain is DuckDB-checkable. */
  val W: Seq[(String, Double)] = Seq(
    "value_mean_7" -> 0.018, "value_std_7" -> 0.011, "value_max_7" -> 0.004,
    "value_mean_14" -> -0.009, "value_delta_1" -> 0.006, "obs_seq" -> -0.002)
  val Bias: Double = -1.1

  def linearScore(df: DataFrame): DataFrame = {
    val z = W.foldLeft(lit(Bias): Column) { case (acc, (c, w)) => acc + col(c) * w }
    df.withColumn("failure_probability",
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6) + lit(0.0))
  }

  private val zSql: String =
    W.map { case (c, w) => s"$c * $w" }.mkString(s"($Bias + ", " + ", ")")
  val linearScoreSql: String =
    s"ROUND(1.0 / (1.0 + EXP(-$zSql)), 6) + 0"

  // --- declared queries -------------------------------------------------

  private def feat(s: SparkSession, dir: String): DataFrame =
    Telemetry.features(Tables.events(s, dir))

  /** DuckDB replay of `ml_e2e_metrics_pinned` — the threshold rule,
    * grouped-score average precision, and confusion arithmetic with
    * the identical cumulative-count formulation (see the query's
    * declaration comment). */
  private val pinnedMetricsSql: String =
    s"""${Telemetry.featSql},
       |sv AS (
       |  SELECT event_id, failure_next, $linearScoreSql AS score FROM feat
       |  WHERE ts >= TIMESTAMP '${TrainingData.TrainEnd}'
       |    AND ts < TIMESTAMP '${TrainingData.ValidEnd}'),
       |st AS (
       |  SELECT failure_next, $linearScoreSql AS score FROM feat
       |  WHERE ts >= TIMESTAMP '${TrainingData.ValidEnd}'),
       |pg AS (SELECT score, COUNT(*) AS pc FROM sv WHERE failure_next = 1 GROUP BY 1),
       |pcum AS (
       |  SELECT score, pc,
       |         SUM(pc) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cp,
       |         SUM(pc) OVER () AS n
       |  FROM pg),
       |tau AS (
       |  SELECT score AS t FROM pcum
       |  WHERE cp - pc <= LEAST(CAST(FLOOR(n * $TargetRecall) AS BIGINT), n - 1)
       |    AND LEAST(CAST(FLOOR(n * $TargetRecall) AS BIGINT), n - 1) < cp),
       |bs AS (SELECT score, COUNT(*) AS nv, SUM(failure_next) AS pv FROM sv GROUP BY 1),
       |cs AS (
       |  SELECT pv,
       |         SUM(nv) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS cn,
       |         SUM(pv) OVER (ORDER BY score DESC ROWS UNBOUNDED PRECEDING) AS ctp
       |  FROM bs),
       |ap AS (
       |  SELECT SUM(CAST(pv AS DOUBLE) * CAST(ctp AS DOUBLE) / CAST(cn AS DOUBLE))
       |           / CAST(SUM(pv) AS DOUBLE) AS ap
       |  FROM cs),
       |c AS (
       |  SELECT CAST(SUM(CASE WHEN score >= t AND failure_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(SUM(CASE WHEN score >= t AND failure_next = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |         CAST(SUM(CASE WHEN score < t AND failure_next = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM st, tau)
       |SELECT ROUND(ap, 6) + 0 AS pr_auc,
       |       t AS threshold,
       |       tp, fp, fn,
       |       CASE WHEN tp + fp > 0 THEN ROUND(tp / (tp + fp), 6) + 0 ELSE 0.0 END AS precision,
       |       CASE WHEN tp + fn > 0 THEN ROUND(tp / (tp + fn), 6) + 0 ELSE 0.0 END AS recall
       |FROM c, ap, tau""".stripMargin

  val defs: Seq[Q] = Seq(

    // X1 as a pure expression: deterministic logistic scorer.
    Q("score_expr",
      s"""${Telemetry.featSql}
         |SELECT event_id, ts, user_id, failure_next,
         |       $linearScoreSql AS failure_probability
         |FROM feat ORDER BY event_id""".stripMargin) { (s, dir) =>
      linearScore(feat(s, dir))
        .select(col("event_id"), col("ts"), col("user_id"), col("failure_next"),
          col("failure_probability"))
        .orderBy("event_id")
    },

    // M4 as SQL: reference's sort-desc / index-at-floor(n·recall) rule
    // (05_01_model_training_xgboost_oom_fix.py:224-237) — the score at
    // (0-indexed) min(floor(n·0.8), n−1) over validation positives.
    Q("threshold_select",
      s"""${Telemetry.featSql},
         |p AS (
         |  SELECT $linearScoreSql AS score, event_id
         |  FROM feat
         |  WHERE failure_next = 1
         |    AND ts >= TIMESTAMP '${TrainingData.TrainEnd}'
         |    AND ts < TIMESTAMP '${TrainingData.ValidEnd}'),
         |r AS (SELECT score, ROW_NUMBER() OVER (ORDER BY score DESC, event_id) AS rn,
         |             COUNT(*) OVER () AS n
         |      FROM p)
         |SELECT score AS threshold, n AS n_pos FROM r
         |WHERE rn - 1 = LEAST(CAST(FLOOR(n * $TargetRecall) AS BIGINT), n - 1)""".stripMargin) {
      (s, dir) =>
        val p = linearScore(TrainingData.positives(TrainingData.valid(feat(s, dir))))
          .select(col("failure_probability").as("score"), col("event_id"))
        val w = Window.orderBy(col("score").desc, col("event_id"))
        p.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
          .filter(col("rn") - 1 ===
            least(floor(col("n") * TargetRecall).cast("long"), col("n") - 1))
          .select(col("score").as("threshold"), col("n").as("n_pos"))
    },

    // E2E GBT metrics (train → score → threshold → confusion) — MLlib
    // internals are not SQL-expressible → no oracle; MLSpec asserts the
    // invariants (recall ≥ target on the tuning split, TP+FN = positives).
    Q.noOracle("ml_e2e_metrics") { (s, dir) =>
      import s.implicits._
      val f = feat(s, dir)
      val row = Materialize.using(f) {
        val trainDf = TrainingData.downsampled(TrainingData.train(f), ratio = 100.0)
        val model = train(trainDf)
        val scoredValid = score(model, TrainingData.valid(f))
        val (tau, auc) = Materialize.using(scoredValid)(
          (selectThreshold(scoredValid), prAuc(scoredValid)))
        val c = Telemetry.confusion(
          withAlert(score(model, TrainingData.test(f)), tau)).head()
        (auc, tau, c.getAs[Long]("tp"), c.getAs[Long]("fp"), c.getAs[Long]("fn"),
          c.getAs[Double]("precision"), c.getAs[Double]("recall"))
      }
      Seq(row).toDF("pr_auc", "threshold", "tp", "fp", "fn", "precision", "recall")
    },

    // ml_e2e_metrics's ARITHMETIC, pinned (r20, VERDICT r19 task 5 —
    // the decontam_bloom_fpr_pinned playbook): the GBT core is the
    // only non-replayable piece of the E2E chain, so this sibling
    // swaps it for the frozen expression scorer (W/Bias, the X1
    // stand-in) and replays EVERYTHING downstream cross-engine — the
    // M4 threshold rule, a PR summary, and the test-split confusion
    // with precision/recall — in the same output shape. The PR
    // summary is grouped-score average precision: cumulative
    // (rows, positives) over DISTINCT scores descending, AP =
    // Σ pv·(ctp/cn) / P. Grouping first makes it tie-invariant (no
    // row order enters the math) AND bounded at scale: scores are the
    // 6-dp-rounded logistic output, so the windowed frame never
    // exceeds ~10⁶ distinct values regardless of corpus size. The
    // threshold applies the same cumulative trick — the selected
    // value is a SCORE, so picking the group containing rank
    // floor(n·recall) equals threshold_select's row-level rule
    // exactly. ml_e2e_metrics itself stays rows-only for the MLlib
    // core; every metric FORMULA it reports is now oracle-pinned.
    Q("ml_e2e_metrics_pinned", pinnedMetricsSql) { (s, dir) =>
      val f = feat(s, dir)
      def scored(df: DataFrame) = linearScore(df)
        .select(col("event_id"), col("failure_next"),
          col("failure_probability").as("score"))
      val sv = Materialize(scored(TrainingData.valid(f)))
      val wS = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val idx = least(floor(col("n") * TargetRecall).cast("long"), col("n") - 1)
      val tau = sv.filter(col("failure_next") === 1)
        .groupBy(col("score")).agg(count(lit(1)).as("pc"))
        .withColumn("cp", sum(col("pc")).over(wS))
        .withColumn("n", sum(col("pc")).over(Window.partitionBy()))
        .filter(col("cp") - col("pc") <= idx && idx < col("cp"))
        .select(col("score").as("t"))
      val cs = sv.groupBy(col("score"))
        .agg(count(lit(1)).as("nv"), sum(col("failure_next").cast("long")).as("pv"))
        .withColumn("cn", sum(col("nv")).over(wS))
        .withColumn("ctp", sum(col("pv")).over(wS))
      val ap = cs.agg(
        (sum(col("pv").cast("double") * col("ctp").cast("double") /
          col("cn").cast("double")) / sum(col("pv")).cast("double")).as("ap"))
      val conf = Telemetry.confusion(
        scored(TrainingData.test(f)).crossJoin(broadcast(tau))
          .withColumn("alert", when(col("score") >= col("t"), 1).otherwise(0)))
      conf.crossJoin(broadcast(ap)).crossJoin(broadcast(tau)).select(
        (round(col("ap"), 6) + lit(0.0)).as("pr_auc"),
        col("t").as("threshold"),
        col("tp"), col("fp"), col("fn"),
        col("precision"), col("recall"))
    },

    // M2 early-stopping variant (round 7): GBT trained against the
    // chronological validation fold with validationIndicatorCol —
    // the engine counterpart of the reference appendix's
    // early_stopping_rounds=30 (Appendix_model_training_xgboost.py:
    // 117-125). Emits the stopping evidence (trees used vs budget)
    // plus the same operational metrics as ml_e2e_metrics. MLlib
    // training internals are not SQL-expressible → no oracle; MLSpec
    // pins halt-before-maxIter on planted noise and the PR-AUC band.
    Q.noOracle("ml_e2e_early_stop") { (s, dir) =>
      import s.implicits._
      val f = feat(s, dir)
      val maxIter = 30
      val row = Materialize.using(f) {
        val trainDf = TrainingData.downsampled(TrainingData.train(f), ratio = 100.0)
        val model = trainWithEarlyStop(trainDf, TrainingData.valid(f), maxIter = maxIter)
        val scoredValid = score(model, TrainingData.valid(f))
        val (tau, auc) = Materialize.using(scoredValid)(
          (selectThreshold(scoredValid), prAuc(scoredValid)))
        (model.getNumTrees.toLong, maxIter.toLong, auc, tau)
      }
      Seq(row).toDF("trees_used", "trees_budget", "pr_auc", "threshold")
    },

    // M5 completed: PER-ROW explanations (the reference's per-alert
    // SHAP values, 05_SHAP_alert_explanation.py:129-149) — Saabas
    // tree-path attributions over the broadcast ensemble, distributed,
    // for the top-scored validation rows. GBT training internals are
    // not SQL-expressible → no oracle; MLSpec pins the exact-
    // decomposition invariant (bias + Σ contributions = margin, 1e-6).
    Q.noOracle("ml_contributions") { (s, dir) =>
      val f = feat(s, dir)
      // cached for training only: the returned frame re-reads `f` lazily
      val model = Materialize.using(f)(
        train(TrainingData.downsampled(TrainingData.train(f), ratio = 100.0), maxIter = 10))
      val scored = scoreWithFeatures(model, TrainingData.valid(f))
        .orderBy(col("failure_probability").desc, col("event_id")).limit(20)
      TreeContributions.explain(scored, model, FeatureCols)
        .select(col("event_id"), col("failure_probability"), col("margin"),
          col("feature"), col("contribution"))
        .orderBy(col("event_id"), col("feature"))
    },
  )
}
