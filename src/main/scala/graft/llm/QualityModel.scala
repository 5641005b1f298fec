package graft.llm

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Model-based quality filtering — the classifier tier of corpus
  * curation (the published LLM-pipeline shape: a linear classifier on
  * hashed bag-of-words features scores every raw doc by its likeness
  * to a curated reference corpus, and a Pareto-tail keep rule retains
  * high scorers while letting a heavy-tailed trickle of low scorers
  * through to avoid collapsing the distribution).
  *
  * Complements the RULE-based quality gates (`TextAnalysis.quality`,
  * `Curation` repetition signals): rules encode known pathologies,
  * the classifier generalizes from a reference sample. All stages are
  * distributed: HashingTF is a map-only projection (fixed 2^15
  * feature space — no vocabulary fit, no driver state), LogisticRegression
  * training is MLlib's distributed L-BFGS, scoring ships the
  * coefficient vector; the keep rule is a pure column expression on a
  * deterministic per-doc hash uniform (reproducible, unlike
  * rand()-based sampling).
  *
  * Training is ML (float reduction order varies) → the declared query
  * is rows-only; QualitySpec pins separation on a planted
  * good-vs-spam corpus and the exact Pareto keep arithmetic.
  */
object QualityModel {

  val NumFeatures: Int = 1 << 15

  /** Hashed bag-of-words features (map-only; the standard fastText-ish
    * featurization: whitespace tokens → 2^15-dim sparse counts). */
  def featurize(docs: DataFrame): DataFrame = {
    val tf = new HashingTF()
      .setInputCol("tokens").setOutputCol("features").setNumFeatures(NumFeatures)
    tf.transform(docs.withColumn("tokens", split(col("text"), " ")))
  }

  /** Train the reference-vs-raw classifier. `labelCol` is 1.0 for the
    * curated reference sample, 0.0 for raw docs; class imbalance is
    * handled by inverse-frequency weights (same convention as
    * `FailureModel.withClassWeights` — the two driver scalars are the
    * only collect). */
  def train(docs: DataFrame, labelCol: String): LogisticRegressionModel = {
    val feat = featurize(docs).withColumn("label", col(labelCol).cast("double"))
    val Seq(nPos, nNeg) = Seq(1.0, 0.0).map(v => feat.filter(col("label") === v).count())
    val total = (nPos + nNeg).toDouble
    val weighted = feat.withColumn("w",
      when(col("label") === 1.0, total / (2.0 * math.max(nPos, 1L)))
        .otherwise(total / (2.0 * math.max(nNeg, 1L))))
    new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).setWeightCol("w")
      .fit(weighted)
  }

  /** Score docs with P(reference-like) as `quality_score`: the binary
    * logistic model's own arithmetic (margin m = features·w + b,
    * P = 1 − 1/(1 + e^m)) over the coefficients alone, so the task
    * closure carries w and b only. `model.transform` would ship the
    * whole model, whose training summary holds the SparkSession — and
    * once the session has an `Observation` its manager does not
    * serialize, failing every scoring task (QualitySpec pins both the
    * failure case and equality with `model.transform`). */
  def score(model: LogisticRegressionModel, docs: DataFrame): DataFrame = {
    val (w, b) = (model.coefficients, model.intercept)
    val p1 = udf((f: Vector) => 1.0 - 1.0 / (1.0 + math.exp(f.dot(w) + b)))
    featurize(docs).withColumn("quality_score", p1(col("features")))
      .drop("tokens", "features")
  }

  /** GPT-3-style Pareto keep rule, deterministic: per-doc uniform
    * u = hash(doc_id)/2^32, Pareto(α) draw (1−u)^(−1/α) − 1, keep iff
    * draw > 1 − score — high scorers almost always survive, low
    * scorers survive on the heavy tail. A column expression, not a
    * sampler: reruns and both sides of a join see the same verdict. */
  def paretoKeep(scored: DataFrame, alpha: Double = 9.0): DataFrame = {
    val u = conv(substring(md5(concat(lit("pk:"), col("doc_id"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    scored
      .withColumn("pareto_draw", pow(lit(1.0) - u, lit(-1.0 / alpha)) - lit(1.0))
      .withColumn("keep", (col("pareto_draw") > lit(1.0) - col("quality_score")).cast("int"))
  }

  /** Artifact round-trip (the deployment boundary, same contract as
    * `FailureModel.saveModel`): the classifier is a coefficient
    * vector + intercept — a bounded artifact persisted once and
    * broadcast at scoring time. */
  def saveModel(model: LogisticRegressionModel, path: String): Unit =
    model.write.overwrite().save(path)
  def loadModel(path: String): LogisticRegressionModel =
    LogisticRegressionModel.load(path)

  val defs: Seq[Q] = Seq(
    // Train on a deterministic pseudo-reference slice (doc_id % 5 = 0
    // plays the curated corpus), score everything, apply the Pareto
    // rule. ML training → rows-only; the spec pins real separation on
    // a planted good-vs-spam corpus instead.
    Q.noOracle("curation_quality_model") { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .withColumn("is_ref", (col("doc_id") % 5 === 0).cast("double"))
      val model = train(docs, "is_ref")
      paretoKeep(score(model, docs))
        .select(col("doc_id"), round(col("quality_score"), 6).as("quality_score"),
          round(col("pareto_draw"), 6).as("pareto_draw"), col("keep"))
        .orderBy(col("doc_id"))
    },

    // The HASH-PINNED half of model-based quality filtering (VERDICT
    // r10 task 8): training is unpinnable (float reduction order), but
    // the entire SERVING pipeline — hashed bag-of-words featurization,
    // linear margin, squash to a score, deterministic keep rule — is,
    // once the model is a frozen artifact. This variant freezes the
    // coefficient table to the md5-derived family (artifact-as-formula:
    // bucket k's weight is a pure function of k, so neither engine
    // needs a 32k-row literal), accumulates the margin in INTEGER
    // micro-units (order-free exact sum — the bigram-LM convention; no
    // libm anywhere: the logistic squash is replaced by the rational
    // m/(1+|m|) sigmoid and the Pareto tail by keep iff u < s^9 with
    // an explicitly-parenthesized multiply tree both engines replay
    // bit-for-bit). The TRAINED form above stays rows-only.
    Q("curation_quality_model_pinned",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tw AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5('qw:' || CAST(
        |           CAST(concat('0x', substr(md5('qb:' || t), 1, 8)) AS BIGINT) % 32768
        |         AS VARCHAR)), 1, 8)) AS BIGINT) % 1000001 - 500000 AS cw
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(SUM(cw) AS BIGINT) AS margin_u
        |  FROM tw GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, n_tokens, margin_u,
        |         0.5 + (CAST(margin_u AS DOUBLE) / 1000000.0)
        |             / (2.0 * (1.0 + abs(CAST(margin_u AS DOUBLE) / 1000000.0))) AS s
        |  FROM agg),
        |p2t AS (SELECT *, s * s AS p2 FROM sc),
        |p4t AS (SELECT *, p2 * p2 AS p4 FROM p2t),
        |fin AS (
        |  SELECT *, (p4 * p4) * s AS p9,
        |         CAST(CAST(concat('0x', substr(md5('pk:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
        |           / 4294967296.0 AS u
        |  FROM p4t)
        |SELECT doc_id, n_tokens, margin_u,
        |       ROUND(s, 6) + 0 AS quality_score,
        |       CAST(u < p9 AS INT) AS keep
        |FROM fin ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val bucket =
        conv(substring(md5(concat(lit("qb:"), col("t"))), 1, 8), 16, 10)
          .cast("long") % 32768
      val cw =
        conv(substring(md5(concat(lit("qw:"), bucket.cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000001L - 500000L
      toks.select(col("doc_id"), cw.as("cw"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("cw")).as("margin_u"))
        .withColumn("m", col("margin_u").cast("double") / lit(1000000.0))
        .withColumn("s",
          lit(0.5) + col("m") / (lit(2.0) * (lit(1.0) + abs(col("m")))))
        .withColumn("p2", col("s") * col("s"))
        .withColumn("p4", col("p2") * col("p2"))
        .withColumn("p9", (col("p4") * col("p4")) * col("s"))
        .withColumn("u",
          conv(substring(md5(concat(lit("pk:"), col("doc_id"))), 1, 8), 16, 10)
            .cast("long").cast("double") / lit(4294967296.0))
        .select(col("doc_id"), col("n_tokens"), col("margin_u"),
          (round(col("s"), 6) + lit(0.0)).as("quality_score"),
          (col("u") < col("p9")).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    })
}
