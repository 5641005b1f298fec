package graft

import org.apache.spark.sql.functions._

import graft.llm.QualityModel

/** Behavioral tests for the model-based quality filter: real
  * separation on a planted good-vs-spam corpus, exact Pareto keep
  * arithmetic, bounded driver boundary. */
class QualitySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(47)
  private val pool = Vector("the", "quick", "brown", "fox", "jumps", "over",
    "lazy", "dog", "river", "mountain", "ancient", "library", "quiet",
    "morning", "light", "travels", "through", "window", "garden", "stone")
  private def goodDoc(): String = Seq.fill(40)(pool(rnd.nextInt(pool.size))).mkString(" ")
  private def spamDoc(): String = {
    val w = Seq("buy", "click", "free", "winner")(rnd.nextInt(4))
    Seq.fill(40)(w).mkString(" ")
  }

  private lazy val planted = {
    val good = (0L until 30L).map(i => (i, goodDoc(), 1.0))
    val spam = (100L until 130L).map(i => (i, spamDoc(), 0.0))
    (good ++ spam).toDF("doc_id", "text", "is_ref")
  }

  test("classifier separates planted reference docs from spam") {
    val model = QualityModel.train(planted, "is_ref")
    val scored = QualityModel.score(model, planted)
      .select(col("doc_id"), col("quality_score"))
      .as[(Long, Double)].collect().toMap
    val goodMean = (0L until 30L).map(scored).sum / 30
    val spamMean = (100L until 130L).map(scored).sum / 30
    assert(goodMean > 0.8, s"reference docs scored low: $goodMean")
    assert(spamMean < 0.2, s"spam docs scored high: $spamMean")
  }

  test("Pareto keep rule: exact deterministic arithmetic, monotone in score") {
    // fixed scores → the draw and verdict are pure functions of doc_id
    val scored = Seq((1L, 0.95), (2L, 0.95), (3L, 0.05))
      .toDF("doc_id", "quality_score")
    val out = QualityModel.paretoKeep(scored, alpha = 9.0)
      .select(col("doc_id"), col("pareto_draw"), col("keep"))
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // replay the same hash → uniform → Pareto chain by hand
    def expectDraw(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pk:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
      math.pow(1.0 - u, -1.0 / 9.0) - 1.0
    }
    Seq(1L, 2L, 3L).foreach { id =>
      assert(math.abs(out(id)._1 - expectDraw(id)) < 1e-9,
        s"draw mismatch for $id: got ${out(id)._1}, want ${expectDraw(id)}")
    }
    // verdict follows draw > 1 - score exactly
    assert(out(1L)._2 === (if (expectDraw(1L) > 0.05) 1 else 0))
    assert(out(3L)._2 === (if (expectDraw(3L) > 0.95) 1 else 0))
    // reruns agree (deterministic, unlike rand()-based sampling)
    val again = QualityModel.paretoKeep(scored, alpha = 9.0)
      .select(col("doc_id"), col("pareto_draw"), col("keep"))
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again === out)
  }

  test("end-to-end: high scorers almost always kept, spam mostly dropped") {
    val model = QualityModel.train(planted, "is_ref")
    val kept = QualityModel.paretoKeep(QualityModel.score(model, planted))
      .groupBy((col("doc_id") < 100L).as("good"))
      .agg(avg(col("keep")).as("keep_rate"))
      .as[(Boolean, Double)].collect().toMap
    assert(kept(true) > 0.9, s"reference keep-rate too low: ${kept(true)}")
    assert(kept(false) < 0.5, s"spam keep-rate too high: ${kept(false)}")
  }

  test("model artifact round-trip: loaded model scores identically") {
    val model = QualityModel.train(planted, "is_ref")
    val path = tempDir("graft_qm") + "/m"
    QualityModel.saveModel(model, path)
    val loaded = QualityModel.loadModel(path)
    val a = QualityModel.score(model, planted)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    val b = QualityModel.score(loaded, planted)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(a === b, "saved/loaded classifier must score bit-identically")
    graft.Bench.deleteRecursively(path)
  }

  test("declared query runs on the corpus with sane outputs") {
    val out = SparkEntry.queries("curation_quality_model")(spark, sf("sf0.001"))
    val rows = out.collect()
    assert(rows.length > 0)
    val scores = rows.map(_.getAs[Double]("quality_score"))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    val keeps = rows.map(_.getAs[Int]("keep")).toSet
    assert(keeps.subsetOf(Set(0, 1)))
  }

  test("scoring equals model.transform and still runs once the session has an Observation") {
    // score() replays the binary model's arithmetic from the
    // coefficients, so its task closure no longer carries the model:
    // a trained model's training summary holds the SparkSession, and
    // once the session has an Observation its ObservationManager does
    // not serialize ("Task not serializable"). An isolated session
    // keeps that manager out of the shared one.
    val model = QualityModel.train(planted, "is_ref")
    val viaTransform = model.transform(QualityModel.featurize(planted))
      .select(col("doc_id"),
        org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1))
      .as[(Long, Double)].collect().toMap
    val viaScore = QualityModel.score(model, planted)
      .select("doc_id", "quality_score").as[(Long, Double)].collect().toMap
    assert(viaScore === viaTransform, "score must equal model.transform's P(reference)")
    val session = spark.newSession()
    val obs = org.apache.spark.sql.Observation()
    session.range(3).observe(obs, count(lit(1)).as("n")).collect()
    assert(obs.get("n") === 3L)
    val rows = SparkEntry.queries("curation_quality_model")(session, sf("sf0.001")).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("keep") <= 1))
  }
}
