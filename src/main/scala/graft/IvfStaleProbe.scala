package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Dev harness (VERDICT r15 task 1, measurement half): the STALENESS
  * curve of the frozen-centroid append path — recall vs the fraction
  * of the corpus appended since the last centroid (re)fit — which is
  * what turns `appendIvfIndex` from "cheap" into a POLICY: how long
  * may a standing gate keep appending before it must pay a refit?
  *
  * Two axes, because staleness only hurts when the DISTRIBUTION moves:
  *  - `stationary`: appended vectors drawn from the same distribution
  *    as the build slice (the raw corpus split by vec_id). Centroids
  *    fitted on any slice describe the whole corpus equally well, so
  *    recall should hold FLAT to high staleness — appends are free.
  *    (On the raw near-orthogonal corpus IVF recall is honestly low at
  *    any staleness — no cluster structure to quantize — which is
  *    itself part of the finding: staleness cannot cost what structure
  *    never bought.)
  *  - `drift`: NEW TOPICS arrive — a seeded planted-topic corpus
  *    (16 base topics, cluster std 0.15; the regime IVF exists for)
  *    whose appended batch mixes old-topic arrivals with vectors from
  *    8 topics the build slice has never seen. Frozen centroids have
  *    no cell for a new topic, so its members smear across old cells;
  *    each point compares the appended (stale) index against a full
  *    REFIT on the union at the same nProbe, with recall split into
  *    base-probe / new-topic-probe populations — the new-topic gap IS
  *    the price of staleness, and the refit-cadence rule reads
  *    straight off the table.
  *
  * Recall@10 vs the exact brute-force top-10. `sbt "runMain
  * graft.IvfStaleProbe [sfDir] [nProbe]"`; results table in PLANS.md.
  */
object IvfStaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nProbe = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val K = 10
    val ProbesPer = 40

    def recallAt(emb: DataFrame, path: String, probes: Seq[Long]): Double = {
      val rs = probes.map { p =>
        val approx = Similarity.ivfSearch(spark, path, p, K, nProbe)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val exact = Similarity.cosineTopK(emb, p, K)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        (approx intersect exact).size.toDouble / K
      }
      rs.sum / rs.size
    }

    // ── stationary axis: same distribution, growing appended share ──
    val emb = Tables.embeddings(spark, sfDir)
    Materialize.using(emb) {
      val n = emb.count()
      val probes = (0 until ProbesPer).map(i => i.toLong * (n / ProbesPer))
      for (s <- Seq(0.0, 0.25, 0.5, 0.75, 0.9)) {
        val cut = math.max(64L, ((1 - s) * n).toLong) // ≥ nClusters·4 to fit
        val path = java.nio.file.Files.createTempDirectory("graft_stale_s").toString
        try {
          Similarity.buildIvfIndex(emb.filter(col("vec_id") < cut), path, nClusters = 16)
          if (s > 0) Similarity.appendIvfIndex(emb.filter(col("vec_id") >= cut), spark, path)
          val r = recallAt(emb, path, probes)
          println(f"STALE[stationary] n=$n%-7d appended_frac=$s%4.2f " +
            f"nProbe=$nProbe recall@$K=$r%5.3f")
        } finally Bench.deleteRecursively(path)
      }
    }

    // ── drift axis: new topics arrive after the fit ──────────────────
    // seeded planted-topic fixture (driver-generated — dev harness, not
    // an oracle): topic t's center is a unit N(0,1)_seed(t) vector,
    // members are center + 0.15·N(0,1); base = BaseTopics topics, the
    // appended batch is half old-topic arrivals, half NEW topics
    val BaseTopics = 16
    val NewTopics = 8
    val NBase = 4000
    import spark.implicits._
    def topicRows(topics: Seq[Int], count: Int, idFrom: Long, seedSalt: Int)
        : Seq[(Long, Array[Float], Int)] = {
      val centers = topics.map { t =>
        val r = new scala.util.Random(1000 + t)
        val c = Array.fill(Similarity.Dim)(r.nextGaussian())
        val nn = math.sqrt(c.map(x => x * x).sum)
        t -> c.map(_ / nn)
      }.toMap
      (0 until count).map { i =>
        val t = topics(i % topics.size)
        val r = new scala.util.Random(seedSalt * 1000003 + i)
        val v = centers(t).map(x => (x + 0.15 * r.nextGaussian()).toFloat)
        (idFrom + i, v, t)
      }
    }
    for (s <- Seq(0.1, 0.25, 0.5)) {
      val nApp = (s / (1 - s) * NBase).toInt
      val base = topicRows(0 until BaseTopics, NBase, 0L, 1)
      val app = topicRows( // half old topics, half new
        (0 until BaseTopics / 2) ++ (BaseTopics until BaseTopics + NewTopics),
        nApp, 1000000L, 2)
      val baseDf = base.toDF("vec_id", "embedding", "label")
      val allDf = (base ++ app).toDF("vec_id", "embedding", "label")
      val pathA = java.nio.file.Files.createTempDirectory("graft_stale_da").toString
      val pathR = java.nio.file.Files.createTempDirectory("graft_stale_dr").toString
      try Materialize.using(allDf) {
        Similarity.buildIvfIndex(baseDf, pathA, nClusters = 16)
        Similarity.appendIvfIndex(app.toDF("vec_id", "embedding", "label"), spark, pathA)
        Similarity.buildIvfIndex(allDf, pathR, nClusters = 16) // the refit
        val baseProbes = (0 until ProbesPer).map(i => (i.toLong * NBase) / ProbesPer)
        val newProbes = app.filter(_._3 >= BaseTopics).map(_._1)
          .grouped(math.max(1, app.count(_._3 >= BaseTopics) / ProbesPer))
          .map(_.head).take(ProbesPer).toSeq
        val staleBase = recallAt(allDf, pathA, baseProbes)
        val staleNew = recallAt(allDf, pathA, newProbes)
        val refitBase = recallAt(allDf, pathR, baseProbes)
        val refitNew = recallAt(allDf, pathR, newProbes)
        println(f"STALE[drift] n=${NBase + nApp}%-6d appended_frac=$s%4.2f nProbe=$nProbe " +
          f"base: stale=$staleBase%5.3f refit=$refitBase%5.3f | " +
          f"new-topic: stale=$staleNew%5.3f refit=$refitNew%5.3f " +
          f"gap=${refitNew - staleNew}%6.3f")
      } finally {
        Bench.deleteRecursively(pathA)
        Bench.deleteRecursively(pathR)
      }
    }
    spark.stop()
  }
}
