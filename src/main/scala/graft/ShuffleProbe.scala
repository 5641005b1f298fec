package graft

import org.apache.spark.sql.SparkSession

/** Dev harness (r13): the headline queries' MEASURED shuffle volume —
  * bytes written to shuffle, shuffle records, broadcast bytes — from
  * the executed plans' SQLMetrics via `PlanAudit.shuffleStats`.
  *
  * Exchange COUNTS (PlanAudit/PlanAuditSpec) bound how many barriers a
  * plan pays; this probe measures what each barrier MOVES, which is
  * the cost driver at 100 TB: a query whose shuffle bytes are a small
  * multiple of its input provably ships keys/ids, not payloads, and
  * its absolute cost extrapolates linearly with data; one that
  * shuffles a large multiple of its input is re-materializing payload
  * columns through an exchange and will bottleneck on the wire first.
  * PLANS.md records bytes-per-input-row at two SFs — scale-stable
  * per-row footprints are the pass criterion.
  *
  * `sbt "runMain graft.ShuffleProbe [sfDir] [m=N] [query ...]"` —
  * defaults to the Bench headline set on the raw corpus (fixture
  * queries run on Bench's planted LSH fixture, matching what Bench
  * times). An `m=N` arg scales the planted fixture N× (VERDICT r14
  * task 6: the volume table one decade beyond sf0.1) — with it, the
  * pair cores AND the capstone core read the SALTED fixture replicas
  * (disjoint vocabularies, constant bucket occupancy — the linear
  * axis), so their B/row coefficients are comparable across decades.
  */
object ShuffleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mScale = args.drop(1).collectFirst {
      case a if a.startsWith("m=") => a.stripPrefix("m=").toInt
    }.getOrElse(1)
    val only: Set[String] = args.drop(1).filterNot(_.startsWith("m=")).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col

    val run = SparkEntry.all
      .filter(q => SparkEntry.headline.contains(q.name))
      .filter(q => only.isEmpty || only(q.name))
    // pre-checkpoint cores (VERDICT r13 task 1): the public APIs of the
    // LSH pair tier and the curation capstone materialize mid-pipeline,
    // so the headline loop below reads only their post-checkpoint
    // shuffle TAILS — the heaviest 100 TB stages in the repo were
    // exactly the ones the r13 volume table could not see. These run
    // the package-private *Plan variants and `nearDupPairs`, which
    // caches nothing (identical exchange volumes; caching only dedups
    // map-side derivation) on the same inputs as the declared queries: pair cores on the planted LSH
    // fixture (what Bench times — the raw corpus is vocabulary-dense
    // and degenerates to all-pairs), ANN/capstone on the raw tables.
    val cores: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      ("core:dedup_minhash_pairs",
        (fx: DataFrame, _: DataFrame) => llm.Dedup.nearDupPairs(fx)),
      ("core:dedup_ngram_jaccard",
        (fx: DataFrame, _: DataFrame) => llm.Dedup.ngramJaccardPairsPlan(fx, 0.3)),
      ("core:dedup_simhash_pairs",
        (fx: DataFrame, _: DataFrame) => llm.Dedup.simhashPairsPlan(fx)),
      ("core:embed_ann_join",
        (_: DataFrame, _: DataFrame) => {
          val emb = Tables.embeddings(spark, sfDir)
          llm.Similarity.annJoinPlan(emb, emb.filter(col("vec_id") < 8), 3)
        }),
      ("core:corpus_training_ready",
        (_: DataFrame, raw: DataFrame) => llm.Curation.trainingReadyPlan(
          raw, col("doc_id") % 7 === 0, minTokens = 40,
          rates = llm.Curation.MixRates, defaultRate = 100, budget = 512)),
      // ONE LPA round, un-checkpointed: the iterative loop materializes
      // per round (Pregel discipline), so this is the per-iteration
      // wire cost a capacity plan multiplies by the round count
      ("core:graph_label_prop_round",
        (_: DataFrame, raw: DataFrame) => {
          val (nodes, edges) = llm.Dedup.lpaFixture(raw.select(col("doc_id")))
          llm.Dedup.labelPropagationRoundPlan(nodes, edges)
        }))
      .filter { case (n, _) => only.isEmpty || only(n) }
    // the fixture is the dominant probe cost at sf0.1 — build it only
    // when a selected query/core actually reads it (the pair tiers)
    val pairCores = Set("core:dedup_minhash_pairs", "core:dedup_ngram_jaccard",
      "core:dedup_simhash_pairs")
    val fixtureDir =
      if (run.exists(q => Bench.fixtureQueries.contains(q.name)) ||
        cores.exists(c => pairCores(c._1)) || mScale > 1)
        Some(Bench.lshFixtureScaled(spark, sfDir, mScale))
      else None
    // at m>1 the capstone/LPA cores read the salted fixture replicas
    // too — the same-shape decade axis — instead of the raw corpus
    def rawFor(): org.apache.spark.sql.DataFrame =
      if (mScale > 1) Tables.documents(spark, fixtureDir.get)
      else Tables.documents(spark, sfDir)
    if (mScale > 1) println(s"(fixture scaled x$mScale; capstone cores on fixture docs)")

    println(f"${"query"}%-30s ${"shuffle_MB"}%11s ${"shuffle_rows"}%13s ${"bcast_MB"}%9s")
    def report(name: String, df: => DataFrame): Unit =
      try {
        val (sb, sr, bb) = PlanAudit.shuffleStats(df)
        println(f"$name%-30s ${sb / 1048576.0}%11.2f $sr%13d ${bb / 1048576.0}%9.2f")
      } catch {
        case e: Throwable =>
          println(s"$name FAILED: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    for (q <- run) {
      val dir =
        if (Bench.fixtureQueries.contains(q.name)) fixtureDir.getOrElse(sfDir)
        else sfDir
      report(q.name, q.run(spark, dir))
    }
    for ((name, mk) <- cores)
      report(name, mk(
        Tables.documents(spark, fixtureDir.getOrElse(sfDir)), rawFor()))
    // the same cores with broadcast joins disabled: at probe scale AQE
    // flips the band/verify joins to broadcast (the pair tier reads as
    // ~0 shuffled bytes + the banded/toks frames as broadcast bytes);
    // at 100 TB neither side fits a broadcast and every one of those
    // joins is a keyed shuffle — this is the volume that hits the wire
    // there, and the shape PlanAuditSpec's core volume gates pin.
    if (cores.nonEmpty) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try
        for ((name, mk) <- cores)
          report(name + "[sj]", mk(
            Tables.documents(spark, fixtureDir.getOrElse(sfDir)), rawFor()))
      finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
    fixtureDir.foreach(Bench.deleteRecursively)
    spark.stop()
  }
}
