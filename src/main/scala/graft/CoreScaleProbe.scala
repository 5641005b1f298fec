package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev harness (r21, VERDICT r20 task 2): make CORE-COUNT scaling
  * measurable. The driver's 8-vs-32-core bench probe reads ≈1.0 on
  * every query at sf0.1 because the whole suite is fixed-overhead
  * bound there (sub-second queries; job scheduling + planning dominate)
  * — so the 100 TB parallelism claims rested on plan shape alone. This
  * probe re-times the fixture-compatible headline queries at a data
  * size where COMPUTE dominates (the `lshFixtureScaled` corpus at
  * `m`×, default 10× sf0.1 ≈ an sf1-class corpus — the same derived
  * fixture PLANS.md's LSH linearity tables use, embeddings riding along)
  * under `local[c]` sessions for each requested core count, in ONE
  * JVM (sequential sessions; per-query warm-up rep inside each session
  * so codegen/C2 compile outside every timed window, then min-of-k).
  *
  * Session conf matches Bench per core count (master local[c],
  * shuffle.partitions = c) so the probe measures the same plans the
  * bench times under the driver's SPARK_GRAFT_CPUS contract. The
  * published number per query is t_low / t_high; a data-bound query
  * should approach the core ratio, a fixed-overhead-bound one reads
  * ≈1 — which is the evidence (not an assumption) for which regime
  * each query is in at this size.
  *
  * `sbt "runMain graft.CoreScaleProbe [sfDir] [m] [cpusList] [reps]
  * [queryList]"` — defaults: /root/testdata/sf0.1, 10, "32,8", 3, the
  * full fixture-compatible set below (pass a comma list to focus a
  * bigger-m run on the data-bound subset). Output: one
  * `CORESCALE` line per (query, cpus) with the min/median, then a
  * `CORESCALE_RATIO` table (low-core time / high-core time). Recorded
  * in PLANS.md §r21 and OPTIMIZATION_r21.md.
  */
object CoreScaleProbe {

  /** Fixture-compatible headline queries (documents + embeddings only;
    * the LSH fixture's salted vocabulary is exactly what the pair
    * tiers are specified on — see Bench.fixtureQueries — and the
    * map/agg tiers read it as an ordinary corpus). bm25/keyword are
    * excluded: their term lists match nothing in a salted vocabulary,
    * so their post-scan stages would be vacuously empty. */
  val queries: Seq[String] = Seq(
    "text_quality",            // map-only control: should stay ≈ flat only if scan-bound
    "dedup_simhash",           // map-side signature
    "text_familiarity",        // gram freq aggregate + join + rollup
    "dedup_substring_spans",   // gram agg + semi-join + island windows
    "dedup_ngram_jaccard",     // banded LSH pair tier
    "dedup_simhash_pairs",
    "dedup_minhash_pairs",
    "corpus_training_ready",   // curation capstone (dedup→decontam→mix→pack)
    "corpus_source_overlap",   // one grouped collect_set pass
    "corpus_incremental_refresh", // delta-vs-corpus cascade
    "embed_cosine_topk",       // probe-bounded brute-force scan
    "embed_ann_join",          // banded SRP join
    "graph_label_prop")        // iterative LPA loop

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val m = args.lift(1).map(_.toInt).getOrElse(10)
    val cpusList = args.lift(2).getOrElse("32,8").split(",").toSeq.map(_.trim.toInt)
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val queryList = args.lift(4).map(_.split(",").toSeq.map(_.trim)).getOrElse(queries)

    def session(cpus: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // fixture built once (with the first session) and shared across
    // core counts — identical bytes under every session
    val s0 = session(cpusList.head)
    val dir = Bench.lshFixtureScaled(s0, sfDir, m)
    val results =
      scala.collection.mutable.LinkedHashMap.empty[(String, Int), (Double, Double)]
    try {
      var spark = s0
      for ((cpus, i) <- cpusList.zipWithIndex) {
        if (i > 0) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          spark = session(cpus)
        }
        // first-scan warm-up of both fixture tables
        Tables.documents(spark, dir).count()
        Tables.embeddings(spark, dir).count()
        for (name <- queryList) {
          val q = SparkEntry.queries(name)
          spark.sparkContext.setJobDescription(s"corescale: $name @ local[$cpus]")
          try {
            Bench.forceAll(q(spark, dir)) // warm-up rep, discarded
            val ts = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              Bench.forceAll(q(spark, dir))
              (System.nanoTime() - t0) / 1e9
            }.sorted
            // a core count may be visited SEVERAL times (pass an
            // alternating cpusList like "32,8,32,8" to cancel the
            // same-JVM C2 warm-up bias that favors later sessions);
            // keep the min across visits
            val prev = results.get((name, cpus))
            val mn = math.min(ts.head, prev.map(_._1).getOrElse(Double.MaxValue))
            val md = math.min(ts(ts.size / 2), prev.map(_._2).getOrElse(Double.MaxValue))
            results((name, cpus)) = (mn, md)
            println(f"CORESCALE $name%-28s cpus=$cpus%-3d m=$m min=${ts.head}%8.3f med=${ts(ts.size / 2)}%8.3f")
          } catch {
            case e: Throwable =>
              println(s"CORESCALE_ERR $name cpus=$cpus " +
                Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
          } finally spark.sparkContext.setJobDescription(null)
        }
      }
      // ratio table: each low-core count vs the highest core count probed
      val hi = cpusList.max
      for (lo <- cpusList.distinct.filter(_ != hi); name <- queryList)
        (results.get((name, lo)), results.get((name, hi))) match {
          case (Some((tLo, _)), Some((tHi, _))) =>
            println(f"CORESCALE_RATIO $name%-28s t$lo/t$hi=${tLo / tHi}%5.2f " +
              f"(ideal ${hi.toDouble / lo}%4.2f, t$lo=${tLo}%8.3f t$hi=${tHi}%8.3f)")
          case _ => ()
        }
    } finally {
      Bench.deleteRecursively(dir)
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}
