package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Plan-evidence dumper for the optimization rounds (guide §1.1/§7.2):
  * writes `.explain("formatted")` for each named headline query to
  * `<outDir>/<query>_<tag>.txt`, followed by the EXECUTED adaptive
  * plan (captured after a noop-sink run, so AQE's final join
  * strategies / coalesced exchanges are on the record too).
  *
  * Usage: `runMain graft.PlanDump <outDir> <tag> [query ...]`
  * (no query args = the whole Bench headline). Session conf matches
  * Bench exactly so the dumped plans are the plans the bench times.
  * Fixture-resolved queries (Bench.fixtureQueries) read the planted
  * LSH fixture, exactly as Bench times them.
  */
object PlanDump {

  /** Un-checkpointed CORE plan variants for the queries whose public
    * API materializes mid-pipeline (the dumped query plan
    * then shows only the post-checkpoint tail — the PlanAuditSpec
    * "core:" discipline). Dumped as `<query>_core_<tag>.txt` whenever
    * the query is requested. Each is the SHARED *Plan variant, so the
    * evidence can never drift from the shipped shape. */
  private def cores(
      spark: SparkSession, sfDir: String,
      fixtureDocs: () => DataFrame): Map[String, () => DataFrame] = Map(
    "dedup_simhash_pairs" -> (() => llm.Dedup.simhashPairsPlan(fixtureDocs())),
    "dedup_minhash_pairs" -> (() => llm.Dedup.nearDupPairs(fixtureDocs())),
    "corpus_source_overlap" -> (() =>
      llm.Curation.sourceOverlapPlan(Tables.documents(spark, sfDir))),
    "corpus_training_ready" -> (() =>
      llm.Curation.trainingReadyPlan(
        Tables.documents(spark, sfDir), col("doc_id") % 7 === 0,
        minTokens = 40, rates = llm.Curation.MixRates,
        defaultRate = 100, budget = 512)),
    // LPA materializes per round by design — the core evidence is the
    // per-round materialized unit (the quantity a capacity plan
    // multiplies by the round count). r20: that unit is the WINNERS
    // frame — the coalesce attach against the node table runs once
    // after the loop, not per round.
    "graph_label_prop" -> (() => {
      val (nodes, edges) = llm.Dedup.lpaFixture(
        Tables.documents(spark, sfDir).select(col("doc_id")))
      llm.Dedup.lpaWinners(llm.Dedup.lpaLayout(nodes, edges),
        nodes.select(col("id"), col("id").as("label")))
    }),
    // the iterative tier's one edge layout (bfs/sssp/kcore/cc/lpa/
    // pagerank), `Dedup.undirected`: repartition(a) THEN distinct, one
    // exchange (r20)
    "graph_bfs_hops" -> (() => {
      val (_, edges) = llm.Dedup.lpaFixture(
        Tables.documents(spark, sfDir).select(col("doc_id")))
      llm.Dedup.undirected(edges)
    }))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <tag> [query ...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.headline
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val fixtureDir: Option[String] =
      if (names.exists(Bench.fixtureQueries.contains))
        try Some(Bench.lshFixture(spark, sfDir)) catch { case _: Throwable => None }
      else None
    def dirFor(name: String): String =
      if (Bench.fixtureQueries.contains(name)) fixtureDir.getOrElse(sfDir) else sfDir

    def dump(fileBase: String, label: String, mk: () => DataFrame): Unit =
      try {
        spark.sparkContext.setJobDescription(s"plandump: $label")
        val df = mk()
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // run it through the noop sink so AQE finalizes, then grab
        // the executed plan (join rewrites, coalesced reads)
        df.write.format("noop").mode("overwrite").save()
        val executed = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.toString
          case p => p.toString
        }
        val body =
          s"== explain(formatted), $label, sf=$sfDir ==\n" +
            formatted +
            s"\n== executed adaptive plan (after noop-sink run) ==\n" +
            executed + "\n"
        Files.write(outDir.resolve(s"$fileBase.txt"),
          body.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"[plandump] wrote $fileBase.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $fileBase FAILED: ${e.getMessage}")
      } finally spark.sparkContext.setJobDescription(null)

    val coreMap = cores(spark, sfDir,
      () => Tables.documents(spark, fixtureDir.getOrElse(sfDir)))
    names.foreach { name =>
      byName.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(q) =>
          dump(s"${name}_$tag", s"$name @ $tag",
            () => q.run(spark, dirFor(name)))
          // checkpoint-hidden pipelines: dump the un-checkpointed core too
          coreMap.get(name).foreach(mk =>
            dump(s"${name}_core_$tag", s"$name core @ $tag", mk))
      }
    }
    fixtureDir.foreach(Bench.deleteRecursively)
    spark.stop()
  }
}
