package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** Dev harness (VERDICT r14 task 4): the in-query vs served-index
  * CROSSOVER on the probe-batch-size axis, at fixed corpus — the
  * complement of the r14 corpus-growth table (which fixed the batch
  * at 750 docs and grew the corpus 52k→525k). Together they give the
  * standing gate its decision rule as numbers:
  *
  *  - the r14 axis showed the served advantage GROWS with the corpus
  *    (1.45×→5.28×) because the in-query form re-derives the corpus
  *    per batch;
  *  - THIS axis shows where the advantage dies: as the batch
  *    approaches corpus size, both forms are dominated by delta-side
  *    derivation + verify, and the index can only remove the
  *    corpus-side derivation — the speedup decays toward 1.
  *
  * Sweep: minhash near-dup tier on the planted `lshFixtureScaled`
  * corpus (the non-degenerate regime Bench times), batch sizes from
  * ~0.1% to ~100% of the corpus, `forceAll` consumers (count() is
  * provably blind on this join shape — the r14 measurement rule),
  * min-of-`reps` warm (the two smallest batch rows at reps≥4 — their
  * sub-second jobs carried visible min-of-2 noise, VERDICT r15 task
  * 6). Also prints, per point: the build's amortization horizon
  * (batches to repay = build / (direct − served)) and the MAINTENANCE
  * trio — base build / delta append / corpus∪delta rebuild on a
  * scratch pair — so the append-vs-rebuild economics is a sweep
  * column, not a one-off narrative number. Plus the
  * DEGENERATE-corpus honesty point: the same pair of forms on the raw
  * vocabulary-dense corpus, with measured candidates/delta-doc — the
  * density at which exact-verify dominates both forms and indexing
  * is moot (r14 observed direct ≈ served there; this prints the
  * density that causes it).
  *
  * `sbt "runMain graft.ServeProbe [sfDir] [m] [reps]"`.
  */
object ServeProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val m = args.lift(1).map(_.toInt).getOrElse(4)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def timeMin(build: () => DataFrame, r: Int = reps): Double = {
      Bench.forceAll(build()) // warm-up, discarded
      (1 to r).map { _ =>
        val t0 = System.nanoTime()
        Bench.forceAll(build())
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    /** A batch of ~`b` probe docs derived deterministically from the
      * corpus: thirds of exact copies / appended revisions / novel
      * texts (the incrementalNearDelta mix, batch-size-parametric).
      * Selection is hash-sampled so every size draws from the whole
      * corpus, not one replica's prefix. */
    def deltaOf(docs: DataFrame, n: Long, b: Long): DataFrame = {
      val every = math.max(1L, n / b)
      val base = docs.filter(pmod(hash(col("doc_id")), lit(every)) === 0)
        .select(col("doc_id"), col("text"))
      base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 700000000L).as("doc_id"), col("text"))
        .unionByName(base.filter(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 800000000L).as("doc_id"),
            concat(col("text"), lit(" appended revision")).as("text")))
        .unionByName(base.filter(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 900000000L).as("doc_id"),
            concat(lit("completely novel content payload "),
              col("doc_id").cast("string")).as("text")))
    }

    def sweep(tag: String, dir: String, batches: Seq[Long]): Unit = {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      Materialize.using(docs) {
        val n = docs.count()
        val tbl = s"serve_probe_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
        val path = java.nio.file.Files.createTempDirectory(s"graft_serve_$tag").toString
        val tb0 = System.nanoTime()
        Dedup.buildBandIndex(docs, spark, tbl, s"$path/$tbl")
        val build = (System.nanoTime() - tb0) / 1e9
        println(f"SERVE[$tag] corpus=$n%-8d build=$build%7.2f s")
        try {
          val runBatches = batches.filter(_ <= n)
          // the two SMALLEST batch points time sub-second jobs where
          // min-of-2 carried visible rep noise (r15 note 5) — they get
          // reps=4; the larger points keep the caller's rep count
          val smallRows = runBatches.sorted.take(2).toSet
          for (b <- runBatches) {
            val delta = deltaOf(docs, n, b)
            Materialize.using(delta) {
              val bActual = delta.count()
              val r = if (smallRows.contains(b)) math.max(reps, 4) else reps
              // candidate density: band-agreeing (delta, corpus) pairs per
              // delta doc — the verify work neither form can remove
              val cands = Dedup.tokenBanded(delta)
                .join(spark.table(s"${tbl}_bands"), Seq("band_idx", "band_hash"))
                .select(col("doc_id"), col("corpus_id")).distinct().count()
              val direct = timeMin(() => Dedup.incrementalNearDedup(docs, delta), r)
              val served = timeMin(() => Dedup.probeBandIndex(delta, spark, tbl), r)
              val speedup = direct / served
              val amort =
                if (direct > served) f"${build / (direct - served)}%6.1f" else "   inf"
              println(f"SERVE[$tag] batch=$bActual%-7d ratio=${bActual.toDouble / n}%7.4f " +
                f"cands/doc=${cands.toDouble / math.max(1, bActual)}%7.2f " +
                f"direct=$direct%7.3f served=$served%7.3f speedup=$speedup%5.2f " +
                f"amortize=$amort batches reps=$r")
              // maintenance economics PER BATCH POINT (r15 one-off made a
              // standing sweep column, VERDICT r15 task 6): what the gate
              // pays per arriving batch of THIS size — build (corpus-sized
              // base build on a scratch pair), append (delta-bounded), and
              // the rebuild alternative (corpus ∪ delta). Timed once each,
              // cold — these are write jobs, not repeatable consumers —
              // on a scratch table so the probe table above stays clean.
              val tblM = s"${tbl}_m"
              val tm0 = System.nanoTime()
              Dedup.buildBandIndex(docs, spark, tblM, s"$path/${tblM}_$bActual")
              val tBuild = (System.nanoTime() - tm0) / 1e9
              val ta0 = System.nanoTime()
              Dedup.appendBandIndex(delta, spark, tblM)
              val tAppend = (System.nanoTime() - ta0) / 1e9
              val tblR = s"${tbl}_rb"
              val tr0 = System.nanoTime()
              Dedup.buildBandIndex(docs.unionByName(delta), spark, tblR,
                s"$path/${tblR}_$bActual")
              val tRebuild = (System.nanoTime() - tr0) / 1e9
              println(f"SERVE[$tag] maint batch=$bActual%-7d build=$tBuild%7.3f s " +
                f"append=$tAppend%7.3f s rebuild=$tRebuild%7.3f s " +
                f"ratio=${tRebuild / tAppend}%5.2f")
              for (t <- Seq(s"${tblM}_bands", s"${tblM}_toks", s"${tblR}_bands", s"${tblR}_toks"))
                spark.sql(s"DROP TABLE IF EXISTS $t")
            }
          }
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
          spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
          Bench.deleteRecursively(path)
        }
      }
    }

    // planted fixture: the non-degenerate regime — this is the sweep
    // the decision rule comes from
    val fixtureDir = Bench.lshFixtureScaled(spark, sfDir, m)
    try {
      val n = Tables.documents(spark, fixtureDir).count()
      sweep("planted", fixtureDir,
        Seq(n / 1000, n / 100, n / 10, n / 3, n).map(math.max(_, 50L)).distinct)
    } finally Bench.deleteRecursively(fixtureDir)

    // degenerate honesty point: the raw vocabulary-dense corpus at one
    // small batch — candidates/doc here is the density that makes
    // verify dominate BOTH forms (the r14 "direct ≈ served" note)
    sweep("raw", sfDir, Seq(500L))

    spark.stop()
  }
}
