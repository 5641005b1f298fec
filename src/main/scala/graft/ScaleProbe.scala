package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity}

/** Dev harness (VERDICT r7 task 3): one EMPIRICAL point for the LSH
  * tiers' linear-scaling claims beyond sf0.1. Builds the planted bench
  * fixture at 1× and `m`× (replicated doc_id spans with fresh salts /
  * rotated embedding replicas — per-bucket occupancy held constant by
  * construction, see `Bench.lshFixtureScaled`) and reports, per tier:
  * input rows, banded rows, candidate work (Σ C(n,2) over band
  * buckets — the self-join's row count driver), and min-of-k wall
  * time of the DECLARED query shape. Linear growth in all four
  * columns is the pass criterion recorded in PLANS.md.
  *
  * The scales arg takes a comma list (the CdcProbe convention —
  * VERDICT r10 task 5): `10,100` probes 1×/10×/100× in one run.
  * `sbt "runMain graft.ScaleProbe [sfDir] [scales] [reps]"`.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(10))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Σ over band buckets of C(n, 2): how many join-output rows the
    // banded self-join produces before the distinct — the quantity that
    // must grow ~linearly when N grows with bucket occupancy held flat
    def bucketPairWork(banded: DataFrame, keys: Seq[String]): Long =
      banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) DIV 2")).cast("long")).head().getLong(0)

    def timeMin(df: => DataFrame): Double = {
      df.count() // warm: codegen + scan cache
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
      }.min
    }

    for (scale <- (1 +: scales).distinct) {
      val dir = Bench.lshFixtureScaled(spark, sfDir, scale) // embeddings ride along (r16)
      try {
        val docs = Tables.documents(spark, dir)
        val emb = Tables.embeddings(spark, dir)
        val nDocs = docs.count()
        val nVecs = emb.count()

        // candidate-work metrics per tier (computed once, not timed)
        val ngramBands = Dedup.ngramBanded(docs)
        val ngramWork = bucketPairWork(ngramBands, Seq("band_idx", "band_hash"))
        val simhashBands = Dedup.simhashBanded(Dedup.simhashed64(docs))
        val simhashWork = bucketPairWork(simhashBands, Seq("band_idx", "band_bits"))
        val tokenWork = bucketPairWork(Dedup.tokenBanded(docs), Seq("band_idx", "band_hash"))
        // substring-span tier (round 8): work = rows the LEFT SEMI
        // re-fetch pulls back (Σ group size over cross-doc duplicated
        // gram groups) — the quantity that must track N when replicas
        // share only the planted header
        val plantedDocs = docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(lit(Dedup.SpanHeader + " "), col("text")))
            .otherwise(col("text")).as("text"))
        val substrWork = plantedDocs
          .select(col("doc_id"),
            graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("pos", "gram_h")))
          .groupBy(col("gram_h"))
          .agg(count(lit(1)).as("n"), min("doc_id").as("mn"), max("doc_id").as("mx"))
          .filter(col("mn") =!= col("mx"))
          .agg(coalesce(sum(col("n")), lit(0L)).cast("long")).head().getLong(0)

        // excision tail (round 9, VERDICT r8 task 7): the strip/decontam
        // ACTING forms' only unprobed stage was the covered-range
        // explode (`Curation.removeSpans`) — work = exploded covered
        // positions (Σ span_tokens of the maximal islands), the row
        // count `sequence(...)` fans out before the anti join. Probed
        // on the planted frame both declared queries use (header on
        // doc_id % 3; eval slice % 7): the header is the only cross-doc
        // (and the only train∩eval) content on the salted fixture, so
        // covered mass tracks the planted-doc count — the linear axis.
        def coveredWork(spans: DataFrame): Long = spans
          .agg(coalesce(sum(col("span_tokens")), lit(0L)).cast("long"))
          .head().getLong(0)
        val grams8 = plantedDocs.select(col("doc_id"),
          graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("pos", "gram_h")))
        val owners = grams8.groupBy(col("gram_h"))
          .agg(min(col("doc_id")).as("owner"), max(col("doc_id")).as("mx"))
          .filter(col("owner") =!= col("mx"))
          .select(col("gram_h"), col("owner"))
        val stripHits = grams8.join(owners, "gram_h")
          .filter(col("doc_id") =!= col("owner"))
          .select(col("doc_id"), col("pos"))
        val stripWork = coveredWork(Dedup.islandSpans(stripHits, 8))
        val evPred = col("doc_id") % 7 === 0
        val evGrams = plantedDocs.filter(evPred)
          .select(graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("p", "gram_h")))
          .select(col("gram_h")).distinct()
        val decHits = grams8.join(plantedDocs.filter(evPred).select("doc_id"),
            Seq("doc_id"), "left_anti")
          .join(evGrams, Seq("gram_h"), "left_semi")
          .select(col("doc_id"), col("pos"))
        val decontamWork = coveredWork(Dedup.islandSpans(decHits, 8))

        val corpusBands = Similarity.srpBanded(emb)
        val probeBands = Similarity.srpBanded(emb.filter(col("vec_id") < 8))
        val annWork = probeBands.as("p")
          .join(corpusBands.as("c"),
            col("p.band_idx") === col("c.band_idx") &&
              col("p.band_sig") === col("c.band_sig") &&
              col("p.vec_id") =!= col("c.vec_id"))
          .count()
        // multi-probe fan-out (round 8): the hamming-1 expansion lands
        // on the probe side only — candidate volume must stay bounded
        // by (1 + bits) × the probe set as the corpus grows 10×
        val probeExpanded = probeBands.select(col("vec_id"), col("band_idx"),
          explode(array(
            col("band_sig") +: (0 until Similarity.SrpBandBits)
              .map(j => col("band_sig").bitwiseXOR(lit(1L << j))): _*)).as("band_sig"))
        val multiprobeWork = probeExpanded.as("p")
          .join(corpusBands.as("c"),
            col("p.band_idx") === col("c.band_idx") &&
              col("p.band_sig") === col("c.band_sig") &&
              col("p.vec_id") =!= col("c.vec_id"))
          .count()

        // triangle tier (round 9): the O(m^{3/2}) claim is about HUB
        // SKEW, so the probe graph is adversarial by construction —
        // the planted LSH pair graph is useless here (its dup pairs
        // are DISJOINT edges: zero wedges at any scale). Fixture:
        // 5-cliques over n nodes (the dup-cluster shape, linear
        // triangle mass) plus ONE hub adjacent to every node (degree
        // n). The naive per-node neighbor-pair join does Σ C(deg, 2)
        // ⊇ C(n, 2) — quadratic in n via the hub alone — while the
        // degree-ordered orientation gives the hub out-degree ~0, so
        // oriented wedge work must stay ~linear. Both counted below;
        // the ratio is the measured claim.
        val nTri = nDocs
        val cliq = spark.range(nTri).toDF("id")
          .select(col("id"), (col("id") - col("id") % 5).as("g"))
        val triEdges = Materialize(cliq.as("x").join(cliq.as("y"), "g")
          .filter(col("x.id") < col("y.id"))
          .select((col("x.id") + 1).as("a"), (col("y.id") + 1).as("b"))
          .unionByName(spark.range(nTri).toDF("b")
            .select(lit(0L).as("a"), (col("b") + 1).as("b"))))
        val undT = Materialize(triEdges
          .unionByName(triEdges.select(col("b").as("a"), col("a").as("b")))
          .filter(col("a") =!= col("b")).distinct())
        val degT = undT.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
        val naiveWedges = degT
          .agg(coalesce(sum(expr("d * (d - 1) DIV 2")), lit(0L)).cast("long"))
          .head().getLong(0)
        val wedgeWork = undT
          .join(degT.select(col("id").as("a"), col("d").as("da")), "a")
          .join(degT.select(col("id").as("b"), col("d").as("db")), "b")
          .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
          .groupBy(col("a")).agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).cast("long"))
          .head().getLong(0)

        // declared query shapes, timed (min of reps, same discipline as Bench)
        val qs = Seq("dedup_ngram_jaccard", "dedup_simhash_pairs",
          "dedup_minhash_pairs", "embed_ann_join", "dedup_substring_spans",
          "embed_ann_multiprobe")
        val times = qs.map(q => q -> timeMin(SparkEntry.queries(q)(spark, dir))) ++
          // the acting excision forms, timed on the same planted frame
          // the work metrics above measure
          Seq(
            "substringStrip" -> timeMin(Dedup.substringStrip(plantedDocs)),
            "stripContaminated" ->
              timeMin(graft.llm.Curation.stripContaminated(plantedDocs, evPred)),
            "triangleStats(pairs)" -> timeMin(Dedup.triangleStats(triEdges)))
        val outRows = qs.map(q => q -> SparkEntry.queries(q)(spark, dir).count()).toMap ++
          Map(
            "substringStrip" -> Dedup.substringStrip(plantedDocs).count(),
            "stripContaminated" ->
              graft.llm.Curation.stripContaminated(plantedDocs, evPred).count(),
            "triangleStats(pairs)" -> Dedup.triangleStats(triEdges).count())

        println(f"SCALE x$scale%-3d docs=$nDocs%-7d vecs=$nVecs%-7d " +
          f"ngramWork=$ngramWork%-9d simhashWork=$simhashWork%-9d " +
          f"minhashWork=$tokenWork%-9d annWork=$annWork%-7d substrWork=$substrWork%-9d " +
          f"multiprobeWork=$multiprobeWork%-7d stripWork=$stripWork%-9d " +
          f"decontamWork=$decontamWork%-9d naiveWedges=$naiveWedges%-11d " +
          f"wedgeWork=$wedgeWork%-9d")
        times.foreach { case (q, t) =>
          println(f"SCALE x$scale%-3d TIME $q%-22s ${t}%8.3f s  rows=${outRows(q)}")
        }
      } finally Bench.deleteRecursively(dir)
    }
    spark.stop()
  }
}
