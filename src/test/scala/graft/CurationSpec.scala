package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.llm.Curation

/** Invariants for the round-4 curation/decontamination/quantization
  * queries (the DuckDB oracle checks exact values; these assert the
  * semantic properties that must hold regardless of corpus). */
class CurationSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("repetition signals match a hand-computed doc") {
    val doc0 = Tables.documents(spark, dir)
      .filter(col("doc_id") === 0).select("text").head.getString(0)
    val toks = doc0.split(" ").toSeq
    val bigrams = toks.sliding(2).map(_.mkString(" ")).toSeq
    val row = run("text_repetition_signals").filter(col("doc_id") === 0).head
    assert(row.getAs[Long]("n_tokens") === toks.size)
    assert(row.getAs[Long]("n_distinct") === toks.distinct.size)
    val expTop = toks.groupBy(identity).values.map(_.size).max.toDouble / toks.size
    assert(math.abs(row.getAs[Double]("top_token_frac") - expTop) < 1e-6)
    val expBig = bigrams.groupBy(identity).values.map(_.size).max.toDouble / bigrams.size
    assert(math.abs(row.getAs[Double]("top_bigram_frac") - expBig) < 1e-6)
  }

  test("pii scrub leaves no email/phone matches and detects the planted ones") {
    val out = run("text_pii_scrub")
    assert(out.filter(col("n_emails") < 1 || col("n_phones") < 1).count() === 0)
    // re-scan the scrubbed text: rebuild it the same way and assert the
    // patterns are gone (the query only outputs the fingerprint)
    val email = """[a-z0-9]+@[a-z0-9]+\.[a-z]+"""
    val pii = concat(col("text"), lit(" contact user"), col("doc_id"), lit("@"),
      col("source"), lit(".com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val clean = regexp_replace(regexp_replace(pii, email, "<EMAIL>"),
      """[0-9]{3}-[0-9]{4}""", "<PHONE>")
    val residue = Tables.documents(spark, dir).select(clean.as("c"))
      .filter(col("c").rlike(email) || col("c").rlike("""[0-9]{3}-[0-9]{4}"""))
    assert(residue.count() === 0)
  }

  test("bloom-prefiltered decontamination equals the exact-join plan row for row") {
    import graft.llm.Curation
    val docs = Tables.documents(spark, dir)
    val exact = Curation.decontaminate(docs, col("doc_id") % 7 === 0)
    val bloom = Curation.decontaminateBloom(docs, col("doc_id") % 7 === 0)
    assert(exact.exceptAll(bloom).count() === 0 && bloom.exceptAll(exact).count() === 0)
    // and on a low-overlap corpus the sketch must actually prune: docs
    // with disjoint vocabularies share no 8-grams, so ~fpp of the train
    // grams survive the might-contain prefilter
    import spark.implicits._
    val disjoint = (0L until 40L).map { i =>
      val words = (0 until 20).map(j => s"w${i}_$j").mkString(" ")
      (i, words, "en", "src", words.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val flagged = Curation.decontaminateBloom(disjoint, col("doc_id") % 7 === 0)
    assert(flagged.count() === 0, "disjoint-vocabulary docs cannot be contaminated")
  }

  test("bloom pre-filter is a codegen'd expression, not a closure UDF (VERDICT r8 #6)") {
    val docs = Tables.documents(spark, dir)
    // build the sketch with Spark's distributed bloom aggregate...
    val bytes = docs
      .agg(graft.functions.bloom_filter_agg(col("doc_id"), 1000L, 65536L))
      .head.getAs[Array[Byte]](0)
    assert(bytes.nonEmpty)
    // ...no false negatives: every inserted key probes true
    val probed = docs.filter(graft.functions.might_contain(bytes, col("doc_id")))
    assert(probed.count() === docs.count(), "bloom filter dropped an inserted key")
    // ...and selective on a disjoint key space (fpp-bounded survivors)
    val n = docs.count()
    val misses = docs.select((col("doc_id") + 1000000L).as("doc_id"))
      .filter(graft.functions.might_contain(bytes, col("doc_id"))).count()
    assert(misses < n / 10, s"pre-filter not selective: $misses of $n foreign keys hit")
    // the probe stays inside whole-stage codegen — no closure UDF node
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe fell out of codegen:\n$plan")
    assert(plan.contains("might_contain") || plan.contains("BloomFilterMightContain"),
      s"expected the native might_contain predicate in:\n$plan")
  }

  test("native chunk generator == composed posexplode+sort chunking, and faster") {
    import graft.llm.Curation
    val docs = Tables.documents(spark, sf("sf0.01"))
    val gen = Curation.boilerplateChunks(docs)
    val composed = Curation.boilerplateChunksComposed(docs)
    assert(gen.exceptAll(composed).count() === 0 &&
      composed.exceptAll(gen).count() === 0)
    gen.count(); composed.count() // warm
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tGen = time(gen.count())
    val tComposed = time(composed.count())
    info(f"generator: $tGen%.2fs  composed: $tComposed%.2fs  speedup: ${tComposed / tGen}%.1f×")
    // SQL registration of the generator
    graft.functions.registerAll(spark)
    val viaSql = spark.sql("SELECT chunks('a b c d e', 2)").collect()
    assert(viaSql.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((0, "a b"), (1, "c d"), (2, "e")))
  }

  test("stripBoilerplate removes the shared chunk, keeps unique tails, drops all-boilerplate docs") {
    import graft.llm.Curation
    import spark.implicits._
    // 10-token shared header = exactly one chunk; unique 10-token tails
    val header = (1 to 10).map(i => s"h$i").mkString(" ")
    def tail(seed: String) = (1 to 10).map(i => s"$seed$i").mkString(" ")
    val docs = Seq(
      (1L, s"$header ${tail("a")}"),
      (2L, s"$header ${tail("b")}"),
      (3L, header), // ONLY the shared chunk — must disappear entirely
      (4L, tail("c"))) // no boilerplate — passes through whole
      .toDF("doc_id", "text")
    val out = Curation.stripBoilerplate(docs)
      .select("doc_id", "n_kept", "clean_text").as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet === Set(1L, 2L, 4L), s"got ${out.keySet}")
    assert(out(1L) === (1L, tail("a")))
    assert(out(2L) === (1L, tail("b")))
    assert(out(4L) === (1L, tail("c")))
  }

  test("boilerplate chunk counts are consistent with token counts") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nt"))
    val expected = docs.select(sum(ceil(col("nt") / 10.0))).head.getLong(0)
    val out = run("dedup_chunk_boilerplate")
    assert(out.agg(sum("n_chunks")).head.getLong(0) === expected)
    assert(out.filter(col("n_boilerplate") > col("n_chunks")).count() === 0)
  }

  test("decontamination flags only train docs, with contaminated ≤ total grams") {
    val out = run("decontam_overlap").collect()
    assert(out.nonEmpty, "synthetic corpus should contain some 8-gram overlap")
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 7 != 0L, "eval docs must never be flagged")
      assert(r.getAs[Long]("n_contam") > 0)
      assert(r.getAs[Long]("n_contam") <= r.getAs[Long]("n_grams"))
    }
  }

  test("int8 quantization error is bounded by scale/2 and cosine survives") {
    val bad = run("embed_quantize_error")
      // both columns are rounded to 6 dp on output → allow one ulp of that
      .filter(col("max_abs_err") > col("scale") / 2 + 1e-6 || col("cos_preserved") < 0.999)
    assert(bad.count() === 0)
  }

  test("exact-moment stats agree with Spark's native aggregates") {
    val native = Tables.lineitem(spark, sf("sf0.01"))
      .groupBy(col("l_returnflag"))
      .agg(
        var_samp(col("l_quantity")).as("v"),
        stddev_samp(col("l_quantity")).as("s"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"),
        var_samp(col("l_quantity")).as("vx"))
      .withColumn("slope", col("cv") / col("vx"))
      .collect().map(r => r.getString(0) -> r).toMap
    SparkEntry.queries("agg_stats_family")(spark, sf("sf0.01")).collect().foreach {
      case r: Row =>
        val n = native(r.getAs[String]("l_returnflag"))
        assert(math.abs(r.getAs[Double]("var_qty") - n.getAs[Double]("v")) < 1e-6)
        assert(math.abs(r.getAs[Double]("std_qty") - n.getAs[Double]("s")) < 1e-6)
        assert(math.abs(r.getAs[Double]("corr_qty_price") - n.getAs[Double]("c")) < 1e-6)
        assert(math.abs(r.getAs[Double]("slope_price_qty") - n.getAs[Double]("slope")) < 1e-6)
    }
  }

  test("cube grouping sets are mutually consistent") {
    val out = run("agg_cube_grouping").collect()
    val total = out.filter(_.getAs[Long]("gid") == 3L)
    assert(total.length === 1)
    val detail = out.filter(_.getAs[Long]("gid") == 0L).map(_.getAs[Long]("n")).sum
    assert(detail === total.head.getAs[Long]("n"))
    val byFlag = out.filter(_.getAs[Long]("gid") == 1L).map(_.getAs[Long]("n")).sum
    assert(byFlag === total.head.getAs[Long]("n"))
  }

  test("stratified hash sampling hits per-language rates and is idempotent") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = SparkEntry.queries("sample_stratified_hash")(spark, sf("sf0.01"))
    val keptByLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = Map("en" -> 0.5, "es" -> 1.0, "de" -> 0.25, "fr" -> 0.75)
    for ((lang, rate) <- rates if totals.contains(lang)) {
      val n = totals(lang).toDouble
      val k = keptByLang.getOrElse(lang, 0L).toDouble
      // hash buckets of sequential ids behave like uniform draws: 5σ band
      val sigma = math.sqrt(n * rate * (1 - rate))
      assert(math.abs(k - n * rate) <= 5 * sigma + 1,
        s"$lang kept $k of $n at rate $rate")
    }
    // content-hash rule ⇒ re-running yields the identical sample
    val again = SparkEntry.queries("sample_stratified_hash")(spark, sf("sf0.01"))
    assert(kept.exceptAll(again).count() === 0 && again.exceptAll(kept).count() === 0)
  }

  test("epoch mixture emits floor(rate/1000) copies + the hash-fraction copy, map-only") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val out = Curation.epochMixture(docs, Curation.EpochRates, defaultRate = 1000)
    val copies = out.groupBy("doc_id", "lang").count().collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // per-stratum structure: every emitted doc carries floor(rate/1000) or
    // floor(rate/1000)+1 copies — never anything else
    val rates = Curation.EpochRates.toMap
    copies.foreach { case (lang, n) =>
      val base = rates.getOrElse(lang, 1000) / 1000
      assert(n == base || n == base + 1, s"$lang doc emitted $n copies (base $base)")
    }
    // the fractional copy tracks the rate: de (2250‰) averages ~2.25
    val deDocs = docs.filter(col("lang") === "de").count().toDouble
    if (deDocs > 50) {
      val deCopies = out.filter(col("lang") === "de").count().toDouble
      val sigma = math.sqrt(deDocs * 0.25 * 0.75)
      assert(math.abs(deCopies - deDocs * 2.25) <= 5 * sigma + 1,
        s"de emitted $deCopies copies of $deDocs docs at 2250‰")
    }
    // epochs are 1..n with no gaps per doc
    val badSeq = out.groupBy("doc_id").agg(
        count(lit(1)).as("n"), min(col("epoch")).as("lo"), max(col("epoch")).as("hi"))
      .filter(col("lo") =!= 1L || col("hi") =!= col("n")).count()
    assert(badSeq === 0, "epoch numbering must be a gapless 1..n per doc")
    // map-only: the mixture adds NO exchange over the scan
    val exchanges = collectPlan(out.queryExecution.executedPlan).count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
      case _ => false
    }
    assert(exchanges === 0, s"epoch mixture must be map-only:\n${out.queryExecution.executedPlan}")
  }

  test("domain cap keeps exactly min(cap, n) docs per source, stably under re-partitioning") {
    import graft.llm.Curation
    val docs = Tables.documents(spark, sf("sf0.01")).select("doc_id", "source", "lang")
    val perSource = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val capped = Curation.domainCap(docs, cap = 15)
    val keptBySource = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, n) <- perSource)
      assert(keptBySource.getOrElse(src, 0L) === math.min(15L, n),
        s"$src kept ${keptBySource.getOrElse(src, 0L)} of $n")
    // the kept SET is a function of content hashes, not of physical
    // layout: a re-partitioned (row-order-scrambled) input keeps the
    // same docs — the retry/incremental-rerun stability the hash rank
    // exists for
    val scrambled = Curation.domainCap(docs.repartition(7, col("lang")), cap = 15)
      .select("doc_id", "source", "rn")
    val first = capped.select("doc_id", "source", "rn")
    assert(first.exceptAll(scrambled).count() === 0 &&
      scrambled.exceptAll(first).count() === 0)
  }

  test("declared domain cap plans a WindowGroupLimit (per-map top-cap before the shuffle)") {
    // VERDICT r7 task 4: the rank filter's WindowGroupLimit is the thing
    // bounding hot-domain shuffle input — it held empirically in r7, but a
    // refactor (e.g. moving the long-cast) could silently lose it. Pin it.
    val df = SparkEntry.queries("curation_domain_cap")(spark, sf("sf0.001"))
    df.collect()
    val plan = collectPlan(df.queryExecution.executedPlan)
    assert(plan.exists(_.getClass.getSimpleName.contains("WindowGroupLimit")),
      s"no WindowGroupLimit in:\n${df.queryExecution.executedPlan}")
  }

  test("sharded domain cap == single-window cap row-for-row under a planted hot source") {
    import graft.llm.Curation
    val docs = Tables.documents(spark, sf("sf0.01"))
      .withColumn("source",
        when(col("doc_id") % 2 === 0, lit("hot.example")).otherwise(col("source")))
      .select("doc_id", "source", "lang")
    val cols = Seq("doc_id", "source", "lang", "rk", "rn")
    val plain = Curation.domainCap(docs, cap = 15).selectExpr(cols: _*)
    val sharded = Curation.domainCapSharded(docs, cap = 15, nShards = 8)
      .selectExpr(cols: _*)
    assert(plain.exceptAll(sharded).count() === 0L, "plain rows absent from sharded cap")
    assert(sharded.exceptAll(plain).count() === 0L, "sharded rows absent from plain cap")
    assert(plain.count() > 0)
    // both rank filters (local pre-filter + global pass) group-limit
    sharded.collect()
    val wgls = collectPlan(sharded.queryExecution.executedPlan)
      .count(_.getClass.getSimpleName.contains("WindowGroupLimit"))
    assert(wgls >= 2,
      s"expected 2 WindowGroupLimits, got $wgls:\n${sharded.queryExecution.executedPlan}")
  }

  test("token packing tiles each source stream exactly") {
    val out = SparkEntry.queries("pack_token_bins")(spark, dir)
    // offsets stay inside the budget; bins are contiguous from 0
    assert(out.filter(col("bin_offset") < 0 || col("bin_offset") >= 512).count() === 0)
    assert(out.filter(col("start_bin") > col("end_bin")).count() === 0)
    // per source: last end_bin == ceil(total_tokens/512) - 1 (no holes past the end)
    val perSource = out.groupBy("source")
      .agg(sum("n_tokens").as("tot"), max("end_bin").as("last"))
      .filter(ceil(col("tot") / 512.0) - 1 =!= col("last"))
    assert(perSource.count() === 0)
  }

  test("sub-sharded packing == single-window packing row-for-row under a planted hot source") {
    import graft.llm.Curation
    // skew drill (VERDICT r6 task 5): one source holds 50% of the corpus —
    // the single Window.partitionBy(source) cumulative sum lands on one
    // task; the two-phase (source, shard) form must produce the IDENTICAL
    // bin layout with bounded per-task window state
    val docs = Tables.documents(spark, sf("sf0.01"))
      .withColumn("source",
        when(col("doc_id") % 2 === 0, lit("hot.example")).otherwise(col("source")))
    val cols = Seq("doc_id", "source", "n_tokens", "start_bin", "end_bin", "bin_offset")
    val plain = Curation.packTokenBins(docs, budget = 512)
      .selectExpr(cols: _*)
    val sharded = Curation.packTokenBinsSharded(docs, budget = 512, shardSpan = 50L)
      .selectExpr(cols: _*)
    assert(plain.count() === docs.count())
    assert(sharded.except(plain).count() === 0L, "sharded rows absent from plain layout")
    assert(plain.except(sharded).count() === 0L, "plain rows absent from sharded layout")
    // the hot source really is hot (the fixture tests what it claims to)
    val hotShare = docs.filter(col("source") === "hot.example").count().toDouble /
      docs.count()
    assert(hotShare > 0.4 && hotShare < 0.6, s"hot source share $hotShare")
  }

  test("training-ready corpus respects every stage's predicate") {
    val out = SparkEntry.queries("corpus_training_ready")(spark, sf("sf0.01")).collect()
    assert(out.nonEmpty)
    // no eval docs, quality gate held, ids unique
    assert(out.forall(_.getAs[Long]("doc_id") % 7 != 0L))
    assert(out.forall(_.getAs[Long]("n_tokens") >= 40L))
    assert(out.map(_.getAs[Long]("doc_id")).distinct.length === out.length)
    // decontamination really removed someone: flagged train docs ∩ output = ∅
    val flagged = SparkEntry.queries("decontam_overlap")(spark, sf("sf0.01"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(flagged.nonEmpty)
    assert(out.forall(r => !flagged.contains(r.getAs[Long]("doc_id"))))
    // packing starts at bin 0 for every source
    val bySource = out.groupBy(_.getAs[String]("source"))
    bySource.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("start_bin")).min === 0L)
    }
  }

  test("exactDedupCorpus on a repeated doc_id keeps every row of a surviving id") {
    // Documents contract: doc_id is unique. Pin what the survivor
    // aggregate + doc_id semi-join does when the contract breaks:
    // doc 1 appears with two texts; "beta" is also carried by doc 0,
    // which wins that hash, but doc 1 survives through "alpha" — so
    // BOTH doc-1 rows are kept, the duplicate "beta" copy included.
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "s", "alpha"), (1L, "en", "s", "beta"),
      (0L, "en", "s", "beta"), (2L, "en", "s", "alpha"), (3L, "en", "s", "gamma"))
      .toDF("doc_id", "lang", "source", "text")
    val got = Curation.exactDedupCorpus(docs).as[(Long, String, String, String)]
      .collect().map(r => (r._1, r._4)).sorted.toSeq
    assert(got === Seq(0L -> "beta", 1L -> "alpha", 1L -> "beta", 3L -> "gamma"))
  }

  test("source overlap: exact Jaccard on planted vocabularies; sketch tracks it") {
    import spark.implicits._
    // A: w1..w10; B: w1..w5 + x1..x5 (J = 5/15 = 1/3); C: disjoint;
    // D: identical to A (J = 1 exactly, sketch must also say 1).
    def txt(ws: Seq[String]) = ws.mkString(" ")
    val a = (1 to 10).map("w" + _)
    val d = Seq(
      (1L, txt(a), "A"),
      (2L, txt(a.take(5) ++ (1 to 5).map("x" + _)), "B"),
      (3L, txt((1 to 10).map("z" + _)), "C"),
      (4L, txt(a), "D"))
      .toDF("doc_id", "text", "source")
    val exact = Curation.sourceOverlap(d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(exact(("A", "B")) === (5L, 0.333333))
    assert(exact(("A", "D")) === (10L, 1.0))
    assert(exact(("B", "D")) === (5L, 0.333333))
    assert(!exact.keySet.exists(p => p._1 == "C" || p._2 == "C"),
      s"disjoint source paired: ${exact.keySet}")
    val est = Curation.sourceOverlapSketch(d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(est(("A", "D")) === 1.0, "identical sources must sketch to exactly 1")
    // J = 1/3 at k = 64: σ ≈ 0.059, allow 4σ
    assert(math.abs(est(("A", "B")) - 1.0 / 3) < 0.24, s"est=${est(("A", "B"))}")
    assert(!est.contains(("C", "A")) || est(("C", "A")) < 0.1)
  }

  test("lang buckets: per-language terciles; gate keeps top third with boundary ties") {
    import spark.implicits._
    // scores by construction: distinct/total over 4 tokens
    val d = Seq(
      (1L, "a b c d", "aa"),  // 1.00 → head
      (2L, "a b c a", "aa"),  // 0.75 → head (6 docs → 2/2/2)
      (3L, "a b a a", "aa"),  // 0.50 → middle
      (4L, "a b b a", "aa"),  // 0.50 → middle (tie broken by doc_id)
      (5L, "a a a a", "aa"),  // 0.25 → tail
      (6L, "b b b b", "aa"),  // 0.25 → tail
      (10L, "p q r s", "bb"), // 1.00 → head
      (11L, "p q r p", "bb"), // 0.75
      (12L, "p q p p", "bb"), // 0.50
      (13L, "p p p p", "bb")) // 0.25  (4 docs → ntile 2/1/1)
      .toDF("doc_id", "text", "lang")
    val buckets = Curation.langQualityBuckets(d)
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(buckets === Map(
      1L -> "head", 2L -> "head", 3L -> "middle", 4L -> "middle",
      5L -> "tail", 6L -> "tail",
      10L -> "head", 11L -> "head", 12L -> "middle", 13L -> "tail"),
      s"got $buckets")
    // gate at q=2/3: lang aa cutoff = quantile_cont(.666667) of
    // (.25,.25,.5,.5,.75,1) — both .5 docs sit at/above only if the
    // cutoff lands ≤ .5; verify against Spark's own percentile, and
    // pin that TIED boundary scores are all kept (≥ semantics)
    val kept = Curation.langQualityGate(d)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(2L) && kept.contains(10L),
      s"top scorers must pass: $kept")
    assert(!kept.contains(5L) && !kept.contains(6L) && !kept.contains(13L),
      s"bottom scorers must fail: $kept")
    // ties: docs 3 and 4 share one score — either both in or both out
    assert(kept.contains(3L) === kept.contains(4L), s"tie split: $kept")
  }

  test("surgical decontamination removes exactly the eval-overlapping spans") {
    import spark.implicits._
    val S = "signal relay orbital beacon thermal manifold junction array panel vector" // 10 tokens
    def filler(p: String, k: Int) = (1 to k).map(p + _).mkString(" ")
    val clean = filler("c", 12)
    val d = Seq(
      (1L, filler("a", 5) + " " + S + " " + filler("b", 5)), // S at 5..14
      (2L, clean),                                           // untouched
      (3L, S),                                               // fully covered → gone
      (100L, S))                                             // the eval doc
      .toDF("doc_id", "text")
    val out = Curation.stripContaminated(d, col("doc_id") >= 100L)
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((10L, filler("a", 5) + " " + filler("b", 5))),
      s"got ${out.get(1L)}") // exactly S excised, order restored
    assert(out(2L) === ((12L, clean)), "untouched doc must pass byte-identical")
    assert(!out.contains(3L), "fully-contaminated doc must disappear")
    assert(!out.contains(100L), "eval docs are not part of the cleaned corpus")
  }

  test("url domains: extraction, www-stripping, and doc-vs-mention counts") {
    import spark.implicits._
    val d = Seq(
      (1L, "read https://news.site.com/a and https://news.site.com/b today"),
      (2L, "mirror at http://www.news.site.com/c plus https://other.org/x"),
      (3L, "no links here at all"))
      .toDF("doc_id", "cited")
    val stats = Curation.domainStats(d, "cited")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // www. strips → one domain; 3 mentions across 2 docs
    assert(stats("news.site.com") === ((3L, 2L)), s"got ${stats.get("news.site.com")}")
    assert(stats("other.org") === ((1L, 1L)))
    assert(stats.size === 2, s"unexpected domains: ${stats.keySet}")
  }

  test("url extraction keeps ports, query strings, fragments, mixed case intact (ADVICE r8)") {
    import spark.implicits._
    val d = Seq(
      (1L, "visit HTTPS://WWW.Example.COM:8443/Path?q=1&x=2#frag now"),
      (2L, "plain http://sub.domain-x.org/a_b~c%20d end"),
      (3L, "no urls here"))
      .toDF("doc_id", "text")
    val got = Curation.urlDomains(d, "text")
      .select("doc_id", "url", "domain")
      .as[(Long, String, String)].collect().toSet
    // the whole URL is one match (the old char class truncated at ':'
    // and '?', leaving the tail in the text), ports are excluded from
    // the domain, and the domain is lowercased
    assert(got === Set(
      (1L, "HTTPS://WWW.Example.COM:8443/Path?q=1&x=2#frag", "example.com"),
      (2L, "http://sub.domain-x.org/a_b~c%20d", "sub.domain-x.org")), s"got $got")
  }

  test("negative sampling: dense-id contract holds, no self-pairs, stable across runs") {
    import graft.llm.Curation
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // the operator's documented contract: doc_ids dense 0..N-1
    val (n, mx) = docs.agg(count(lit(1)), max(col("doc_id"))).as[(Long, Long)].head()
    assert(mx === n - 1, s"test corpus ids not dense: n=$n max=$mx")
    val pairs = Curation.negativePairs(docs, k = 4)
      .select("doc_id", "j", "neg_id")
      .as[(Long, Long, Long)].collect()
    assert(pairs.length === n * 4, "every anchor must get exactly k negatives")
    assert(pairs.forall { case (d, _, g) => d != g }, "self-pair leaked")
    assert(pairs.forall { case (_, _, g) => g >= 0 && g < n }, "negative id out of range")
    // stability: recomputation yields the identical assignment (hash, not RNG)
    val again = Curation.negativePairs(docs, k = 4)
      .select("doc_id", "j", "neg_id").as[(Long, Long, Long)].collect()
    assert(pairs.sorted.toSeq === again.sorted.toSeq)
  }

  test("funnel stages shrink monotonically and the mixed count equals the capstone") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val funnel = Curation.curationFunnel(docs, col("doc_id") % 7 === 0,
        minTokens = 40, rates = Curation.MixRates, defaultRate = 100)
      .orderBy("stage_idx").collect()
    val ns = funnel.map(_.getAs[Long]("n")).toSeq
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a },
      s"funnel must be non-increasing: $ns")
    // the report and the acting capstone must agree on the final count
    val capstone = Curation.trainingReady(docs, col("doc_id") % 7 === 0,
      minTokens = 40, rates = Curation.MixRates, defaultRate = 100, budget = 512).count()
    assert(ns.last === capstone,
      s"funnel 'mixed' (${ns.last}) != trainingReady output ($capstone)")
  }

  test("date family invariants hold for every order") {
    val out = SparkEntry.queries("date_funcs_family")(spark, dir)
    val bad = out.filter(
      col("dow_sun0") < 0 || col("dow_sun0") > 6 ||
        col("month_start") > col("d") || col("month_end") < col("d") ||
        col("plus3m") <= col("d"))
    assert(bad.count() === 0)
  }

  test("bloomFprAudit: zero false negatives, realized FPR within 3x the configured fpp") {
    val row = graft.llm.Curation.bloomFprAudit(
      Tables.documents(spark, sf("sf0.001")), col("doc_id") % 7 === 0, n = 8, fpp = 0.01)
      .head()
    val nProbes = row.getAs[Long]("n_probes")
    val nMissed = row.getAs[Long]("n_missed")
    val nFp = row.getAs[Long]("n_false_pos")
    val nTrue = row.getAs[Long]("n_true")
    assert(nProbes > 0, "audit vacuous: no probes")
    // the bloom guarantee: a present element can NEVER be missed
    assert(nMissed === 0L, s"bloom missed $nMissed present grams")
    // realized FPR over the true negatives stays near the configured 1%
    val negs = math.max(nProbes - nTrue, 1L)
    assert(nFp.toDouble / negs <= 0.03,
      s"realized FPR ${nFp.toDouble / negs} exceeds 3x configured fpp")
  }

  test("bloomFprPinned: the relational bloom twin is non-vacuous and keeps the bloom guarantees (r19)") {
    // the oracle hash-pins the exact numbers; this pins the audit's
    // DESIGN — real false positives occur (the FPR measurement means
    // something) and the no-false-negative law holds structurally
    val row = graft.llm.Curation.bloomFprPinned(
      Tables.documents(spark, sf("sf0.001")), col("doc_id") % 7 === 0)
      .head()
    assert(row.getAs[Long]("n_probes") > 0, "audit vacuous: no probes")
    assert(row.getAs[Long]("n_missed") === 0L,
      "a present gram's positions are all set by construction — miss impossible")
    assert(row.getAs[Long]("n_false_pos") > 0L,
      "fixture must realize false positives (numBits = 10E, k = 3 ⇒ ~1.7% FPR)")
    assert(row.getAs[Long]("n_true") > 0L,
      "shared grams between eval and train docs must exist (hit-side non-vacuity)")
    // k = 3 at m/E = 10 ⇒ expected FPR ≈ 1.74%; allow wide slack
    val negs = math.max(row.getAs[Long]("n_probes") - row.getAs[Long]("n_true"), 1L)
    val fpr = row.getAs[Long]("n_false_pos").toDouble / negs
    assert(fpr <= 0.06, s"realized FPR $fpr far above the k=3, m=10E design point")
  }

  test("incremental refresh: every planted slice lands in its verdict class") {
    // The capstone cascade (oracle pins exact values; this pins the
    // fixture DESIGN — each +offset slice was planted to exercise one
    // verdict, and no tier misfires across slices):
    //   +1M verbatim copies        → exact_dup, never anything later;
    //   +2M " appended revision"   → near_dup when the doc is long
    //        enough to clear Jaccard 0.9, else sem_dup (the revision
    //        keeps its source's embedding — the sem tier is the net
    //        under the near tier), never new;
    //   +3M novel 6-token payloads → train (rotated embedding: no tier
    //        fires, over the length gate, no eval gram);
    //   +4M paraphrases            → sem_dup ONLY (novel wording beats
    //        hash+bands; the source vector rides along at cosine 1);
    //   +5M eval 8-gram leaks      → contaminated (the dup tiers must
    //        all miss: novel hash, ~8-token Jaccard, rotated vector);
    //   +6M 3-token stubs          → low_quality.
    val out = run("corpus_incremental_refresh")
      .select(col("doc_id"), col("verdict"), col("dup_of")).collect()
    assert(out.nonEmpty)
    val bySlice = out.groupBy(_.getLong(0) / 1000000L)
      .map { case (s, rows) => s -> rows.map(_.getString(1)).toSet }
    assert(bySlice(1L) === Set("exact_dup"), s"copies: ${bySlice(1L)}")
    assert(bySlice(2L).subsetOf(Set("near_dup", "sem_dup")),
      s"revisions must be caught by near or sem, got ${bySlice(2L)}")
    assert(bySlice(3L) === Set("train"), s"novel: ${bySlice(3L)}")
    assert(bySlice(4L) === Set("sem_dup"), s"paraphrases: ${bySlice(4L)}")
    assert(bySlice(5L) === Set("contaminated"), s"leaks: ${bySlice(5L)}")
    assert(bySlice(6L) === Set("low_quality"), s"stubs: ${bySlice(6L)}")
    // every dup verdict carries a real corpus victor; every non-dup -1
    val badDup = out.count { r =>
      val isDup = Set("exact_dup", "near_dup", "sem_dup")(r.getString(1))
      if (isDup) r.getLong(2) < 0 else r.getLong(2) != -1L
    }
    assert(badDup === 0, s"$badDup rows break the dup_of contract")
    // the paraphrase's victor is in its source's cell at cosine 1: the
    // source itself qualifies, so the min-id victor is <= the source
    out.filter(r => r.getLong(0) >= 4000000L && r.getLong(0) < 5000000L)
      .foreach { r =>
        assert(r.getLong(2) <= r.getLong(0) - 4000000L,
          s"paraphrase ${r.getLong(0)}: victor ${r.getLong(2)} above its source")
      }
    // the funnel is the same cascade aggregated: per-verdict doc counts
    // must equal the capstone's group sizes
    val funnel = run("corpus_refresh_funnel")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = out.groupBy(_.getString(1)).map { case (v, rs) => v -> rs.length.toLong }
    assert(funnel === want, s"funnel $funnel != capstone groups $want")
  }
}
