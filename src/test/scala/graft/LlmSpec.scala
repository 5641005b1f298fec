package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Multimodal, Similarity}

/** Behavioral tests for the LLM-pipeline operators: planted duplicates,
  * LSH recall, simhash locality, decode-stub faithfulness. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  /** Every scan of the bucketed table `table` in `df`'s plan reads
    * fewer buckets than the table has: the cluster `isin` filter
    * reaches the file listing as bucket pruning, not a full-index scan
    * with a post-filter. */
  private def assertBucketPruned(df: DataFrame, table: String): Unit = {
    val n = Dedup.bucketSpecOf(spark, table).numBuckets
    val scans = collectPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.tableIdentifier.exists(_.table == table) => f
    }
    assert(scans.nonEmpty && scans.forall(_.optionalBucketSet.exists(_.cardinality() < n)),
      s"expected every $table scan to read fewer than $n buckets " +
        s"(${scans.map(_.optionalBucketSet)}):\n${df.queryExecution.executedPlan}")
  }

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val nearDup = base.replace("kappa", "lambda") // jaccard 9/11 ≈ 0.82
    val unrelated = "one two three four five six seven eight nine ten"
    val d = docs((1L, base), (2L, base), (3L, nearDup), (4L, unrelated))
    val pairs = Dedup.nearDupPairs(d, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup not found")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), "near dup not found")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc paired")
  }

  test("minhash plan has no cartesian product (banded join, not all-pairs)") {
    val plan = Dedup.nearDupPairs(Tables.documents(spark, sf("sf0.001")))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"), plan)
  }

  test("simhash: near-identical docs land within small hamming distance, unrelated far") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(
      (1L, base),
      (2L, base.replace("kappa", "lambda")),
      (3L, "one two three four five six seven eight nine ten"))
    val sh = Dedup.simhashed(d).orderBy("doc_id")
      .select("simhash").as[Long].collect()
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0), sh(1)) <= 4,
      s"near-dup hamming ${hamming(sh(0), sh(1))} too large")
    assert(hamming(sh(0), sh(2)) > hamming(sh(0), sh(1)),
      "unrelated doc is not farther than the near-dup")
  }

  test("fused minhash band hashes == composed explode/agg/md5 pipeline, both tiers, bit for bit") {
    for (dir <- Seq(sf("sf0.01"), Bench.lshFixtureCached(spark, sf("sf0.001")))) {
      val d = Tables.documents(spark, dir)
      // token tier: fused expression vs banded(signatures(tokenized(…)))
      val nativeTok = Dedup.tokenBanded(d)
        .as[(Long, Int, String)].collect().toSet
      val composedTok = Dedup.banded(Dedup.signatures(Dedup.tokenized(d)))
        .as[(Long, Int, String)].collect().toSet
      assert(nativeTok === composedTok, s"token band hashes diverge on $dir")
      // bigram tier: fused expression vs generator + affine agg + md5
      val nativeGram = Dedup.ngramBanded(d)
        .as[(Long, Int, String)].collect().toSet
      val composedGram = Dedup.ngramBandedComposed(d)
        .as[(Long, Int, String)].collect().toSet
      assert(nativeGram === composedGram, s"bigram band hashes diverge on $dir")
    }
  }

  test("native simhash signatures == explode/aggregate and HOF baselines, bit for bit") {
    // 60-bit: native map-only expression vs the round-5 explode+agg
    // pipeline — on the real corpus AND the planted bench fixture
    for (dir <- Seq(sf("sf0.01"), Bench.lshFixtureCached(spark, sf("sf0.001")))) {
      val d = Tables.documents(spark, dir)
      val native = Dedup.simhashed64(d).as[(Long, Long)].collect().toMap
      val agg = Dedup.simhashed64Agg(d).as[(Long, Long)].collect().toMap
      assert(native === agg, s"60-bit signatures diverge on $dir")
    }
    // 16-bit: native vs the composed HOF form (n_tokens + signature)
    val d = Tables.documents(spark, sf("sf0.01"))
    val native16 = Dedup.simhashed(d)
      .select("doc_id", "n_tokens", "simhash").as[(Long, Long, Long)].collect().toSet
    val hof16 = Dedup.simhashedHof(d)
      .select("doc_id", "n_tokens", "simhash").as[(Long, Long, Long)].collect().toSet
    assert(native16 === hof16)
  }

  test("simhash pigeonhole pairing is LOSSLESS: banded pairs == brute-force hamming pairs") {
    val docs60 = Tables.documents(spark, sf("sf0.001")).limit(60)
    val banded = Dedup.simhashPairs(docs60)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    // brute force over all pairs of the same 60-bit signatures
    val sh = Dedup.simhashed64(docs60).as[(Long, Long)].collect()
    val brute = (for {
      (a, ha) <- sh; (b, hb) <- sh if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= Dedup.MaxHamming
    } yield (a, b, d.toLong)).toSet
    assert(banded === brute,
      s"banded missed ${brute -- banded}, invented ${banded -- brute}")
  }

  test("block-permuted simhash banding: candidates shrink vs the 4x15 pigeonhole form") {
    // round-6 scale fix (VERDICT r5 weak #1): the 4×15 geometry's
    // 2^15-value band keys make candidates ~n²/2^15 even on uniform
    // signatures; the Manku 6×10 / C(6,3) form keys 30 bits (2^30).
    // Same losslessness (pinned by the test above); this pins the
    // SELECTIVITY gain on the real corpus.
    val d = Tables.documents(spark, sf("sf0.01"))
    val sh = Dedup.simhashed64(d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def candidates(bands: DataFrame): Long =
      bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_bits") === col("b.band_bits") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    // the retired round-5 geometry: 4 aligned 15-bit bands
    val oldMask = (1L << 15) - 1
    val oldBands = sh.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band_idx"),
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(oldMask)).as("band_bits"))): _*))
        .as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_bits"))
    // the PRODUCTION key derivation (Dedup.comboKey), not an inline
    // re-implementation that could drift from it (ADVICE r6)
    val newBands = sh.select(col("doc_id"),
      explode(array(Dedup.SimHashCombos.zipWithIndex.map { case (combo, ti) =>
        struct(lit(ti).as("band_idx"),
          Dedup.comboKey(col("simhash"), combo).as("band_bits"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_bits"))
    val (oldCand, newCand) = (candidates(oldBands), candidates(newBands))
    val truePairs = Dedup.simhashPairs(d).count()
    sh.unpersist()
    assert(Dedup.SimHashCombos.size === 20)
    assert(newCand >= truePairs, "lossless banding cannot generate fewer candidates than true pairs")
    // CORPUS-DEPENDENT assertion, pinned to the sf0.01 driver fixture it
    // was measured on: a 3-block combo covers bits aligning with no
    // 15-bit band, so neither candidate set provably contains the other —
    // the generous 2x ratio fails loudly on a real selectivity regression
    // without flaking on band-alignment noise (ADVICE r6).
    assert(newCand * 2 < oldCand,
      s"block-permuted candidates $newCand not well below 4x15 candidates $oldCand (true pairs $truePairs)")
  }

  test("incremental NEAR-dedup: revisions match their corpus original via the banded index, novel text passes") {
    val corpus = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .select(col("doc_id"), col("text"))
    val delta = docs(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact copy of 1
      (101L, "one two three four five six seven eight nine ten eleven"),  // light revision of 2 (J=10/11)
      (102L, "completely unrelated novel payload tokens here now"))       // new
      .select(col("doc_id"), col("text"))
    val got = Dedup.incrementalNearDedup(corpus, delta, threshold = 0.85)
      .select("doc_id", "status", "dup_of").as[(Long, String, Long)].collect().toSet
    assert(got === Set(
      (100L, "near_dup", 1L), (101L, "near_dup", 2L), (102L, "new", -1L)), s"got $got")
  }

  test("incremental dedup: delta dups point at the canonical corpus doc, new content passes") {
    val corpus = docs(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"), (3L, "alpha beta gamma"))
      .select(col("doc_id"), col("text"))
    val delta = docs(
      (100L, "alpha beta gamma"),   // dup of canonical 1 (not 3)
      (101L, "eta theta iota"))     // new
      .select(col("doc_id"), col("text"))
    val got = Dedup.incrementalDedup(corpus, delta)
      .select("doc_id", "status", "dup_of").as[(Long, String, Long)].collect().toSet
    assert(got === Set((100L, "dup", 1L), (101L, "new", -1L)), s"got $got")
  }

  test("gramNovelty: originals score 1, an exact copy 0, a half-copy in between") {
    // 16 single-char tokens → 9 distinct 8-gram windows per doc
    val orig = (0 until 16).map(i => s"a$i").mkString(" ")
    val fresh = (0 until 16).map(i => s"b$i").mkString(" ")
    // half-copy: first 8 tokens from orig, next 8 fresh → its only
    // repeated gram is the opening window; the 8 windows that cross
    // into (or sit in) the fresh half are novel
    val half = ((0 until 8).map(i => s"a$i") ++ (0 until 8).map(i => s"c$i")).mkString(" ")
    val docs = Seq((1L, orig), (2L, orig), (3L, fresh), (4L, half))
      .toDF("doc_id", "text")
    val got = llm.Dedup.gramNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((9L, 9L, 1.0)), s"first occurrence owns all grams: $got")
    assert(got(2L) === ((9L, 0L, 0.0)), s"exact copy is pure repetition: $got")
    assert(got(3L) === ((9L, 9L, 1.0)), s"fresh doc fully novel: $got")
    assert(got(4L) === ((9L, 8L, 0.888889)), s"half-copy: only the opening window repeats: $got")
    // short doc (< n tokens) yields no grams → absent, not zero-row
    val withShort = docs.unionByName(Seq((5L, "just three tokens")).toDF("doc_id", "text"))
    assert(!llm.Dedup.gramNovelty(withShort).collect().exists(_.getLong(0) == 5L))
  }

  test("CDC three-way parity: native generator == composed window pipeline == row-local HOF") {
    val docs = Seq(
      (1L, (0 until 120).map(i => s"v${(i * 29) % 83}u$i").mkString(" ")),
      (2L, (0 until 40).map(i => s"w$i").mkString(" ")),
      (3L, "short text"),
      (4L, "")).toDF("doc_id", "text")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "chunk_idx", "start_pos", "n_tokens", "chunk_fp")
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    val native = rowsOf(docs.select(col("doc_id"),
      graft.functions.cdc_chunks(col("text"), 4, 16)
        .as(Seq("chunk_idx", "start_pos", "n_tokens", "chunk_fp"))))
    val composed = rowsOf(llm.Dedup.contentChunksComposed(docs))
    val hof = rowsOf(llm.Dedup.contentChunkRows(docs))
    assert(native === composed, s"native != composed:\n${native.diff(composed)}")
    assert(native === hof, s"native != HOF:\n${native.diff(hof)}")
    // empty text still yields its single empty chunk in all three
    assert(native.count(_._1 == 4L) === 1)
    // null text yields no rows
    val withNull = docs.unionByName(
      Seq((5L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(!rowsOf(withNull.select(col("doc_id"),
      graft.functions.cdc_chunks(col("text"), 4, 16)
        .as(Seq("chunk_idx", "start_pos", "n_tokens", "chunk_fp")))).exists(_._1 == 5L))
  }

  test("contentChunks: prefix insertion keeps CDC sharing; fixed-stride sharing drops to zero") {
    // 200 varied tokens — enough content for several rolling-hash cuts
    val aToks = (0 until 200).map(i => s"w${(i * 37) % 211}x$i")
    val bToks = (0 until 5).map(i => s"ins$i") ++ aToks // planted prefix edit
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .toDF("doc_id", "text")
    val rows = llm.Dedup.contentChunks(docs).collect()
    val aChunks = rows.filter(_.getLong(0) == 1L)
    assert(aChunks.length >= 3, s"fixture too short for CDC cuts: ${aChunks.length} chunks")
    // CDC: boundaries re-align after the edit — every A-chunk from the
    // first cut onward has an identical twin in B, so at most the
    // opening chunk is unshared
    val unshared = aChunks.count(_.getLong(5) == 1L)
    assert(unshared <= 1,
      s"CDC should keep all but the first chunk shared, ${unshared}/${aChunks.length} unshared")
    // contrast: fixed 16-token stride chunks of the same pair share
    // NOTHING — the insertion shifts every stride window
    val strided = docs.select(col("doc_id"),
        graft.functions.chunks(col("text"), 16).as(Seq("chunk", "chunk_text")))
      .groupBy(col("chunk_text")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).count()
    assert(strided === 0L, s"fixed-stride unexpectedly shared $strided chunks")
    // chunks tile each doc exactly: sum of n_tokens == token count
    assert(aChunks.map(_.getInt(3)).sum === 200)
    assert(rows.filter(_.getLong(0) == 2L).map(_.getInt(3)).sum === 205)
  }

  test("exact dedup collapses planted duplicates to one victor each") {
    val out = SparkEntry.queries("dedup_exact")(spark, sf("sf0.001"))
    val n = Tables.documents(spark, sf("sf0.001")).count()
    assert(out.count() === n) // doubled corpus dedups back to n
    assert(out.filter(col("n_copies") =!= 2).count() === 0)
    assert(out.filter(col("keep_id") >= 1000000L).count() === 0) // min-id victor
  }

  test("ANN top-k recalls planted near-neighbors (SRP-LSH preserves HIGH similarity)") {
    // The driver embeddings are near-orthogonal random vectors (max
    // cos≈0.37), where SRP recall is mathematically ~0.1-0.2 — so plant
    // real neighbors: five small perturbations of the probe (cos≈0.99).
    val rnd = new scala.util.Random(7)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val base = vec(0)
    val rows =
      (0L, base, 0) +:
        (1L to 5L).map(i => (i, base.map(_ + (rnd.nextGaussian() * 0.05).toFloat), 0)) :+
        (99L, vec(99).map(-_), 1)
    val emb = (rows ++ (10L until 90L).map(i => (i, vec(i.toInt), 1)))
      .toDF("vec_id", "embedding", "label")
    val approx = Similarity.annTopK(emb, 0L, 6)
      .select("vec_id").as[Long].collect().toSet
    val planted = (1L to 5L).toSet
    val recall = (planted intersect approx).size.toDouble / planted.size
    assert(recall >= 0.8, s"ANN recall $recall on planted neighbors (got=$approx)")
    assert(approx.contains(0L), "probe's own bucket must contain the probe")
  }

  test("annRecall: planted clusters score recall 1; declared output is a sane audit") {
    // planted regime: each probe 0..3 has three  0.99-cosine copies at
    // +100, +200, +300 — the exact top-3 IS the copy set, and banding
    // must retrieve it (this is the regime LSH is FOR; the near-
    // orthogonal corpus's low recall is the honest complement)
    val rnd = new scala.util.Random(11)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val probes = (0L until 4L).map(i => (i, vec(i.toInt), 0))
    val copies = for (i <- 0L until 4L; off <- Seq(100L, 200L, 300L))
      yield (i + off, vec(i.toInt).map(_ + (rnd.nextGaussian() * 0.03).toFloat), 0)
    val noise = (10L until 60L).map(i => (i + 1000L, vec(i.toInt + 500), 1))
    val emb = (probes ++ copies ++ noise).toDF("vec_id", "embedding", "label")
    val got = Similarity.annRecall(emb, col("vec_id") < 4, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L))
    got.foreach { case (p, hits) =>
      assert(hits === 3L, s"probe $p recalled $hits of its 3 planted copies")
    }
    // declared-query shape on the real corpus: 8 probes, hits in [0, 3],
    // recall = hits/3 exactly
    val real = SparkEntry.queries("embed_ann_recall")(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(real.length === 8)
    real.foreach { case (_, h, rc) =>
      assert(h >= 0L && h <= 3L)
      assert(math.abs(rc - h / 3.0) < 1e-6 + 1e-9)
    }
  }

  test("minhashRecall: planted near-dup found, dissimilar probe absent, declared output sane") {
    // probe 1 has a true near-dup (identical long text), probe 2 has
    // no neighbor above tau -> it must be ABSENT from the report
    // (empty truth set), and the far doc never pollutes probe 1's row
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 39).map(i => s"tok$i").mkString(" ") // J = 39/40 > 0.9
    val fx = docs((1L, base), (2L, "completely different words here entirely"),
      (10L, near), (11L, "unrelated vocabulary again thanks"))
    val got = Dedup.minhashRecall(fx.select(col("doc_id"), col("text")),
        probePred = col("doc_id") < 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // probe 1: its near-dup is the only true neighbor AND the only
    // band candidate -> recall 1, candidate precision 1
    assert(got === Map(1L -> (1L, 1L, 1L, 1.0, 1.0)))
    // declared shape: every planted probe reports, found <= min(true, cand)
    val real = SparkEntry.queries("dedup_minhash_recall")(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(real.nonEmpty && real.forall { case (_, t, c, f, rc, pr) =>
      t >= 1L && f <= t && f <= c && rc >= 0.0 && rc <= 1.0 && pr >= 0.0 && pr <= 1.0
    })
  }

  test("minhashRecall: df stop-list bounds the truth join under a planted universal token") {
    // ADVICE r9: a universal stop-word token used to cost |probes|·N
    // truth-join rows. Fixture: every doc shares "the"; docs otherwise
    // carry unique tokens; probe 1 has a planted near-dup (J = 20/21).
    val n = 200
    val probeText = "the " + (1 to 20).map(i => s"p$i").mkString(" ")
    val dupText = "the " + (1 to 19).map(i => s"p$i").mkString(" ") // J = 20/21 ≥ 0.9
    val filler = (2L to n.toLong).map(i =>
      (i, s"the f${i}a f${i}b f${i}c f${i}d f${i}e"))
    val fx = docs(Seq((1L, probeText), (1000L, dupText)) ++ filler: _*)
      .select(col("doc_id"), col("text"))
    val toks = Dedup.tokenized(fx)
    // with the stop-list ("the" has df = n+1 > maxDf): candidates come
    // only from rare tokens — exactly the one planted pair
    val bounded = Dedup.minhashTruthCandidates(toks, col("doc_id") === 1L, maxDf = 50)
    assert(bounded.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 1000L)))
    // without it (maxDf ≥ N): the universal token joins the probe to
    // EVERY doc — the |probes|·N blow-up the stop-list exists to stop
    val unbounded = Dedup.minhashTruthCandidates(toks, col("doc_id") === 1L, maxDf = n + 1)
    assert(unbounded.count() === n.toLong, "universal token should reach every doc")
    // end-to-end: recall is still exact — the planted pair is found
    val got = Dedup.minhashRecall(fx, probePred = col("doc_id") === 1L, maxDf = 50)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(1L)._1 === 1L && got(1L)._4 === 1.0, s"planted pair lost: $got")
  }

  test("ANN scans a bounded candidate set, not the whole corpus") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val bucketed = emb.withColumn("bucket",
      Similarity.srpBucket(col("embedding").cast("array<double>")))
    val total = bucketed.count()
    val probeBucket = bucketed.filter(col("vec_id") === 0L).head().getAs[Long]("bucket")
    val scanned = bucketed.filter(
      col("bucket") === probeBucket ||
        expr(s"bit_count(bucket ^ $probeBucket) = 1")).count()
    assert(scanned < total / 2, s"candidate set $scanned of $total is not selective")
  }

  test("batch ANN join: every probe retrieves planted neighbors in one job") {
    val rnd = new scala.util.Random(7)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val base = vec(0)
    val base2 = vec(50)
    val rows =
      Seq((0L, base, 0), (100L, base2, 0)) ++
        (1L to 5L).map(i => (i, base.map(_ + (rnd.nextGaussian() * 0.05).toFloat), 0)) ++
        (101L to 105L).map(i => (i, base2.map(_ + (rnd.nextGaussian() * 0.05).toFloat), 0)) ++
        (10L until 90L).map(i => (i, vec(i.toInt), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.annJoin(emb, emb.filter(col("vec_id").isin(0L, 100L)), k = 5)
      .select("probe_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // each probe's top-5 comes from ITS planted cluster, not the other's
    val r0 = (got(0L) intersect (1L to 5L).toSet).size / 5.0
    val r100 = (got(100L) intersect (101L to 105L).toSet).size / 5.0
    assert(r0 >= 0.8, s"probe 0 recall $r0 (got ${got(0L)})")
    assert(r100 >= 0.8, s"probe 100 recall $r100 (got ${got(100L)})")
    assert((got(0L) intersect got(100L)).isEmpty, "probe clusters bled into each other")
  }

  test("IVF ANN recalls planted near-neighbors with a cluster-pruned scan") {
    val rnd = new scala.util.Random(11)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val base = vec(0)
    val rows =
      (0L, base, 0) +:
        (1L to 5L).map(i => (i, base.map(_ + (rnd.nextGaussian() * 0.05).toFloat), 0)) ++:
        (10L until 200L).map(i => (i, vec(i.toInt), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val path = tempDir("ivf_planted")
    try {
      Similarity.buildIvfIndex(emb, path, nClusters = 8)
      val approx = Similarity.ivfSearch(spark, path, 0L, 6, nProbe = 2)
        .select("vec_id").as[Long].collect().toSet
      val planted = (1L to 5L).toSet
      val recall = (planted intersect approx).size.toDouble / planted.size
      assert(recall >= 0.8, s"IVF recall $recall on planted neighbors (got=$approx)")
    } finally Similarity.dropIvfIndexPinned(spark, path)
  }

  test("IVF index builds once; the search path reads it (no fit) with partition pruning") {
    val path = tempDir("ivf_split")
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    Similarity.buildIvfIndex(emb, path, nClusters = 8)
    // index shape: exactly nClusters centroids, every vector assigned
    assert(spark.read.parquet(s"$path/centroids").count() === 8L)
    assert(spark.read.parquet(s"$path/assigned").count() === emb.count())
    // ivfSearch takes (session, path) — it CANNOT fit (no training input);
    // two searches against the same persisted index are deterministic
    val a = Similarity.ivfSearch(spark, path, probeId = 0L, k = 10)
    val b = Similarity.ivfSearch(spark, path, probeId = 0L, k = 10)
    assert(a.collect().toSeq === b.collect().toSeq)
    assertBucketPruned(a, Similarity.ivfPinnedTable(path))
  }

  test("appendIvfIndex: frozen-centroid assignment law, idempotence, no refit (r16)") {
    // VERDICT r15 task 1: the k-means serving tier's append path.
    val path = tempDir("ivf_append")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 200), path, nClusters = 8)
    val builds = Similarity.ivfBuildCount.get()
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 200), spark, path)
    assert(Similarity.ivfBuildCount.get() === builds,
      "append must assign to FROZEN centroids, never refit KMeans")
    val assigned = spark.read.parquet(s"$path/assigned")
    assert(assigned.count() === emb.count(), "append lands every delta vector exactly once")
    // assignment law: each appended vector's cluster is the argmin
    // squared-L2 frozen centroid with KMeans' first-index tiebreak —
    // i.e. exactly what a build-time model.transform would have given
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getInt(r.fieldIndex("cluster")),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray))
      .sortBy(_._1).map(_._2)
    val sample = assigned.filter(col("vec_id") >= 200 && col("vec_id") < 232)
      .select("vec_id", "v", "cluster").collect()
    assert(sample.nonEmpty, "sample of appended rows must be non-empty")
    for (r <- sample) {
      val v = r.getSeq[Double](1).toArray
      val dists = cents.map(c =>
        c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      val want = dists.indexOf(dists.min)
      assert(r.getInt(2) === want,
        s"vec ${r.getLong(0)} assigned ${r.getInt(2)}, frozen argmin is $want")
    }
    // at-least-once redelivery: a re-appended batch adds nothing (the
    // idempotence anti-join reads only the delta's target buckets)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 200), spark, path)
    assert(spark.read.parquet(s"$path/assigned").count() === emb.count(),
      "re-appending the same delta must be a no-op")
    // appended vectors are probe-visible: an appended id's top hit is itself
    val top = Similarity.ivfSearch(spark, path, probeId = 300L, k = 3).collect()
    assert(top.head.getLong(top.head.fieldIndex("vec_id")) === 300L &&
      top.head.getDouble(top.head.fieldIndex("cos_sim")) === 1.0,
      s"appended vec 300 must be its own nearest neighbor: ${top.toSeq}")
  }

  test("appendPqIndex: frozen-codebook encode law, idempotence (r16)") {
    val path = tempDir("pq_append")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Similarity.buildPqIndex(emb.filter(col("vec_id") < 200), path)
    val builds = Similarity.pqBuildCount.get()
    Similarity.appendPqIndex(emb.filter(col("vec_id") >= 200), spark, path)
    assert(Similarity.pqBuildCount.get() === builds,
      "append must encode against FROZEN codebooks, never refit")
    val assigned = spark.read.parquet(s"$path/assigned")
    assert(assigned.count() === emb.count())
    // encode law: appended codes equal the per-subspace argmin
    // subvector-L2 against the frozen codebooks (first-index tiebreak)
    val books = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = books.map(_._1).max + 1
    val bySub = books.groupBy(_._1).map { case (s, rs) => s -> rs.sortBy(_._2).map(_._3) }
    val subDim = bySub(0).head.length
    val sample = assigned.filter(col("vec_id") >= 200 && col("vec_id") < 216)
      .select("vec_id", "u", "codes").collect()
    assert(sample.nonEmpty)
    for (r <- sample; s <- 0 until m) {
      val u = r.getSeq[Double](1).toArray
      val sub = u.slice(s * subDim, (s + 1) * subDim)
      val dists = bySub(s).map(c =>
        c.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(r.getSeq[Int](2)(s) === dists.indexOf(dists.min),
        s"vec ${r.getLong(0)} subspace $s code mismatch vs frozen argmin")
    }
    Similarity.appendPqIndex(emb.filter(col("vec_id") >= 200), spark, path)
    assert(spark.read.parquet(s"$path/assigned").count() === emb.count(),
      "re-appending the same delta must be a no-op")
    // appended rows are servable by the flat ADC scan
    val res = Similarity.pqSearch(spark, path, probeId = 300L, kResults = 5, nProbe = 0)
    assert(res.count() === 5)
  }

  test("k-means IVF compaction rides compactIndex: one file per bucket, probe-identical, recoverable (r16)") {
    // the k-means tier's compaction + crash recovery are the bucketed
    // tiers' own compactIndex/recoverCompact: its `assigned` rows are a
    // bucketed catalog table like every other serving index
    val path = tempDir("ivf_compact")
    val tbl = Similarity.ivfPinnedTable(path)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 150), path, nClusters = 8)
    Similarity.appendIvfIndex(
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 300), spark, path)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 300), spark, path)
    try {
      val buckets = Dedup.bucketSpecOf(spark, tbl).numBuckets
      def files(): Int = {
        val loc = new java.io.File(spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
        Option(loc.listFiles()).toSeq.flatten.count(_.getName.startsWith("part-"))
      }
      def probe() = Similarity.ivfSearch(spark, path, probeId = 0L, k = 10).collect().toSeq
      assert(files() > buckets, s"fixture must accumulate appended file sets: ${files()}")
      val before = probe()
      Dedup.compactIndex(spark, tbl, s"$path/assigned_c1")
      assert(files() <= buckets, s"compaction must fold to one file per bucket: ${files()}")
      assert(probe() === before, "probe must be identical after compaction")
      // crash state 1: compacted write committed, swap not started
      Dedup.compactWrite(spark, tbl, s"$path/assigned_c2")
      assert(Dedup.recoverCompact(spark, tbl) === "swapped")
      assert(probe() === before)
      // crash state 2: compacted write committed, DROP issued, RENAME never ran
      Dedup.compactWrite(spark, tbl, s"$path/assigned_c3")
      spark.sql(s"DROP TABLE $tbl")
      assert(Dedup.recoverCompact(spark, tbl) === "renamed")
      assert(probe() === before)
      // clean state: explicit no-op; nothing registered: loud error
      assert(Dedup.recoverCompact(spark, tbl) === "noop")
      intercept[IllegalStateException](Dedup.recoverCompact(
        spark, Similarity.ivfPinnedTable(tempDir("ivf_compact_empty"))))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      Similarity.dropIvfIndexPinned(spark, path)
    }
  }

  test("incremental semantic dedup: expr==agg assignment, planted verdicts, cell blocking (r16)") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val e = emb.selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val seeds = e
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(16)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    val seedArr = seeds.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    // the streaming gate's MAP-ONLY assignment expression must agree
    // with the aggregate form on every corpus vector (same argmax,
    // same min-seed tiebreak) — otherwise stream and batch would
    // block on different cells
    val viaExpr = e.select(col("vec_id"),
        Similarity.pinnedAssignExpr(seedArr, col("v")).as("cluster"))
      .orderBy("vec_id").collect().toSeq
    val viaAgg = e.join(
        e.crossJoin(broadcast(seeds))
          .withColumn("cs", round(Similarity.cosine(col("v"), col("sv")), 6) + lit(0.0))
          .groupBy(col("vec_id"))
          .agg(max_by(col("seed_id"),
            struct(col("cs"), (lit(0L) - col("seed_id")).as("ns"))).as("cluster")),
        "vec_id")
      .select(col("vec_id"), col("cluster")).orderBy("vec_id").collect().toSeq
    assert(viaExpr === viaAgg,
      "map-only assignment expression diverges from the aggregate form")
    // planted verdicts: every exact copy flags near_dup OF ITS SOURCE
    // (the copy shares its source's cell and cosine 1.0; min-id victor
    // is the source unless an identical lower-id twin exists), every
    // rotation passes as new
    val verdict = Similarity.incrementalSemDedup(emb, Similarity.semDeDupDelta(emb))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val copies = verdict.filter(_._1 < 3000000L)
    assert(copies.nonEmpty && copies.forall(_._2 == "near_dup"),
      s"every exact copy must flag near_dup: ${copies.filter(_._2 != "near_dup").take(5)}")
    assert(copies.forall { case (id, _, dupOf) => dupOf <= id - 1000000L },
      "victor must be a min-id corpus vector at least as low as the source")
    val rotated = verdict.filter(_._1 >= 3000000L)
    assert(rotated.nonEmpty && rotated.forall(_._2 == "new"),
      s"rotated vectors must pass as new: ${rotated.filter(_._2 != "new").take(5)}")
  }

  test("pinned IVF lifecycle: overlap-redelivered append equals the clean append (r16)") {
    // the on-disk md5-seeded pair behind embed_ivf_topk_append_pinned:
    // append of a batch OVERLAPPING the base (whole-corpus redelivery)
    // must produce the identical index — the idempotence anti-join
    // drops the already-indexed prefix — and the probe is
    // deterministic across reads
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val p1 = tempDir("ivf_pin_a")
    Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 200), p1)
    Similarity.appendIvfIndexPinned(emb.filter(col("vec_id") >= 200), spark, p1)
    val cleanSearch = Similarity.ivfSearchPinned(spark, p1, probeId = 0L, k = 20)
    assertBucketPruned(cleanSearch, Similarity.ivfPinnedTable(p1))
    val clean = cleanSearch.collect().toSeq
    val p2 = tempDir("ivf_pin_b")
    Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 200), p2)
    Similarity.appendIvfIndexPinned(emb, spark, p2) // redelivers the base too
    assert(spark.read.parquet(s"$p2/assigned").count() === emb.count(),
      "overlapping redelivery must not duplicate rows")
    val redelivered = Similarity.ivfSearchPinned(spark, p2, probeId = 0L, k = 20)
      .collect().toSeq
    assert(redelivered === clean,
      "probe over the overlap-redelivered index must equal the clean append's")
  }

  test("IVF declared query is SEARCH-ONLY: repeat invocations never refit KMeans (r6 weak #1)") {
    val q = SparkEntry.queries("embed_ivf_topk")
    assert(q(spark, sf("sf0.001")).count() > 0) // first touch may build once
    val builds = Similarity.ivfBuildCount.get()
    val again = q(spark, sf("sf0.001"))
    assert(again.count() > 0)
    assert(Similarity.ivfBuildCount.get() === builds,
      "declared embed_ivf_topk refit KMeans on an already-indexed corpus")
    // and the search plan is the bucket-pruned index scan
    assertBucketPruned(again,
      Similarity.ivfPinnedTable(Similarity.ivfIndexFor(spark, sf("sf0.001"))))
  }

  test("IVF index cache keys on corpus content: rewritten corpus gets a fresh index (ADVICE r7)") {
    val dir = tempDir("graft_ivf_fp")
    def writeCorpus(n: Int): Unit =
      Tables.embeddings(spark, sf("sf0.001")).limit(n)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
      writeCorpus(80)
      val b0 = Similarity.ivfBuildCount.get()
      val p1 = Similarity.ivfIndexFor(spark, dir, nClusters = 4)
      assert(Similarity.ivfBuildCount.get() === b0 + 1, "first touch must build")
      assert(Similarity.ivfIndexFor(spark, dir, nClusters = 4) === p1)
      assert(Similarity.ivfBuildCount.get() === b0 + 1, "unchanged corpus must not rebuild")
      // the cache outlives a catalog: a cache hit re-attaches the table
      val served = Similarity.ivfSearch(spark, p1, probeId = 0L, k = 5).collect().toSeq
      spark.sql(s"DROP TABLE ${Similarity.ivfPinnedTable(p1)}")
      assert(Similarity.ivfSearch(spark, Similarity.ivfIndexFor(spark, dir, nClusters = 4),
        probeId = 0L, k = 5).collect().toSeq === served)
      assert(Similarity.ivfBuildCount.get() === b0 + 1, "a re-attach must not rebuild")
      writeCorpus(60) // regenerate the corpus in place — listing/size change
      val p2 = Similarity.ivfIndexFor(spark, dir, nClusters = 4)
      assert(Similarity.ivfBuildCount.get() === b0 + 2,
        "rewritten corpus served a stale index (fingerprint missing from cache key)")
      assert(p2 !== p1, "new generation must not overwrite the old index path")
      // the fresh index really reflects the new corpus: 60 vectors, not 80
      assert(spark.read.parquet(s"$p2/assigned").count() === 60)
    } finally Bench.deleteRecursively(dir)
  }

  test("PQ index shape + planted-neighbor recall through the ADC scan") {
    val rnd = new scala.util.Random(19)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val base = vec(0)
    val rows =
      (0L, base, 0) +:
        (1L to 5L).map(i => (i, base.map(_ + (rnd.nextGaussian() * 0.05).toFloat), 0)) ++:
        (10L until 210L).map(i => (i, vec(i.toInt), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val path = tempDir("pq_planted")
    try {
      Similarity.buildPqIndex(emb, path, m = 8, k = 16, nClusters = 8)
      // index shape: m·k codebook rows, every vector encoded, 8 coarse centroids
      assert(spark.read.parquet(s"$path/codebooks").count() === 8L * 16L)
      assert(spark.read.parquet(s"$path/assigned").count() === emb.count())
      assert(spark.read.parquet(s"$path/centroids").count() === 8L)
      // flat ADC scan must surface the planted near-neighbors of vec 0:
      // codes quantize each 8-dim subvector to its nearest of 16 centroids,
      // so a 0.05-σ perturbation of the base vector shares almost every code
      val flat = Similarity.pqSearch(spark, path, probeId = 0L, kResults = 6, nProbe = 0)
        .select("vec_id").as[Long].collect().toSet
      val planted = (1L to 5L).toSet
      val recall = (planted intersect flat).size.toDouble / planted.size
      assert(recall >= 0.8, s"flat PQ recall $recall on planted neighbors (got=$flat)")
      // the pruned IVF-PQ scan agrees on the same planted set (the probe's
      // cluster holds its near-duplicates by construction)
      val pruned = Similarity.pqSearch(spark, path, probeId = 0L, kResults = 6, nProbe = 2)
        .select("vec_id").as[Long].collect().toSet
      val prunedRecall = (planted intersect pruned).size.toDouble / planted.size
      assert(prunedRecall >= 0.8, s"IVF-PQ recall $prunedRecall (got=$pruned)")
      // deterministic: same persisted index, same answer
      val again = Similarity.pqSearch(spark, path, probeId = 0L, kResults = 6, nProbe = 0)
        .select("vec_id").as[Long].collect().toSet
      assert(again === flat)
      // exact re-rank: the 4·k ADC shortlist re-scored with TRUE
      // cosines must (a) stay shortlist-bounded, (b) put every
      // planted neighbor on top (exact cosine cannot miss a 0.05-σ
      // perturbation against Gaussian noise), (c) emit cosines in
      // descending order
      val rr = Similarity.pqSearchRerank(spark, path, probeId = 0L,
        kResults = 6, candMult = 4, nProbe = 0).collect()
      assert(rr.length === 6)
      val rrIds = rr.map(_.getAs[Long]("vec_id")).toSet
      val rrRecall = (planted intersect rrIds).size.toDouble / planted.size
      assert(rrRecall >= recall, s"re-rank recall $rrRecall below ADC $recall")
      assert(rrRecall === 1.0, s"exact re-rank missed a planted neighbor: $rrIds")
      val cosines = rr.map(_.getAs[Double]("cosine"))
      assert(cosines.sameElements(cosines.sortBy(-_)), "re-rank not cosine-descending")
    } finally Bench.deleteRecursively(path)
  }

  test("declared k-means and PQ append queries leave no catalog table behind") {
    // each invocation builds its own index root; the `assigned` table
    // it registers is dropped with the root when the query returns
    for (q <- Seq("embed_ivf_topk_append", "embed_pq_topk_append")) {
      def tables() = spark.catalog.listTables().collect().map(_.name).toSet
      val before = tables()
      assert(SparkEntry.queries(q)(spark, sf("sf0.001")).count() > 0)
      assert(tables() === before, s"$q left ${tables() -- before}")
    }
  }

  test("PQ declared queries are SEARCH-ONLY and share ONE index; IVF-PQ prunes partitions") {
    val flatQ = SparkEntry.queries("embed_pq_topk")
    val prunedQ = SparkEntry.queries("embed_ivfpq_topk")
    assert(flatQ(spark, sf("sf0.001")).count() > 0) // first touch may build once
    val builds = Similarity.pqBuildCount.get()
    // repeat flat + the SIBLING query: both serve from the same cached index
    assert(flatQ(spark, sf("sf0.001")).count() > 0)
    val pruned = prunedQ(spark, sf("sf0.001"))
    val prunedRows = pruned.collect()
    assert(prunedRows.nonEmpty)
    assert(Similarity.pqBuildCount.get() === builds,
      "a declared PQ query refit codebooks on an already-indexed corpus")
    // the cluster filter reaches the file listing: bucket pruning
    assertBucketPruned(pruned,
      Similarity.ivfPinnedTable(Similarity.pqIndexFor(spark, sf("sf0.001"))))
    // scores are the SAME LUT in both variants: any vec_id in both top-20s
    // carries the identical ADC score
    val flatScores = flatQ(spark, sf("sf0.001")).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val disagree = prunedRows
      .filter(r => flatScores.contains(r.getLong(0)))
      .count(r => flatScores(r.getLong(0)) != r.getDouble(3))
    assert(disagree === 0, "pruned and flat ADC scores diverge for shared candidates")
  }

  test("containment pairs are ASYMMETRIC: a doc quoted whole inside a longer one is caught one-way") {
    val rnd = new scala.util.Random(31)
    def words(n: Int): String =
      Seq.fill(n)(rnd.alphanumeric.filter(_.isLetter).take(5).mkString).mkString(" ")
    val a = words(60)
    val b = a + " " + words(60) // b CONTAINS a; Jaccard(a,b) is only ~0.5
    val docs = (Seq((0L, a), (1L, b)) ++
      (10L until 30L).map(i => (i, words(80))))
      .toDF("doc_id", "text")
    val pairs = graft.llm.Dedup.containmentPairs(docs, maxDf = 20, theta = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(pairs.contains((0L, 1L)),
      s"containment(a in b) must pass theta=0.8 (got pairs=${pairs.keySet})")
    assert(pairs((0L, 1L)) >= 0.8)
    assert(!pairs.contains((1L, 0L)),
      "containment(b in a) must NOT pass: b has its own tail — the relation is one-way")
    // unrelated random docs share no selective fingerprints at theta=0.8
    val offenders = pairs.keySet.filter { case (x, y) => x >= 10L || y >= 10L }
    assert(offenders.isEmpty, s"unrelated docs paired: $offenders")
  }

  test("substring spans: a copied passage is found at ANY offset with exact boundaries") {
    // 12-token passage planted at different offsets in docs 1 and 2;
    // doc 4 carries it twice with a gap > n (two spans); doc 5 is the
    // passage back-to-back (period-12 gram repeats: duplicated starts
    // 0..4 and 12..16, gap 8 = n, so the islands must MERGE into one
    // whole-doc span); doc 3 shares nothing.
    val S = "quantum ledger harmonic vessel crimson ember lattice " +
      "orchard pinnacle drift meridian cascade"
    def filler(p: String, k: Int) = (1 to k).map(p + _).mkString(" ")
    val d = docs(
      (1L, filler("aa", 10) + " " + S + " " + filler("bb", 10)),
      (2L, filler("cc", 5) + " " + S + " " + filler("dd", 12)),
      (3L, filler("zz", 20)),
      (4L, S + " " + filler("ee", 10) + " " + S),
      (5L, S + " " + S))
    val spans = Dedup.duplicatedSpanRows(d)
      .as[(Long, Int, Long)].collect().toSet
    assert(spans == Set(
      (1L, 10, 12L), (2L, 5, 12L),
      (4L, 0, 12L), (4L, 22, 12L),
      (5L, 0, 24L)), s"got $spans")
    val roll = Dedup.duplicatedSpans(d).orderBy("doc_id")
      .select("doc_id", "n_spans", "dup_tokens", "max_span", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(roll == Seq(
      (1L, 1L, 12L, 12L, 0.375),            // 12 of 32 tokens
      (2L, 1L, 12L, 12L, 0.413793),         // 12 of 29
      (4L, 2L, 24L, 12L, 0.705882),         // 24 of 34, widest span 12
      (5L, 1L, 24L, 24L, 1.0)), s"got $roll") // the WHOLE doc is duplicated
  }

  test("intraDocSpans: within-doc recurrence coverage, island split, repeat-free doc absent") {
    // doc 1: "a b c" cycled — every 3-gram occurs twice, one island
    // covering all 8 tokens; doc 2: repeat-free, must not appear;
    // doc 3: two repeated trigrams ("p q r" ×2, "s t u" ×2) separated
    // by a 4-token gap > n=3 — two 6-token spans, 12 of 16 covered.
    val d = docs(
      (1L, "a b c a b c a b"),
      (2L, "x y z w v u t s"),
      (3L, "p q r p q r j1 j2 j3 j4 s t u s t u"))
    val got = Dedup.intraDocSpans(d).orderBy("doc_id")
      .select("doc_id", "n_spans", "dup_tokens", "max_span", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 8L, 8L, 1.0),
      (3L, 2L, 12L, 6L, 0.75)), s"got $got")
  }

  test("pageRank on a 3-chain: exact fixed-iteration algebra, middle outranks ends") {
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Dedup.pageRank(nodes, edges, iters = 5, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    // replay the same recurrence scalar-side: deg = (1, 2, 1), N = 3
    var r = Array(1.0 / 3, 1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 5) {
      val in = Array(r(1) / 2, r(0) + r(2), r(1) / 2)
      r = in.map(c => 0.15 / 3 + 0.85 * c)
    }
    Seq(0, 1, 2).foreach { i =>
      val want = math.rint(r(i) * 3 * 1e6) / 1e6
      assert(math.abs(got(i + 1L) - want) < 1e-9, s"node ${i + 1}: got ${got(i + 1L)}, want $want")
    }
    assert(got(2L) > got(1L) && got(2L) > got(3L), "middle node must outrank the ends")
    assert(math.abs(got(1L) - got(3L)) < 1e-9, "symmetric ends must tie")
    // total rank is conserved (no dangling nodes on the undirected graph)
    assert(math.abs(got.values.sum - 3.0) < 1e-5, s"sum=${got.values.sum}")
  }

  test("incremental substring probe: delta passages found in the corpus, span-exact") {
    val S = "orbital station relay beacon signal thermal array panel junction manifold"  // 10 tokens
    def filler(p: String, k: Int) = (1 to k).map(p + _).mkString(" ")
    val corpus = docs(
      (1L, filler("ca", 6) + " " + S + " " + filler("cb", 6)),
      (2L, filler("cc", 20)))
    val delta = docs(
      (10L, corpus.filter(col("doc_id") === 1).head().getString(1)), // verbatim copy
      (11L, filler("dz", 4) + " " + S),                              // quotes S at the tail
      (12L, filler("dq", 15)))                                       // novel
    val out = Dedup.incrementalSubstringSpans(corpus, delta)
      .select("doc_id", "n_spans", "dup_tokens", "max_span", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // copy: whole doc (22 tokens) duplicated
    assert(out(10L) === ((10L, 1L, 22L, 22L, 1.0)), s"got ${out.get(10L)}")
    // quote: grams fully inside S (starts 4..6 of the 14-token doc —
    // S occupies 4..13, so in-S starts are 4,5,6) → one 10-token span
    assert(out(11L) === ((11L, 1L, 10L, 10L, 0.714286)), s"got ${out.get(11L)}")
    assert(!out.contains(12L), s"novel doc flagged: ${out.get(12L)}")
  }

  test("multi-probe ANN: candidate superset of the exact-match join, per-probe top-1 never worse") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val probes = emb.filter(col("vec_id") < 16)
    val exact = Similarity.annJoin(emb, probes, k = 3)
      .select("probe_id", "rank", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val multi = Similarity.annJoinMultiProbe(emb, probes, k = 3)
      .select("probe_id", "rank", "cos_sim")
      .as[(Long, Long, Double)].collect()
    val exactTop = exact.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    val multiTop = multi.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    // flip j=0 keeps the original signature → every probe the exact
    // join answers, multiprobe answers at least as well
    exactTop.foreach { case (p, s) =>
      assert(multiTop.contains(p), s"probe $p lost under multiprobe")
      assert(multiTop(p) >= s - 1e-9, s"probe $p: multi ${multiTop(p)} < exact $s")
    }
    // and it may answer probes the exact join cannot (hamming-1 reach);
    // at minimum it never answers fewer
    assert(multiTop.keySet.size >= exactTop.keySet.size)
  }

  test("tier agreement: exact dup hits all three tiers, near dup at least two, unrelated none") {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "phi", "chi", "psi", "omega", "one",
      "two", "three", "four", "five", "six", "seven", "eight", "nine",
      "ten", "eleven", "twelve", "north", "south", "east", "west", "center")
    val base = words.mkString(" ")                       // 40 distinct tokens
    val near = words.updated(39, "lambda").mkString(" ") // vocab J = 39/41 ≈ 0.95,
                                                         // bigram J ≈ 0.93 → ≥ 2 tiers certain
    val d = docs(
      (1L, base),
      (2L, base), // exact copy → all 3 tiers (hamming 0, J = 1 everywhere)
      (3L, near),
      (4L, Vector.fill(40)("unrelatedfiller").zipWithIndex
        .map { case (w, i) => w + i }.mkString(" ")))
    val got = Dedup.tierAgreement(d)
      .select("id_a", "id_b", "n_tiers", "tiers")
      .as[(Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, 2L)) === ((3L, "minhash,ngram,simhash")), s"got ${got.get((1L, 2L))}")
    Seq((1L, 3L), (2L, 3L)).foreach { p =>
      val (n, tiers) = got(p)
      assert(n >= 2L && tiers.contains("minhash") && tiers.contains("ngram"),
        s"near dup $p: got ($n, $tiers)")
    }
    assert(!got.keySet.exists(q => q._1 == 4L || q._2 == 4L), s"unrelated paired: $got")
  }

  test("shared-scan tier agreement == standalone, and signature stages read the cache, not parquet") {
    // row-for-row identity on the real corpus (parquet-backed, so the
    // plan check below is meaningful)
    val raw = Tables.documents(spark, sf("sf0.001"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_tiers", "tiers")
        .as[(Long, Long, Long, String)].collect().sorted.toSeq
    assert(rows(Dedup.tierAgreementShared(raw)) === rows(Dedup.tierAgreement(raw)),
      "shared-scan consensus diverged from the standalone form")
    // plan shape: with the (doc_id, text) projection persisted, every
    // tier's signature stage must read the InMemoryRelation — zero
    // parquet scans (the cache fill is the ONE corpus scan)
    val corpus = raw.select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      corpus.count() // fill
      for ((stage, name) <- Seq(
          (Dedup.tokenBanded(corpus), "minhash bands"),
          (Dedup.simhashed64(corpus), "simhash sigs"),
          (Dedup.ngramBanded(corpus), "ngram bands"))) {
        val plans = collectPlan(stage.queryExecution.executedPlan)
        assert(plans.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
          s"$name does not read the shared cache")
        assert(!plans.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
          s"$name re-scans parquet despite the shared cache")
      }
    } finally corpus.unpersist()
  }

  test("familiarity: shared constructions score high, all-novel text floors at 1.0") {
    val common = "the quick brown fox jumps over the lazy dog"   // 9 tokens → 8 bigrams
    val d = docs(
      (1L, common), (2L, common), (3L, common),  // every bigram seen 3×
      (4L, "zq1 xv2 wp3 kj4 hm5"))               // 4 bigrams, all hapax
    val got = graft.llm.TextAnalysis.familiarity(d)
      .select("doc_id", "n_bigrams", "n_hapax", "familiarity")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // all-novel doc: every bigram has corpus frequency exactly 1
    assert(got(4L) === ((4L, 4L, 1.0)), s"got ${got(4L)}")
    // shared doc: every bigram frequency 3 ⇒ mean exactly 3.0, no hapax
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id) === ((8L, 0L, 3.0)), s"doc $id: got ${got(id)}")
    }
  }

  test("langConsistency: planted half-English half-German doc splits its chunk votes") {
    // 32 English-stopword-heavy tokens then 32 German — with W=32/S=16
    // the pure windows vote en and de, the straddling one ties (en
    // alphabetically first wins the deterministic tiebreak)
    val en = Seq.fill(8)("the a of and").mkString(" ")    // 32 tokens
    val de = Seq.fill(8)("der die das und").mkString(" ") // 32 tokens
    val d = docs(
      (1L, en + " " + de),
      (2L, en)) // pure doc: every chunk votes en
    val got = graft.llm.TextAnalysis.langConsistency(d)
      .select("doc_id", "n_chunks", "n_langs", "top_lang", "consistency")
      .as[(Long, Long, Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L)._2 >= 2L, s"mixed doc must expose >= 2 languages, got ${got(1L)}")
    assert(got(1L)._4 < 1.0)
    assert(got(2L)._2 === 1L && got(2L)._3 === "en" && got(2L)._4 === 1.0,
      s"pure doc: ${got(2L)}")
  }

  test("chunkWindows: tail covered with overlap, short docs one chunk, exact slices") {
    val d = docs(
      (1L, (1 to 40).map("t" + _).mkString(" ")), // 40 tokens → 2 windows
      (2L, "a b c"))                              // shorter than W → 1 window
    val got = graft.llm.TextAnalysis.chunkWindows(d, window = 32, stride = 16)
      .as[(Long, Int, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got(1L).map(c => (c._2, c._3, c._4)).toSeq === Seq((0, 1L, 32L), (1, 17L, 24L)))
    assert(got(1L)(1)._5 === (17 to 40).map("t" + _).mkString(" "))
    assert(got(2L).map(c => (c._2, c._3, c._4, c._5)).toSeq === Seq((0, 1L, 3L, "a b c")))
    // every token position is inside at least one window
    val covered = got(1L).flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered === (1L to 40L).toSet)
  }

  test("keywordSearch: integer idf scores and ranking computed by hand") {
    val d = docs(
      (1L, "spark spark window"),
      (2L, "spark"),
      (3L, "other text entirely"))
    val got = graft.llm.TextAnalysis.keywordSearch(d, Seq("spark", "window"), 10)
      .as[(Long, Long, Long)].collect()
    // N=3: idf(spark) = 3e6 div 2 = 1,500,000; idf(window) = 3,000,000
    assert(got.toSeq === Seq((1L, 6000000L, 2L), (2L, 1500000L, 1L)))
  }

  test("bm25Search: tf saturates sub-linearly and longer docs score lower at equal tf") {
    val d = docs(
      (1L, "q a a a"),                 // tf=1, dl=4
      (2L, "q q a a"),                 // tf=2, dl=4
      (3L, "q q q q"),                 // tf=4, dl=4
      (4L, "q a a a a a a a"),         // tf=1, dl=8
      (5L, "b b b b"))                 // no match
    val got = graft.llm.TextAnalysis.bm25Search(d, Seq("q"), 10)
      .as[(Long, Double, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(3L, 2L, 1L, 4L),
      s"ranking wrong: ${got.toSeq}")
    val score = got.map(r => r._1 -> r._2).toMap
    // saturation: the 2→4 tf jump buys less than the 1→2 jump
    assert(score(3L) - score(2L) < score(2L) - score(1L))
    // length normalization: identical tf, doubled length → lower score
    assert(score(4L) < score(1L))
    // flat tf·idf would rank 3 at exactly 4× doc 1; BM25 must not
    assert(score(3L) < 4.0 * score(1L))
  }

  test("readability: hand-computed FORCAST grades, vowel-less words count zero syllables") {
    val d = docs(
      (1L, "see banana xyz"), // mono: see, xyz (y is a vowel); banana = 3 groups
      (2L, "zzz"))            // no vowel groups at all
    val got = graft.llm.TextAnalysis.readability(d)
      .select("doc_id", "n_words", "n_mono", "n_syll", "syll_per_word", "forcast_grade")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) === ((3L, 2L, 5L, 1.666667, 10.0)), s"got ${got(1L)}")
    assert(got(2L) === ((1L, 0L, 0L, 0.0, 20.0)), s"got ${got(2L)}")
  }

  test("substring strip keeps exactly ONE copy: the min-doc owner survives verbatim") {
    val S = "meridian harbor lantern crystal summit prairie velvet horizon ember cascade"  // 10 tokens
    def filler(p: String, k: Int) = (1 to k).map(p + _).mkString(" ")
    val d = docs(
      (1L, filler("aa", 4) + " " + S),          // owner (min doc with S's grams)
      (2L, S + " " + filler("bb", 6)),          // loses S
      (3L, filler("cc", 3) + " " + S + " " + filler("dd", 3)), // loses S
      (4L, filler("zz", 12)))                   // untouched
    val out = Dedup.substringStrip(d)
      .select("doc_id", "n_kept", "clean_text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === ((14L, filler("aa", 4) + " " + S)),
      s"owner must keep the passage verbatim: ${out.get(1L)}")
    assert(out(2L) === ((6L, filler("bb", 6))), s"got ${out.get(2L)}")
    assert(out(3L) === ((6L, filler("cc", 3) + " " + filler("dd", 3))), s"got ${out.get(3L)}")
    assert(out(4L) === ((12L, filler("zz", 12))), "untouched doc must pass byte-identical")
    // the global guarantee: S survives exactly once across the corpus
    val survivors = out.values.count(_._2.contains(S))
    assert(survivors === 1, s"expected exactly one surviving copy, got $survivors")
  }

  test("bucketed hash index: probe shuffles ONLY the delta side, answers match incrementalDedup") {
    // r14: the exact tier's serving table (buildHashIndex /
    // probeHashIndex) — the left probe join against the persisted
    // content-hash index must re-bucket only the delta's hashed rows
    // (one exchange with broadcast disabled), and the served verdict
    // must equal the in-query incrementalDedup frame-for-frame.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val delta = Dedup.incrementalExactDelta(corpus)
    val tbl = "hash_idx_spec"
    val path = tempDir("graft_hash_idx_spec")
    Dedup.buildHashIndex(corpus, spark, tbl, s"$path/$tbl")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = Dedup.probeHashIndex(delta, spark, tbl)
      served.count()
      val shuffles = collectPlan(served.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles === 1,
        s"probe must shuffle only the delta side:\n${served.queryExecution.executedPlan}")
      val got = served.orderBy("doc_id").collect().toSeq
      val direct = Dedup.incrementalDedup(corpus, delta)
        .orderBy("doc_id").collect().toSeq
      assert(got === direct, s"served $got != direct $direct")
      assert(got.exists(_.getString(1) == "dup"), "exact copies must flag dup")
      assert(got.exists(_.getString(1) == "new"), "revised texts must pass as new")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("hash-index key migration: BINARY keys shrink the table; standing hex tables keep serving (r21)") {
    // VERDICT r20 task 6: the exact-dedup index key moves from the
    // 32-char hex md5 STRING to the 16-byte BINARY unhex(md5) — half
    // the key bytes in the standing table and on every probe wire.
    // Back-compat is schema-driven (Dedup.keyEncoderFor): the TABLE's
    // h column type decides the probe/append encoding, so a pre-r21
    // hex table keeps serving identical verdicts until its next
    // rebuild — no flag day, no mixed keys inside one table.
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val corpus = Tables.documents(spark, sf("sf0.01")).select(col("doc_id"), col("text"))
    val delta = Dedup.incrementalExactDelta(corpus)
    val path = tempDir("graft_hash_key_mig")
    // legacy table: the pre-r21 build shape, replicated verbatim (hex h)
    corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .write.mode("overwrite").bucketBy(8, "h").sortBy("h")
      .option("path", s"$path/hex_idx").saveAsTable("mig_hex_idx")
    Dedup.writeSpecSidecar(spark, s"$path/hex_idx", 8, Seq("h"), Seq("h"))
    Dedup.buildHashIndex(corpus, spark, "mig_bin_idx", s"$path/bin_idx")
    try {
      assert(spark.table("mig_bin_idx").schema("h").dataType === BinaryType,
        "the r21 build must store 16-byte BINARY keys")
      assert(spark.table("mig_hex_idx").schema("h").dataType === StringType)
      // both encodings serve IDENTICAL verdicts (the probe side adapts)
      val viaBin = Dedup.probeHashIndex(delta, spark, "mig_bin_idx")
        .orderBy("doc_id").collect().toSeq
      val viaHex = Dedup.probeHashIndex(delta, spark, "mig_hex_idx")
        .orderBy("doc_id").collect().toSeq
      assert(viaBin === viaHex, "hex and binary tables must serve identical verdicts")
      assert(viaBin.exists(_.getString(1) == "dup") && viaBin.exists(_.getString(1) == "new"))
      // appends follow the TABLE's encoding — a hex table stays hex
      val tail = corpus.filter(col("doc_id") % 97 === 7)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat(col("text"), lit(" v2-tail")).as("text"))
      Dedup.appendHashIndex(tail, spark, "mig_hex_idx")
      assert(spark.table("mig_hex_idx").schema("h").dataType === StringType)
      val tailProbe = Dedup.probeHashIndex(tail, spark, "mig_hex_idx")
      assert(tailProbe.filter(col("status") === "dup").count() === tail.count(),
        "rows appended into the hex table must probe as dups (hex-keyed append)")
      // the footprint claim, measured: same rows, binary table smaller
      def dirBytes(p: String): Long = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
      }
      val hexB = dirBytes(s"$path/hex_idx")
      val binB = dirBytes(s"$path/bin_idx")
      info(f"hash-index parquet footprint: hex=$hexB B, binary=$binB B " +
        f"(${binB * 100.0 / hexB}%.0f%% of hex)")
      assert(binB < hexB,
        s"binary-keyed index ($binB B) must be smaller than the hex form ($hexB B)")
    } finally {
      spark.sql("DROP TABLE IF EXISTS mig_hex_idx")
      spark.sql("DROP TABLE IF EXISTS mig_bin_idx")
    }
  }

  test("bucketed SRP index: candidate join shuffles ONLY the probe side, answers match annJoin") {
    // r14: the embedding tier's serving pair (buildSrpIndex /
    // probeSrpIndex) — the persisted band table must read its bucket
    // files co-located in the candidate join (one exchange: the probe
    // side's re-bucketing, with broadcast disabled), and the served
    // top-k must equal the in-query annJoin frame-for-frame.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val probes = emb.filter(col("vec_id") < 8)
    val tbl = "srp_idx_spec"
    val path = tempDir("graft_srp_idx_spec")
    Similarity.buildSrpIndex(emb, spark, tbl, s"$path/$tbl")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val candJoin = spark.table(s"${tbl}_bands")
        .join(Similarity.srpBanded(probes), Seq("band_idx", "band_sig"))
      candJoin.count()
      val shuffles = collectPlan(candJoin.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles === 1,
        s"candidate join must shuffle only the probe side:\n${candJoin.queryExecution.executedPlan}")
      val served = Similarity.probeSrpIndex(probes, spark, tbl, k = 3)
        .orderBy("probe_id", "rank").collect().toSeq
      val direct = Similarity.annJoin(emb, probes, k = 3).collect().toSeq
      assert(served === direct, s"served $served != direct $direct")
      assert(served.nonEmpty, "the near-orthogonal fixture still yields some candidates")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_vecs")
    }
  }

  test("bucketed band index: probe shuffles ONLY the delta side, answers match the in-query form") {
    // r14: the minhash tier's serving pair (buildBandIndex /
    // probeBandIndex) under the gram-index discipline — the candidate
    // join against the persisted band table must re-bucket only the
    // delta's band rows (ONE exchange with broadcast disabled; the
    // index reads its bucket files co-located), and the served verdict
    // must equal the in-query incrementalNearDedup frame-for-frame.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val delta = Dedup.incrementalNearDelta(corpus)
    val tbl = "band_idx_spec"
    val path = tempDir("graft_band_idx_spec")
    Dedup.buildBandIndex(corpus, spark, tbl, s"$path/$tbl")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probeCand = spark.table(s"${tbl}_bands")
        .join(Dedup.tokenBanded(delta), Seq("band_idx", "band_hash"))
      probeCand.count()
      val shuffles = collectPlan(probeCand.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles === 1,
        s"probe must shuffle only the delta side:\n${probeCand.queryExecution.executedPlan}")
      val served = Dedup.probeBandIndex(delta, spark, tbl)
        .orderBy("doc_id").collect().toSeq
      val direct = Dedup.incrementalNearDedup(corpus, delta)
        .orderBy("doc_id").collect().toSeq
      assert(served === direct, s"served $served != direct $direct")
      assert(served.exists(_.getString(1) == "near_dup"),
        "exact delta copies must be flagged near_dup")
      assert(served.exists(_.getString(1) == "new"),
        "novel delta docs must pass as new")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
    }
  }

  test("bucketed gram index: probe shuffles ONLY the delta side, answers match the in-query form") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val delta = corpus.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val tbl = "gram_idx_spec"
    val path = tempDir("graft_gram_idx_spec")
    Dedup.buildGramIndex(corpus, spark, tbl, s"$path/$tbl")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the PROBE join (delta grams ⋈ index): with broadcast disabled,
      // exactly ONE exchange — the delta side re-bucketing; the index
      // side reads its bucket files co-located
      val probeHits = spark.table(tbl)
        .join(
          delta.select(col("doc_id"),
            graft.functions.ngram_hashes(col("text"), 8, 15).as(Seq("pos", "gram_h"))),
          Seq("gram_h"), "inner")
      probeHits.count()
      val shuffles = collectPlan(probeHits.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles === 1,
        s"probe must shuffle only the delta side:\n${probeHits.queryExecution.executedPlan}")
      // end to end, the served answer equals the in-query form
      val served = Dedup.probeGramIndex(delta, spark, tbl)
        .orderBy("doc_id").collect().toSeq
      val direct = Dedup.incrementalSubstringSpans(corpus, delta)
        .orderBy("doc_id").collect().toSeq
      assert(served === direct, s"served $served != direct $direct")
      assert(served.nonEmpty, "verbatim delta copies must be flagged")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.Bench.deleteRecursively(path)
    }
  }

  test("append maintenance: probe-after-append equals probe-after-rebuild on all four tiers") {
    // VERDICT r14 task 1 (b): for each serving tier, build from the
    // first-ingested slice + append the remainder, and the probe must
    // be ROW-IDENTICAL to a probe against a from-scratch rebuild over
    // the full corpus — the invariant that makes append-only
    // maintenance sound as the standing 100 TB ingest artifact.
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val base = corpus.filter(col("doc_id") < 200)
    val tail = corpus.filter(col("doc_id") >= 200)
    val path = tempDir("graft_append_equiv")

    // exact tier
    Dedup.buildHashIndex(corpus, spark, "hx_full", s"$path/hx_full")
    Dedup.buildHashIndex(base, spark, "hx_app", s"$path/hx_app")
    Dedup.appendHashIndex(tail, spark, "hx_app")
    val exactDelta = Dedup.incrementalExactDelta(corpus)
    try {
      assert(Dedup.probeHashIndex(exactDelta, spark, "hx_app")
        .orderBy("doc_id").collect().toSeq ===
        Dedup.probeHashIndex(exactDelta, spark, "hx_full")
          .orderBy("doc_id").collect().toSeq)
      // the appended table holds each hash ONCE (the left-anti gate):
      // duplicate h rows would multiply probe output rows
      val idx = spark.table("hx_app")
      assert(idx.count() === idx.select("h").distinct().count(),
        "appendHashIndex must not duplicate existing hashes")
    } finally Seq("hx_full", "hx_app").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

    // near tier (band + token tables)
    Dedup.buildBandIndex(corpus, spark, "bx_full", s"$path/bx_full")
    Dedup.buildBandIndex(base, spark, "bx_app", s"$path/bx_app")
    Dedup.appendBandIndex(tail, spark, "bx_app")
    val nearDelta = Dedup.incrementalNearDelta(corpus)
    try {
      assert(Dedup.probeBandIndex(nearDelta, spark, "bx_app")
        .orderBy("doc_id").collect().toSeq ===
        Dedup.probeBandIndex(nearDelta, spark, "bx_full")
          .orderBy("doc_id").collect().toSeq)
    } finally Seq("bx_full_bands", "bx_full_toks", "bx_app_bands", "bx_app_toks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // substring tier (distinct gram set)
    Dedup.buildGramIndex(corpus, spark, "gx_full", s"$path/gx_full")
    Dedup.buildGramIndex(base, spark, "gx_app", s"$path/gx_app")
    Dedup.appendGramIndex(tail, spark, "gx_app")
    try {
      assert(Dedup.probeGramIndex(nearDelta, spark, "gx_app")
        .orderBy("doc_id").collect().toSeq ===
        Dedup.probeGramIndex(nearDelta, spark, "gx_full")
          .orderBy("doc_id").collect().toSeq)
      // appended index stays a SET: content equality with the rebuild
      val app = spark.table("gx_app")
      assert(app.count() === spark.table("gx_full").count(),
        "appendGramIndex must write exactly the new distinct grams")
    } finally Seq("gx_full", "gx_app").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))

    // embedding tier (SRP band + vector tables)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Similarity.buildSrpIndex(emb, spark, "sx_full", s"$path/sx_full")
    Similarity.buildSrpIndex(emb.filter(col("vec_id") < 200), spark, "sx_app", s"$path/sx_app")
    Similarity.appendSrpIndex(emb.filter(col("vec_id") >= 200), spark, "sx_app")
    val probes = emb.filter(col("vec_id") < 8)
    try {
      assert(Similarity.probeSrpIndex(probes, spark, "sx_app", k = 3)
        .orderBy("probe_id", "rank").collect().toSeq ===
        Similarity.probeSrpIndex(probes, spark, "sx_full", k = 3)
          .orderBy("probe_id", "rank").collect().toSeq)
    } finally Seq("sx_full_bands", "sx_full_vecs", "sx_app_bands", "sx_app_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compactIndex folds appended file sets into one file per bucket, probe-identical") {
    // r15: the maintenance tail — three append batches land three file
    // sets per bucket; compaction reads the INDEX (never the corpus),
    // rewrites one file per bucket, and the probe answers identically.
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val slices = Seq(
      corpus.filter(col("doc_id") < 100),
      corpus.filter(col("doc_id") >= 100 && col("doc_id") < 250),
      corpus.filter(col("doc_id") >= 250 && col("doc_id") < 400),
      corpus.filter(col("doc_id") >= 400))
    val path = tempDir("graft_compact_idx")
    Dedup.buildHashIndex(slices.head, spark, "cx_idx", s"$path/cx")
    slices.tail.foreach(d => Dedup.appendHashIndex(d, spark, "cx_idx"))
    def dataFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .count(f => f.getName.startsWith("part-"))
    val filesBefore = dataFiles(s"$path/cx")
    val delta = Dedup.incrementalExactDelta(corpus)
    val before = Dedup.probeHashIndex(delta, spark, "cx_idx")
      .orderBy("doc_id").collect().toSeq
    try {
      Dedup.compactIndex(spark, "cx_idx", s"$path/cx2")
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("cx_idx"))
      val buckets = meta.bucketSpec.get.numBuckets
      val filesAfter = dataFiles(s"$path/cx2")
      assert(filesBefore > buckets,
        s"fixture must accumulate >1 file set before compaction: $filesBefore")
      assert(filesAfter <= buckets,
        s"compaction must fold to at most one file per bucket: $filesAfter vs $buckets")
      val after = Dedup.probeHashIndex(delta, spark, "cx_idx")
        .orderBy("doc_id").collect().toSeq
      assert(after === before, "probe must be identical after compaction")
      // the compacted table still serves with a bucketed (delta-only)
      // probe plan — the spec survived the swap
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val served = Dedup.probeHashIndex(delta, spark, "cx_idx")
        served.count()
        assert(collectPlan(served.queryExecution.executedPlan)
          .count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
          "compacted probe must still shuffle only the delta")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cx_idx")
      spark.sql("DROP TABLE IF EXISTS cx_idx_compacting")
    }
  }

  test("recoverCompact completes the swap from every constructible crash state") {
    // VERDICT r15 task 2: the drop→rename swap's documented recovery
    // existed only in a comment — here each crash state is CONSTRUCTED
    // (via the factored-out compactWrite) and the recovery is proven
    // by probe equality, never a rebuild.
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val path = tempDir("graft_compact_crash")
    Dedup.buildHashIndex(corpus.filter(col("doc_id") < 200), spark, "cr_idx", s"$path/v0")
    Dedup.appendHashIndex(corpus.filter(col("doc_id") >= 200), spark, "cr_idx")
    val delta = Dedup.incrementalExactDelta(corpus)
    val expected = Dedup.probeHashIndex(delta, spark, "cr_idx")
      .orderBy("doc_id").collect().toSeq
    try {
      // state 1 — crash AFTER the compacted write committed, BEFORE the
      // DROP: both tables registered. Recovery finishes the whole swap
      // and deletes the superseded location's files.
      Dedup.compactWrite(spark, "cr_idx", s"$path/v1")
      assert(Dedup.recoverCompact(spark, "cr_idx") === "swapped")
      assert(!spark.catalog.tableExists("cr_idx_compacting"))
      assert(Dedup.probeHashIndex(delta, spark, "cr_idx")
        .orderBy("doc_id").collect().toSeq === expected,
        "probe must be identical after swapped-state recovery")
      assert(!new java.io.File(s"$path/v0").exists(),
        "superseded location must be deleted after a successful swap " +
          "(repeated compactions leaked disk — ADVICE r15)")
      // state 2 — crash BETWEEN the DROP and the RENAME: only
      // `_compacting` registered, the table name unresolvable. Recovery
      // is re-issuing the RENAME.
      Dedup.compactWrite(spark, "cr_idx", s"$path/v2")
      spark.sql("DROP TABLE cr_idx")
      intercept[Exception](spark.table("cr_idx").count()) // the unresolvable window
      assert(Dedup.recoverCompact(spark, "cr_idx") === "renamed")
      assert(Dedup.probeHashIndex(delta, spark, "cr_idx")
        .orderBy("doc_id").collect().toSeq === expected,
        "probe must be identical after renamed-state recovery")
      // state 3 — clean state: recovery is an explicit no-op (safe to
      // run unconditionally at gate startup)
      assert(Dedup.recoverCompact(spark, "cr_idx") === "noop")
      // state 4 — neither registered (the compacted write itself never
      // committed): loud failure, the caller re-runs compactIndex
      spark.sql("DROP TABLE cr_idx")
      intercept[IllegalStateException](Dedup.recoverCompact(spark, "cr_idx"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS cr_idx")
      spark.sql("DROP TABLE IF EXISTS cr_idx_compacting")
    }
  }

  test("recoverCompact refuses a swept candidate location (r20)") {
    // review r20, completing the ADVICE r19 lease work on the RECOVERY
    // side: a fresh-catalog boot elsewhere can sweep a crashed swap's
    // candidate dir once its lease ages out — recovery on the
    // surviving catalog must then abort LOUDLY, never rename the
    // catalog onto deleted files (the commitSpecSidecar false return
    // carried no alarm).
    val corpus = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 200)
    val path = tempDir("graft_compact_swept")
    Dedup.buildHashIndex(corpus, spark, "sw_idx", s"$path/v0")
    val delta = Dedup.incrementalExactDelta(corpus)
    val expected = Dedup.probeHashIndex(delta, spark, "sw_idx")
      .orderBy("doc_id").collect().toSeq
    try {
      // state (table, _compacting) both registered, candidate SWEPT:
      // the fence fires BEFORE the DROP, so the committed table keeps
      // serving after the abort
      Dedup.compactWrite(spark, "sw_idx", s"$path/v1")
      Bench.deleteRecursively(s"$path/v1") // the other boot's sweep
      val e1 = intercept[IllegalStateException](Dedup.recoverCompact(spark, "sw_idx"))
      assert(e1.getMessage.contains("reclaimed"), e1.getMessage)
      assert(Dedup.probeHashIndex(delta, spark, "sw_idx")
        .orderBy("doc_id").collect().toSeq === expected,
        "the committed table must keep serving after the fenced abort")
      // state _compacting alone (crash between DROP and RENAME),
      // candidate swept: the rename must refuse too
      spark.sql("DROP TABLE sw_idx")
      val e2 = intercept[IllegalStateException](Dedup.recoverCompact(spark, "sw_idx"))
      assert(e2.getMessage.contains("reclaimed"), e2.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sw_idx")
      spark.sql("DROP TABLE IF EXISTS sw_idx_compacting")
      Bench.deleteRecursively(path)
    }
  }

  test("buildIvfIndexPinned supersede sweep defers to a fresh writer lease (r20)") {
    // review r20: the rebuild's supersede sweep deleted
    // assigned_refit_* dirs unconditionally — the same
    // possibly-live-writer hazard resolveCommittedCandidate's sweep
    // already defers on. A fresh-leased uncommitted candidate
    // survives the rebuild; a stale-leased one is reclaimed.
    val emb = Tables.embeddings(spark, sf("sf0.001")).filter(col("vec_id") < 200)
    val path = tempDir("ivf_sweep_lease")
    val tbl = Similarity.ivfPinnedTable(path)
    try {
      Similarity.buildIvfIndexPinned(emb, path)
      val cand = s"$path/assigned_refit_live"
      new java.io.File(cand).mkdirs()
      Dedup.writeSpecSidecar(spark, cand, 8,
        Seq("cluster"), Seq("cluster", "vec_id"), epoch = 1L, committed = false)
      Similarity.buildIvfIndexPinned(emb, path)
      assert(new java.io.File(cand).exists(),
        "a fresh-leased refit candidate must survive the rebuild sweep " +
          "(possibly a live writer on another driver)")
      val lease = new java.io.File(cand, Dedup.LeaseSidecar)
      assert(lease.exists() && lease.setLastModified(
        System.currentTimeMillis() - 2L * Dedup.SweepLeaseTtlDefaultMs))
      Similarity.buildIvfIndexPinned(emb, path)
      assert(!new java.io.File(cand).exists(),
        "a stale-leased candidate must be reclaimed by the next rebuild")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Bench.deleteRecursively(path)
    }
  }

  test("sidecar swap-commit protocol: strict reads, epoch resolution, backfill, and the committed recovery state (r19)") {
    // VERDICT r18 tasks 1 + 3 and ADVICE r18, unit level. The sidecar
    // now carries (epoch, committed); this pins each protocol rule in
    // isolation — the full crash-inside-swap × catalog-loss boot is
    // StreamingSpec's crash-inside-swap bootGate test.

    // ADVICE r18 (medium): a read/parse failure must THROW, never read
    // as "no sidecar" — only genuine absence returns None
    val junk = tempDir("graft_sidecar_junk")
    assert(Dedup.readSpecSidecarFull(spark, junk).isEmpty,
      "a dir without the sidecar file reads as absent")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(junk, Dedup.SpecSidecar), "not json {{".getBytes("UTF-8"))
    intercept[IllegalStateException](Dedup.readSpecSidecarFull(spark, junk))

    // pre-r19 sidecars (no epoch/committed fields) read as the old
    // semantics: epoch 0, committed
    val legacy = tempDir("graft_sidecar_legacy")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacy, Dedup.SpecSidecar),
      """{"numBuckets":4,"bucketCols":["h"],"sortCols":[]}""".getBytes("UTF-8"))
    val li = Dedup.readSpecSidecarFull(spark, legacy).get
    assert(li.numBuckets === 4 && li.epoch === 0L && li.committed,
      s"legacy sidecar must read (epoch 0, committed): $li")

    // resolveCommittedCandidate: the full decision matrix
    val root = tempDir("graft_resolve")
    def mk(name: String, epoch: Long, committed: Boolean): String = {
      val d = s"$root/$name"
      new java.io.File(d).mkdirs()
      Dedup.writeSpecSidecar(spark, d, 8, Seq("h"), Seq("h"), epoch, committed)
      d
    }
    // a crashed writer's lease has aged out by the time a boot sweeps;
    // model that by back-dating the lease file past the TTL
    def ageLease(dir: String): Unit = {
      val f = new java.io.File(dir, Dedup.LeaseSidecar)
      assert(f.exists(), s"fixture: expected a writer lease at $dir")
      assert(f.setLastModified(
        System.currentTimeMillis() - 2L * Dedup.SweepLeaseTtlDefaultMs))
    }
    assert(Dedup.resolveCommittedCandidate(spark, Seq(s"$root/none")).isEmpty,
      "no sidecar-bearing candidate resolves to None")
    // a mid-swap candidate ROLLS BACK to the committed predecessor —
    // but while its writer lease is FRESH it may be a live refit on
    // another driver, so the pick answers read-only and the sweep
    // defers (r20, ADVICE r19)
    val a0 = mk("a0", 0L, committed = true)
    val b1u = mk("b1u", 1L, committed = false)
    assert(Dedup.resolveCommittedCandidate(spark, Seq(a0, b1u)) === Some(a0))
    assert(new java.io.File(b1u).exists(),
      "a fresh-leased mid-swap candidate must survive the sweep (possibly live writer)")
    // ...once the lease is stale (crashed writer), the next boot
    // reclaims it — the crash-before-rename state, healed automatically
    ageLease(b1u)
    assert(Dedup.resolveCommittedCandidate(spark, Seq(a0, b1u)) === Some(a0))
    assert(!new java.io.File(b1u).exists(),
      "a stale-leased mid-swap loser must be deleted")
    // two committed candidates: the newest epoch wins, the superseded
    // one is deleted — the crash-after-flip-before-cleanup state
    val b1 = mk("b1", 1L, committed = true)
    assert(Dedup.resolveCommittedCandidate(spark, Seq(a0, b1)) === Some(b1))
    assert(!new java.io.File(a0).exists(), "superseded loser must be deleted")
    // epoch tie among committed candidates: genuinely ambiguous — loud
    val c1 = mk("c1", 1L, committed = true)
    intercept[IllegalStateException](
      Dedup.resolveCommittedCandidate(spark, Seq(b1, c1)))
    // ...but the SAME dir under two spellings is one candidate, never a
    // spurious tie (review r19), answered in the caller's spelling
    assert(Dedup.resolveCommittedCandidate(spark, Seq(b1, s"$b1/")) === Some(b1))
    assert(new java.io.File(b1).exists(), "spelling dedup must not delete the winner")
    // every candidate mid-swap: unreachable under the protocol — loud
    val d2u = mk("d2u", 2L, committed = false)
    intercept[IllegalStateException](
      Dedup.resolveCommittedCandidate(spark, Seq(d2u)))

    // writer-lease lifecycle + swap fence (r20, ADVICE r19)
    val e3 = mk("e3", 3L, committed = false)
    assert(new java.io.File(e3, Dedup.LeaseSidecar).exists(),
      "an uncommitted sidecar write must stamp the writer lease")
    // the fence passes on a live mid-swap candidate (and re-stamps)
    Dedup.fenceSwapCandidate(spark, e3)
    assert(Dedup.commitSpecSidecar(spark, e3))
    assert(!new java.io.File(e3, Dedup.LeaseSidecar).exists(),
      "the commit flip must retire the writer lease")
    // fence refuses a double-swap on an already-committed candidate...
    val exC = intercept[IllegalStateException](Dedup.fenceSwapCandidate(spark, e3))
    assert(exC.getMessage.contains("already committed"), exC.getMessage)
    // ...and aborts a ZOMBIE swap whose candidate was swept — the
    // catalog rename must never land on a deleted location
    graft.Bench.deleteRecursively(e3)
    val exS = intercept[IllegalStateException](Dedup.fenceSwapCandidate(spark, e3))
    assert(exS.getMessage.contains("swept"), exS.getMessage)

    // backfill (VERDICT r18 task 4 seam): an r17-shaped index (no
    // sidecar) re-attaches after one backfillSpecSidecar call — no
    // rebuild, no compact
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val delta = Dedup.incrementalExactDelta(corpus)
    val bpath = tempDir("graft_backfill")
    try {
      Dedup.buildHashIndex(corpus, spark, "bf_idx", s"$bpath/idx")
      val expected = Dedup.probeHashIndex(delta, spark, "bf_idx")
        .orderBy("doc_id").collect().toSeq
      assert(new java.io.File(s"$bpath/idx/${Dedup.SpecSidecar}").delete(),
        "fixture: strip the sidecar to reconstruct the r17 layout")
      assert(Dedup.backfillSpecSidecar(spark, "bf_idx"),
        "backfill must write the missing sidecar from the catalog's spec")
      assert(!Dedup.backfillSpecSidecar(spark, "bf_idx"),
        "backfill must be idempotent (sidecar already present)")
      val bi = Dedup.readSpecSidecarFull(spark, s"$bpath/idx").get
      assert(bi.numBuckets === 8 && bi.bucketCols === Seq("h") && bi.committed,
        s"backfilled sidecar must carry the catalog's spec, committed: $bi")
      spark.sql("DROP TABLE bf_idx") // catalog loss; files stay
      assert(Dedup.reattachBucketedTable(spark, "bf_idx", s"$bpath/idx"),
        "backfilled index must re-attach from the path alone")
      assert(Dedup.probeHashIndex(delta, spark, "bf_idx")
        .orderBy("doc_id").collect().toSeq === expected,
        "probe must answer identically through the backfilled re-attach")
      // ...and with NEITHER catalog nor sidecar there is no safe spec:
      // backfill on an unknown table throws rather than guessing
      intercept[Exception](Dedup.backfillSpecSidecar(spark, "bf_idx_ghost"))

      // recoverCompact's new "committed" state: crash BETWEEN the
      // rename and the sidecar flip — recovery completes the flip
      Dedup.compactWrite(spark, "bf_idx", s"$bpath/v2")
      spark.sql("DROP TABLE bf_idx")
      spark.sql("ALTER TABLE bf_idx_compacting RENAME TO bf_idx")
      val pre = Dedup.readSpecSidecarFull(spark, s"$bpath/v2").get
      assert(!pre.committed && pre.epoch === 1L,
        s"candidate sidecar must be mid-swap at predecessor epoch + 1: $pre")
      assert(Dedup.recoverCompact(spark, "bf_idx") === "committed",
        "recovery must finish the sidecar flip the crash skipped")
      assert(Dedup.readSpecSidecarFull(spark, s"$bpath/v2").get.committed)
      assert(Dedup.recoverCompact(spark, "bf_idx") === "noop",
        "a second recovery is the plain clean-state no-op")
      assert(Dedup.probeHashIndex(delta, spark, "bf_idx")
        .orderBy("doc_id").collect().toSeq === expected)

      // re-attach refuses a mid-swap sidecar (route through the
      // resolver instead), and resolution then heals the state
      Dedup.compactWrite(spark, "bf_idx", s"$bpath/v3")
      spark.sql("DROP TABLE bf_idx")
      spark.sql("DROP TABLE bf_idx_compacting") // catalog loss mid-swap
      val exMid = intercept[IllegalStateException](
        Dedup.reattachBucketedTable(spark, "bf_idx", s"$bpath/v3"))
      assert(exMid.getMessage.contains("mid-swap"), exMid.getMessage)
      // the crashed writer's lease has aged out by boot time (r20)
      assert(new java.io.File(s"$bpath/v3", Dedup.LeaseSidecar)
        .setLastModified(
          System.currentTimeMillis() - 2L * Dedup.SweepLeaseTtlDefaultMs))
      assert(Dedup.resolveCommittedCandidate(spark, Seq(s"$bpath/v2", s"$bpath/v3"))
        === Some(s"$bpath/v2"),
        "the committed predecessor must win over the mid-swap candidate")
      assert(!new java.io.File(s"$bpath/v3").exists(),
        "the mid-swap loser must be deleted")
      assert(Dedup.reattachBucketedTable(spark, "bf_idx", s"$bpath/v2"))
      assert(Dedup.probeHashIndex(delta, spark, "bf_idx")
        .orderBy("doc_id").collect().toSeq === expected,
        "probe must answer identically after the resolved re-attach")

      // ADVICE r18: a sidecar-bearing dir with no readable data files
      // produces the actionable diagnostic, not a bare inference stack
      val ed = tempDir("graft_empty_reattach")
      Dedup.writeSpecSidecar(spark, ed, 8, Seq("h"), Seq("h"))
      val exEmpty = intercept[IllegalStateException](
        Dedup.reattachBucketedTable(spark, "bf_idx_empty", ed))
      assert(exEmpty.getMessage.contains("unreadable or empty"), exEmpty.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bf_idx")
      spark.sql("DROP TABLE IF EXISTS bf_idx_compacting")
    }
  }

  test("compaction-due drill: appends degrade files, policy fires, crash mid-compact, recovery — probe-identical (r20)") {
    // VERDICT r19 task 7: the maintenance rulebook's pieces —
    // compactionDue (r17), compactIndex, recoverCompact — were each
    // tested in isolation; this runs the WHOLE loop over the gram
    // index as one scenario: appends degrade per-bucket file counts →
    // the policy fires → the compaction crashes INSIDE its swap →
    // recovery completes it — with the file counts provably folded
    // and the probe answer identical at every stage.
    val docs = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val s1 = docs.filter(col("doc_id") % 3 === 0)
    val s2 = docs.filter(col("doc_id") % 3 === 1)
    val s3 = docs.filter(col("doc_id") % 3 === 2)
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" tail edit")).as("text"))
    val tbl = "gram_cdrill_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val path = tempDir("gram_cdrill")
    Dedup.buildGramIndex(s1, spark, tbl, s"$path/idx")
    try {
      def dataFiles(): Int = {
        val loc = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location
        Option(new java.io.File(loc).listFiles()).toSeq.flatten
          .count(f => f.isFile && f.getName.endsWith(".parquet"))
      }
      assert(!streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1),
        "a fresh build must not demand compaction")
      // sustained appends degrade the layout: up to one file per bucket per append
      Dedup.appendGramIndex(s2, spark, tbl)
      Dedup.appendGramIndex(s3, spark, tbl)
      val degraded = dataFiles()
      assert(streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1),
        s"two appends must trip the file-count rule ($degraded files)")
      val expected = Dedup.probeGramIndex(delta, spark, tbl)
        .orderBy("doc_id").collect().toSeq
      assert(expected.nonEmpty, "fixture must produce probe spans")
      // the policy fires → compaction runs → CRASH between the DROP
      // and the RENAME (the worst swap phase: the catalog knows only
      // the candidate)
      Dedup.compactWrite(spark, tbl, s"$path/v2")
      spark.sql(s"DROP TABLE $tbl")
      assert(Dedup.recoverCompact(spark, tbl) === "renamed",
        "recovery must complete the crashed swap")
      val folded = dataFiles()
      assert(folded < degraded,
        s"the fold must reduce the file count ($degraded -> $folded)")
      assert(!streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1),
        "the completed fold must reset the policy")
      assert(Dedup.probeGramIndex(delta, spark, tbl)
        .orderBy("doc_id").collect().toSeq === expected,
        "probe must answer identically through degrade → crash → recovery")
      // second crash phase: killed BEFORE the DROP (both tables
      // registered) — recovery finishes the whole swap
      Dedup.compactWrite(spark, tbl, s"$path/v3")
      assert(Dedup.recoverCompact(spark, tbl) === "swapped")
      assert(!streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1))
      assert(Dedup.probeGramIndex(delta, spark, tbl)
        .orderBy("doc_id").collect().toSeq === expected,
        "probe must answer identically through the second crash phase")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
    }
  }

  test("append maintenance shuffles only the delta: plan pins per tier") {
    // VERDICT r14 task 1 (a): the append derivations must never
    // re-shuffle the corpus — every tier re-buckets ONLY the delta:
    // hash/gram via the anti-join + a reused groupBy/distinct
    // partitioning, band/SRP via the idempotence anti-join against
    // the id-bucketed side table (r15) followed by a map-only
    // derivation. One delta-bounded exchange each; the index side
    // always reads its bucket files co-located. The bucketed writer's
    // repartition on the bucket columns reuses the hash/gram exchange
    // (the delta is repartitioned into the buckets up front) and adds
    // one delta-sized exchange to the band/SRP writes.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val base = corpus.filter(col("doc_id") < 200)
    val tail = corpus.filter(col("doc_id") >= 200)
    val path = tempDir("graft_append_plan")
    Dedup.buildHashIndex(base, spark, "hp_idx", s"$path/hp_idx")
    Dedup.buildGramIndex(base, spark, "gp_idx", s"$path/gp_idx")
    Dedup.buildBandIndex(base, spark, "bp_idx", s"$path/bp_idx")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Similarity.buildSrpIndex(emb.filter(col("vec_id") < 200), spark, "sp_idx", s"$path/sp_idx")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.count()
        collectPlan(df.queryExecution.executedPlan)
          .count(_.isInstanceOf[ShuffleExchangeExec])
      }
      val hashRows = Dedup.appendHashIndexRows(tail, spark, "hp_idx")
      assert(shuffles(hashRows) === 1,
        s"hash append must re-bucket only the delta (anti-join + reused " +
          s"groupBy partitioning):\n${hashRows.queryExecution.executedPlan}")
      val gramRows = Dedup.appendGramIndexRows(tail, spark, "gp_idx")
      assert(shuffles(gramRows) === 1,
        s"gram append must re-bucket only the delta (anti-join + reused " +
          s"distinct partitioning):\n${gramRows.queryExecution.executedPlan}")
      // band/SRP append frames: the idempotence anti-join (one
      // delta-side exchange; the id-bucketed side table co-located)
      // feeding a map-only derivation
      val bandRows = Dedup.tokenBanded(
          Dedup.appendBandIndexNew(tail, spark, "bp_idx"))
        .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash"))
      assert(shuffles(bandRows) === 1,
        s"band append must re-bucket only the delta:\n${bandRows.queryExecution.executedPlan}")
      val srpRows = Similarity.srpBanded(
        emb.filter(col("vec_id") >= 200).join(
          spark.table("sp_idx_vecs").select(col("vec_id")), Seq("vec_id"), "left_anti"))
      assert(shuffles(srpRows) === 1,
        s"SRP append must re-bucket only the delta:\n${srpRows.queryExecution.executedPlan}")
      // k-means tier (r16): the frozen assignment is MAP-ONLY (zero
      // exchanges — centroids ride as an array literal), and the full
      // append derivation pays exactly 2 exchanges with broadcast
      // disabled: the delta side + the PRUNED index side's vec_ids
      // (the table is bucketed by cluster, not vec_id; pruning bounds
      // that side by the delta's target clusters, not the corpus —
      // the bucket-pruning pins below, on a delta that targets one
      // cluster, are what make "pruned" a plan property rather than a
      // hope)
      val ivfPath = s"$path/ivf_plan"
      Similarity.buildIvfIndex(emb.filter(col("vec_id") < 200), ivfPath, nClusters = 8)
      val assignOnly = Similarity.ivfAssignRows(
        emb.filter(col("vec_id") >= 200), spark, ivfPath)
      assert(shuffles(assignOnly) === 0,
        s"frozen-centroid assignment must be map-only:\n${assignOnly.queryExecution.executedPlan}")
      val ivfRows = Similarity.appendIvfIndexRows(
        emb.filter(col("vec_id") >= 200), spark, ivfPath)
      assert(shuffles(ivfRows) === 2,
        s"IVF append must shuffle the delta + pruned-index vec_ids only:\n" +
          s"${ivfRows.queryExecution.executedPlan}")
      assertBucketPruned(Similarity.appendIvfIndexRows(
        emb.filter(col("vec_id") === 200L), spark, ivfPath), Similarity.ivfPinnedTable(ivfPath))
      // the same anti-join guards the PQ and pinned appends: a
      // redelivered pinned row reads only its own cluster's bucket
      val pinnedPath = s"$path/ivf_pinned_plan"
      Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 200), pinnedPath)
      val redelivered = spark.range(1)
        .select(lit(0L).as("vec_id"), lit(3L).as("cluster"))
      assertBucketPruned(Similarity.notYetIndexed(redelivered, spark, pinnedPath),
        Similarity.ivfPinnedTable(pinnedPath))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("hp_idx", "gp_idx", "bp_idx_bands", "bp_idx_toks",
        "sp_idx_bands", "sp_idx_vecs").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq("ivf_plan", "ivf_pinned_plan").foreach(r =>
        Similarity.dropIvfIndexPinned(spark, s"$path/$r"))
    }
  }

  test("appends are idempotent under at-least-once redelivery on every tier") {
    // r15: a standing gate's source redelivers batches; re-appending
    // the SAME delta must change nothing — the probe answers
    // identically and no tier accumulates duplicate rows (the SRP
    // tier would otherwise emit duplicate top-k rows: its verify join
    // has no absorbing aggregate).
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val base = corpus.filter(col("doc_id") < 300)
    val tail = corpus.filter(col("doc_id") >= 300)
    val path = tempDir("graft_append_idem")
    Dedup.buildHashIndex(base, spark, "ih_idx", s"$path/ih")
    Dedup.buildBandIndex(base, spark, "ib_idx", s"$path/ib")
    Dedup.buildGramIndex(base, spark, "ig_idx", s"$path/ig")
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    Similarity.buildSrpIndex(emb.filter(col("vec_id") < 300), spark, "is_idx", s"$path/is")
    try {
      Seq(1, 2).foreach { _ =>
        Dedup.appendHashIndex(tail, spark, "ih_idx")
        Dedup.appendBandIndex(tail, spark, "ib_idx")
        Dedup.appendGramIndex(tail, spark, "ig_idx")
        Similarity.appendSrpIndex(emb.filter(col("vec_id") >= 300), spark, "is_idx")
      }
      // no duplicate rows accumulated anywhere
      def dups(t: String, keys: Seq[String]): Long = {
        val df = spark.table(t)
        df.count() - df.select(keys.map(col): _*).distinct().count()
      }
      assert(dups("ih_idx", Seq("h")) === 0, "hash index duplicated rows")
      assert(dups("ib_idx_toks", Seq("corpus_id")) === 0, "token table duplicated docs")
      assert(dups("ib_idx_bands", Seq("corpus_id", "band_idx", "band_hash")) === 0,
        "band table duplicated rows")
      assert(dups("ig_idx", Seq("gram_h")) === 0, "gram index duplicated keys")
      assert(dups("is_idx_vecs", Seq("vec_id")) === 0, "vector table duplicated rows")
      // and the probes still answer exactly like a single rebuild
      val delta = Dedup.incrementalNearDelta(corpus)
      assert(Dedup.probeBandIndex(delta, spark, "ib_idx")
        .orderBy("doc_id").collect().toSeq ===
        Dedup.incrementalNearDedup(corpus, delta).orderBy("doc_id").collect().toSeq)
      val probes = emb.filter(col("vec_id") < 8)
      assert(Similarity.probeSrpIndex(probes, spark, "is_idx", k = 3)
        .orderBy("probe_id", "rank").collect().toSeq ===
        Similarity.annJoin(emb, probes, k = 3).collect().toSeq)
      // the single-exchange probe shape must SURVIVE appends: a bucket
      // holding several appended file sets still satisfies the join's
      // hash partitioning (files union per bucket) — if Spark ever
      // stopped honoring multi-file buckets, the probe would silently
      // regress to a full corpus shuffle and this catches it
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val cand = Dedup.tokenBanded(delta)
          .join(spark.table("ib_idx_bands"), Seq("band_idx", "band_hash"))
        cand.count()
        assert(collectPlan(cand.queryExecution.executedPlan)
          .count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
          s"appended band table lost its bucketed-read co-location:\n" +
            s"${cand.queryExecution.executedPlan}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally Seq("ih_idx", "ib_idx_bands", "ib_idx_toks", "ig_idx",
      "is_idx_bands", "is_idx_vecs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("SemDeDup collapses planted near-duplicate vectors within clusters; distinct vectors survive") {
    val rnd = new scala.util.Random(23)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    // two duplicate families (exact copy + tiny-noise copies) in a sea of
    // distinct random vectors: near-identical vectors land in one k-means
    // cluster by construction, so the min-id keeper must collapse each
    // family to its lowest id and touch nothing else
    val baseA = vec(1)
    val baseB = vec(2)
    val rows =
      Seq((0L, baseA, 0), (1L, baseA, 0)) ++
        (2L to 4L).map(i => (i, baseA.map(_ + (rnd.nextGaussian() * 0.01).toFloat), 0)) ++
        Seq((10L, baseB, 1), (11L, baseB, 1)) ++
        (100L until 260L).map(i => (i, vec(i.toInt), 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val path = tempDir("semdedup")
    try {
      Similarity.buildIvfIndex(emb, path, nClusters = 8)
      val out = Similarity.semDeDup(spark, path, tau = 0.99)
      val survivors = out.select("vec_id").as[Long].collect().toSet
      assert(survivors.contains(0L), "family A's min id must survive")
      assert((1L to 4L).forall(!survivors.contains(_)),
        s"family A copies must be removed (survivors=${survivors.filter(_ < 10)})")
      assert(survivors.contains(10L) && !survivors.contains(11L),
        "family B must collapse to its min id")
      val distinctIds = (100L until 260L).toSet
      val removedDistinct = distinctIds -- survivors
      // random 64-dim gaussians essentially never hit cos >= 0.99
      assert(removedDistinct.isEmpty,
        s"distinct vectors were removed: $removedDistinct")
      // the candidate join is cluster-keyed — no cartesian/nested-loop join
      val plan = out.queryExecution.executedPlan
      val bad = collectPlan(plan).exists {
        case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
        case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
        case _ => false
      }
      assert(!bad, s"semDeDup planned a non-keyed join:\n$plan")
    } finally Bench.deleteRecursively(path)
  }

  test("pinned semantic dedup: planted twins collapse to min ids, SRP bucket scopes the pairing") {
    // the declared dedup_semantic_pinned plants 50 scaled twins
    // in-query (cosine ≈ 0.9996 ≥ 0.99); the min-id victor rule must
    // remove twins (id + 1M loses to its base) while the
    // near-orthogonal originals survive untouched
    val out = SparkEntry.queries("dedup_semantic_pinned")(spark, sf("sf0.01"))
    val survivors = out.select("vec_id").as[Long].collect().toSet
    val n = Tables.embeddings(spark, sf("sf0.01")).count()
    // every original survives (no base vector has a LOWER-id near-dup:
    // twins sit at +1M, and the raw corpus is near-orthogonal)
    assert((0L until n).forall(survivors.contains),
      "an original vector was removed")
    // most planted twins collapse; the stragglers are SRP recall
    // misses (twin hashed into a different bucket), bounded small
    val plantedSurvivors = survivors.filter(_ >= 1000000L)
    assert(plantedSurvivors.size <= 15,
      s"too many planted twins survived: ${plantedSurvivors.size}")
    // the pairing is bucket-scoped — never cartesian
    val bad = collectPlan(out.queryExecution.executedPlan).exists {
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
      case _ => false
    }
    assert(!bad, "pinned semantic dedup planned a cartesian pairing")
  }

  test("SRP hot-bucket diagnostic surfaces a planted degenerate bucket; quiet on the real corpus") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val base = vec(3)
    // 40 identical vectors: every band's signature coincides — one hot
    // bucket per band holding all 40
    val emb = ((0L until 40L).map(i => (i, base, 0)) ++
      (100L until 160L).map(i => (i, vec(i.toInt), 1)))
      .toDF("vec_id", "embedding", "label")
    val hot = Similarity.hotSrpBuckets(emb, bound = 20L)
    assert(hot.count() >= Similarity.SrpBands.toLong,
      "planted degenerate bucket not surfaced in every band")
    assert(hot.agg(max(col("n_vecs"))).head().getLong(0) >= 40L)
    // the near-orthogonal driver corpus has no such bucket
    assert(Similarity.hotSrpBuckets(
      Tables.embeddings(spark, sf("sf0.001")), bound = 25L).count() === 0L)
    // the diagnostic only OBSERVES: annJoin results are unchanged
    val probes = emb.filter(col("vec_id").isin(100L, 101L))
    val plain = Similarity.annJoin(emb, probes, k = 3).collect().toSeq
    val loud = Similarity.annJoin(emb, probes, k = 3, occupancyBound = Some(20L))
      .collect().toSeq
    assert(plain === loud)
  }

  test("simhash hot-bucket diagnostic surfaces a vocabulary-degenerate corpus; pairs unchanged") {
    // 30 identical docs concentrate every C(6,3) table's bucket; 30
    // distinct-vocabulary docs stay spread
    val d = docs(
      (0L until 30L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")) ++
        (100L until 130L).map(i => (i, (0 until 8).map(j => s"w${i}x$j").mkString(" "))): _*)
    val hot = Dedup.simhashHotBuckets(d, bound = 10L)
    assert(hot.count() >= Dedup.SimHashCombos.size.toLong,
      "planted identical docs not surfaced in every combo table")
    assert(hot.agg(max(col("n_docs"))).head().getLong(0) >= 30L)
    val plain = Dedup.simhashPairs(d).collect().toSeq
    val loud = Dedup.simhashPairs(d, occupancyBound = Some(10L)).collect().toSeq
    assert(plain === loud)
    assert(plain.nonEmpty) // the identical docs ARE near-dups — no cap dropped them
  }

  test("bench LSH fixture: ~5% planted dup rate, disjoint background vocabulary, dups found") {
    val dir = Bench.lshFixtureCached(spark, sf("sf0.01"))
    val orig = Tables.documents(spark, sf("sf0.01"))
    val fixture = Tables.documents(spark, dir)
    val n = orig.count()
    assert(fixture.count() === n + n / Bench.DupEvery)
    def isPlanted(a: Long, b: Long): Boolean =
      b == a + 10000000L && a % Bench.DupEvery == 0
    // ngram-jaccard catches (almost all of) the planted twins and
    // NOTHING else: the salted background shares zero vocabulary
    val ngram = Dedup.ngramJaccardPairs(fixture, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(ngram.forall(p => isPlanted(p._1, p._2)),
      s"non-planted pair in ${ngram.filterNot(p => isPlanted(p._1, p._2)).take(5).toSeq}")
    assert(ngram.length >= (n / Bench.DupEvery * 8 / 10).toInt,
      s"only ${ngram.length} of ~${n / Bench.DupEvery} planted twins caught")
    // simhash pairs: only planted twins (one extra token can flip a few
    // majority bits, so recall is partial by design — but zero false pairs)
    val sim = Dedup.simhashPairs(fixture)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(sim.forall(p => isPlanted(p._1, p._2)),
      s"non-planted simhash pair in ${sim.filterNot(p => isPlanted(p._1, p._2)).take(5).toSeq}")
    assert(sim.nonEmpty, "no planted twin within hamming 3 — fixture too noisy")
    // the fixture is NON-degenerate: no hot simhash bucket
    assert(Dedup.simhashHotBuckets(fixture, bound = math.max(10L, n / 20)).count() === 0L)
  }

  test("embedding-cosine near-dedup finds planted duplicate vectors, skips the rest") {
    val rnd = new scala.util.Random(13)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    val base = vec(5)
    val base2 = vec(6)
    val rows =
      Seq(
        (0L, base, 0), (1L, base.map(x => x * 1.001f), 0), // exact-direction dup (cos = 1)
        // NOISY planted dups (cos ≈ 0.995): these exercise the banded
        // recall path — a noisy dup can disagree with its twin on a few
        // hyperplanes, and only any-of-b band agreement still finds it
        (2L, base2, 0), (3L, base2.map(x => (x + (rnd.nextGaussian() * 0.05).toFloat)), 0)) ++
        (10L until 60L).map(i => (i, vec(i.toInt), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val pairs = Similarity.nearDupPairsByCosine(emb, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"planted exact pair missed: $pairs")
    assert(pairs.contains((2L, 3L)), s"planted noisy pair missed: $pairs")
    assert(!pairs.exists(p => p._1 >= 10L), s"random vectors paired: $pairs")
  }

  test("banded SRP candidate generation is bounded, never within-one-fixed-bucket quadratic") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val cands = Similarity.srpBandedCandidates(emb).count()
    // multi-band SRP on a near-orthogonal corpus: candidates are a few
    // percent of all pairs (measured ~1.8% at 500 vecs), and no single
    // (band, signature) bucket holds more than a sliver of the corpus —
    // the property the fixed-256-bucket form could not offer at scale
    assert(cands < allPairs / 20, s"$cands candidates of $allPairs pairs is not selective")
    val maxBucket = Similarity.srpBanded(emb)
      .groupBy(col("band_idx"), col("band_sig")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxBucket < n / 10, s"hottest band bucket holds $maxBucket of $n vectors")
  }

  test("random projection preserves cosine within the JL error regime") {
    val out = SparkEntry.queries("embed_rp_preserve")(spark, sf("sf0.001"))
    val stats = out.agg(avg(col("abs_err")), max(col("abs_err"))).head()
    // 16-dim JL projection: per-pair error std ≈ 1/√16 = 0.25; the MEAN
    // absolute error across 500 pairs sits well under one std
    assert(stats.getDouble(0) < 0.25, s"mean |Δcos| ${stats.getDouble(0)} too large")
    // and the probe preserves itself exactly (cos 1 → cos 1)
    val self = out.filter(col("vec_id") === 0).head()
    assert(self.getAs[Double]("cos_orig") === 1.0 && self.getAs[Double]("cos_rp") === 1.0)
  }

  test("embedding fixture has no zero vectors (embed_quantize_error cos_preserved precondition)") {
    // the quantize query guards scale against 0, but cos_preserved of an
    // all-zero vector is 0/0 in any engine — the oracle hash only holds
    // while the fixture contains none, so pin that precondition here
    for (s <- Seq("sf0.001", "sf0.01")) {
      val zeros = Tables.embeddings(spark, sf(s))
        .filter(aggregate(transform(col("embedding").cast("array<double>"), x => abs(x)),
          lit(0.0), (acc, x) => acc + x) === 0.0)
        .count()
      assert(zeros === 0L, s"$s has $zeros all-zero embeddings")
    }
  }

  test("tfidf: vectors are nonnegative with plausible sparsity") {
    val out = SparkEntry.queries("text_tfidf")(spark, sf("sf0.001"))
    val rows = out.collect()
    assert(rows.length === Tables.documents(spark, sf("sf0.001")).count())
    assert(rows.forall(_.getAs[Int]("nnz") > 0))
    assert(rows.forall(_.getAs[Double]("l2_norm") >= 0.0))
  }

  test("ngram jaccard: bigram near-dups found regardless of length band; unrelated invisible") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown fox jumps over the lazy dog tonight" // 8/10 shared bigrams
    val longDoc = Seq.fill(5)(a).mkString(" ") // 5× repetition: shares a's bigram set
    val d = docs(
      (1L, a), (2L, b),
      (3L, "completely different words here now then when how why also"),
      (4L, longDoc))
    val pairs = Dedup.ngramJaccardPairs(d, threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    // banding finds ALL high-overlap pairs — including (1,4)/(2,4), which
    // the pre-round-5 (source, len_band) blocking key made invisible
    // because the 5× doc sat in a different length band
    assert(pairSet === Set((1L, 2L), (1L, 4L), (2L, 4L)), s"got $pairSet")
    val j12 = pairs.find(p => p._1 == 1L && p._2 == 2L).get._3
    // grams(a)=9 distinct, grams(b)=9, shared=8 → 8/10 = 0.8
    assert(math.abs(j12 - 0.8) < 1e-9, s"jaccard $j12 != 0.8")
    // grams(longDoc) = grams(a) + "today the" → J(1,4) = 9/10
    val j14 = pairs.find(p => p._1 == 1L && p._2 == 4L).get._3
    assert(math.abs(j14 - 0.9) < 1e-9, s"jaccard $j14 != 0.9")
  }

  test("ngram-jaccard banding: candidates bounded, no data-dependent super-linear block") {
    val d = Tables.documents(spark, sf("sf0.01"))
    val n = d.count()
    val allPairs = n * (n - 1) / 2
    // the PRODUCTION banding derivation (not an inline copy — ADVICE r6)
    val bands = Dedup.ngramBanded(d)
    // hottest (band, hash) bucket stays a sliver of the corpus — the
    // property the (source, len_band) block could not offer (few sources
    // × concentrated lengths → one block of size O(n))
    val maxBucket = bands.groupBy("band_idx", "band_hash").count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxBucket < n / 10, s"hottest band bucket holds $maxBucket of $n docs")
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(cands < allPairs / 20, s"$cands candidates of $allPairs pairs is not selective")
  }

  test("multimodal decode stub matches independently computed byte stats") {
    val d = docs((1L, "abc"), (2L, ""))
    val out = Multimodal.decodeStub(spark, Multimodal.withPayload(d))
      .collect().sortBy(_.doc_id)
    assert(out(0).n_bytes === 3L)
    assert(out(0).mean_byte === ("abc".map(_.toInt).sum.toDouble / 3))
    assert(out(0).head_hex === "616263")
    assert(out(1).n_bytes === 0L)
    assert(out(1).mean_byte === 0.0)
  }

  test("decode-features pin is row-identical to the stub on the corpus (r13)") {
    // the _pinned oracle replays byte features in DuckDB; this test
    // closes the loop on the Spark side: the pinned column-expression
    // frame and the mapPartitions stub must describe the SAME bytes —
    // n_bytes/head_hex equal, pinned byte_sum consistent with the
    // stub's rounded mean, and the ascii()-path precondition (pure
    // ASCII: n_bytes = char length) holds corpus-wide.
    val dir = sf("sf0.001")
    val stub = SparkEntry.queries("multimodal_decode_features")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Double]("mean_byte"), r.getAs[String]("head_hex")))).toMap
    val pinned = SparkEntry.queries("multimodal_decode_features_pinned")(spark, dir)
      .collect()
    assert(pinned.length === stub.size)
    // coalesce(-1): a NULL text row would make the inequality NULL and
    // silently pass the filter (r13 review); NULL texts are fine (both
    // engines emit all-zero features) but non-ASCII must still flag
    val ascii = Tables.documents(spark, dir)
      .filter(coalesce(length(col("text")), lit(-1)) =!=
        coalesce(length(col("text").cast("binary")), lit(-1)))
      .count()
    assert(ascii === 0L, s"$ascii non-ASCII docs — the ascii()-per-byte pin would diverge")
    pinned.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (nb, mean, hex) = stub(id)
      assert(r.getAs[Long]("n_bytes") === nb, s"doc $id n_bytes")
      assert(r.getAs[String]("head_hex") === hex, s"doc $id head_hex")
      val sum = r.getAs[Long]("byte_sum")
      val exact = if (nb == 0) 0.0 else sum.toDouble / nb
      assert(math.abs(mean - exact) <= 1e-6, s"doc $id mean $mean vs $exact")
      assert(r.getAs[Long]("mean_byte_micro") === (if (nb == 0) 0L else sum * 1000000L / nb))
    }
  }

  test("phashPairs: identical and rescaled payloads match, different content does not (r12)") {
    import spark.implicits._
    // smooth (band-limited) payloads — the signal class dHash's grid
    // resampling is designed for; a high-frequency pattern would alias
    // under rescaling exactly as it does for images
    def sine(freq: Double, phase: Double): String =
      (0 until 300).map(i =>
        ('a' + (12.5 + 12.4 * math.sin(i / freq + phase)).toInt).toChar).mkString
    val t = sine(20.0, 0.0)
    val other = sine(7.0, 2.0)
    val doubled = t.flatMap(c => s"$c$c") // 2× "upsample": same signal, twice the bytes
    val bumped = t.updated(150, (t(150) + 3).toChar).mkString("") // tiny local edit
    val df = Seq((1L, t), (2L, t), (3L, doubled), (4L, other), (5L, bumped))
      .toDF("doc_id", "text")
    val got = Multimodal.phashPairs(df, maxHam = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Long]("n_shared_bands"), r.getAs[Long]("hamming")))).toMap
    // identical payloads: all 4 bands shared, Hamming 0
    assert(got((1L, 2L)) === ((4L, 0L)))
    // resolution independence: the 2× upsample samples (nearly) the
    // same grid — the pair must clear the ≤ 6 rule
    assert(got.contains((1L, 3L)), s"rescaled twin missed: ${got.keySet}")
    // a length-preserving local edit stays within threshold
    assert(got.contains((1L, 5L)))
    // different content never pairs with the t-family
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated content matched: ${got.keySet}")
  }

  test("matryoshkaAudit: tail-heavy vectors break the prefix, aligned ones keep it (r12)") {
    import spark.implicits._
    // probe 0 along e1; v1/v2 carry their signal in the FIRST dims
    // (prefix-faithful), v6 hides its mass in the tail: prefix-2 ranks
    // it TOP (its 2-prefix is colinear with the probe) while the full
    // ranking puts it last — the failure mode the audit exists to catch
    val rows = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.9, 0.1, 0.0, 0.0)),
      (2L, Seq(0.7, 0.2, 0.1, 0.0)),
      (6L, Seq(0.8, 0.0, 2.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = graft.llm.Similarity
      .matryoshkaAudit(rows, nProbes = 1, k = 2, dims = Seq(2, 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_overlap"), r.getAs[Long]("top1_in_full")))).toMap
    // full top-2 = {1, 2}; prefix-2 top-2 = {6, 1} → overlap 1, top-1 lost
    assert(got(2L) === ((1L, 0L)))
    // the full-dim lane is the tautology row: overlap = k, top-1 kept
    assert(got(4L) === ((2L, 1L)))
  }

  test("bqRecall: sign-preserving scaling is invisible, magnitude is the blind spot (r12)") {
    import spark.implicits._
    val s64 = Array.tabulate(64)(i => if (i < 32) 1.0 else -1.0)
    def vec(f: Int => Double): Seq[Double] = Seq.tabulate(64)(i => f(i) * s64(i))
    val rows = Seq(
      (0L, vec(_ => 1.0)), // probe
      (1L, vec(_ => 0.5)), // same signs, scaled → Hamming 0, cosine 1
      (2L, Seq.tabulate(64)(i => if (i < 8) -s64(i) else s64(i))), // 8 flips
      (4L, vec(i => if (i == 0) 100.0 else 0.01))) // sign-identical, angle far
      .toDF("vec_id", "embedding")
    val got = graft.llm.Similarity.bqRecall(rows, nProbes = 1, k = 2).collect()
    assert(got.length === 1)
    // BQ top-2 at Hamming 0 = {1, 4} (magnitude-blind); exact top-2 =
    // {1, 2} → overlap 1, and the exact top-1 (vec 1) survives
    assert(got.head.getAs[Long]("n_overlap") === 1L)
    assert(got.head.getAs[Long]("exact_top1_kept") === 1L)
    // without the magnitude decoy the BQ list recovers the exact one
    val clean = rows.filter(col("vec_id") =!= 4L)
    val g2 = graft.llm.Similarity.bqRecall(clean, nProbes = 1, k = 2).collect().head
    assert(g2.getAs[Long]("n_overlap") === 2L)
  }

  test("language ID agrees with itself across engines' tie rules (deterministic)") {
    val a = SparkEntry.queries("text_lang_id")(spark, sf("sf0.001"))
      .select("doc_id", "detected_lang").as[(Long, String)].collect().toMap
    val b = SparkEntry.queries("text_lang_id")(spark, sf("sf0.001"))
      .select("doc_id", "detected_lang").as[(Long, String)].collect().toMap
    assert(a === b)
    assert(a.values.toSet.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("connected components: chain and triangle collapse, singleton survives") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val edges = Seq( // chain 1-2-3-4 (no shortcuts), triangle 10-11-12
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = Dedup.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("star CC matches label propagation on chain, triangle, and singleton") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 99L).toDF("id")
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = Dedup.connectedComponentsStar(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("star CC converges in O(log n) alternations on an adversarial-diameter chain") {
    import spark.implicits._
    // a 256-node path: diameter 255 — min-label propagation needs 255
    // rounds; the alternating algorithm must finish in ~log2(256)+c
    val n = 256
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Dedup.ccStarWithRounds(nodes, edges)
    val got = labels.as[(Long, Long)].collect()
    assert(got.forall(_._2 === 0L), s"chain did not collapse to min: ${got.filter(_._2 != 0L).take(5).toSeq}")
    val bound = (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 3
    assert(rounds <= bound, s"converged in $rounds alternations, bound $bound")
  }

  test("connected components on real minhash pairs: endpoints share a label, label is a member") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val pairs = Dedup.nearDupPairs(docs)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    val labels = Dedup.connectedComponents(
      docs.select(col("doc_id").as("id")), pairs)
      .as[(Long, Long)].collect().toMap
    val edgeList = pairs.as[(Long, Long)].collect()
    assert(edgeList.nonEmpty)
    edgeList.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    labels.foreach { case (id, lab) =>
      assert(lab <= id && labels(lab) === lab, s"label $lab of $id is not a canonical member")
    }
  }

  test("labelPropagation: bridged triangles stay TWO communities where CC merges to one") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("a", "b")
    val lpa = Dedup.labelPropagation(nodes, edges, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aLabels = Set(1L, 2L, 3L).map(lpa)
    val bLabels = Set(4L, 5L, 6L).map(lpa)
    assert(aLabels.size === 1, s"triangle A split: $lpa")
    assert(bLabels.size === 1, s"triangle B split: $lpa")
    assert(aLabels !== bLabels, s"bridge merged the communities: $lpa")
    // the same graph is ONE connected component
    val cc = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(1)).toSet
    assert(cc.size === 1)
  }

  test("LPA SMJ regime: one round over the hash(a) edge layout pays 0 broadcasts and 3 exchanges (r20)") {
    // VERDICT r19 task 2: the labelPropagation layout claim as a plan
    // census. Force the SMJ regime (labels never broadcast) and measure
    // one un-checkpointed round over the hash(a) edge layout the loop
    // persists: the SMJ re-keys the EDGES by b, the node-sized labels
    // are re-keyed by b (irreducible under per-round lineage
    // truncation: a checkpointed frame reads back as
    // UnknownPartitioning under AQE — measured, Spark 4.1), and the
    // edge-sized label_mode aggregate re-keys to hash(a) (LPA's
    // irreducible communication): 3.
    import org.apache.spark.storage.StorageLevel
    val docs = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"))
    val (nodes, edges) = Dedup.lpaFixture(docs)
    // reference labels under the default (broadcast) regime
    val fullBc = Dedup.labelPropagation(nodes, edges, iters = 5)
      .orderBy(col("id")).collect().toSeq
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val und = Dedup.lpaLayout(nodes, edges)
        .persist(StorageLevel.MEMORY_AND_DISK)
      und.count()
      val nodesP = nodes.select(col("id")).repartition(col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      nodesP.count()
      val labels0 = nodesP.select(col("id"), col("id").as("label")).localCheckpoint()
      val round = Dedup.attachIsolated(nodesP, Dedup.lpaWinners(und, labels0))
      val (sh, bc) = PlanAudit.exchangeCounts(round)
      val out = round.orderBy(col("id")).collect().toSeq
      und.unpersist(); nodesP.unpersist()
      assert(bc === 0, s"SMJ regime must hold — no broadcast exchanges, got $bc")
      assert(sh === 3,
        s"the hash(a) layout in the SMJ regime pays THREE exchanges per round " +
          s"(edge re-key by b + labels re-key + agg re-key by a), got $sh")
      // end to end: the loop's first round is the probed round, and
      // the 5-round labels do not depend on the join regime
      assert(Dedup.labelPropagation(nodes, edges, iters = 1)
        .orderBy(col("id")).collect().toSeq === out,
        "labelPropagation(iters = 1) must equal the probed round")
      assert(Dedup.labelPropagation(nodes, edges, iters = 5)
        .orderBy(col("id")).collect().toSeq === fullBc,
        "labels must not depend on the join regime")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("triangleStats: K4-minus-an-edge hand fixture, exact counts and lcc") {
    import spark.implicits._
    // edges of K4 on {1,2,3,4} minus (1,2): triangles (1,3,4), (2,3,4)
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val got = Dedup.triangleStats(edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      1L -> ((2L, 1L, 1.0)),
      2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 2L, 0.666667)),
      4L -> ((3L, 2L, 0.666667))))
  }

  test("triangleStats: counts are orientation-invariant (reversed + duplicated edges)") {
    import spark.implicits._
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val messy = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .unionByName(edges) // duplicates + both orientations must not change counts
    val clean = Dedup.triangleStats(edges).collect().map(_.toSeq).toSet
    val got = Dedup.triangleStats(messy).collect().map(_.toSeq).toSet
    assert(got === clean)
  }

  test("triangleStats: hub skew — star graph yields zero triangles, center excluded work") {
    import spark.implicits._
    // star K1,50: no triangles anywhere; center has degree 50
    val edges = (1L to 50L).map(i => (0L, i)).toDF("a", "b")
    val got = Dedup.triangleStats(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // only the center has degree >= 2; its triangle count is 0
    assert(got.toSeq === Seq((0L, 50L, 0L, 0.0)))
  }

  test("labelDrift: aligned slice reads 1.0, orthogonal slices read cos to the global mix") {
    import spark.implicits._
    // label 0 vectors all along e1, label 1 all along e2, equal mass:
    // global centroid direction is (1,1)/sqrt(2) -> both drift_cos
    // = 1/sqrt(2); a third label aligned with the global mix reads ~1
    val e1 = Array(1.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f)
    val mix = Array(1.0f, 1.0f)
    val emb = (
      (1 to 4).map(i => (i.toLong, e1, 0)) ++
      (5 to 8).map(i => (i.toLong, e2, 1)) ++
      (9 to 12).map(i => (i.toLong, mix, 2))).toDF("vec_id", "embedding", "label")
    val got = graft.llm.Similarity.labelDrift(emb).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0)._1 === 4L)
    // global sum vector = (4+4, 4+4)*1e6 = direction (1,1)
    val inv_sqrt2 = BigDecimal(1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(0)._2 - inv_sqrt2) < 1e-6, got(0)._2.toString)
    assert(math.abs(got(1)._2 - inv_sqrt2) < 1e-6)
    assert(got(2)._2 === 1.0)
    // degenerate: a zero-vector-only label reads the guarded 0.0
    val zeros = Seq((1L, Array(0.0f, 0.0f), 7)).toDF("vec_id", "embedding", "label")
    val z = graft.llm.Similarity.labelDrift(zeros).collect()
    assert(z.head.getDouble(2) === 0.0)
  }

  test("bigram LM: hand-computed add-one scores on a two-doc corpus") {
    // corpus: "a b a b" and "a c". Bigrams: (a b)×2, (b a)×1, (a c)×1.
    // c1: a→3, b→1. V = 3 distinct tokens {a,b,c}.
    // P(b|a) = (2+1)/(3+3) = 1/2; P(a|b) = (1+1)/(1+3) = 1/2;
    // P(c|a) = (1+1)/(3+3) = 1/3.
    // doc1 score = (2·ln½ + ln½)/3 = ln½ = −0.693147
    // doc2 score = ln⅓ = −1.098612
    val d = docs((1L, "a b a b"), (2L, "a c"))
    val got = graft.llm.TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_logprob")))).toMap
    assert(got(1L) === ((3L, -0.693147)))
    assert(got(2L) === ((1L, -1.098612)))
  }

  test("bigram LM: corpus-typical word order outscores shredded token soup") {
    // 20 docs share a common phrase structure; one doc uses the SAME
    // vocabulary in scrambled orders unseen elsewhere — a surface
    // ratio can't tell them apart, the LM can.
    val natural = (1L to 20L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number$i"))
    val shredded = (21L, "dog the over quick lazy brown number3 fox the jumps")
    val d = docs((natural :+ shredded): _*)
    val got = graft.llm.TextAnalysis.bigramLmScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob")).toMap
    val naturalMin = (1L to 20L).map(got).min
    assert(got(21L) < naturalMin,
      s"shredded ${got(21L)} should score below every natural doc (min $naturalMin)")
  }

  /** Zipfian fixture for the exact-Jaccard tier: every doc opens with
    * the same stop-token run (head of the df distribution); the tail
    * tokens are doc-private except for planted near-dup pairs. */
  private def zipfianDocs(n: Int): DataFrame = {
    val stop = "the of and to in"
    val rows = (0 until n).map { i =>
      // pair 2k/2k+1 shares its rare tail when k % 3 == 0
      val base = if (i % 6 == 1) i - 1 else i
      val rare = (0 until 12).map(j => s"tok${base}_$j").mkString(" ")
      val tail = if (i % 6 == 1) s"$rare extra$i" else rare
      (i.toLong, s"$stop $tail")
    }
    docs(rows: _*)
  }

  test("jaccard exact tier: count-join equals the prefix-filtered join pair for pair") {
    val d = zipfianDocs(60)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "n_shared", "jaccard")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val exact = norm(graft.llm.Dedup.jaccardExactJoin(d))
    val prefix = norm(graft.llm.Dedup.jaccardPrefixJoin(d))
    assert(exact.nonEmpty, "vacuous fixture: no qualifying pairs")
    assert(exact === prefix)
    // the planted pairs are exactly the (6k, 6k+1) couples
    assert(exact.map(t => (t._1, t._2)) ===
      (0 until 60 by 6).map(k => (k.toLong, k + 1L)))
  }

  test("jaccard exact tier: equals in-memory brute force on random token sets") {
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 40).map(i => s"w$i")
    val rows = (0 until 30).map { i =>
      val k = 5 + rnd.nextInt(10)
      (i.toLong, rnd.shuffle(vocab).take(k).mkString(" "))
    }
    val d = docs(rows: _*)
    def bigrams(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val brute = for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      a = bigrams(ta); b = bigrams(tb)
      inter = (a & b).size; uni = a.size + b.size - inter
      if 5 * inter >= 2 * uni
    } yield (ia, ib)
    val got = graft.llm.Dedup.jaccardExactJoin(d)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(got === brute.sorted)
  }

  test("prefix candidates are complete and selective on the Zipfian fixture") {
    val d = zipfianDocs(60)
    val g = graft.llm.Dedup.bigramSets(d)
      .withColumn("sz", org.apache.spark.sql.functions.size(col("grams")).cast("long"))
    val cand = graft.llm.Dedup.prefixCandidates(g)
      .as[(Long, Long)].collect().toSet
    // complete: every true pair is a candidate
    val truePairs = graft.llm.Dedup.jaccardExactJoin(d)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truePairs.subsetOf(cand))
    // selective: the stop-gram head co-locates EVERY pair (any two
    // docs share "the of" etc.), but the rarest-first prefixes skip
    // the head — candidates must be far below the co-occurring total
    val n = 60L
    assert(cand.size < n * (n - 1) / 2 / 5,
      s"prefix candidates ${cand.size} not selective vs all-pairs ${n * (n - 1) / 2}")
  }

  test("tokenEntropy: uniform maxes evenness, repetition zeroes H, skew lowers it (r12)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "uni"), // uniform over 4 → H = ln 4, evenness 1
      (2L, "x x x x", "mono"), // single token → H = 0, evenness sentinel
      (3L, "a a a b", "skew")) // 3:1 → H = ln4 − (3 ln 3)/4
      .toDF("doc_id", "text", "source")
    val got = graft.llm.TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
          r.getAs[Double]("entropy"), r.getAs[Double]("norm_entropy")))).toMap
    assert(math.abs(got("uni")._3 - math.log(4)) < 2e-6)
    assert(got("uni")._4 === 1.0)
    assert(got("mono") === ((4L, 1L, 0.0, -1.0)))
    val hSkew = math.log(4) - 3 * math.log(3) / 4
    assert(math.abs(got("skew")._3 - hSkew) < 2e-6)
    assert(got("skew")._3 < got("uni")._3) // skew strictly lowers entropy
    // the corpus row re-aggregates cells: 'a' appears 5× total etc.
    val all = got("*ALL*")
    assert(all._1 === 12L && all._2 === 5L)
  }

  test("refresh → admit → append: the served gate loop closes and is idempotent (r16)") {
    import graft.llm.Curation
    // a 40-doc corpus with per-doc-salted vocabulary (no accidental
    // band collisions) and basis-aligned 8-dim embeddings (same-class
    // vectors are near-parallel; cross-class cosines stay far under
    // 0.99), eval slice = %7
    val corpusDocs = (0L until 40L).map { i =>
      (i, (0 until 12).map(k => s"w${i}t$k").mkString(" "), "en", "src", 60L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def basisVec(i: Long): Seq[Double] =
      Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.01 * ((i + d) % 3))
    val corpusEmb = (0L until 40L).map(i => (i, basisVec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val hashTbl = s"rfr_loop_hash_$uid"
    val bandTbl = s"rfr_loop_band_$uid"
    val path = tempDir("rfr_loop")
    Dedup.buildHashIndex(corpusDocs, spark, hashTbl, s"$path/$hashTbl")
    Dedup.buildBandIndex(corpusDocs, spark, bandTbl, s"$path/$bandTbl")
    Similarity.buildIvfIndexPinned(corpusEmb, s"$path/ivf")
    try {
      val evG = Curation.evalGrams(corpusDocs, col("doc_id") % 7 === 0).localCheckpoint()
      val doc5 = (0 until 12).map(k => s"w5t$k").mkString(" ")
      val doc7head8 = (0 until 8).map(k => s"w7t$k").mkString(" ")
      val batchDocs = Seq(
        (101L, (0 until 12).map(k => s"w3t$k").mkString(" ")), // copy of 3
        (102L, doc5 + " extrarev"),                            // J = 12/13 vs 5
        (103L, (0 until 12).map(k => s"p103k$k").mkString(" ")), // novel text
        (104L, doc7head8 + " novel tail here now"),            // eval 8-gram leak
        (105L, "tiny stub"),                                   // 2 tokens
        (106L, (0 until 12).map(k => s"q106k$k").mkString(" ")), // admitted
        // intra-batch twin pair (VERDICT r16 task 5): same novel text
        // under two ids — NEITHER is in any index, so only cascade
        // stage 0 can catch the pair; 107 is the min-id victor
        (107L, (0 until 12).map(k => s"t107k$k").mkString(" ")),
        (108L, (0 until 12).map(k => s"t107k$k").mkString(" ")))
        .toDF("doc_id", "text")
      val batchEmb = Seq(
        (101L, basisVec(3)), (102L, basisVec(5)),
        (103L, basisVec(7)), // novel TEXT, corpus vector → only sem can catch
        (104L, Seq.fill(8)(0.35)),
        (105L, Seq.tabulate(8)(d => 0.3 + 0.05 * d)),
        (106L, Seq.tabulate(8)(d => if (d % 2 == 0) 0.35 else -0.35)),
        (107L, Seq.tabulate(8)(d => if (d % 2 == 0) -0.35 else 0.35)),
        (108L, Seq.tabulate(8)(d => if (d % 2 == 0) -0.35 else 0.35)))
        .toDF("vec_id", "v")
      def probe() = Curation.incrementalRefreshServed(
          batchDocs, batchEmb, spark, hashTbl, bandTbl, s"$path/ivf", evG)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      val served = probe()
      assert(served(101L) === (("exact_dup", 3L)))
      assert(served(102L) === (("near_dup", 5L)))
      assert(served(103L) === (("sem_dup", 7L)))
      assert(served(104L)._1 === "contaminated")
      assert(served(105L)._1 === "low_quality")
      assert(served(106L) === (("train", -1L)))
      // stage 0: the twin pair resolves INSIDE the batch — min-id
      // victor trains, the copy reads exact_dup of the victor
      assert(served(107L) === (("train", -1L)))
      assert(served(108L) === (("exact_dup", 107L)))
      // served ≡ in-query over the same corpus, row for row
      val inQuery = Curation.incrementalRefresh(
          corpusDocs, corpusEmb, batchDocs, batchEmb,
          evalPred = col("doc_id") % 7 === 0)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(inQuery === served, "served gate diverges from the in-query cascade")
      // admit: only the train docs enter the indexes (the twin VICTOR
      // represents its pair; the batch copy is excluded)
      val admitted = Curation.admitRefreshBatch(
        probeVerdicts(served), batchDocs, batchEmb, spark, hashTbl, bandTbl, s"$path/ivf")
      assert(admitted === 2L, s"expected 2 admitted docs (106, 107), got $admitted")
      // re-probe the SAME batch: the admitted docs now read exact_dup
      // of themselves (first-write-wins under their own ids); the
      // batch copy still reads exact_dup of the victor (stage 0 fires
      // before the hash tier); everything else is unchanged
      val reprobe = probe()
      assert(reprobe(106L) === (("exact_dup", 106L)))
      assert(reprobe(107L) === (("exact_dup", 107L)))
      assert(reprobe(108L) === (("exact_dup", 107L)))
      assert(reprobe - 106L - 107L === served - 106L - 107L,
        "re-probe changed verdicts beyond the admitted docs")
      // redelivery: re-admitting the re-probe routes the self-dup doc
      // back through admission (the ADVICE r16 self-healing path — a
      // replayed batch must re-offer formerly-train docs so a
      // partial-admit crash completes), but every per-index anti-join
      // no-ops and the indexes answer identically afterwards
      val readmit = Curation.admitRefreshBatch(
        probeVerdicts(reprobe), batchDocs, batchEmb, spark, hashTbl, bandTbl, s"$path/ivf")
      assert(readmit === 2L, s"self-heal replay should route 2 docs, got $readmit")
      assert(probe() === reprobe, "idempotent re-admit changed the indexes")
      // a self-dup of a CORPUS doc (dup_of != doc_id) is NOT routed:
      // only a doc's own replayed admission heals
      val corpusDup = Curation.admitRefreshBatch(
        probeVerdicts(Map(101L -> (("exact_dup", 3L)))),
        batchDocs, batchEmb, spark, hashTbl, bandTbl, s"$path/ivf")
      assert(corpusDup === 0L, "exact_dup of a DIFFERENT doc must not admit")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $hashTbl")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_toks")
    }
  }

  test("partial-admit crash heals on replay; labels thread through admission (r17)") {
    import graft.llm.Curation
    // ADVICE r16 (medium): admitRefreshBatch's three index appends are
    // sequential and non-atomic. Simulate the worst crash point — the
    // hash append committed, band + IVF never ran — then replay the
    // batch: the probe now reads the doc as exact_dup OF ITSELF (its
    // own id is the hash index's keep_id), the self-heal path routes it
    // back through admission, and the band/IVF anti-joins complete the
    // missing appends — so a future near-dup and sem-dup of the doc no
    // longer escape the gate.
    val corpusDocs = (0L until 20L).map { i =>
      (i, (0 until 12).map(k => s"c${i}w$k").mkString(" "), "en", "src", 60L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def basisVec(i: Long): Seq[Double] =
      Seq.tabulate(8)(d => if (d == (i % 8).toInt) 1.0 else 0.01 * ((i + d) % 3))
    val corpusEmb = (0L until 20L).map(i => (i, basisVec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val hashTbl = s"heal_hash_$uid"
    val bandTbl = s"heal_band_$uid"
    val path = tempDir("heal_admit")
    Dedup.buildHashIndex(corpusDocs, spark, hashTbl, s"$path/$hashTbl")
    Dedup.buildBandIndex(corpusDocs, spark, bandTbl, s"$path/$bandTbl")
    Similarity.buildIvfIndexPinned(corpusEmb, s"$path/ivf")
    try {
      val evG = Curation.evalGrams(corpusDocs, col("doc_id") % 7 === 0).localCheckpoint()
      val novelText = (0 until 12).map(k => s"n200w$k").mkString(" ")
      val novelVec = Seq.tabulate(8)(d => if (d % 2 == 0) 0.35 else -0.35)
      val batchDocs = Seq((200L, novelText)).toDF("doc_id", "text")
      // the labeled delta schema (r17): admission threads `label`
      // through to the IVF index instead of stamping −1
      val batchEmb = Seq((200L, novelVec, 4)).toDF("vec_id", "v", "label")
      def probe(d: DataFrame, e: DataFrame) = Curation.incrementalRefreshServed(
          d, e.select(col("vec_id"), col("v")), spark,
          hashTbl, bandTbl, s"$path/ivf", evG)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(probe(batchDocs, batchEmb)(200L) === (("train", -1L)))
      // CRASH SIMULATION: only the first of the three appends commits
      Dedup.appendHashIndex(batchDocs, spark, hashTbl)
      // the doc's future variants now ESCAPE the band + sem tiers (the
      // broken state the advice describes)...
      val nearDoc = Seq((201L, novelText + " rev")).toDF("doc_id", "text")
      val semEmb = Seq((202L, novelVec)).toDF("vec_id", "v")
      val semDoc = Seq((202L, (0 until 12).map(k => s"p202w$k").mkString(" ")))
        .toDF("doc_id", "text")
      assert(probe(nearDoc, semEmb.limit(0))(201L)._1 === "train",
        "precondition: near-dup escapes before healing")
      assert(probe(semDoc, semEmb)(202L)._1 === "train",
        "precondition: sem-dup escapes before healing")
      // REPLAY: the doc reads exact_dup of itself → self-heal admits it
      val replay = probe(batchDocs, batchEmb)
      assert(replay(200L) === (("exact_dup", 200L)))
      val healed = Curation.admitRefreshBatch(
        replay.toSeq.map { case (id, (v, d)) => (id, v, d) }
          .toDF("doc_id", "verdict", "dup_of"),
        batchDocs, batchEmb, spark, hashTbl, bandTbl, s"$path/ivf")
      assert(healed === 1L)
      // ...and after healing they are caught, attributed to the doc
      assert(probe(nearDoc, semEmb.limit(0))(201L) === (("near_dup", 200L)))
      assert(probe(semDoc, semEmb)(202L) === (("sem_dup", 200L)))
      // the admitted vector carries its REAL label into the IVF index
      val lbl = spark.read.parquet(s"$path/ivf/assigned")
        .filter(col("vec_id") === 200L).select(col("label"))
        .collect().map(_.getInt(0)).toSeq
      assert(lbl === Seq(4), s"admitted label not threaded: $lbl")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $hashTbl")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_toks")
    }
  }

  test("pinned IVF compaction rides the bucketed-table machinery: fold, probe equality, crash recovery (r17)") {
    // Since the r16-task-4 bucketing the pinned tier is just another
    // bucketed serving table — its compaction story is
    // Dedup.compactIndex/recoverCompact, not the path family's
    // directory swap. This pins the integration: the sortBy'd bucket
    // spec round-trips through compactWrite, the probe is identical
    // over the compacted table, and the committed-write-then-DROP
    // crash heals by catalog recovery.
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = tempDir("ivf_pin_compact")
    val tbl = Similarity.ivfPinnedTable(path)
    Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 150), path)
    Similarity.appendIvfIndexPinned(
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 300), spark, path)
    Similarity.appendIvfIndexPinned(emb.filter(col("vec_id") >= 300), spark, path)
    try {
      def loc(): String = java.nio.file.Paths.get(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location).toString
      def dataFiles(): Int = Option(new java.io.File(loc()).listFiles()).toSeq
        .flatten.count(_.getName.startsWith("part-"))
      assert(dataFiles() > Similarity.IvfPinnedBuckets,
        s"fixture must accumulate appended file sets, got ${dataFiles()}")
      val before = Similarity.ivfSearchPinned(spark, path, probeId = 0L, k = 20)
        .collect().toSeq
      Dedup.compactIndex(spark, tbl, s"$path/assigned_c1")
      assert(dataFiles() <= Similarity.IvfPinnedBuckets,
        s"compaction must fold to ≤1 file per bucket, got ${dataFiles()}")
      assert(Similarity.ivfSearchPinned(spark, path, probeId = 0L, k = 20)
        .collect().toSeq === before, "probe changed across compaction")
      // crash state: compacted write committed, DROP issued, RENAME never ran
      Dedup.compactWrite(spark, tbl, s"$path/assigned_c2")
      spark.sql(s"DROP TABLE $tbl")
      assert(Dedup.recoverCompact(spark, tbl) === "renamed")
      assert(Similarity.ivfSearchPinned(spark, path, probeId = 0L, k = 20)
        .collect().toSeq === before, "probe changed across crash recovery")
      // and an append AFTER the compact+recover still lands bucketed
      // (the spec survived two swaps) — re-appending the corpus is the
      // idempotence no-op
      Similarity.appendIvfIndexPinned(emb, spark, path)
      assert(spark.table(tbl).count() === emb.count(),
        "post-compaction append lost idempotence")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      Bench.deleteRecursively(path)
    }
  }

  test("pinned IVF refit: index-derived rebuild equals the fresh build; seeds cache heals (r17)") {
    // the staleness loop's ACTION: refit re-draws the md5 seeds from
    // the INDEX'S OWN rows and re-assigns — over the same id set that
    // must be bit-identical to a fresh build over the union (same md5
    // draw ⇒ same seeds ⇒ same pinned assignment), with the corpus
    // never touched.
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val p1 = tempDir("ivf_refit_a")
    val p2 = tempDir("ivf_refit_b")
    val t1 = Similarity.ivfPinnedTable(p1)
    try {
      Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 200), p1)
      Similarity.appendIvfIndexPinned(emb.filter(col("vec_id") >= 200), spark, p1)
      Similarity.refitIvfIndexPinned(spark, p1)
      Similarity.buildIvfIndexPinned(emb, p2) // the fresh-build reference
      def dump(p: String): Seq[(Long, Long)] =
        spark.table(Similarity.ivfPinnedTable(p))
          .select(col("vec_id"), col("cluster"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(dump(p1) === dump(p2),
        "refit assignment diverges from the fresh build over the union")
      val probeRefit = Similarity.ivfSearchPinned(spark, p1, probeId = 0L, k = 20)
        .collect().toSeq
      val probeFresh = Similarity.ivfSearchPinned(spark, p2, probeId = 0L, k = 20)
        .collect().toSeq
      assert(probeRefit === probeFresh, "refit probe diverges from fresh build")
      // seeds-cache crash: clobber the seeds parquet with the STALE
      // base-slice draw (the state a crash between the table swap and
      // the seeds write leaves) — recoverRefitSeeds must detect and
      // rewrite; a clean pair is a no-op
      val staleSeeds = emb.filter(col("vec_id") < 200)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(16)
        .select(col("vec_id").as("seed_id"), col("v").as("sv"))
      staleSeeds.write.mode("overwrite").parquet(s"$p1/seeds")
      assert(Similarity.recoverRefitSeeds(spark, p1),
        "stale seeds cache must be detected")
      assert(Similarity.ivfSearchPinned(spark, p1, probeId = 0L, k = 20)
        .collect().toSeq === probeFresh, "healed probe diverges")
      assert(!Similarity.recoverRefitSeeds(spark, p1),
        "clean seeds pair must be a no-op")
    } finally {
      Similarity.dropIvfIndexPinned(spark, p1)
      Similarity.dropIvfIndexPinned(spark, p2)
      spark.sql(s"DROP TABLE IF EXISTS ${t1}_compacting")
    }
  }

  test("pinned IVF rebuild over a refit-bearing root outranks the stale refit dir (r19)") {
    // the epoch protocol's rebuild case: a refit leaves the data at an
    // assigned_refit_* dir (epoch 1); a later full REBUILD writes
    // <root>/assigned again and must outrank the refit in the epoch
    // order AND sweep the superseded dir — pre-epoch this state was a
    // silent stale-pick hazard on the next catalog-loss boot.
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = tempDir("ivf_rebuild")
    val tbl = Similarity.ivfPinnedTable(path)
    try {
      Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 200), path)
      Similarity.refitIvfIndexPinned(spark, path)
      assert(!new java.io.File(s"$path/assigned").exists(),
        "fixture: the refit must have moved the data off <root>/assigned")
      Similarity.buildIvfIndexPinned(emb, path) // rebuild over the full corpus
      assert(new java.io.File(s"$path/assigned").exists())
      val leftover = Option(new java.io.File(path).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("assigned_refit_"))
      assert(leftover.isEmpty,
        s"superseded refit dirs must be swept by the rebuild: $leftover")
      val spec = Dedup.readSpecSidecarFull(spark, s"$path/assigned").get
      assert(spec.epoch === 2L && spec.committed,
        s"rebuild must take (max existing epoch + 1), committed: $spec")
      val before = Similarity.ivfSearchPinned(spark, path, probeId = 0L, k = 10)
        .collect().toSeq
      // catalog loss: the fresh-catalog locate must resolve to the
      // rebuild and serve identically
      spark.sql(s"DROP TABLE $tbl")
      val dir = Dedup.resolveCommittedCandidate(
        spark, Similarity.assignedCandidates(spark, path))
      assert(dir.exists(_.endsWith("assigned")), s"resolved $dir")
      assert(Dedup.reattachBucketedTable(spark, tbl, dir.get))
      assert(Similarity.ivfSearchPinned(spark, path, probeId = 0L, k = 10)
        .collect().toSeq === before,
        "probe must answer identically through the re-attached rebuild")
    } finally {
      Similarity.dropIvfIndexPinned(spark, path)
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
    }
  }

  test("compactionDue fires past the file-count knee and resets after the fold (r17)") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val path = tempDir("ivf_cdue")
    val tbl = Similarity.ivfPinnedTable(path)
    Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 150), path)
    try {
      // low threshold so two appends cross the knee without 60+ appends
      assert(!streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1),
        "fresh build must not demand compaction at its own file count")
      Similarity.appendIvfIndexPinned(
        emb.filter(col("vec_id") >= 150 && col("vec_id") < 300), spark, path)
      Similarity.appendIvfIndexPinned(emb.filter(col("vec_id") >= 300), spark, path)
      assert(streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1),
        "appended file sets must trip the rule")
      Dedup.compactIndex(spark, tbl, s"$path/assigned_c1")
      assert(!streaming.GateOps.compactionDue(spark, tbl, maxFilesPerBucket = 1),
        "the fold must reset the rule")
      // non-bucketed tables are a loud error, not a silent false
      spark.range(3).write.option("path", s"$path/plain").saveAsTable(s"${tbl}_plain")
      intercept[IllegalArgumentException](
        streaming.GateOps.compactionDue(spark, s"${tbl}_plain"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_plain")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      Similarity.dropIvfIndexPinned(spark, path)
    }
  }

  test("every bucketed append lands at most one file per bucket; the default policy trips on append 8") {
    // The one bucketed writer repartitions on the table's bucket
    // columns into numBuckets partitions before bucketBy, so an append
    // adds at most one part file per bucket however many partitions its
    // delta spans. Each build below fills all B buckets and each 50-row
    // append fills them all again, so after k appends a table holds
    // B·(1 + k) files and GateOps.compactionDue's default policy (more
    // than 8 files a bucket) first trips on append 8. A write without
    // the repartition lands one file per (task, bucket) pair: the band,
    // token and SRP appends of a 4-partition delta added 20–32 files
    // each and tripped the policy by append 3.
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val (hashT, bandT, gramT, srpT, labelT) =
      (s"ofb_hash_$uid", s"ofb_band_$uid", s"ofb_gram_$uid", s"ofb_srp_$uid", s"ofb_lbl_$uid")
    val path = tempDir("one_file_per_bucket")
    val ivf = s"$path/ivf"
    val noEdges = spark.range(0).select(col("id").as("a"), col("id").as("b"))
    Dedup.buildHashIndex(corpus.filter(col("doc_id") < 100), spark, hashT, s"$path/$hashT")
    Dedup.buildBandIndex(corpus.filter(col("doc_id") < 100), spark, bandT, s"$path/$bandT")
    Dedup.buildGramIndex(corpus.filter(col("doc_id") < 100), spark, gramT, s"$path/$gramT")
    Similarity.buildSrpIndex(emb.filter(col("vec_id") < 100), spark, srpT, s"$path/$srpT")
    Similarity.buildIvfIndexPinned(emb.filter(col("vec_id") < 100), ivf)
    // k-means cluster ids are 0..k-1, and Spark's bucket hash leaves
    // some buckets with no id at all (k = 16 into 8 buckets never
    // writes bucket 4); k = 4 into 2 buckets fills both, as the fixed
    // file counts below need
    val (kmeans, pq) = (s"$path/kmeans", s"$path/pq")
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 100), kmeans, nClusters = 4)
    Similarity.buildPqIndex(emb.filter(col("vec_id") < 100), pq, nClusters = 4)
    Dedup.buildGroupLabels(corpus.filter(col("doc_id") < 100).select(col("doc_id").as("id")),
      noEdges, spark, labelT, s"$path/$labelT")
    val tables = Seq(hashT, s"${bandT}_bands", s"${bandT}_toks", gramT,
      s"${srpT}_bands", s"${srpT}_vecs", Similarity.ivfPinnedTable(ivf), labelT,
      Similarity.ivfPinnedTable(kmeans), Similarity.ivfPinnedTable(pq))
    def files(t: String): Int = {
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
      loc.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(loc)
        .count(_.getPath.getName.startsWith("part-"))
    }
    def buckets(t: String): Int = Dedup.bucketSpecOf(spark, t).numBuckets
    try {
      for (t <- tables) assert(files(t) === buckets(t), s"the build of $t must fill every bucket once")
      for (k <- 1 to 8) {
        def slice(df: DataFrame, id: String) =
          df.filter(col(id) >= 50 + 50 * k && col(id) < 100 + 50 * k).repartition(4)
        val (d, e) = (slice(corpus, "doc_id"), slice(emb, "vec_id"))
        assert(d.rdd.getNumPartitions === 4 && e.rdd.getNumPartitions === 4)
        val before = tables.map(t => t -> files(t)).toMap
        Dedup.appendHashIndex(d, spark, hashT)
        Dedup.appendBandIndex(d, spark, bandT)
        Dedup.appendGramIndex(d, spark, gramT)
        Similarity.appendSrpIndex(e, spark, srpT)
        Similarity.appendIvfIndexPinned(e, spark, ivf)
        Dedup.appendGroupLabels(d.select(col("doc_id").as("id")), noEdges, spark, labelT)
        Similarity.appendIvfIndex(e, spark, kmeans)
        Similarity.appendPqIndex(e, spark, pq)
        for (t <- tables) {
          val added = files(t) - before(t)
          assert(added >= 1 && added <= buckets(t),
            s"append $k added $added files to $t (${buckets(t)} buckets)")
          assert(streaming.GateOps.compactionDue(spark, t) === (k == 8),
            s"$t after append $k holds ${files(t)} files in ${buckets(t)} buckets: " +
              "the default policy must trip on append 8 exactly")
        }
      }
    } finally {
      Seq(hashT, s"${bandT}_bands", s"${bandT}_toks", gramT, s"${srpT}_bands",
        s"${srpT}_vecs", labelT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(ivf, kmeans, pq).foreach(r => Similarity.dropIvfIndexPinned(spark, r))
    }
  }

  test("group-label table: attach-only append, pending-merge signal, refit heals the bridge (r17)") {
    // two standing groups {1,2} and {3,4}; delta doc 10 ATTACHES to
    // both — the case attach-only cannot resolve (merging needs
    // corpus-side rewrites): it must adopt the min label, report ONE
    // pending merge, and refit must collapse everything to label 1.
    val tbl = "glbl_spec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val path = tempDir("glbl_spec")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    Dedup.buildGroupLabels(nodes, edges, spark, tbl, s"$path/$tbl")
    try {
      def labels(): Map[Long, Long] = spark.table(tbl).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels() === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
      // a clean attachment first: doc 5 joins group 3 — no pending
      val p0 = Dedup.appendGroupLabels(
        Seq(5L).toDF("id"), Seq((4L, 5L)).toDF("a", "b"), spark, tbl)
      assert(p0 === 0L, s"clean attach must report 0 pending, got $p0")
      assert(labels()(5L) === 3L, "attachment must adopt the standing label")
      // the BRIDGE: doc 10 touches groups 1 and 3
      val bridgeNodes = Seq(10L).toDF("id")
      val bridgeEdges = Seq((2L, 10L), (3L, 10L)).toDF("a", "b")
      val p1 = Dedup.appendGroupLabels(bridgeNodes, bridgeEdges, spark, tbl)
      assert(p1 === 1L, s"bridge must report 1 pending merge, got $p1")
      assert(labels()(10L) === 1L, "attach-only must adopt the MIN label")
      assert(labels()(3L) === 3L,
        "attach-only must NOT rewrite corpus labels (that is the refit's job)")
      // redelivery: appends nothing (anti-join), still reports the
      // pending merge honestly — the signal persists until the refit
      val p2 = Dedup.appendGroupLabels(bridgeNodes, bridgeEdges, spark, tbl)
      assert(p2 === 1L, "replay must keep reporting the unresolved merge")
      assert(labels().size === 6, "replay must not duplicate label rows")
      // REFIT over the full graph: the merge lands, everything is 1
      val allNodes = Seq(1L, 2L, 3L, 4L, 5L, 10L).toDF("id")
      val allEdges = Seq((1L, 2L), (3L, 4L), (4L, 5L), (2L, 10L), (3L, 10L))
        .toDF("a", "b")
      Dedup.refitGroupLabels(allNodes, allEdges, spark, tbl, s"$path/refit1")
      assert(labels().values.toSet === Set(1L), s"refit must merge: ${labels()}")
      // and the pending signal clears: the same edges now see ONE label
      val p3 = Dedup.appendGroupLabels(bridgeNodes, bridgeEdges, spark, tbl)
      assert(p3 === 0L, "post-refit replay must report 0 pending")
      // crash inside the refit swap heals by catalog recovery
      Dedup.compactWrite(spark, tbl, s"$path/refit2")
      spark.sql(s"DROP TABLE $tbl")
      assert(Dedup.recoverCompact(spark, tbl) === "renamed")
      assert(labels().values.toSet === Set(1L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compacting")
      Bench.deleteRecursively(path)
    }
  }

  test("group-aware split: zero leaks on real pairs; singletons reduce to hashSplit (r17)") {
    import graft.llm.Curation
    val docs = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val pairs = Dedup.nearDupPairs(docs).localCheckpoint()
    // the per-doc hash split LEAKS on this corpus (the audit's raison
    // d'être — assert non-vacuity first)
    val perDoc = Curation.hashSplit(docs).select(col("doc_id"), col("split"))
    def leaks(sp: DataFrame): Long = pairs
      .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b")).count()
    assert(leaks(perDoc) > 0, "fixture must exhibit per-doc-split leakage")
    // the group-aware split has ZERO leaks by construction
    val grouped = Curation.groupAwareSplit(docs, pairs)
      .select(col("doc_id"), col("group_id"), col("split")).localCheckpoint()
    assert(leaks(grouped) === 0L, "group-aware split leaked a near-dup pair")
    // singleton docs (no pair membership) get EXACTLY the per-doc
    // split — the rules differ only where leakage was possible
    val paired = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    val diff = grouped.join(paired, Seq("doc_id"), "left_anti").as("g")
      .join(perDoc.as("p"), "doc_id")
      .filter(col("g.split") =!= col("p.split")).count()
    assert(diff === 0L, "singleton docs must keep their hashSplit assignment")
    // the SERVED form over a (freshly built ≡ refit) label table is
    // row-identical to the pairs form — one bucketed probe join, no
    // CC pass at split time
    val tbl = "gsplit_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val path = tempDir("gsplit_served")
    Dedup.buildGroupLabels(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("id_a").as("a"), col("id_b").as("b")),
      spark, tbl, s"$path/$tbl")
    try {
      val served = Curation.groupAwareSplitServed(docs, spark, tbl)
        .select(col("doc_id"), col("group_id"), col("split"))
      assert(served.orderBy("doc_id").collect().toSeq
        === grouped.orderBy("doc_id").collect().toSeq,
        "served split diverges from the pairs form on a fresh table")
      // appended docs route by their STANDING group label (r18,
      // VERDICT r17 task 2): a new doc attached to an existing group
      // member adopts that group's label, hence that group's split —
      // no CC pass at split time
      val anchor = grouped.filter(col("group_id") =!= col("doc_id"))
        .select("doc_id", "group_id", "split").head()
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val newId = maxId + 1L
      Dedup.appendGroupLabels(
        Seq(newId).toDF("id"),
        Seq((anchor.getLong(0), newId)).toDF("a", "b"), spark, tbl)
      val lateId = maxId + 2L
      val probe = Curation.groupAwareSplitServed(
          Seq(newId, lateId).toDF("doc_id"), spark, tbl)
        .select("doc_id", "group_id", "split").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(probe(newId)._1 === anchor.getLong(1),
        "appended doc must carry its standing group label")
      assert(probe(newId)._2 === anchor.getString(2),
        "appended doc must route to its group's split")
      // a doc that arrived AFTER the last append (not in the table)
      // must fall back to the singleton/hashSplit rule and stay in the
      // output — the old inner join silently dropped it (ADVICE r17)
      val lateSplit = Curation.hashSplit(Seq(lateId).toDF("doc_id"))
        .select("split").head().getString(0)
      assert(probe(lateId) === ((lateId, lateSplit)),
        "unlabeled doc must route by its own id, not vanish from the split")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("semantic decontam: exact leaks flagged exactly, empty eval flags nothing (r18)") {
    import graft.llm.Curation
    val base = Tables.embeddings(spark, sf("sf0.001"))
    // empty eval set → nothing flagged (vacuity guard)
    assert(Curation.semanticDecontam(base, base.limit(0)).count() === 0)
    // eval drawn VERBATIM from the corpus (ids shifted): every leaked
    // vector matches its identical copy at cos 1.0 in the same bucket,
    // and on the near-orthogonal corpus nothing else reaches τ = 0.99 —
    // the flagged set is EXACTLY the leaked ids
    val leaked = base.filter(col("vec_id") >= 100 && col("vec_id") < 112)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"), col("label"))
    val flagged = Curation.semanticDecontam(base, leaked)
      .orderBy("vec_id").collect()
    assert(flagged.map(_.getLong(0)).toSeq === (100L until 112L).toSeq,
      s"verbatim leaks must be flagged exactly: ${flagged.map(_.getLong(0)).toSeq}")
    assert(flagged.forall(r => r.getDouble(2) === 1.0),
      "a verbatim leak's max cosine is 1.0")
    assert(flagged.forall(r => r.getLong(1) === 1L),
      "each corpus vector hits exactly its own copy")
    // plan shape: the eval side BROADCASTS by hint — the bucket key has
    // only 2^SrpBits = 256 distinct values, so a stats-driven shuffle
    // join would serialize the whole corpus onto 256 reducers; the
    // corpus side must never exchange for the candidate join
    val df = Curation.semanticDecontam(base, leaked)
    df.count()
    val nodes = collectPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"candidate join must broadcast the eval side:\n${df.queryExecution.executedPlan}")
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the 256-key bucket join must never sort-merge")
  }

  test("planted staleness audit: the stale column measurably sags (r17)") {
    // VERDICT r16 task 6's 'done' condition: the declared audit must
    // DEMONSTRATE the refit-cadence signal, not just hash-pin. On the
    // planted drift fixture every probe is an appended new-topic
    // member, so stale recall (base-slice seeds) must sit clearly
    // below refit recall (union seeds). Measured 0.37 vs 0.85 at
    // sf0.001 (deterministic — same numbers every run and both
    // engines); the 0.2 floor leaves room for testdata regeneration
    // to move member counts without ever letting the gap vanish.
    val rows = Similarity
      .ivfStalenessAuditPlanted(Tables.embeddings(spark, sf("sf0.001")))
      .collect()
    assert(rows.length >= 5, s"need a real probe population, got ${rows.length}")
    val stale = rows.map(_.getAs[Double]("recall_stale")).sum / rows.length
    val refit = rows.map(_.getAs[Double]("recall_refit")).sum / rows.length
    info(f"planted staleness: stale=$stale%.3f refit=$refit%.3f gap=${refit - stale}%.3f")
    assert(refit - stale >= 0.2,
      f"stale-vs-refit gap collapsed: stale=$stale%.3f refit=$refit%.3f")
  }

  /** Rebuild a verdict frame from a collected map (the loop test
    * re-feeds probe output into admitRefreshBatch). */
  private def probeVerdicts(m: Map[Long, (String, Long)]): DataFrame =
    m.toSeq.map { case (id, (v, d)) => (id, v, d) }
      .toDF("doc_id", "verdict", "dup_of")

  test("served gate composition: EVERY index read stays co-located with broadcast disabled (r17)") {
    // The per-tier `_idx` pins prove each probe alone shuffles only the
    // delta; this pins that the CASCADE's composed plan preserves them:
    // with broadcast disabled, no shuffle exchange sits above a scan of
    // the hash / band / token / ASSIGNED bucketed tables (their
    // co-location survives the composed hit union and cascade). The pinned-IVF
    // `assigned` side was the last broadcast dependence (VERDICT r16
    // task 4: directory-partitioned, so a batch outgrowing the
    // broadcast threshold re-partitioned the corpus) — it is now
    // bucketed by cluster and the corpus vector rides THROUGH the
    // cluster join into the verify, so the [sj] discipline holds for
    // all four index scans: a batch of ANY size shuffles only itself.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.llm.Curation
    val corpus = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val hashTbl = s"rfr_plan_hash_$uid"
    val bandTbl = s"rfr_plan_band_$uid"
    val path = tempDir("rfr_plan")
    Dedup.buildHashIndex(corpus, spark, hashTbl, s"$path/$hashTbl")
    Dedup.buildBandIndex(corpus, spark, bandTbl, s"$path/$bandTbl")
    // NON-DEFAULT bucket count (r18, VERDICT r17 task 5): the whole
    // composed-gate pin below runs against a 5-bucket assigned table,
    // proving co-location is a property of the spec-matched join, not
    // of the old hard-coded 8 — at scale the count tracks the cluster
    // count via ivfPinnedBuckets(nCells)
    Similarity.buildIvfIndexPinned(emb, s"$path/ivf", nCells = 16, buckets = 5)
    assert(
      spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          Similarity.ivfPinnedTable(s"$path/ivf")))
        .bucketSpec.exists(_.numBuckets == 5),
      "pinned build must honor a caller bucket count")
    // the sizing rule itself: tracks nCells at ~2 clusters per bucket,
    // floors at 1, and the harness default reproduces the historic 8
    assert(Similarity.ivfPinnedBuckets(16) === 8)
    assert(Similarity.ivfPinnedBuckets(4096) === 2048)
    assert(Similarity.ivfPinnedBuckets(1) === 1)
    assert(Similarity.IvfPinnedBuckets === 8)
    val evG = Curation.evalGrams(corpus, col("doc_id") % 7 === 0).localCheckpoint()
    val deltaDocs = Curation.refreshDeltaDocs(corpus).localCheckpoint()
    val deltaEmb = Curation.refreshDeltaEmb(emb).localCheckpoint()
    def servedPlan() = {
      val df = Curation.incrementalRefreshServed(
        deltaDocs, deltaEmb, spark, hashTbl, bandTbl, s"$path/ivf", evG)
      df.count()
      df.queryExecution.executedPlan
    }
    // a scan is MIS-LOCATED iff a shuffle exchange lies between it and
    // its nearest ancestor JOIN (downstream cascade shuffles legally
    // hold every scan in their subtree — only the scan→join path
    // matters for co-location)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def misLocated(p: SparkPlan, frag: String, shuffledSinceJoin: Boolean): Int = p match {
      case a: AdaptiveSparkPlanExec => misLocated(a.executedPlan, frag, shuffledSinceJoin)
      case q: QueryStageExec => misLocated(q.plan, frag, shuffledSinceJoin)
      case r: ReusedExchangeExec => misLocated(r.child, frag, shuffledSinceJoin)
      case f: FileSourceScanExec =>
        if (shuffledSinceJoin &&
          f.relation.location.rootPaths.exists(_.toString.contains(frag))) 1 else 0
      case e: ShuffleExchangeExec =>
        e.children.map(misLocated(_, frag, shuffledSinceJoin = true)).sum
      case j if j.nodeName.contains("Join") =>
        j.children.map(misLocated(_, frag, shuffledSinceJoin = false)).sum
      case other =>
        other.children.map(misLocated(_, frag, shuffledSinceJoin)).sum
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = servedPlan()
      for (frag <- Seq(hashTbl, s"${bandTbl}_bands", s"${bandTbl}_toks",
          "/ivf/assigned")) {
        assert(misLocated(plan, frag, shuffledSinceJoin = false) === 0,
          s"a shuffle sits between the bucketed $frag scan and its join — " +
            s"co-location lost in composition:\n$plan")
      }
      // and under the default config too (regression guard: a planner
      // change must never trade the bucketed co-location away)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val planB = servedPlan()
      assert(misLocated(planB, "/ivf/assigned", shuffledSinceJoin = false) === 0,
        s"under default broadcast the assigned table must never shuffle:\n$planB")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql(s"DROP TABLE IF EXISTS $hashTbl")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${bandTbl}_toks")
      llm.Similarity.dropIvfIndexPinned(spark, s"$path/ivf")
    }
  }
}
