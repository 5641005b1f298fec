package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.pipeline.{Telemetry, TrainingData}

/** Generator-based properties (SURVEY §5.2.3): random per-user
  * timelines through the real pipeline, checking the invariants the
  * reference design claims — temporal integrity, label conservation,
  * split partition laws. Raw ScalaCheck (no scalatestplus bridge in
  * the offline cache); small generated frames keep each Spark job
  * tiny and `minSuccessfulTests` bounds suite wall time. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Seeded + overridable ScalaCheck driver. A full-suite run failed
    * ONE property in r9 and once more in r10 without reproducing on
    * re-run — unseeded generation means every run tests different
    * cases, so a rare counterexample surfaces probabilistically and
    * then vanishes. Runs are now deterministic by default
    * (GRAFT_PROP_SEED=42); set the env to sweep other generation
    * streams, and GRAFT_PROP_RUNS to amplify a hunting run. A failure
    * message always carries the seed, so it is reproducible by
    * construction. */
  private val propSeed: Long =
    sys.env.get("GRAFT_PROP_SEED").map(_.toLong).getOrElse(42L)
  private val propRuns: Int =
    sys.env.get("GRAFT_PROP_RUNS").map(_.toInt).getOrElse(8)

  private def check(p: Prop, runs: Int = propRuns): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(runs)
        .withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(propSeed)), p)
    assert(res.passed, s"seed=$propSeed runs=$runs: ${res.status.toString}")
  }

  /** A random multi-user timeline: (event_id, day, user, isError, value). */
  private val timelineGen: Gen[List[(Long, Int, Long, Boolean, Double)]] =
    for {
      nUsers <- Gen.choose(1, 4)
      nDays <- Gen.choose(2, 20)
      errDays <- Gen.listOfN(nUsers * nDays, Gen.prob(0.25))
      values <- Gen.listOfN(nUsers * nDays, Gen.choose(0.0, 500.0))
    } yield {
      val cells = for { u <- 0 until nUsers; d <- 1 to nDays } yield (u, d)
      cells.toList.zip(errDays.zip(values)).map { case ((u, d), (err, v)) =>
        ((u * 100 + d).toLong, d, u.toLong, err, math.rint(v * 100) / 100)
      }
    }

  private def toDf(rows: List[(Long, Int, Long, Boolean, Double)]): DataFrame =
    rows.map { case (id, d, u, err, v) =>
      (id, Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), u,
        if (err) "error" else "view", v, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("property: mutating any strictly-future row never changes features at time T") {
    check(Prop.forAll(timelineGen) { rows =>
      val cut = rows.map(_._2).max - 1 // perturb rows after day `cut` only
      val perturbed = rows.map {
        case (id, d, u, e, v) if d > cut => (id, d, u, e, v + 137.5)
        case r => r
      }
      val cutTs = Timestamp.valueOf(f"2024-01-${math.max(cut, 1) + 1}%02d 00:00:00")
      val before = Telemetry.features(toDf(rows))
        .filter($"ts" < cutTs).orderBy("event_id").collect().toSeq
      val after = Telemetry.features(toDf(perturbed))
        .filter($"ts" < cutTs).orderBy("event_id").collect().toSeq
      before == after
    })
  }

  test("property: label count never exceeds error count") {
    check(Prop.forAll(timelineGen) { rows =>
      val labeled = Telemetry.labeled(toDf(rows))
      val agg = labeled.agg(
        sum($"is_error").cast("long"), sum($"failure_next").cast("long")).head()
      agg.getLong(1) <= agg.getLong(0)
    })
  }

  test("property: chronological splits partition the features frame exactly") {
    check(Prop.forAll(timelineGen) { rows =>
      val f = Telemetry.features(toDf(rows))
      val n = f.count()
      val parts = Seq(TrainingData.train(f), TrainingData.valid(f), TrainingData.test(f))
      val ids = parts.flatMap(_.select("event_id").as[Long].collect())
      parts.map(_.count()).sum == n && ids.distinct.size == ids.size
    })
  }

  test("property: downsampling keeps every positive and never invents rows") {
    check(Prop.forAll(timelineGen) { rows =>
      val f = Telemetry.features(toDf(rows))
      val bal = TrainingData.downsampled(f, ratio = 1.0, seed = 7L)
      val posIn = TrainingData.positives(f).select("event_id").as[Long].collect().toSet
      val posOut = bal.filter($"failure_next" === 1)
        .select("event_id").as[Long].collect().toSet
      val allIn = f.select("event_id").as[Long].collect().toSet
      val allOut = bal.select("event_id").as[Long].collect().toSet
      posOut == posIn && allOut.subsetOf(allIn)
    })
  }

  /** Random probe/build as-of inputs: overlapping keys, duplicate
    * probe timestamps, builds before/between/after probes. */
  private val asofGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Double)])] =
    for {
      nKeys <- Gen.choose(1, 4)
      nProbe <- Gen.choose(0, 25)
      nBuild <- Gen.choose(0, 12)
      probes <- Gen.listOfN(nProbe, for {
        k <- Gen.choose(0L, nKeys - 1L)
        t <- Gen.choose(0L, 50L)
      } yield (k, t))
      builds <- Gen.listOfN(nBuild, for {
        k <- Gen.choose(0L, nKeys - 1L)
        t <- Gen.choose(0L, 50L)
        v <- Gen.choose(0.0, 10.0)
      } yield (k, t, math.rint(v * 100) / 100))
    } yield (
      probes.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) },
      // unique (key, ts) on the build side — the determinism contract
      // any as-of formulation requires
      builds.groupBy(b => (b._1, b._2)).map(_._2.head).toList)

  test("property: native as-of join == composed union+window rewrite on random data") {
    check(Prop.forAll(asofGen) { case (probes, builds) =>
      val probe = probes.map { case (id, k, t) =>
        (id, k, Timestamp.valueOf(f"2024-01-01 00:00:${t / 60}%02d.${t % 60}%03d")) }
        .toDF("event_id", "k", "t")
      val build = builds.map { case (k, t, v) =>
        (k, Timestamp.valueOf(f"2024-01-01 00:00:${t / 60}%02d.${t % 60}%03d"), v) }
        .toDF("k", "t", "v")
      val native = graft.plans.AsOfJoinNative.asof(probe, build, "k", "t")
        .orderBy("event_id").collect().toSeq
      val composed = graft.operators.AsOfJoin.asofBackward(probe, build, "k", "t")
        .orderBy("event_id").collect().toSeq
      native == composed
    })
  }

  // ── Curation operator properties (round 4) ───────────────────────

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")

  /** Random corpus: (doc_id, source, text of 1..30 vocab words). */
  private val corpusGen: Gen[List[(Long, String, String)]] =
    for {
      nDocs <- Gen.choose(2, 12)
      lens <- Gen.listOfN(nDocs, Gen.choose(1, 30))
      words <- Gen.sequence[List[List[Int]], List[Int]](
        lens.map(n => Gen.listOfN(n, Gen.choose(0, vocab.size - 1))))
      srcs <- Gen.listOfN(nDocs, Gen.choose(0, 2))
    } yield words.zip(srcs).zipWithIndex.map { case ((ws, s), i) =>
      (i.toLong, s"src$s", ws.map(vocab).mkString(" "))
    }

  test("property: scrubPii detects every planted item and leaves no residue") {
    check(Prop.forAll(corpusGen, Gen.choose(1, 3)) { (rows, k) =>
      val planted = rows.map { case (id, s, t) =>
        val extras = (0 until k).flatMap(j => Seq(s"u$j$id@host$j.com", s"555-000$j"))
        (id, s, (t.split(" ") ++ extras).mkString(" "))
      }
      val out = graft.llm.Curation.scrubPii(
        planted.toDF("doc_id", "source", "text"), "text").collect()
      out.forall { r =>
        r.getAs[Long]("n_emails") == k && r.getAs[Long]("n_phones") == k &&
          !r.getAs[String]("clean").matches(".*" + graft.llm.Curation.EmailRe + ".*") &&
          !r.getAs[String]("clean").matches(".*[0-9]{3}-[0-9]{4}.*")
      }
    })
  }

  test("property: packTokenBins tiles every source stream exactly") {
    check(Prop.forAll(corpusGen, Gen.oneOf(8, 16, 64)) { (rows, budget) =>
      val out = graft.llm.Curation.packTokenBins(
        rows.toDF("doc_id", "source", "text"), budget).collect()
      val bySource = out.groupBy(_.getAs[String]("source"))
      bySource.values.forall { docs =>
        val total = docs.map(_.getAs[Long]("n_tokens")).sum
        val lastBin = docs.map(_.getAs[Long]("end_bin")).max
        lastBin == (total - 1) / budget &&
          docs.forall { r =>
            val off = r.getAs[Long]("bin_offset")
            off >= 0 && off < budget &&
              r.getAs[Long]("start_bin") <= r.getAs[Long]("end_bin")
          }
      }
    })
  }

  test("property: repetitionSignals match the brute-force computation") {
    check(Prop.forAll(corpusGen) { rows =>
      val got = graft.llm.Curation.repetitionSignals(
        rows.toDF("doc_id", "source", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      rows.forall { case (id, _, text) =>
        val toks = text.split(" ").toSeq
        val r = got(id)
        val topTok = toks.groupBy(identity).values.map(_.size).max.toDouble / toks.size
        val bigrams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        val topBig = if (bigrams.isEmpty) 0.0
          else bigrams.groupBy(identity).values.map(_.size).max.toDouble / bigrams.size
        r.getAs[Long]("n_tokens") == toks.size &&
          r.getAs[Long]("n_distinct") == toks.distinct.size &&
          math.abs(r.getAs[Double]("top_token_frac") - topTok) < 1e-6 &&
          math.abs(r.getAs[Double]("top_bigram_frac") - topBig) < 1e-6
      }
    })
  }

  test("property: Misra-Gries candidates contain every item above n/(k+1), any partitioning") {
    val streamGen: Gen[(List[String], Int, Int)] = for {
      vocab <- Gen.choose(3, 12)
      len <- Gen.choose(20, 300)
      // zipf-ish: low ids drawn more often → real heavy hitters exist
      items <- Gen.listOfN(len, Gen.frequency(
        (8, Gen.choose(0, math.max(1, vocab / 3))),
        (2, Gen.choose(0, vocab - 1))))
      k <- Gen.choose(2, 6)
      parts <- Gen.choose(1, 5)
    } yield (items.map(i => s"tok$i"), k, parts)
    check(Prop.forAll(streamGen) { case (items, k, parts) =>
      val df = items.toDF("t").repartition(parts)
      val cand = df.agg(graft.functions.misra_gries(col("t"), k))
        .head().getSeq[String](0).toSet
      val n = items.size
      val exact = items.groupBy(identity).view.mapValues(_.size)
      val mustHave = exact.filter { case (_, c) => c.toLong * (k + 1) > n }.keySet
      Prop(mustHave.subsetOf(cand)) :|
        s"missing ${mustHave -- cand} (k=$k parts=$parts n=$n cand=$cand)"
    })
  }

  test("property: star CC labels == min-label-propagation CC labels on random graphs") {
    import graft.llm.Dedup
    val graphGen: Gen[(List[Long], List[(Long, Long)])] = for {
      n <- Gen.choose(2, 24)
      nEdges <- Gen.choose(0, 30)
      pairs <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield ((0L until n.toLong).toList, pairs.filter(p => p._1 != p._2))
    check(Prop.forAll(graphGen) { case (ns, es) =>
      val nodes = ns.toDF("id")
      val edges = es.toDF("a", "b")
      // label-prop needs O(diameter) rounds; diameter < n here
      val prop = Dedup.connectedComponents(nodes, edges, maxIter = ns.size + 1)
        .as[(Long, Long)].collect().toMap
      val star = Dedup.connectedComponentsStar(nodes, edges)
        .as[(Long, Long)].collect().toMap
      Prop(star == prop) :| s"star=$star prop=$prop edges=$es"
    })
  }

  test("property: duplicated spans equal the brute-force covered-position count") {
    check(Prop.forAll(corpusGen) { rows =>
      val n = 3 // short grams so tiny random docs collide cross-doc
      val grams = rows.map { case (id, _, t) =>
        id -> t.split(" ", -1).toSeq.sliding(n).filter(_.size == n)
          .map(_.mkString(" ")).zipWithIndex.map { case (g, p) => (p, g) }.toList
      }.toMap
      // a gram is duplicated if it occurs in ANY other doc
      val gramDocs = grams.toList
        .flatMap { case (id, gs) => gs.map { case (_, g) => g -> id } }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      val expected = grams.flatMap { case (id, gs) =>
        val covered = gs.collect {
          case (p, g) if gramDocs(g).exists(_ != id) => p until (p + n)
        }.flatten.toSet
        if (covered.isEmpty) None else Some(id -> covered.size.toLong)
      }
      val got = graft.llm.Dedup.duplicatedSpans(
        rows.toDF("doc_id", "source", "text"), n)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
      got == expected
    })
  }

  test("property: source-overlap matrix equals brute-force set Jaccard on every pair") {
    check(Prop.forAll(corpusGen) { rows =>
      val vocabOf = rows.groupBy(_._2).view
        .mapValues(_.flatMap(_._3.split(" ", -1)).toSet).toMap
      val expected = (for {
        a <- vocabOf.keys; b <- vocabOf.keys if a < b
        inter = (vocabOf(a) intersect vocabOf(b)).size if inter > 0
      } yield (a, b) -> ((inter.toLong,
        math.rint(inter.toDouble / (vocabOf(a).size + vocabOf(b).size - inter) * 1e6) / 1e6))).toMap
      val got = graft.llm.Curation.sourceOverlap(
        rows.toDF("doc_id", "source", "text"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      got == expected
    })
  }

  test("property: decontaminate flags exactly the brute-force overlap set") {
    check(Prop.forAll(corpusGen) { rows =>
      val n = 4 // short grams so tiny random docs can actually collide
      val grams = rows.map { case (id, _, t) =>
        id -> t.split(" ").toSeq.sliding(n).filter(_.size == n)
          .map(_.mkString(" ")).toSet
      }.toMap
      val isEval = (id: Long) => id % 3 == 0
      val evalGrams = grams.collect { case (id, g) if isEval(id) => g }
        .foldLeft(Set.empty[String])(_ ++ _)
      val expected = grams.collect {
        case (id, g) if !isEval(id) && g.exists(evalGrams) => id
      }.toSet
      val got = graft.llm.Curation.decontaminate(
        rows.toDF("doc_id", "source", "text"), col("doc_id") % 3 === 0, n)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      got == expected
    })
  }

  test("property: the served refresh cascade equals the in-query incrementalRefresh row for row") {
    // Seeded random batches against one corpus: copies, exact-token
    // revisions (a repeated last token keeps the token set), paraphrases
    // carrying the source vector, eval leaks, stubs, intra-batch twins,
    // novel docs and one doc with no embedding row. The served gate
    // (persisted indexes, hit frames per tier) must give the in-query
    // cascade's verdicts row for row; the classes seen across the runs
    // must cover every verdict, so the equality is never vacuous.
    import graft.llm.{Curation, Dedup, Similarity}
    val dir = sf("sf0.001")
    val corpus = Tables.documents(spark, dir).select(col("doc_id"), col("text")).localCheckpoint()
    val emb = Tables.embeddings(spark, dir)
    val texts = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val ids = texts.keys.toIndexedSeq.sorted
    val evalIds = ids.filter(i => i % 7 == 0 && texts(i).split(" ").length >= 8)
    val evalPred = col("doc_id") % 7 === 0
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val (hashT, bandT) = (s"prop_rfr_hash_$uid", s"prop_rfr_band_$uid")
    val path = tempDir("prop_rfr")
    Dedup.buildHashIndex(corpus, spark, hashT, s"$path/$hashT")
    Dedup.buildBandIndex(corpus, spark, bandT, s"$path/$bandT")
    Similarity.buildIvfIndexPinned(emb, s"$path/ivf")
    val evG = Curation.evalGrams(corpus, evalPred).localCheckpoint()
    val seen = scala.collection.mutable.Set.empty[String]
    try {
      check(Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
        val r = new scala.util.Random(seed)
        def pick(from: IndexedSeq[Long] = ids) = from(r.nextInt(from.size))
        def rot(v: IndexedSeq[Double]) = v.indices.map(i => v((i + 7) % v.size))
        def words(n: Int) = Seq.fill(n)(s"z${r.nextInt(1000000)}").mkString(" ")
        def some(max: Int) = 1 + r.nextInt(max)
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Option[Seq[Double]])]
        def add(t: String, v: Option[Seq[Double]]): Unit =
          rows += ((1000000L + rows.size, t, v))
        for (_ <- 1 to some(4)) { val s = pick(); add(texts(s), Some(vecs(s))) }
        for (_ <- 1 to some(4)) {
          val s = pick()
          add(texts(s) + " " + texts(s).split(" ").last, Some(rot(vecs(s))))
        }
        for (_ <- 1 to some(4)) add("paraphrase " + words(8), Some(vecs(pick())))
        for (_ <- 1 to some(3))
          add(texts(pick(evalIds)).split(" ").take(8).mkString(" ") + " " + words(4),
            Some(rot(vecs(pick()))))
        for (_ <- 1 to some(3)) add(words(2), Some(rot(vecs(pick()))))
        for (_ <- 1 to some(3)) {
          val (t, v) = (words(7), Some(rot(vecs(pick()))))
          add(t, v)
          add(t, v)
        }
        for (_ <- 1 to some(4)) add(words(9), Some(rot(vecs(pick()))))
        add(words(9), None)
        val shuffled = r.shuffle(rows.toSeq)
        val deltaDocs = shuffled.map(x => (x._1, x._2)).toDF("doc_id", "text").localCheckpoint()
        val deltaEmb = shuffled.collect { case (id, _, Some(v)) => (id, v) }
          .toDF("vec_id", "v").localCheckpoint()
        def verdicts(df: DataFrame) =
          df.collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
        val served = verdicts(Curation.incrementalRefreshServed(
          deltaDocs, deltaEmb, spark, hashT, bandT, s"$path/ivf", evG))
        val inQuery = verdicts(Curation.incrementalRefresh(
          corpus, emb, deltaDocs, deltaEmb, evalPred))
        seen ++= served.map(_._2)
        served.size == rows.size && served == inQuery
      }, runs = math.max(20, propRuns))
      assert(seen === Set("exact_dup", "near_dup", "sem_dup", "contaminated",
        "low_quality", "train"), s"verdict classes seen: $seen")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $hashT")
      spark.sql(s"DROP TABLE IF EXISTS ${bandT}_bands")
      spark.sql(s"DROP TABLE IF EXISTS ${bandT}_toks")
      Similarity.dropIvfIndexPinned(spark, s"$path/ivf")
    }
  }

  /** A random small undirected graph as an edge list over n nodes. */
  private val graphGen: Gen[(Int, List[(Long, Long)])] =
    for {
      n <- Gen.choose(3, 12)
      density <- Gen.choose(0.15, 0.7)
      flags <- Gen.listOfN(n * (n - 1) / 2, Gen.prob(0.4))
    } yield {
      val allPairs = for {
        a <- 0 until n; b <- a + 1 until n
      } yield (a.toLong, b.toLong)
      (n, allPairs.toList.zip(flags).collect { case (e, true) => e })
    }

  test("property: degree-ordered triangle counts equal brute-force enumeration") {
    check(Prop.forAll(graphGen) { case (n, edges) =>
      val adj = edges.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap.withDefaultValue(Set.empty[Long])
      // brute force: every ordered triple once
      val triples = for {
        x <- 0L until n.toLong; y <- x + 1 until n.toLong; z <- y + 1 until n.toLong
        if adj(x)(y) && adj(y)(z) && adj(x)(z)
      } yield Seq(x, y, z)
      val expected = (0L until n.toLong).map { v =>
        v -> triples.count(_.contains(v)).toLong
      }.filter { case (v, _) => adj(v).size >= 2 }.toMap
      val got =
        if (edges.isEmpty) Map.empty[Long, Long]
        else graft.llm.Dedup.triangleStats(edges.toDF("a", "b")).collect()
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
      got == expected
    })
  }

  test("property: blocked fuzzyLink equals brute-force links that share a block key") {
    val nameGen = Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val tableGen = for {
      nl <- Gen.choose(1, 6)
      nr <- Gen.choose(1, 6)
      ln <- Gen.listOfN(nl, nameGen)
      rn <- Gen.listOfN(nr, nameGen)
    } yield (ln.zipWithIndex.map { case (s, i) => (i.toLong, s) },
      rn.zipWithIndex.map { case (s, i) => (i.toLong + 100, s) })
    check(Prop.forAll(tableGen) { case (ls, rs) =>
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      // SAME-TYPE key matches only — prefix pass + suffix pass, exactly
      // the operator's documented multi-pass blocking. The original
      // form used Set(prefix, suffix) INTERSECTION, which also matched
      // prefix(l) == suffix(r) — a pair the operator never blocks
      // together. That latent spec bug was the unreproducible r9/r10
      // full-suite flake: it fires only when a random pair collides
      // cross-type AND sits within edit distance 2 (rare at 8 runs,
      // deterministic at seed=42 × 30 runs, where shrinking also
      // surfaced sub-8-char names — hence the length guard mirroring
      // the operator's >= 4 blocking filter).
      val expected = (for {
        (li, lname) <- ls; (ri, rname) <- rs
        if lname.length >= 4 && rname.length >= 4
        if lname.take(4) == rname.take(4) || lname.takeRight(4) == rname.takeRight(4)
        if lev(lname, rname) <= 2
      } yield (li, ri, lev(lname, rname))).toSet
      val got = graft.queries.Linkage.fuzzyLink(
        ls.toDF("orig_id", "name"), rs.toDF("typo_id", "name"), maxDist = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      got == expected
    })
  }

  test("property: pareto frontier equals brute-force dominance (ties co-frontier)") {
    val rowsGen = Gen.choose(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(1, 6), Gen.choose(1, 8)))
        .map(_.zipWithIndex.map { case ((sz, pr), i) =>
          (i.toLong, sz, pr.toDouble) }))
    check(Prop.forAll(rowsGen) { rows =>
      // brute force: r survives iff NO q is >= on size, <= on price,
      // and strictly better on at least one axis
      val expected = rows.filter { r =>
        !rows.exists(q => q._2 >= r._2 && q._3 <= r._3 &&
          (q._2 > r._2 || q._3 < r._3))
      }.map(_._1).toSet
      val got = graft.queries.Relational.paretoFrontier(
        rows.toDF("p_partkey", "p_size", "p_retailprice"))
        .collect().map(_.getLong(0)).toSet
      got == expected
    })
  }

  test("property: equi-depth histogram conserves counts and respects value-run granularity") {
    val valsGen = Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 6).map(_.toDouble)))
    check(Prop.forAll(valsGen, Gen.choose(1, 5)) { (vs, b) =>
      val h = graft.queries.Audit.equiDepthHistogram(vs.toDF("v"), "v", b)
        .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
      val conserve = h.map(_._4).sum == vs.length
      val ordered = h.sortBy(_._1).sliding(2).forall {
        case Array(x, y) => x._3 < y._2
        case _ => true
      }
      // reference: bucket of each distinct value from its sorted start rank
      val counts = vs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val sortedVals = counts.keys.toSeq.sorted
      val starts = sortedVals.scanLeft(0L)((acc, v) => acc + counts(v))
      val expected = sortedVals.zip(starts).map { case (v, start) =>
        v -> ((start * b) / vs.length).toInt
      }.toMap
      val assignment = h.forall { case (bucket, lo, hi, _) =>
        sortedVals.filter(v => v >= lo && v <= hi)
          .forall(v => expected(v) == bucket)
      }
      conserve && ordered && assignment
    })
  }

  test("property: bucketized intervalOverlap equals the naive overlap join") {
    import graft.operators.RangeJoin
    val day = java.sql.Date.valueOf("2024-01-01")
    // random closed intervals inside one day, in µs from a small grid
    // so degenerate points, touching endpoints, and bucket-boundary
    // landings all occur; user ids collide across the two sides so the
    // self-pair exclusion is exercised
    val ivGen: Gen[List[(Long, Long, Long)]] = for {
      n <- Gen.choose(1, 12)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(0L, 5L)
        s <- Gen.choose(0L, 24L * 60 - 1).map(_ * 60000000L)
        len <- Gen.choose(0L, 6L * 60).map(_ * 60000000L)
      } yield (u, s, s + len))
    } yield rows
    check(Prop.forAll(ivGen, ivGen) { (as, bs) =>
      val a = as.map { case (u, s, e) => (u, day, s, e) }.toDF("user_id", "day", "s", "e")
      val b = bs.map { case (u, s, e) => (u, day, s, e) }.toDF("user_id", "day", "s", "e")
      val got = RangeJoin.intervalOverlap(a, b, 3600L * 1000000)
        .select(col("user_id"), col("b_user_id"), col("s"), col("b_s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = (for {
        (ua, sa, ea) <- as
        (ub, sb, eb) <- bs
        if ua != ub && sa <= eb && sb <= ea
      } yield (ua, ub, sa, sb)).groupBy(identity).view.mapValues(_.size).toMap
      Prop(got == want) :| s"got=$got want=$want"
    })
  }

  test("property: kCore equals brute-force peeling on random graphs") {
    import graft.queries.Graphs
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 16)
      nEdges <- Gen.choose(1, 28)
      pairs <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield pairs.filter(p => p._1 != p._2)
    check(Prop.forAll(graphGen, Gen.choose(2, 3)) { (es, k) =>
      if (es.isEmpty) Prop(true) else {
        val got = Graphs.kCore(es.toDF("a", "b"), k, iters = 16).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // brute: peel to fixpoint on the symmetric simple graph
        val sym = es.flatMap { case (x, y) => Seq((x, y), (y, x)) }.distinct
        var nodes = sym.map(_._1).toSet
        var changed = true
        while (changed) {
          val deg = sym.filter(e => nodes(e._1) && nodes(e._2))
            .groupBy(_._1).view.mapValues(_.size).toMap
          val keep = nodes.filter(v => deg.getOrElse(v, 0) >= k)
          changed = keep != nodes
          nodes = keep
        }
        val want = sym.filter(e => nodes(e._1) && nodes(e._2))
          .groupBy(_._1).view.mapValues(_.size.toLong).toMap
        Prop(got == want) :| s"k=$k got=$got want=$want edges=$es"
      }
    })
  }

  test("property: kCoreTrace is total, non-increasing, and lands on the kCore survivor count") {
    import graft.queries.Graphs
    val graphGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 14)
      nEdges <- Gen.choose(1, 24)
      pairs <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield pairs.filter(p => p._1 != p._2)
    check(Prop.forAll(graphGen, Gen.choose(2, 3)) { (es, k) =>
      if (es.isEmpty) Prop(true) else {
        val iters = 6
        val trace = Graphs.kCoreTrace(es.toDF("a", "b"), k, iters).collect()
          .sortBy(_.getAs[Long]("iter")).map(_.getAs[Long]("n_nodes")).toSeq
        val survivors = Graphs.kCore(es.toDF("a", "b"), k, iters).collect()
          .map(_.getLong(0)).distinct.length.toLong
        (Prop(trace.size == iters + 1) :| s"trace not total: $trace") &&
          (Prop(trace.zip(trace.tail).forall { case (a, b) => b <= a }) :|
            s"peel grew: $trace") &&
          (Prop(trace.last == survivors) :|
            s"terminal count ${trace.last} != kCore survivors $survivors")
      }
    })
  }

  test("property: labelPropagationTrace round k counts the labels that labelPropagation changes from k−1 to k rounds") {
    import graft.llm.Dedup
    // nodes 0..n−1 carry the random edges (self-loops included); nodes
    // n and n+1 are isolated, n with a self-loop
    val graphGen: Gen[(Long, List[(Long, Long)])] = for {
      n <- Gen.choose(2, 10)
      nEdges <- Gen.choose(0, 18)
      pairs <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield (n.toLong, pairs)
    check(Prop.forAll(graphGen) { case (n, pairs) =>
      val nodes = (0L to n + 1L).toDF("id")
      val edges = ((n, n) :: pairs).toDF("a", "b")
      val labels = (0 to 5).map(i => Dedup.labelPropagation(nodes, edges, iters = i)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val want = (1 to 5).map(k => labels(k).count { case (id, l) => labels(k - 1)(id) != l }.toLong)
      val got = Dedup.labelPropagationTrace(nodes, edges, iters = 5).collect()
        .sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
      Prop(got == want) :| s"trace=$got want=$want edges=$pairs"
    })
  }

  test("property: sorted-prefix Gini == brute-force mean-absolute-difference identity") {
    // G = Σ(2i−n−1)x_i / (n·Σx) over sorted x must equal the O(n²)
    // definition Σ_ij |x_i−x_j| / (2n·Σx) on random grouped data —
    // including duplicate values, where the tie weights must be
    // permutation-invariant for the identity to hold at all.
    val giniGen: Gen[List[(String, Long, Double)]] = for {
      n <- Gen.choose(1, 30)
      gs <- Gen.listOfN(n, Gen.choose(0, 2))
      vs <- Gen.listOfN(n, Gen.choose(1, 20000)) // cents; dup-friendly range
    } yield gs.zip(vs).zipWithIndex.map { case ((g, v), k) =>
      (s"g$g", k.toLong, v / 100.0)
    }
    check(Prop.forAll(giniGen) { rows =>
      val df = rows.toDF("grp", "k", "v")
        .select(col("grp"), col("k"), col("v").cast("decimal(30,6)").as("v"))
      val got = graft.queries.Relational.giniByGroup(df, "grp", "k", "v")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val xs = rs.map(_._3)
        val mad = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
        g -> (xs.length.toLong, mad / (2.0 * xs.length * xs.sum))
      }
      Prop(got.keySet == want.keySet && want.forall { case (g, (n, gv)) =>
        got(g)._1 == n && math.abs(got(g)._2 - gv) < 2e-6
      }) :| s"got=$got want=$want"
    })
  }
  /** Random token docs for the CDC properties: small vocab forces
    * both shared grams (cuts) and collisions. */
  private val cdcDocGen: Gen[List[String]] = for {
    nDocs <- Gen.choose(1, 4)
    docs <- Gen.listOfN(nDocs, for {
      n <- Gen.choose(0, 60)
      toks <- Gen.listOfN(n, Gen.choose(0, 30).map(i => s"t$i"))
    } yield toks.mkString(" "))
  } yield docs

  test("property: CDC chunks tile every doc exactly and agree across all three forms") {
    check(Prop.forAll(cdcDocGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val native = docs.select(col("doc_id"),
          graft.functions.cdc_chunks(col("text"), 4, 16)
            .as(Seq("chunk_idx", "start_pos", "n_tokens", "chunk_fp")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      val hof = graft.llm.Dedup.contentChunkRows(docs)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      val tiles = texts.zipWithIndex.forall { case (t, i) =>
        val len = t.split(" ", -1).length
        val mine = native.filter(_._1 == i.toLong).sortBy(_._2)
        mine.map(_._4).sum == len &&                       // covers every token
        mine.headOption.forall(_._3 == 0) &&               // starts at 0
        mine.sliding(2).forall {                            // contiguous
          case Array(a, b) => a._3 + a._4 == b._3
          case _ => true
        }
      }
      Prop(tiles && native.toSet == hof.toSet) :|
        s"native=${native.toSeq.sorted} hof=${hof.toSeq.sorted}"
    })
  }

  test("property: a single-token edit never moves CDC cuts outside its gram window") {
    // THE content-defined property: boundary decisions depend only on
    // the w tokens of their gram, so mutating token p can only add or
    // remove cut positions q with q - w <= p <= q - 1 + ... i.e. cuts
    // whose gram [q-w, q-1] contains p; all other cuts are identical.
    val genDoc = for {
      n <- Gen.choose(10, 80)
      toks <- Gen.listOfN(n, Gen.choose(0, 30).map(i => s"t$i"))
      p <- Gen.choose(0, n - 1)
    } yield (toks, p)
    check(Prop.forAll(genDoc) { case (toks, p) =>
      val w = 4
      def cuts(ts: List[String]): Set[Int] = {
        val df = Seq((1L, ts.mkString(" "))).toDF("doc_id", "text")
        df.select(graft.functions.cdc_chunks(col("text"), w, 16)
            .as(Seq("ci", "s", "n", "fp")))
          .collect().map(_.getInt(1)).toSet - 0
      }
      val before = cuts(toks)
      val after = cuts(toks.updated(p, "MUTATED"))
      // cuts outside the affected gram window must be identical
      val affected = (q: Int) => q - w <= p && p <= q - 1
      val stableBefore = before.filterNot(affected)
      val stableAfter = after.filterNot(affected)
      Prop(stableBefore == stableAfter) :|
        s"p=$p before=$before after=$after"
    })
  }

  /** Random small numeric frames for the correlation tier. */
  private val pairsGen: Gen[List[(Double, Double)]] =
    for {
      n <- Gen.choose(3, 20)
      xs <- Gen.listOfN(n, Gen.choose(-50, 50).map(_ / 4.0))
      ys <- Gen.listOfN(n, Gen.choose(-50, 50).map(_ / 4.0))
    } yield xs.zip(ys)

  test("property: Pearson and Spearman always land in [-1, 1] or NULL") {
    check(Prop.forAll(pairsGen) { rows =>
      val df = rows.toDF("x", "y")
      val p = graft.queries.Audit.corrMatrix(df, Seq("x", "y")).collect().head
      val s = graft.queries.Audit.spearmanMatrix(df, Seq("x", "y")).collect().head
      def ok(r: org.apache.spark.sql.Row) =
        r.isNullAt(3) || (r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
      Prop(ok(p) && ok(s)) :| s"pearson=$p spearman=$s"
    })
  }

  test("property: Spearman is invariant under any strictly monotone transform of x") {
    check(Prop.forAll(pairsGen) { rows =>
      val df = rows.toDF("x", "y")
      // x -> x³ + 2x is strictly increasing: identical ranks, so the
      // statistic must not move AT ALL (bit-equal, both computed from
      // the same integer rank frames)
      val tf = rows.map { case (x, y) => (x * x * x + 2 * x, y) }.toDF("x", "y")
      val a = graft.queries.Audit.spearmanMatrix(df, Seq("x", "y")).collect().head
      val b = graft.queries.Audit.spearmanMatrix(tf, Seq("x", "y")).collect().head
      val same = (a.isNullAt(3) && b.isNullAt(3)) ||
        (!a.isNullAt(3) && !b.isNullAt(3) && a.getDouble(3) == b.getDouble(3))
      Prop(same) :| s"a=$a b=$b"
    })
  }

  /** Random (seg, fold, y) frames for target encoding. */
  private val teGen: Gen[List[(String, Long, Long)]] =
    for {
      n <- Gen.choose(2, 30)
      rows <- Gen.listOfN(n, for {
        s <- Gen.oneOf("A", "B", "C")
        f <- Gen.choose(0L, 3L)
        y <- Gen.oneOf(0L, 1L)
      } yield (s, f, y))
    } yield rows

  test("property: target encoding stays strictly inside (0, 1) and counts reconcile") {
    check(Prop.forAll(teGen) { rows =>
      // with α > 0 and 0 ≤ P ≤ N the smoothed estimate can touch the
      // open interval's ends only if P=0 (then enc = 0·…? no: α·P=0 and
      // pos_excl=0 → enc=0) — allow the closed interval, require
      // per-(seg,fold) counts to reconcile with the input exactly
      val df = rows.toDF("seg", "fold", "y")
      val out = graft.pipeline.TrainingData.targetEncodeFolds(df, alpha = 10)
        .collect()
      val inCounts = rows.groupBy(r => (r._1, r._2))
        .view.mapValues(g => (g.size.toLong, g.map(_._3).sum)).toMap
      val all = out.forall { r =>
        val k = (r.getString(0), r.getLong(1))
        val e = r.getDouble(4)
        e >= 0.0 && e <= 1.0 &&
          inCounts(k) == ((r.getLong(2), r.getLong(3)))
      }
      Prop(all && out.length == inCounts.size) :| out.mkString(";")
    })
  }

  test("property: OHLC invariants — low <= open/close <= high, volume = exact sum") {
    val ohlcGen = for {
      n <- Gen.choose(1, 25)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 2L)
        d <- Gen.choose(1, 3)
        s <- Gen.choose(0, 86399)
        v <- Gen.choose(1, 99999).map(_ / 100.0)
      } yield (u, d, s, v))
    } yield rows.zipWithIndex.map { case ((u, d, s, v), i) => (i.toLong, u, d, s, v) }
    check(Prop.forAll(ohlcGen) { rows =>
      val ev = rows.map { case (id, u, d, s, v) =>
        (id, new Timestamp(Timestamp.valueOf(f"2024-01-$d%02d 00:00:00").getTime
          + s * 1000L), u, "view", v, "")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val dir = tempDir("prop_ohlc")
      ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = SparkEntry.queries("events_ohlc_bars")(spark, dir).collect()
      graft.Bench.deleteRecursively(dir)
      val ok = out.forall { r =>
        val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
        l <= o && o <= h && l <= c && c <= h && r.getLong(6) >= 1L
      }
      // volume reconciles exactly with the per-(user, day) input sum
      val want = rows.groupBy { case (_, u, d, _, _) => (u, d) }
        .view.mapValues(g => g.map { case (_, _, _, _, v) => BigDecimal(v) }.sum).toMap
      val vols = out.map { r =>
        ((r.getLong(0), r.getDate(1).toLocalDate.getDayOfMonth), BigDecimal(r.getDouble(7)))
      }.toMap
      Prop(ok && vols.forall { case (k, v) => (v - want(k)).abs < BigDecimal("0.000001") })
        .:|(out.mkString(";"))
    })
  }
}
