package graft

import org.apache.spark.sql.functions._

import graft.queries.Graphs

/** Round-10 BFS hop distances: hand fixtures pin min-hop semantics,
  * multi-seed minimum, unreachable absence, and cycle termination. */
class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(es: (Long, Long)*) = es.toDF("a", "b")
  private def seeds(ids: Long*) = ids.toDF("id")

  private def run(e: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.DataFrame, maxIter: Int = 20): Map[Long, Long] =
    Graphs.bfsHops(e, s, maxIter).as[(Long, Long)].collect().toMap

  test("bfs: path graph distances, direction-free traversal") {
    // 1-2-3-4-5, seed 1; edge 4-5 given reversed to pin undirectedness
    val got = run(edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 4L), seeds(1L))
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("bfs: multiple seeds take the minimum; unreachable nodes are absent") {
    // two components: 1-2-3 (seed 1) and 10-11 (no seed); seed 3 also
    // in the first -> node 2 is 1 hop from either side
    val got = run(edges(1L -> 2L, 2L -> 3L, 10L -> 11L), seeds(1L, 3L))
    assert(got === Map(1L -> 0L, 3L -> 0L, 2L -> 1L))
  }

  test("bfs: cycles terminate and keep first-reach distances") {
    val got = run(edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L), seeds(1L))
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("bfs: maxIter truncates the expansion radius") {
    val got = run(edges(1L -> 2L, 2L -> 3L, 3L -> 4L), seeds(1L), maxIter = 2)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("Materialize: reliable-checkpoint mode produces identical results with a truncated, recoverable plan (r19)") {
    // VERDICT r18 task 4: executor loss during a long localCheckpoint
    // loop fails the job (unreliable blocks + severed lineage); with
    // graft.iter.checkpointDir set the iterative tier writes a
    // RELIABLE checkpoint every round — recoverable from its files,
    // plan bounded at one round.
    val ckptDir = tempDir("graft_iter_ckpt")
    val chain = edges((1L to 12L).sliding(2).map(p => p(0) -> p(1)).toSeq: _*)
    val lpaFix = graft.llm.Dedup.lpaFixture(
      Seq(1L, 2L).toDF("doc_id").select(col("doc_id")))
    // reference results under the default (localCheckpoint) policy
    val bfsLocal = run(chain, seeds(1L))
    val kcoreLocal = Graphs.kCoreConverged(chain, k = 1, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    val lpaLocal = graft.llm.Dedup.labelPropagation(lpaFix._1, lpaFix._2, iters = 5)
      .as[(Long, Long)].collect().toMap
    val ccLocal = graft.llm.Dedup.connectedComponentsStar(
      chain.select(col("a").as("id")).unionByName(chain.select(col("b").as("id")))
        .distinct(), chain)
      .as[(Long, Long)].collect().toMap
    spark.conf.set(graft.Materialize.ConfKey, ckptDir)
    try {
      val lpaReliable = graft.llm.Dedup.labelPropagation(lpaFix._1, lpaFix._2, iters = 5)
      // the returned frame IS a reliable checkpoint scan — its plan is one leaf, not 5
      // unrolled join+agg rounds, and its RDD chain names the
      // ReliableCheckpointRDD (the recoverable artifact)
      assert(lpaReliable.queryExecution.optimizedPlan.collectLeaves().size === 1,
        s"plan must be truncated to the checkpoint scan:\n" +
          lpaReliable.queryExecution.optimizedPlan)
      assert(lpaReliable.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        "the final frame must be backed by a RELIABLE checkpoint")
      assert(lpaReliable.as[(Long, Long)].collect().toMap === lpaLocal,
        "label propagation must answer identically under reliable checkpointing")
      assert(run(chain, seeds(1L)) === bfsLocal,
        "BFS must answer identically under reliable checkpointing")
      assert(Graphs.kCoreConverged(chain, k = 1, maxIter = 10)
        .as[(Long, Long)].collect().toMap === kcoreLocal,
        "k-core must answer identically under reliable checkpointing")
      assert(graft.llm.Dedup.connectedComponentsStar(
        chain.select(col("a").as("id")).unionByName(chain.select(col("b").as("id")))
          .distinct(), chain)
        .as[(Long, Long)].collect().toMap === ccLocal,
        "CC-star must answer identically under reliable checkpointing")
      // the checkpoint dir actually holds the reliable copies
      def rddFiles(d: java.io.File): Int =
        Option(d.listFiles()).toSeq.flatten
          .map(f => if (f.isDirectory) rddFiles(f) else 1).sum
      assert(rddFiles(new java.io.File(ckptDir)) > 0,
        "reliable mode must write checkpoint files")
      // re-pin stability (review r20): setCheckpointDir mints a fresh
      // UUID subdir each push, and it stores the FS-QUALIFIED subdir
      // path — a bare-path prefix compare in the policy's re-verify read
      // as "foreign dir" every round and re-pushed per reliable
      // checkpoint. All four loops above share this conf value, so
      // exactly ONE minted subdir proves the pin held.
      val minted = Option(new java.io.File(ckptDir).listFiles()).toSeq.flatten
        .count(_.isDirectory)
      assert(minted === 1,
        s"setCheckpointDir minted $minted UUID subdirs across the reliable " +
          "rounds — the qualified-path re-pin is re-pushing every round")
    } finally spark.conf.unset(graft.Materialize.ConfKey)
  }

  test("Materialize one policy: with the reliable dir a round survives total block loss; without it the loss fails loudly") {
    // Executor loss, simulated by dropping every persisted block. With
    // graft.iter.checkpointDir set, every round is a reliable file
    // checkpoint and re-reads its files — LPA's FINAL frame included.
    // Unset, a round is a local checkpoint with severed lineage:
    // nothing to recompute from, so the read must FAIL with a
    // checkpoint error — never answer with partial data.
    def step(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("v", col("v") + 1)
    val base = spark.range(0, 1000).select(col("id"), col("id").as("v"))
    def dropAllBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val lpaFix = graft.llm.Dedup.lpaFixture(
      Seq(1L, 2L).toDF("doc_id").select(col("doc_id")))
    val lpaLocal = graft.llm.Dedup.labelPropagation(lpaFix._1, lpaFix._2, iters = 5)
      .as[(Long, Long)].collect().toMap
    // a non-iterative operator takes the same policy: jaccardExactJoin
    // caches its gram scan and materializes its pair frame
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"),
      (4L, "a b c d x y")).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"), col("n_shared")).as[(Long, Long, Long)].collect().toSeq
    val jaccardLocal = pairs(graft.llm.Dedup.jaccardExactJoin(docs))
    assert(jaccardLocal.nonEmpty)
    val ckptDir = tempDir("graft_iter_ckpt_loss")
    spark.conf.set(graft.Materialize.ConfKey, ckptDir)
    try {
      val r1 = graft.Materialize(step(base))
      val r2 = graft.Materialize(step(r1))
      val lpa = graft.llm.Dedup.labelPropagation(lpaFix._1, lpaFix._2, iters = 5)
      val jaccard = graft.llm.Dedup.jaccardExactJoin(docs)
      for ((name, df) <- Seq("round 1" -> r1, "round 2" -> r2, "LPA final" -> lpa,
          "jaccardExactJoin" -> jaccard))
        assert(df.rdd.toDebugString.contains("ReliableCheckpointRDD") &&
          !df.rdd.toDebugString.contains("LocalCheckpointRDD"),
          s"$name must be a RELIABLE checkpoint:\n" + df.rdd.toDebugString)
      dropAllBlocks()
      assert(r1.count() === 1000L && r2.count() === 1000L,
        "a reliable round must survive total block loss (reads its files)")
      assert(r2.agg(sum(col("v") - col("id"))).head().getLong(0) === 2000L)
      assert(lpa.as[(Long, Long)].collect().toMap === lpaLocal,
        "LPA's final frame must survive total block loss under the reliable dir")
      assert(pairs(jaccard) === jaccardLocal,
        "jaccardExactJoin must survive total block loss under the reliable dir")
    } finally spark.conf.unset(graft.Materialize.ConfKey)
    val l1 = graft.Materialize(step(base))
    assert(l1.count() === 1000L)
    assert(l1.rdd.toDebugString.contains("LocalCheckpointRDD") &&
      !l1.rdd.toDebugString.contains("ReliableCheckpointRDD"),
      "without the dir a round must be a LOCAL checkpoint:\n" + l1.rdd.toDebugString)
    val jl = graft.llm.Dedup.jaccardExactJoin(docs)
    assert(jl.rdd.toDebugString.contains("LocalCheckpointRDD"),
      "without the dir jaccardExactJoin must be a LOCAL checkpoint:\n" + jl.rdd.toDebugString)
    dropAllBlocks()
    val ex = intercept[org.apache.spark.SparkException](l1.count())
    assert(ex.getMessage.toLowerCase.contains("checkpoint"),
      s"a local round must die on block loss with a checkpoint error: $ex")
    val exJ = intercept[org.apache.spark.SparkException](jl.count())
    assert(exJ.getMessage.toLowerCase.contains("checkpoint"),
      s"a local jaccardExactJoin must die on block loss with a checkpoint error: $exJ")
  }

  private def runSssp(e: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.DataFrame,
      w: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      maxCost: Long): Map[Long, Long] =
    Graphs.ssspBounded(e, s, w, maxCost).as[(Long, Long)].collect().toMap

  test("sssp: cheap multi-hop detour beats the expensive direct edge") {
    // 1-4 direct costs 10; 1-2-3-4 costs 3 (unit edges)
    val w = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      when(least(a, b) === 1L && greatest(a, b) === 4L, 10L).otherwise(1L)
    val got = runSssp(edges(1L -> 4L, 1L -> 2L, 2L -> 3L, 3L -> 4L), seeds(1L), w, 100L)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("sssp: maxCost truncates; cycles terminate; multi-seed minimum") {
    val unit = (_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column) => lit(3L)
    // triangle 1-2-3 plus tail 3-4; seeds 1 and 4; every edge costs 3
    val got = runSssp(edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L),
      seeds(1L, 4L), unit, 3L)
    // 2 is 3 from seed 1; 3 is 3 from either; nothing costs > 3
    assert(got === Map(1L -> 0L, 4L -> 0L, 2L -> 3L, 3L -> 3L))
  }

  test("sssp: fixture costs dominate hops and respect the bound") {
    val docs = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"))
    val seedsDf = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
    val hops = Graphs.bfsHops(Graphs.fixtureEdges(docs), seedsDf)
      .withColumnRenamed("hop", "h")
    val dist = Graphs.ssspBounded(Graphs.fixtureEdges(docs), seedsDf,
      (a, b) => pmod(a + b, lit(5L)) + lit(1L), maxCost = 30L)
    assert(dist.filter(col("d") > 30L).count() === 0L)
    assert(dist.filter(col("d") === 0L).count() === seedsDf.count())
    // weights >= 1 => cost >= hop count, for every node both produce
    val both = dist.join(hops, dist("id") === hops("id"))
    assert(both.count() > 0)
    assert(both.filter(col("d") < col("h")).count() === 0L)
  }

  test("bfs: fixture reaches every seed component member within the bound") {
    val docs = Tables.documents(spark, sf("sf0.001")).select(col("doc_id"))
    val seedsDf = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
    val nSeeds = seedsDf.count()
    val got = Graphs.bfsHops(Graphs.fixtureEdges(docs), seedsDf)
    assert(got.filter(col("hop") === 0).count() === nSeeds)
    // sibling chains cap the eccentricity well under the default bound
    assert(got.agg(max(col("hop"))).as[Long].head() <= 8L)
    assert(got.count() > nSeeds)
  }

  test("commonNeighbors: square diagonals score cn=2, existing edges never predicted") {
    // square 1-2-3-4-1: the only non-edges are the diagonals (1,3) and
    // (2,4); each shares BOTH its two neighbors (deg 2 → 500000 µ each)
    val got = Graphs.commonNeighbors(
      edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L), maxDeg = 10, k = 10)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 2L, 1000000L), (2L, 4L, 2L, 1000000L)))
  }

  test("commonNeighbors: maxDeg drops hub-centered wedges; wide cap restores them") {
    // star 0-{1..5} plus edge 1-2: every 2-path runs through hub 0
    // (deg 5) except the two deg-2 wedges whose endpoints are edges
    val star = edges(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L, 0L -> 5L, 1L -> 2L)
    val capped = Graphs.commonNeighbors(star, maxDeg = 3, k = 100)
    assert(capped.isEmpty, "deg-5 hub must be excluded at maxDeg=3")
    val full = Graphs.commonNeighbors(star, maxDeg = 10, k = 100)
      .as[(Long, Long, Long, Long)].collect().toSet
    // C(5,2)=10 leaf pairs through the hub, minus the (1,2) edge
    assert(full.size === 9)
    assert(full.forall { case (a, b, cn, ra) =>
      cn === 1L && ra === 200000L && a < b && a >= 1L && b <= 5L })
    assert(!full.exists { case (a, b, _, _) => (a, b) === ((1L, 2L)) })
  }

  test("kCore round layout census: broadcast regime rides hash(a); SMJ regime pays the pinned exchanges (r21)") {
    // VERDICT r20 task 7 (builder backlog #6): the r20 one-layout claim
    // for the three kCore forms — the per-round groupBy(a) degree
    // aggregate reuses the edge layout's hash(a) — was probed only in
    // the broadcast regime. This census pins BOTH regimes on the SHARED
    // round derivation (Dedup.undirected / Graphs.kCoreRound — the same code
    // the three forms execute), the LlmSpec LPA census discipline:
    //  - broadcast regime (survivor frame fits): ZERO shuffle exchanges
    //    per round — both membership joins broadcast the node side and
    //    the degree aggregate rides hash(a);
    //  - SMJ regime (broadcast disabled — the >10⁸-node corpus): the
    //    b-side membership join re-keys the edge frame by b and the
    //    degree aggregate re-keys it back by a (both irreducible under
    //    this layout: a row's survival depends on BOTH endpoints), plus
    //    the two node-sided exchanges (checkpoint truncation reads back
    //    as UnknownPartitioning, the LPA census note) = 4 shuffles,
    //    exactly 2 edge-sized.
    val fixEdges = graft.llm.Dedup.lpaFixture(
      Tables.documents(spark, sf("sf0.001")).select(col("doc_id")))._2
    val und = graft.llm.Dedup.undirected(fixEdges)
    Materialize.using(und) {
      und.count()
      val nodes = Materialize(und.select(col("a").as("id")).distinct())
      val (bSh, bBc) = PlanAudit.exchangeCounts(Graphs.kCoreRound(und, nodes))
      assert(bSh === 0,
        s"broadcast-regime round must ride the hash(a) layout: $bSh shuffles ($bBc broadcasts)")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      try {
        val (sSh, sBc) = PlanAudit.exchangeCounts(Graphs.kCoreRound(und, nodes))
        val (_, sRec, _) = PlanAudit.shuffleStats(Graphs.kCoreRound(und, nodes))
        info(s"SMJ-regime kCore round: $sSh shuffles / $sBc broadcasts, $sRec records")
        assert(sSh <= 4,
          s"SMJ-regime round regressed past the documented 4 exchanges: $sSh ($sBc broadcasts)")
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }
}
