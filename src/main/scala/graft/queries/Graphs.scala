package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}
import graft.llm.Dedup.undirected

/** Graph queries over an (a, b) edge frame, beside the component,
  * PageRank, label-propagation and triangle operators in `Dedup`:
  * multi-source BFS hop distances and cost-bounded shortest paths
  * (the reachability/how-far primitives under impact analysis,
  * blast-radius queries and lineage tracing — a frontier expands from
  * a seed set and touches only what it reaches), k-core peeling, and
  * common-neighbor link prediction.
  *
  * Every iterative operator reads the one symmetric edge layout
  * `Dedup.undirected` (hash(a)-partitioned, deduplicated), cached for
  * the loop. Pregel-style execution: each round joins its frontier or
  * survivor set against that layout, so per-round cost tracks the
  * FRONTIER or SURVIVORS, not the graph, with a hard round bound.
  * Lineage is truncated per round ([[graft.Materialize]]) so the plan
  * never grows with iterations.
  */
object Graphs {

  /** Minimum hop count from any seed, for every reachable node.
    * Frontier BFS gives min-hop by construction (a node is first
    * reached at its true distance and anti-joined out of later
    * rounds). Unreached nodes are absent — reachability IS the
    * result. Deterministic: hop labels don't depend on tie order. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxIter: Int = 20): DataFrame = {
    require(maxIter >= 1, "bfsHops: maxIter must be >= 1")
    // every round's frontier⋈adjacency reuses the layout's hash(a), so
    // in the big-frontier (SMJ) regime only the frontier side shuffles
    val und = undirected(edges)
    Materialize.using(und) {
      und.count() // materialize once; every round reuses the shuffle-free cache
      var dist = Materialize(seeds.select(col("id"), lit(0L).as("hop")).distinct())
      var frontier = dist
      var iter = 0
      var grew = true
      while (grew && iter < maxIter) {
        iter += 1
        val next = und.join(frontier, und("a") === frontier("id"))
          .select(und("b").as("id"))
          .distinct()
          .join(dist, Seq("id"), "left_anti")
          .select(col("id"), lit(iter.toLong).as("hop"))
        val nextT = Materialize(next)
        grew = nextT.limit(1).count() > 0
        if (grew) {
          dist = Materialize(dist.unionByName(nextT))
          frontier = nextT
        }
      }
      dist
    }
  }

  /** Cost-bounded single-source shortest paths (weighted BFS
    * generalization): minimum path COST from any seed over positive
    * integer edge weights, truncated to `maxCost` — the blast-radius
    * form ("everything within budget C"), which is also what makes the
    * oracle recursion finitely bounded. Bellman-Ford with frontier
    * pruning: each round relaxes only edges out of nodes IMPROVED last
    * round (first round: the seeds), min-combines candidates, and
    * keeps strict improvements; with positive weights the rounds
    * needed equal the edge count of the longest optimal path ≤
    * `maxCost`, and the loop stops as soon as a round improves
    * nothing. Same per-round shape as [[bfsHops]]: frontier ⋈
    * persisted adjacency + one keyed min — cost tracks the frontier,
    * lineage checkpoint-truncated. Deterministic: min cost is unique.
    */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, weight: (Column, Column) => Column,
      maxCost: Long, maxIter: Int = 64): DataFrame = {
    require(maxCost >= 0, "ssspBounded: maxCost must be >= 0")
    require(maxIter >= 1, "ssspBounded: maxIter must be >= 1")
    val und = undirected(edges).withColumn("w", weight(col("a"), col("b")))
    Materialize.using(und) {
      und.count()
      var dist = Materialize(seeds.select(col("id"), lit(0L).as("d")).distinct())
      var frontier = dist
      var iter = 0
      var improved = true
      while (improved && iter < maxIter) {
        iter += 1
        val cand = und.join(frontier, und("a") === frontier("id"))
          .select(und("b").as("id"), (frontier("d") + und("w")).as("d"))
          .groupBy(col("id")).agg(min(col("d")).as("d"))
        val next = cand
          .join(dist.withColumnRenamed("d", "d0"), Seq("id"), "left_outer")
          .filter(col("d0").isNull || col("d") < col("d0"))
          .select(col("id"), col("d"))
        val nextT = Materialize(next)
        improved = nextT.limit(1).count() > 0
        if (improved) {
          dist = Materialize(dist.withColumnRenamed("d", "dOld")
            .join(nextT.withColumnRenamed("d", "dNew"), Seq("id"), "full_outer")
            .select(col("id"), least(col("dOld"), col("dNew")).as("d")))
          frontier = nextT
        }
      }
      dist
    }.filter(col("d") <= maxCost)
  }

  /** The deterministic dup-graph fixture shared with
    * `graph_triangles`, widened with sibling links so components span
    * several document triples and hops reach ~6: chain triples
    * d—(d+10⁶)—(d+2·10⁶), closure d—(d+2·10⁶) when d%3=0, and
    * sibling edges d—(d+1) when d%10 ∈ {0,1,2}. */
  private[graft] def fixtureEdges(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"))
    d.select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
      .unionByName(d.select((col("doc_id") + 1000000L).as("a"),
        (col("doc_id") + 2000000L).as("b")))
      .unionByName(d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 2000000L).as("b")))
      .unionByName(d.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b")))
  }

  val defs: Seq[Q] = Seq(

    // Min-hop distances from the %97 seed documents. The oracle is a
    // bounded recursive CTE with MIN(hop) — the declarative spec of
    // BFS — so every (node, hop) label is hash-pinned, including
    // which nodes are absent (unreachable).
    Q("graph_bfs_hops",
      """WITH RECURSIVE e0 AS (
        |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 < 3),
        |und AS (
        |  SELECT DISTINCT a, b
        |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) t),
        |r AS (
        |  SELECT doc_id AS id, 0 AS hop FROM documents WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT und.b, r.hop + 1 FROM r JOIN und ON und.a = r.id WHERE r.hop < 20)
        |SELECT id, CAST(MIN(hop) AS BIGINT) AS hop
        |FROM r GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val seeds = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
      bfsHops(fixtureEdges(docs), seeds).orderBy(col("id"))
    },

    // Weighted complement of graph_bfs_hops on the same fixture and
    // seeds: min path COST with w(a,b) = (a+b) % 5 + 1, truncated at
    // cost 30 (cheap 2-hop detours beat expensive direct edges, so the
    // answer genuinely differs from hops·w). The oracle's recursion
    // enumerates every path state (node, cost ≤ 30) — UNION dedups
    // states so positive weights bound it — and MIN(cost) is the
    // declarative spec of shortest path; the cost-30 truncation is
    // part of the operator contract (blast-radius-within-budget), not
    // an approximation.
    Q("graph_sssp_bounded",
      """WITH RECURSIVE e0 AS (
        |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 < 3),
        |und AS (
        |  SELECT a, b, (a + b) % 5 + 1 AS w
        |  FROM (SELECT DISTINCT a, b
        |        FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) t) u),
        |r AS (
        |  SELECT doc_id AS id, CAST(0 AS BIGINT) AS d
        |  FROM documents WHERE doc_id % 97 = 0
        |  UNION
        |  SELECT und.b, r.d + und.w FROM r JOIN und ON und.a = r.id
        |  WHERE r.d + und.w <= 30)
        |SELECT id, CAST(MIN(d) AS BIGINT) AS d
        |FROM r GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val seeds = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id").as("id"))
      ssspBounded(fixtureEdges(docs), seeds,
        (a, b) => pmod(a + b, lit(5L)) + lit(1L), maxCost = 30L)
        .orderBy(col("id"))
    },

    // 2-core of the dup-graph fixture by FIXED-ITERATION peeling
    // (remove degree-<k nodes, recompute induced degrees, repeat) —
    // the density filter that strips dangling chains/leaves before
    // expensive per-component work (a node in the k-core lies on ≥ k
    // internally-connected paths; dedup clusters that are pure chains
    // are usually transitive-closure artifacts, cores are real dup
    // neighborhoods). Peeling is anti-monotone so it has no recursive
    // -CTE fixpoint form; like dedup_graph_pagerank the oracle UNROLLS
    // the iterations — 6 levels, measured fixpoint at 4 on this graph
    // (GraphsSpec asserts a 7th iteration is a no-op, so the declared
    // result IS the true 2-core, not a truncation). Per round: one
    // double semi-join of the persisted symmetric edge list against
    // the surviving node set + a keyed count — each round's cost
    // tracks the SURVIVING subgraph, lineage cut per round.
    Q("graph_kcore", {
      val unroll = (1 to 6).map { i =>
        s""",d$i AS (
           |  SELECT u.a AS id, COUNT(*) AS c FROM und u
           |  JOIN n${i - 1} x ON u.a = x.id JOIN n${i - 1} y ON u.b = y.id
           |  GROUP BY u.a)
           |,n$i AS (SELECT id FROM d$i WHERE c >= 2)""".stripMargin
      }.mkString("\n")
      s"""WITH e0 AS (
         |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
         |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
         |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 < 3),
         |und AS (
         |  SELECT DISTINCT a, b
         |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) t),
         |n0 AS (SELECT DISTINCT a AS id FROM und)
         |$unroll
         |SELECT u.a AS id, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM und u JOIN n6 x ON u.a = x.id JOIN n6 y ON u.b = y.id
         |GROUP BY u.a ORDER BY id""".stripMargin
    }) { (s, dir) =>
      kCore(fixtureEdges(Tables.documents(s, dir).select(col("doc_id"))),
        k = 2, iters = 6)
        .orderBy(col("id"))
    },

    // Per-iteration survivor counts of the same peel, one level PAST
    // the declared unroll (VERDICT r12 task 8): graph_kcore's
    // fixpoint-at-4 / no-op-at-7 claim was spec-only (a GraphsSpec
    // assertion); this trace makes it ORACLE-visible — iterations 4–7
    // carry equal counts in the hash-pinned result, and since peeling
    // only ever shrinks the node set, an equal count IS an equal set
    // (the no-op certificate). Iteration 0 is the full node set.
    Q("graph_kcore_trace", {
      val unroll = (1 to 7).map { i =>
        s""",d$i AS (
           |  SELECT u.a AS id, COUNT(*) AS c FROM und u
           |  JOIN n${i - 1} x ON u.a = x.id JOIN n${i - 1} y ON u.b = y.id
           |  GROUP BY u.a)
           |,n$i AS (SELECT id FROM d$i WHERE c >= 2)""".stripMargin
      }.mkString("\n")
      val levels = (0 to 7).map(i =>
        s"SELECT CAST($i AS BIGINT) AS iter, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM n$i")
        .mkString("\nUNION ALL ")
      s"""WITH e0 AS (
         |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
         |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
         |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 < 3),
         |und AS (
         |  SELECT DISTINCT a, b
         |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) t),
         |n0 AS (SELECT DISTINCT a AS id FROM und)
         |$unroll
         |$levels
         |ORDER BY iter""".stripMargin
    }) { (s, dir) =>
      kCoreTrace(fixtureEdges(Tables.documents(s, dir).select(col("doc_id"))),
        k = 2, iters = 7)
    },

    // Link prediction by common-neighborhood scoring (r10 s4): for
    // every NON-edge pair sharing ≥1 neighbor, the common-neighbor
    // count plus the resource-allocation index Σ_z 1/deg(z) (Zhou,
    // Lü & Zhang 2009 — Adamic–Adar's 1/log cousin; chosen because
    // 1/deg keeps the score in exact integer µ-units, no libm log on
    // the value path). This is the "which dup-pairs did the pairing
    // tier MISS" / entity-resolution candidate-expansion primitive
    // over the same fixture graph as the traversal tier. Shape for
    // scale: the wedge enumeration is the triangles discipline — cost
    // Σ_z deg(z)², bounded by the maxDeg hub cap (a universal hub
    // contributes deg² wedges and ~zero signal: 1/deg ≈ 0 — same
    // rationale as the minhash df stop-list); candidate scoring is
    // one (x,y)-keyed aggregate; existing edges leave via one
    // anti-join; top-k is TakeOrdered under a unique total order.
    Q("graph_common_neighbors",
      """WITH e0 AS (
        |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 10 < 3),
        |und AS (
        |  SELECT DISTINCT a, b
        |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) t),
        |deg AS (
        |  SELECT a AS z, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM und GROUP BY 1),
        |w AS (
        |  SELECT u1.b AS x, u2.b AS y, u1.a AS z
        |  FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b),
        |sc AS (
        |  SELECT w.x, w.y, CAST(COUNT(*) AS BIGINT) AS cn,
        |         CAST(SUM(CAST(ROUND(1000000.0 / deg.d) AS BIGINT)) AS BIGINT)
        |           AS ra_micro
        |  FROM w JOIN deg ON deg.z = w.z
        |  WHERE deg.d <= 1000
        |  GROUP BY 1, 2)
        |SELECT sc.x AS a, sc.y AS b, sc.cn, sc.ra_micro
        |FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = sc.x AND und.b = sc.y)
        |ORDER BY sc.cn DESC, ra_micro DESC, a, b
        |LIMIT 200""".stripMargin) { (s, dir) =>
      commonNeighbors(
        fixtureEdges(Tables.documents(s, dir).select(col("doc_id"))),
        maxDeg = 1000, k = 200)
    },
  )

  /** Top-k predicted links by (common-neighbor count, resource-
    * allocation score) over non-edges — see `graph_common_neighbors`.
    * `maxDeg` caps wedge centers: a hub of degree d contributes d²
    * wedge rows but only 1/d per score, so the cap bounds the Σdeg²
    * enumeration with negligible score loss (document the cap when
    * reporting). ra_micro is Σ round(10⁶/deg(z)) — integer-exact. */
  def commonNeighbors(edges: DataFrame, maxDeg: Long, k: Int): DataFrame = {
    // the symmetric edge list feeds the degree frame, BOTH wedge sides,
    // and the final anti-join — checkpoint it so the layout exchange is
    // paid once, not re-derived per consumer
    val und = Materialize(undirected(edges))
    val deg = und.groupBy(col("a").as("z"))
      .agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg)
    val centered = und.select(col("a").as("z"), col("b"))
      .join(deg, "z")
    val w = centered.select(col("z"), col("b").as("x"), col("d"))
      .join(centered.select(col("z"), col("b").as("y")), "z")
      .filter(col("x") < col("y"))
    val sc = w.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"),
        sum(round(lit(1000000.0) / col("d")).cast("long")).as("ra_micro"))
    sc.join(und, sc("x") === und("a") && sc("y") === und("b"), "left_anti")
      .select(col("x").as("a"), col("y").as("b"), col("cn"), col("ra_micro"))
      .orderBy(col("cn").desc, col("ra_micro").desc, col("a"), col("b"))
      .limit(k)
  }

  /** One peel round's induced-degree derivation over the persisted
    * layout: membership joins on both endpoints, then the degree
    * aggregate riding the layout's hash(a) (r20: in the broadcast
    * regime the per-round aggregate pays no exchange). */
  private[graft] def kCoreRound(und: DataFrame, nodes: DataFrame): DataFrame =
    und.join(nodes.select(col("id").as("_xa")), col("a") === col("_xa"))
      .join(nodes.select(col("id").as("_xb")), col("b") === col("_xb"))
      .groupBy(col("a").as("id")).agg(count(lit(1)).as("c"))

  /** The kCore family's one peel loop: `body` gets the cached layout of
    * `edges` and the lazy stream of survivor levels — level 0 is every
    * edge endpoint, level i the nodes of level i − 1 whose induced
    * degree is ≥ k. Each level is materialized when the stream reaches
    * it, so the three forms pay for exactly the levels they read. */
  private def peel(edges: DataFrame, k: Int)(
      body: (DataFrame, Iterator[DataFrame]) => DataFrame): DataFrame = {
    val und = undirected(edges)
    Materialize.using(und) {
      und.count()
      body(und, Iterator.iterate(Materialize(und.select(col("a").as("id")).distinct()))(
        nodes => Materialize(kCoreRound(und, nodes).filter(col("c") >= k).select(col("id")))))
    }
  }

  private def degrees(und: DataFrame, nodes: DataFrame): DataFrame =
    kCoreRound(und, nodes).select(col("id"), col("c").cast("long").as("degree"))

  /** k-core by fixed-iteration peeling over an (a, b) edge frame —
    * see the `graph_kcore` declaration. Returns (id, degree) of the
    * surviving induced subgraph after `iters` rounds. */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame =
    peel(edges, k)((und, levels) => degrees(und, levels.drop(iters).next()))

  /** Survivor-count trace of the fixed-iteration peel — see the
    * `graph_kcore_trace` declaration. One (iter, n_nodes) row per
    * level 0..`iters`; each level's count is a lazy 1-row aggregate
    * over the checkpointed level, computed in the job that
    * materializes the result. */
  def kCoreTrace(edges: DataFrame, k: Int, iters: Int): DataFrame =
    peel(edges, k) { (_, levels) =>
      levels.take(iters + 1).zipWithIndex.map { case (nodes, i) =>
        nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
          .select(lit(i.toLong).as("iter"), col("n_nodes"))
      }.reduce(_ unionByName _).orderBy(col("iter"))
    }

  /** Converge-to-fixpoint peeling (ADVICE r9): the library form for
    * UNKNOWN topologies, where a fixed round count could truncate the
    * peel (long induced chains need one round per two chain nodes).
    * Stops at the first level whose count equals the level before it —
    * peeling only shrinks the node set, so an equal count is an equal
    * set, the fixpoint certificate the fixed form lacks. Like both CC
    * forms (r18) it fails loudly at its cap: `maxIter` rounds without a
    * no-op round throw rather than return a half-peeled core. The
    * declared `graph_kcore` keeps the fixed count because its ORACLE
    * must unroll the same iterations; GraphsSpec pins this form equal
    * to it on the fixture AND correct on a long chain the fixed count
    * would truncate. */
  def kCoreConverged(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame =
    peel(edges, k) { (und, levels) =>
      levels.map(nodes => (nodes, nodes.count())).sliding(2).take(maxIter)
        .collectFirst { case Seq((_, before), (nodes, after)) if after == before =>
          degrees(und, nodes)
        }
        .getOrElse(throw new IllegalStateException(
          s"kCoreConverged did not converge in $maxIter rounds — a long " +
            "induced chain peels one or two nodes a round; raise maxIter"))
    }
}
