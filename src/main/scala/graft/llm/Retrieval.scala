package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Retrieval composition tier (round 12): rank FUSION across the
  * lexical and semantic retrievers, result DIVERSIFICATION, and
  * temperature-scaled source MIXING — the three standard steps between
  * "a ranked list exists" and "a training batch / RAG context is
  * assembled", each from the published literature:
  *
  *  - Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR'09):
  *    fuse rankings by Σ 1/(c + rank) — the robust default hybrid
  *    search everywhere BM25 and embedding retrieval coexist;
  *  - Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98):
  *    greedy re-rank trading relevance against similarity to the
  *    already-selected set — λ·rel − (1−λ)·max-sim;
  *  - temperature-scaled mixing (the multilingual-sampling rule of
  *    Arivazhagan et al. 2019, used verbatim for data mixing in
  *    mT5/PaLM): source s sampled ∝ n_s^(1/T), flattening the source
  *    distribution so heavy domains don't drown light ones.
  *
  * Determinism conventions (everything here hash-pins cross-engine):
  * ranks are integers from row_number over exact sort keys (BM25's
  * decimal-summed score and the 6-dp-rounded cosine are already
  * engine-identical); RRF terms are two IEEE divides of exact
  * integers summed in ONE written order; MMR arithmetic is halving
  * and subtraction of engine-identical doubles (both exact); the
  * temperature weight uses T = 2 so the exponent is sqrt — IEEE
  * correctly-rounded in both engines, the one libm-free fractional
  * power — half-up fixed to integer micro-units before any sum.
  */
object Retrieval {

  /** RRF constant: the SIGIR'09 paper's c = 60 (insensitive per the
    * paper; frozen here so rankings are comparable across rounds). */
  val RrfC = 60

  /** Hard cap on [[mmrRerank]]'s candidate budget: the greedy's
    * driver state is nCand rows + an nCand² pair-sim map, so the
    * bound keeps the collect ≤ ~1.5 MB no matter what a caller passes
    * (the documented-cap discipline the IVF driver artifacts follow). */
  val MmrMaxCand = 256

  /** Fuse the BM25 top-`n` and the cosine top-`n` by reciprocal rank.
    * Shape for scale: each retriever's cost is its own (one corpus
    * pass / one index probe); fusion itself touches 2·n rows — the
    * rank windows and the full-outer join run on n-bounded frames
    * (broadcast-sized by construction; a global window over ≤ n rows
    * is the documented bounded-frame idiom). */
  def rrfFusion(
      docs: DataFrame, emb: DataFrame, terms: Seq[String], probeId: Long,
      n: Int, k: Int): DataFrame = {
    val lex = TextAnalysis.bm25Search(docs, terms, n)
      .select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("r_lex"))
    val sem = Similarity.cosineTopK(emb, probeId, n)
      .select(col("vec_id").as("id"),
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id")))
          .cast("long").as("r_sem"))
    lex.join(sem, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfC) + col("r_lex")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("r_sem")).cast("double"), lit(0.0)))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
      .select(col("id").as("doc_id"),
        coalesce(col("r_lex"), lit(-1L)).as("r_lex"),
        coalesce(col("r_sem"), lit(-1L)).as("r_sem"),
        (round(col("rrf"), 6) + lit(0.0)).as("rrf_score"))
  }

  /** MMR-diversified re-rank of the cosine top-`nCand` down to `k`
    * (λ = 0.5): step t picks argmax of 0.5·rel − 0.5·max-sim-to-picked
    * with a (score DESC, vec_id) tiebreak; the empty-set diversity
    * term is 0, so step 1 is the plain relevance argmax.
    *
    * The greedy is the standard SERVING-side step: k·nCand-bounded
    * work over an nCand-bounded candidate frame, so the loop runs on
    * the driver over collected candidates (the M1 bounded-artifact
    * convention — nCand ≤ tens, never data-sized). All doubles the
    * loop compares come FROM the engine (6-dp-rounded cosines), and
    * halving/subtraction are IEEE-exact, so the DuckDB replay — the
    * same k steps unrolled as CTEs, the k-core fixed-unroll precedent
    * — picks identical rows. */
  def mmrRerank(
      spark: SparkSession, emb: DataFrame, probeId: Long,
      nCand: Int, k: Int): DataFrame = {
    import spark.implicits._
    // the IVF-style bounded-driver-artifact discipline (r19, VERDICT
    // r18 task 6): the greedy collects nCand rows AND an nCand²-entry
    // pair-sim map, so the budget must be a hard gate, not a
    // convention — a corpus-sized nCand would OOM the driver before
    // any loop ran. 256 bounds the collect at ~64k pair entries
    // (≈1.5 MB), far above any serving-side re-rank (typical nCand is
    // tens) and far below anything corpus-shaped.
    require(nCand >= 1 && nCand <= MmrMaxCand,
      s"mmrRerank: nCand must be in [1, $MmrMaxCand] (got $nCand) — the greedy " +
        "is a SERVING-side step over a driver-collected candidate set; " +
        "corpus-scale similarity joins belong to the ANN/dedup tiers")
    val cand = Similarity.cosineTopK(emb, probeId, nCand)
      .select(col("vec_id"), col("cos_sim").as("rel"))
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val candV = cand.join(vecs, "vec_id")
    val pairSims = candV.as("a").join(candV.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        (round(Similarity.cosine(col("a.v"), col("b.v")), 6) + lit(0.0)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cands = cand.orderBy(col("rel").desc, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(cands: _*)
    var step = 1L
    while (step <= k && remaining.nonEmpty) {
      val best = remaining.iterator.map { case (id, rel) =>
        val ms = if (picked.isEmpty) 0.0
          else picked.iterator.map(p => pairSims((id, p._2))).max
        (id, rel, ms, 0.5 * rel - 0.5 * ms)
      }.reduceLeft { (x, y) =>
        if (y._4 > x._4 || (y._4 == x._4 && y._1 < x._1)) y else x
      }
      picked += ((step, best._1, best._2, round6(best._4)))
      remaining.remove(best._1)
      step += 1
    }
    picked.toSeq.toDF("rank", "vec_id", "rel", "mmr_score")
      .orderBy(col("rank"))
  }

  /** DuckDB replay of [[mmrRerank]]: the k greedy steps unrolled as
    * chained CTEs (fixed unroll — the graph_kcore precedent), each
    * picking one row by the identical argmax + tiebreak. Every CTE is
    * MATERIALIZED: DuckDB inlines CTEs by default, and the chain
    * references each predecessor from two places, so the inlined plan
    * tree — and the recomputation of `cand`/`pairs` inside it — grows
    * EXPONENTIALLY in k (the un-hinted form planned for minutes at
    * k = 8; materialization makes it the k·nCand-bounded walk it is). */
  private def mmrOracleSql(probeId: Long, nCand: Int, k: Int): String = {
    val steps = (2 to k).map { t =>
      val prev = t - 1
      s"""m$t AS MATERIALIZED (
         |  SELECT c.vec_id, c.rel,
         |         (SELECT MAX(p.s) FROM pairs p
         |          WHERE p.ia = c.vec_id AND p.ib IN (SELECT vec_id FROM p$prev)) AS ms
         |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM p$prev)),
         |s$t AS MATERIALIZED (
         |  SELECT vec_id, rel, ms FROM m$t
         |  ORDER BY CAST(0.5 AS DOUBLE) * rel - CAST(0.5 AS DOUBLE) * ms DESC, vec_id
         |  LIMIT 1),
         |p$t AS MATERIALIZED (
         |  SELECT vec_id FROM p$prev UNION ALL SELECT vec_id FROM s$t)""".stripMargin
    }.mkString(",\n")
    val out = (2 to k).map { t =>
      s"""UNION ALL SELECT CAST($t AS BIGINT), vec_id, rel,
         |ROUND(CAST(0.5 AS DOUBLE) * rel - CAST(0.5 AS DOUBLE) * ms, 6) + 0 FROM s$t""".stripMargin
    }.mkString("\n")
    s"""WITH probe AS MATERIALIZED (
       |  SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = $probeId),
       |cand AS MATERIALIZED (
       |  SELECT e.vec_id, ROUND(list_cosine_similarity(e.embedding::DOUBLE[], probe.p), 6) + 0 AS rel
       |  FROM embeddings e, probe
       |  ORDER BY rel DESC, vec_id LIMIT $nCand),
       |cv AS MATERIALIZED (
       |  SELECT c.vec_id, e.embedding::DOUBLE[] AS v
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |         ROUND(list_cosine_similarity(a.v, b.v), 6) + 0 AS s
       |  FROM cv a JOIN cv b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |p1 AS MATERIALIZED (SELECT vec_id FROM s1),
       |$steps
       |SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel,
       |       ROUND(CAST(0.5 AS DOUBLE) * rel, 6) + 0 AS mmr_score FROM s1
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** Temperature-2 source mixing: quota_s = T_total · √n_s / Σ√n_s
    * (floored), selection by stable md5 hash-rank within source (the
    * curation_stratified_sample machinery — resume/ingest-stable,
    * exact quotas). Complements `curation_mixture_temperature`, which
    * reports the per-source WEIGHTS — this op carries them through to
    * integer quotas and the actual doc selection. √ weights (T = 2) flatten the source distribution
    * between proportional (T = 1) and uniform (T → ∞); T = 2 is the
    * published default neighborhood AND the one temperature whose
    * power is sqrt — IEEE-exact, no libm. Weights are half-up-fixed
    * to integer micro-units before summing (order-free), and quotas
    * are pure integer (target · w) div W arithmetic.
    * Shape for scale: one source-keyed count, a broadcast quota
    * frame, one source-partitioned rank window — no global sort, no
    * data-sized driver state. */
  def temperatureMix(docs: DataFrame, keepHalf: Boolean = true): DataFrame = {
    // keepHalf toggles the token budget: half the corpus (the declared
    // query's mixing-with-headroom regime) vs the full corpus (pure
    // re-balancing — oversampled sources shrink, undersampled ones keep
    // everything their quota allows). ADVICE r12: the parameter used to
    // be declared but unread — the divisor is now derived from it.
    val budgetDiv = if (keepHalf) 2 else 1
    val src = docs.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_src"))
      .withColumn("w6u",
        floor(sqrt(col("n_src").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
    val tot = src.agg(sum(col("w6u")).cast("long").as("w_total"),
      sum(col("n_src")).cast("long").as("n_total"))
    val quota = src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_src"),
        expr(s"((n_total div $budgetDiv) * w6u) div w_total").as("target"))
    val ranked = docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(md5(concat(lit("tmix:"), col("doc_id").cast("string"))),
            col("doc_id"))).cast("long"))
    ranked.join(broadcast(quota), "source")
      .filter(col("rn") <= col("target"))
      .select(col("doc_id"), col("source"), col("rn"), col("n_src"), col("target"))
      .orderBy(col("source"), col("rn"))
  }

  /** Deterministic topic extraction (the BERTopic recipe with every
    * unpinnable part swapped for this repo's deterministic analog):
    * BERTopic = embedding clusters + class-TF-IDF top terms; here the
    * cluster assignment is the low-4-bit SRP signature (16 half-space
    * cells — the md5-hyperplane quantizer both engines replay, the
    * dedup_semantic_pinned precedent) and the term weight is
    * tf(token, topic) · ((N·1000) div df(token)) — the integer
    * milli-idf convention, so common tokens sink without a libm log.
    * Top-`k` terms per topic under (weight DESC, token).
    *
    * Shape for scale: docs⋈embeddings rides the shared id space (one
    * keyed join), ONE token explode feeds both the (topic, token)
    * aggregate and the token-keyed df aggregate, the rank window
    * partitions by topic over tf-collapsed rows. */
  def topicTerms(docs: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    val topics = emb.select(col("vec_id").as("doc_id"),
      (Similarity.srpBucket(col("embedding").cast("array<double>")) % 16).as("topic"))
    // feeds both tf and df — one explode, not two
    val toks = Materialize(docs.join(topics, "doc_id")
      .select(col("doc_id"), col("topic"), explode(split(col("text"), " ")).as("token")))
    val tf = toks.groupBy(col("topic"), col("token"))
      .agg(count(lit(1)).cast("long").as("tf_topic"))
    val df_ = toks.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).cast("long").as("df"))
      .crossJoin(broadcast(docs.select(count(lit(1)).as("n_docs"))))
    val w = Window.partitionBy(col("topic"))
      .orderBy(col("weight").desc, col("token"))
    tf.join(df_, "token")
      .withColumn("weight", expr("tf_topic * ((n_docs * 1000L) div df)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("topic"), col("rnk"), col("token"), col("tf_topic"), col("weight"))
      .orderBy(col("topic"), col("rnk"))
  }

  /** NDCG discount table w_r = ⌊10⁶/log₂(r+1) + ½⌋ for ranks 1..k, as
    * frozen integer µ-units. libm runs ONCE, driver-side, over the k
    * bounded integer ranks, and the SAME constants are interpolated
    * into both the Spark plan and the oracle SQL — identical by
    * construction, so the ln-ban on engine value paths holds (the
    * milli-idf convention applied to the DCG discount). */
  private[graft] def dcgW(k: Int): Seq[Long] =
    (1 to k).map(r => Math.floor(1e6 / (Math.log(r + 1.0) / Math.log(2.0)) + 0.5).toLong)

  /** Retrieval-quality evaluation (the standard IR harness: Manning,
    * Raghavan & Schütze ch. 8; Järvelin & Kekäläinen's NDCG, TOIS
    * 2002): for each probe vector, retrieve the cosine top-`k` and
    * score it against label-match relevance (same `label`, self
    * excluded) — hits, MRR, precision@k, recall@k, DCG and NDCG, all
    * in integer µ-units (rank reciprocals and coverage ratios are
    * exact integer divisions; the DCG discount is the frozen [[dcgW]]
    * table; IDCG is its prefix sum at min(n_rel, k)). n_rel = 0 →
    * recall/NDCG are −1-sentineled (never NULL/NaN).
    *
    * Shape for scale: probes are a bounded broadcast frame, the corpus
    * is scanned ONCE (|probes|·N cosine — the cosineTopK batch-eval
    * class), the per-probe rank window runs partitioned by probe; a
    * data-sized probe set would draw candidates from the IVF/LSH index
    * tier instead of the exact scan (embed_ivf_topk), with the same
    * metric arithmetic downstream. Label counts are one label-domain
    * aggregate, broadcast back. */
  def evalMetrics(emb: DataFrame, nProbes: Int, k: Int): DataFrame = {
    val w = dcgW(k)
    val idcgPrefix = w.scanLeft(0L)(_ + _).tail
    val e = emb.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val probes = e.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("plabel"), col("v").as("pv"))
    val labCnt = e.groupBy(col("label").as("lbl")).agg(count(lit(1)).as("lab_n"))
    val wArr = array(w.map(lit): _*)
    val idcgArr = array(idcgPrefix.map(lit): _*)
    val ranked = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos_sim",
        round(Similarity.cosine(col("v"), col("pv")), 6) + lit(0.0))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .withColumn("rel", (col("label") === col("plabel")).cast("long"))
    ranked.groupBy(col("probe_id"), col("plabel"))
      .agg(
        sum(col("rel")).as("hits"),
        sum(col("rel") * element_at(wArr, col("rank"))).as("dcg_micro"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"))
      .join(broadcast(labCnt), col("plabel") === col("lbl"))
      .withColumn("n_rel", col("lab_n") - 1)
      .withColumn("idcg_micro",
        when(col("n_rel") > 0,
          element_at(idcgArr, least(col("n_rel"), lit(k.toLong)).cast("int")))
          .otherwise(lit(0L)))
      .select(
        col("probe_id"),
        col("plabel").as("label"),
        col("n_rel"),
        col("hits"),
        coalesce(expr("cast(1000000 as bigint) div cast(first_rel as bigint)"),
          lit(0L)).as("mrr_micro"),
        expr(s"(hits * 1000000) div cast($k as bigint)").as("precision_micro"),
        when(col("n_rel") > 0, expr("(hits * 1000000) div n_rel"))
          .otherwise(lit(-1L)).as("recall_micro"),
        col("dcg_micro"),
        when(col("idcg_micro") > 0, expr("(dcg_micro * 1000000) div idcg_micro"))
          .otherwise(lit(-1L)).as("ndcg_micro"))
      .orderBy(col("probe_id"))
  }

  /** DuckDB replay of [[evalMetrics]] with the same interpolated
    * discount constants. */
  private def evalOracleSql(nProbes: Int, k: Int): String = {
    val w = dcgW(k)
    val wVals = w.zipWithIndex.map { case (x, i) => s"(${i + 1}, $x)" }.mkString(", ")
    val icVals = w.scanLeft(0L)(_ + _).tail.zipWithIndex
      .map { case (x, i) => s"(${i + 1}, $x)" }.mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, label AS plabel, v AS pv FROM e WHERE vec_id < $nProbes),
       |lc AS (SELECT label AS lbl, CAST(COUNT(*) AS BIGINT) AS lab_n FROM e GROUP BY 1),
       |cand AS (
       |  SELECT p.probe_id, p.plabel, e.vec_id, e.label,
       |         ROUND(list_cosine_similarity(e.v, p.pv), 6) + 0 AS cos_sim
       |  FROM e JOIN p ON e.vec_id <> p.probe_id),
       |r AS (
       |  SELECT probe_id, plabel, label,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM cand),
       |t AS (SELECT probe_id, plabel, rank,
       |             CASE WHEN label = plabel THEN 1 ELSE 0 END AS rel
       |      FROM r WHERE rank <= $k),
       |wt AS (SELECT * FROM (VALUES $wVals) AS v(rank, w)),
       |ic AS (SELECT * FROM (VALUES $icVals) AS v(m, idcg)),
       |a AS (
       |  SELECT probe_id, plabel,
       |         CAST(SUM(rel) AS BIGINT) AS hits,
       |         CAST(SUM(rel * wt.w) AS BIGINT) AS dcg_micro,
       |         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel
       |  FROM t JOIN wt USING (rank) GROUP BY 1, 2),
       |f AS (
       |  SELECT a.probe_id, a.plabel AS label, lc.lab_n - 1 AS n_rel,
       |         a.hits, a.dcg_micro, a.first_rel,
       |         CASE WHEN lc.lab_n - 1 > 0 THEN ic.idcg ELSE 0 END AS idcg_micro
       |  FROM a JOIN lc ON lc.lbl = a.plabel
       |  LEFT JOIN ic ON ic.m = LEAST(lc.lab_n - 1, $k))
       |SELECT probe_id, label, n_rel, hits,
       |       CAST(COALESCE(1000000 // first_rel, 0) AS BIGINT) AS mrr_micro,
       |       CAST((hits * 1000000) // $k AS BIGINT) AS precision_micro,
       |       CAST(CASE WHEN n_rel > 0 THEN (hits * 1000000) // n_rel ELSE -1 END AS BIGINT) AS recall_micro,
       |       dcg_micro,
       |       CAST(CASE WHEN idcg_micro > 0 THEN (dcg_micro * 1000000) // idcg_micro ELSE -1 END AS BIGINT) AS ndcg_micro
       |FROM f ORDER BY probe_id""".stripMargin
  }

  val defs: Seq[Q] = Seq(

    // IR-metric evaluation of the semantic retriever against
    // label-match relevance — MRR/P@k/R@k/DCG/NDCG per probe, all
    // integer µ-units; the frozen log2 discount table is interpolated
    // into BOTH engines from one driver-side computation.
    Q("search_eval_metrics", evalOracleSql(nProbes = 8, k = 10)) { (s, dir) =>
      evalMetrics(Tables.embeddings(s, dir), nProbes = 8, k = 10)
    },
    // Hybrid lexical+semantic retrieval via RRF — both engines must
    // agree on BOTH input rankings (already individually pinned) AND
    // the fused list: ranks are exact, the two reciprocal terms are
    // IEEE divides summed in one written order.
    Q("search_rrf_fusion",
      s"""WITH dl AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |n AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(dl) AS BIGINT) AS n_tokens
         |  FROM dl),
         |tf AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
         |  WHERE term IN ('spark', 'window', 'query')
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |bm AS (
         |  SELECT tf.doc_id,
         |         CAST(SUM(CAST(
         |           ((n.n_docs * 1000) // df.df) *
         |           ((tf.tf * 2.2) /
         |            (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) /
         |              (CAST(n.n_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))))
         |           AS DECIMAL(30,6))) AS DOUBLE) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n
         |  GROUP BY tf.doc_id
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |lex AS (
         |  SELECT doc_id AS id,
         |         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
         |  FROM bm),
         |probe AS (SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = 0),
         |cos AS (
         |  SELECT e.vec_id,
         |         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], probe.p), 6) + 0 AS cos_sim
         |  FROM embeddings e, probe
         |  ORDER BY cos_sim DESC, vec_id LIMIT 50),
         |sem AS (
         |  SELECT vec_id AS id,
         |         CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS r_sem
         |  FROM cos),
         |f AS (
         |  SELECT COALESCE(lex.id, sem.id) AS doc_id, r_lex, r_sem,
         |         COALESCE(CAST(1 AS DOUBLE) / CAST($RrfC + r_lex AS DOUBLE), CAST(0 AS DOUBLE)) +
         |         COALESCE(CAST(1 AS DOUBLE) / CAST($RrfC + r_sem AS DOUBLE), CAST(0 AS DOUBLE)) AS rrf
         |  FROM lex FULL OUTER JOIN sem ON lex.id = sem.id)
         |SELECT doc_id, COALESCE(r_lex, -1) AS r_lex, COALESCE(r_sem, -1) AS r_sem,
         |       ROUND(rrf, 6) + 0 AS rrf_score
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      rrfFusion(Tables.documents(s, dir), Tables.embeddings(s, dir),
        Seq("spark", "window", "query"), probeId = 0L, n = 50, k = 20)
    },

    // MMR diversification of the cosine top-20 down to 8 — the greedy
    // selection itself is hash-pinned: both engines replay the same
    // 8 argmax steps over identical rounded similarities.
    Q("search_mmr_rerank", mmrOracleSql(probeId = 0L, nCand = 20, k = 8)) {
      (s, dir) =>
        mmrRerank(s, Tables.embeddings(s, dir), probeId = 0L, nCand = 20, k = 8)
    },

    // Temperature-2 source mixing: the quota arithmetic (sqrt weights
    // in integer micro-units, floor seat allocation) and the stable
    // hash-rank selection are both replayed — every kept doc_id is
    // pinned, not just per-source totals.
    Q("curation_temperature_mix",
      """WITH src AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_src,
        |         CAST(FLOOR(sqrt(CAST(n_src AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w6u
        |  FROM src),
        |tot AS (
        |  SELECT CAST(SUM(w6u) AS BIGINT) AS w_total,
        |         CAST(SUM(n_src) AS BIGINT) AS n_total
        |  FROM w),
        |q AS (
        |  SELECT w.source, w.n_src,
        |         ((tot.n_total // 2) * w.w6u) // tot.w_total AS target
        |  FROM w, tot),
        |r AS (
        |  SELECT doc_id, source,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY source
        |           ORDER BY md5('tmix:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.rn, q.n_src, q.target
        |FROM r JOIN q USING (source) WHERE r.rn <= q.target
        |ORDER BY r.source, r.rn""".stripMargin) { (s, dir) =>
      temperatureMix(Tables.documents(s, dir))
    },

    // Hard-negative mining for contrastive training (the standard
    // embedding-training recipe: the most informative negatives are
    // the CLOSEST non-duplicates — random negatives are too easy, and
    // near-duplicates would be false negatives): per anchor, the
    // top-2 neighbors under the dup threshold (cos < 0.95, the
    // dedup_embed_cosine cutoff), ranked (cos DESC, vec_id).
    // Complements curation_negative_pairs (hash-random negatives) with
    // the similarity-targeted tier. Shape: the anchor set is a
    // broadcast bounded frame (32 rows), the corpus is scanned once —
    // |anchors|·N cosine work, the cosineTopK batch class; the rank
    // window partitions by anchor over anchor-bounded rows.
    Q("curation_hard_negatives",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |a AS (SELECT vec_id AS anchor_id, v AS av FROM e WHERE vec_id < 32),
        |cand AS (
        |  SELECT a.anchor_id, e.vec_id AS neg_id,
        |         ROUND(list_cosine_similarity(e.v, a.av), 6) + 0 AS cos_sim
        |  FROM a JOIN e ON e.vec_id <> a.anchor_id),
        |r AS (
        |  SELECT anchor_id, neg_id, cos_sim,
        |         CAST(ROW_NUMBER() OVER (
        |           PARTITION BY anchor_id ORDER BY cos_sim DESC, neg_id) AS BIGINT) AS rnk
        |  FROM cand WHERE cos_sim < 0.95)
        |SELECT anchor_id, rnk, neg_id, cos_sim
        |FROM r WHERE rnk <= 2 ORDER BY anchor_id, rnk""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val anchors = e.filter(col("vec_id") < 32)
        .select(col("vec_id").as("anchor_id"), col("v").as("av"))
      val w = Window.partitionBy(col("anchor_id"))
        .orderBy(col("cos_sim").desc, col("neg_id"))
      e.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("vec_id").as("neg_id"),
          (round(Similarity.cosine(col("v"), col("av")), 6) + lit(0.0)).as("cos_sim"))
        .filter(col("cos_sim") < 0.95)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 2)
        .select(col("anchor_id"), col("rnk"), col("neg_id"), col("cos_sim"))
        .orderBy(col("anchor_id"), col("rnk"))
    },

    // Deterministic topic extraction (see topicTerms): SRP half-space
    // topics over the embedding space + integer c-TF-IDF top terms —
    // every (topic, rank, token) row pins cross-engine because the
    // quantizer is the replayed md5-hyperplane bucket and the weight
    // is pure integer arithmetic.
    Q("corpus_topic_terms",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |tp AS (SELECT vec_id AS doc_id,
         |              CAST(${Similarity.srpBucketSql} AS BIGINT) % 16 AS topic
         |       FROM e),
         |toks AS (
         |  SELECT d.doc_id, tp.topic, unnest(string_split(d.text, ' ')) AS token
         |  FROM documents d JOIN tp USING (doc_id)),
         |tf AS (SELECT topic, token, CAST(COUNT(*) AS BIGINT) AS tf_topic
         |       FROM toks GROUP BY 1, 2),
         |dfreq AS (
         |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |wtd AS (
         |  SELECT tf.topic, tf.token, tf.tf_topic,
         |         tf.tf_topic * ((n.n_docs * 1000) // dfreq.df) AS weight
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         |r AS (
         |  SELECT topic, token, tf_topic, weight,
         |         CAST(ROW_NUMBER() OVER (
         |           PARTITION BY topic ORDER BY weight DESC, token) AS BIGINT) AS rnk
         |  FROM wtd)
         |SELECT topic, rnk, token, tf_topic, CAST(weight AS BIGINT) AS weight
         |FROM r WHERE rnk <= 5 ORDER BY topic, rnk""".stripMargin) { (s, dir) =>
      topicTerms(Tables.documents(s, dir), Tables.embeddings(s, dir), k = 5)
    })
}
