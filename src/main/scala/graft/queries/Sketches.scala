package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Mergeable summary sketches (round 10) — the 100 TB aggregation
  * story made driver-checkable. `agg_approx_distinct` already covers
  * Spark's built-in HLL++, but HLL internals differ across engines so
  * that query is rows-only. The two sketches here are built from the
  * repo's deterministic md5 hash family, so every counter and every
  * estimate replays exactly in DuckDB — approximation with a
  * hash-pinned oracle:
  *
  *  - KMV (k minimum values, a.k.a. bottom-k / theta sketch): keep the
  *    k smallest distinct hash values of a key; the k-th smallest
  *    estimates the cardinality as (k−1)·H/h_k (Bar-Yossef et al.
  *    RANDOM'02; Beyer et al. SIGMOD'07). Crucially the merge is
  *    LOSSLESS — bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B))
  *    — which is exactly what makes it the distributed/incremental
  *    cardinality primitive: per-partition (or per-day) sketches of k
  *    longs union into the global answer without rescanning data.
  *  - Count-min (Cormode & Muthukrishnan '05): d hash rows × w
  *    counters; point estimate = min over rows. The summary is d·w
  *    longs REGARDLESS of data size, merges by cell-wise addition, and
  *    only ever over-estimates (one-sided error) — the frequency
  *    complement of the Misra-Gries candidates in
  *    `text_frequent_tokens` (MG under-estimates, CMS over-estimates).
  *
  * Scale shape: the KMV per-group sketch is `row_number ≤ k` over a
  * hash ordering, which Spark executes as WindowGroupLimit — a
  * map-side partial top-k per partition BEFORE the shuffle, i.e. the
  * sketch-merge dataflow (each task keeps k values, the exchange
  * carries ≤ k·partitions rows, never the data). The CMS build is one
  * grouped count whose key space is d·w — partial aggregation
  * collapses each map task to ≤ d·w cells before the exchange.
  */
object Sketches {

  /** Sketch size: 1/√(k−1) ≈ 13% expected relative error. */
  val KmvK = 64

  /** CMS geometry: 4 rows × 512 counters (ε = e/512 of the stream
    * length, δ = e⁻⁴). */
  val CmsD = 4
  val CmsW = 512L

  /** HLL geometry: m = 256 registers (p = 8), 48-bit md5 hashes — 8
    * bits route to a register, the remaining 40 feed the leading-zero
    * rank, so ρ ∈ [1, 41] on a nonempty register and the scaled
    * indicator Σ 2^(41−ρ) stays an exact BIGINT (≤ 256·2⁴¹ = 2⁴⁹).
    * Declared BEFORE `defs` — the SQL interpolations below read these
    * at object init, and a later declaration would read as 0. */
  val HllM = 256
  val HllRhoMax = 41

  /** Hash space size 2⁴⁸ as an exact double — 12 hex digits of md5.
    * 48 bits keeps every value exactly representable in a BIGINT and
    * in a double (< 2⁵³), so the estimator arithmetic below is
    * IEEE-exact on both engines. */
  val Two48: Double = 281474976710656.0

  /** 48-bit uniform hash: first 12 md5 hex digits of `prefix ‖ c`.
    * DuckDB replay: CAST(concat('0x', substr(md5(prefix || c), 1, 12))
    * AS BIGINT). */
  def h48(prefix: String, c: Column): Column =
    conv(substring(md5(concat(lit(prefix), c)), 1, 12), 16, 10).cast("long")

  /** Per-group KMV distinct-cardinality estimate over `keyCol` of
    * `df`, PLUS a `*ALL*` row whose estimate is computed purely from
    * the per-group sketches (the lossless-merge path — the raw data is
    * not rescanned for the global estimate). Output carries the exact
    * distinct count next to the estimate so the error is visible and
    * hash-pinned; at 100 TB you would drop the exact column — it is
    * the audit baseline here, not part of the operator.
    *
    * Estimator: with n ≥ k distinct hashes, est = (k−1)·2⁴⁸/h_k;
    * with n < k the sketch IS the value set — the estimate is exact
    * by the standard KMV small-set rule. All arithmetic is integer or
    * IEEE +,·,/ (no libm), so the doubles are bit-identical across
    * engines; ROUND(…,6)+0 is kept as house convention only.
    */
  /** The per-group bottom-k sketch frame (grp, h) — split out so the
    * WindowGroupLimit plan shape is assertable before the persist in
    * [[kmvDistinct]] hides it behind an InMemoryRelation. */
  def kmvSketch(df: DataFrame, grpCol: String, keyCol: String): DataFrame = {
    val hashed = df
      .select(col(grpCol).as("grp"), h48("kmv:", col(keyCol).cast("string")).as("h"))
      .distinct()
    // WindowGroupLimit: each task keeps its k smallest per group before
    // the exchange — the sketch-merge dataflow, not a full sort.
    hashed.withColumn("rn",
        row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rn") <= KmvK)
      .select(col("grp"), col("h"))
  }

  def kmvDistinct(df: DataFrame, grpCol: String, keyCol: String): DataFrame = {
    val byH = Window.partitionBy(col("grp")).orderBy(col("h"))
    // cached: the per-group estimates and the merged row both read the
    // sketch, and the two reads plan differently (no exchange reuse)
    val sketch = kmvSketch(df, grpCol, keyCol)
    Materialize.using(sketch) {
      // Lossless merge: bottom-k of the union of the per-group sketches.
      val merged = sketch.select(lit("*ALL*").as("grp"), col("h")).distinct()
        .withColumn("rn", row_number().over(byH))
        .filter(col("rn") <= KmvK)
        .select(col("grp"), col("h"))
      val est = sketch.unionByName(merged)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("cnt"), max(col("h")).as("hk"))
        .withColumn("kmv_est",
          when(col("cnt") < KmvK, col("cnt").cast("double"))
            .otherwise(round(
              lit((KmvK - 1).toDouble) * lit(Two48) / col("hk").cast("double"), 6) + lit(0.0)))
        .select(col("grp"), col("kmv_est"))
      val exact = df.select(col(grpCol).as("grp"), col(keyCol).as("k")).distinct()
        .groupBy(col("grp")).agg(count(lit(1)).as("n_exact"))
        .unionByName(df.select(col(keyCol).as("k")).distinct()
          .agg(count(lit(1)).as("n_exact"))
          .select(lit("*ALL*").as("grp"), col("n_exact")))
      est.join(exact, Seq("grp")).orderBy(col("grp"))
    }
  }

  private val cmsRows = array((0 until CmsD).map(lit): _*)

  // Row r's bucket reads md5 hex digits [1+8r, 8+8r) — four
  // independent 32-bit slices of the 128-bit digest — mod w. One hash
  // evaluation per element instead of d (the standard CMS
  // implementation trick; the slices are uniform and independent
  // enough for the Cormode-Muthukrishnan bounds' purposes).

  /** Stream-shaped CMS build: one (row, bucket) cell per element
    * occurrence per row, grouped count. THE online/streaming form —
    * key space d·w, so partial aggregation collapses every map task
    * to ≤ d·w cells before the exchange, and counter tables from
    * different partitions/days merge by cell-wise addition. */
  def cmsCountersStream(toks: DataFrame): DataFrame =
    toks.select(md5(col("tok")).as("m"), explode(cmsRows).as("r"))
      .select(col("r"),
        pmod(conv(expr("substring(m, 1 + 8*r, 8)"), 16, 10).cast("long"), lit(CmsW)).as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))

  /** Count-min-estimated top-k heavy hitters over the corpus token
    * stream, with the exact count alongside. Because the output
    * carries the exact counts anyway, the counters are built from the
    * per-token frequency table (cell += n per DISTINCT token) — the
    * counter values are IDENTICAL to the stream build (a cell's count
    * is the sum of its tokens' occurrence counts either way; pinned by
    * SketchesSpec), but the ×d explode runs over the vocabulary, not
    * the corpus: after the one unavoidable data-sized token aggregate,
    * every downstream frame is vocab- or d·w-bounded. Probe: each
    * distinct token takes the min over its d cells from the broadcast
    * counter table. CMS guarantees est ≥ exact (every cell adds its
    * collisions) — asserted in SketchesSpec and visible in the pinned
    * output. */
  def cmsTopTokens(docs: DataFrame, topK: Int): DataFrame = {
    val exact = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
    val cells = exact
      .select(col("tok"), col("n_exact"), md5(col("tok")).as("m"), explode(cmsRows).as("r"))
      .withColumn("b",
        pmod(conv(expr("substring(m, 1 + 8*r, 8)"), 16, 10).cast("long"), lit(CmsW)))
    val counters = cells.groupBy(col("r"), col("b")).agg(sum(col("n_exact")).as("c"))
    val out = cells.join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("tok"), col("n_exact"))
      .agg(min(col("c")).cast("long").as("cms_est"))
      .orderBy(col("cms_est").desc, col("tok"))
      .limit(topK)
    out
  }

  /** Theta-sketch-style SET OPERATIONS from per-group KMV sketches:
    * for every group pair (g1 < g2), estimate |A ∪ B| and |A ∩ B|
    * using ONLY the two k-long sketches — the distributed form of
    * "how much do these partitions/days/sources overlap" that never
    * rescans (or even co-shuffles) the data sides. Union: bottom-k of
    * the two sketches' union, est = (k−1)·2⁴⁸/θ (θ = that sketch's
    * k-th min — the KMV estimator again, valid because bottom-k
    * merge is lossless). Intersection: count the hash values present
    * in BOTH sketches below θ — each is a uniform sample point of
    * A ∪ B at threshold θ, so est = c·2⁴⁸/θ (Theta-sketch
    * intersection, Dasgupta et al.); error scales with |A ∪ B|, not
    * |A ∩ B| — the documented sketch trade. Below k the sketches ARE
    * the hash sets and both estimates are exact. Exact baselines ride
    * along for the driver to pin the error (audit harness, as in
    * [[kmvDistinct]]); the per-key exact-intersection join fans out
    * |groups-containing-key|² per key — bounded by the group-count
    * domain (3 flags here), the regime the exact side is for. */
  def kmvSetOps(df: DataFrame, grpCol: String, keyCol: String): DataFrame = {
    val sk = kmvSketch(df, grpCol, keyCol)
    val groups = sk.select(col("grp")).distinct()
    val pairs = groups.select(col("grp").as("g1"))
      .join(groups.select(col("grp").as("g2")), col("g1") < col("g2"))
    val s1 = sk.select(col("grp").as("g1"), col("h"))
    val s2 = sk.select(col("grp").as("g2"), col("h"))
    val ha = pairs.join(s1, Seq("g1")).select(col("g1"), col("g2"), col("h"))
    val hb = pairs.join(s2, Seq("g2")).select(col("g1"), col("g2"), col("h"))
    val byPair = Window.partitionBy(col("g1"), col("g2")).orderBy(col("h"))
    val theta = ha.unionByName(hb).distinct()
      .withColumn("rn", row_number().over(byPair)).filter(col("rn") <= KmvK)
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("cnt_u"), max(col("h")).as("theta"))
    val common = ha.join(hb, Seq("g1", "g2", "h"))
    val cBelow = common.join(theta, Seq("g1", "g2"))
      .filter(col("h") <= col("theta"))
      .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("c"))
    // A-side retained hashes (≤ θ): with the common count this gives
    // the third standard theta operation, A-not-B — (ca − c)·2⁴⁸/θ
    // (Dasgupta et al., theta-sketch framework). Below k the sketch
    // IS the set and the difference is exact.
    val caBelow = ha.join(theta, Seq("g1", "g2"))
      .filter(col("h") <= col("theta"))
      .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("ca"))
    val est = theta.join(cBelow, Seq("g1", "g2"), "left_outer")
      .na.fill(0L, Seq("c"))
      .join(caBelow, Seq("g1", "g2"), "left_outer")
      .na.fill(0L, Seq("ca"))
      .withColumn("est_union",
        when(col("cnt_u") < KmvK, col("cnt_u").cast("double"))
          .otherwise(round(
            lit((KmvK - 1).toDouble) * lit(Two48) / col("theta").cast("double"), 6) + lit(0.0)))
      .withColumn("est_intersect",
        when(col("cnt_u") < KmvK, col("c").cast("double"))
          .otherwise(round(
            col("c").cast("double") * lit(Two48) / col("theta").cast("double"), 6) + lit(0.0)))
      .withColumn("est_anb",
        when(col("cnt_u") < KmvK, (col("ca") - col("c")).cast("double"))
          .otherwise(round(
            (col("ca") - col("c")).cast("double") * lit(Two48)
              / col("theta").cast("double"), 6) + lit(0.0)))
    // cached: the per-group sizes and the key self-join both read the
    // distinct (group, key) frame, and the two reads plan differently
    val dk = df.select(col(grpCol).as("g"), col(keyCol).as("k")).distinct()
    Materialize.using(dk) {
      val ng = dk.groupBy(col("g")).agg(count(lit(1)).as("n"))
      val ni = dk.select(col("g").as("g1"), col("k"))
        .join(dk.select(col("g").as("g2"), col("k")), Seq("k"))
        .filter(col("g1") < col("g2"))
        .groupBy(col("g1"), col("g2")).agg(count(lit(1)).as("n_intersect"))
      est
        .join(ng.select(col("g").as("g1"), col("n").as("n1")), Seq("g1"))
        .join(ng.select(col("g").as("g2"), col("n").as("n2")), Seq("g2"))
        .join(ni, Seq("g1", "g2"), "left_outer")
        .na.fill(0L, Seq("n_intersect"))
        .withColumn("n_union", (col("n1") + col("n2") - col("n_intersect")).cast("long"))
        .select(col("g1"), col("g2"), col("est_union"), col("est_intersect"),
          col("est_anb"), col("n_union"), col("n_intersect").cast("long").as("n_intersect"),
          (col("n1") - col("n_intersect")).cast("long").as("n_anb"))
        .orderBy(col("g1"), col("g2"))
    }
  }

  val defs: Seq[Q] = Seq(

    // KMV cardinality per returnflag + the sketch-merged global row.
    // The oracle replays the hash, the bottom-k selection, the merge,
    // and the estimator arithmetic — the ESTIMATE is hash-pinned, not
    // just bounded. (Contrast `agg_approx_distinct`: built-in HLL++,
    // rows-only, because its register layout is engine-private.)
    Q("sketch_kmv_distinct",
      s"""WITH li AS (SELECT l_returnflag AS grp, l_orderkey FROM lineitem),
         |hashed AS (
         |  SELECT DISTINCT grp,
         |         CAST(concat('0x', substr(md5('kmv:' || CAST(l_orderkey AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM li),
         |sk AS (
         |  SELECT grp, h FROM (
         |    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
         |    FROM hashed) t WHERE rn <= $KmvK),
         |merged AS (
         |  SELECT '*ALL*' AS grp, h FROM (
         |    SELECT h, row_number() OVER (ORDER BY h) AS rn
         |    FROM (SELECT DISTINCT h FROM sk) u) t WHERE rn <= $KmvK),
         |est AS (
         |  SELECT grp, COUNT(*) AS cnt, MAX(h) AS hk
         |  FROM (SELECT grp, h FROM sk UNION ALL SELECT grp, h FROM merged) a
         |  GROUP BY grp),
         |exact AS (
         |  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM (SELECT DISTINCT grp, l_orderkey FROM li) d GROUP BY grp
         |  UNION ALL
         |  SELECT '*ALL*', CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM li)
         |SELECT e.grp,
         |       CASE WHEN e.cnt < $KmvK THEN CAST(e.cnt AS DOUBLE)
         |            ELSE ROUND(CAST(${KmvK - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
         |                       / CAST(e.hk AS DOUBLE), 6) + 0
         |       END AS kmv_est,
         |       x.n_exact
         |FROM est e JOIN exact x ON e.grp = x.grp
         |ORDER BY e.grp""".stripMargin) { (s, dir) =>
      kmvDistinct(Tables.lineitem(s, dir), "l_returnflag", "l_orderkey")
    },

    // Pairwise union/intersection cardinalities of the per-returnflag
    // orderkey sets, estimated from the 64-long sketches alone
    // (orders genuinely straddle flags, so the intersections are
    // non-trivial); exact baselines alongside. Every hash, bottom-k
    // selection, theta, and the IEEE estimator arithmetic replay in
    // DuckDB — the ESTIMATES are hash-pinned.
    Q("sketch_kmv_setops",
      s"""WITH li AS (SELECT DISTINCT l_returnflag AS g, l_orderkey AS k FROM lineitem),
         |hd AS (
         |  SELECT DISTINCT g,
         |         CAST(concat('0x', substr(md5('kmv:' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM li),
         |sk AS (
         |  SELECT g, h FROM (
         |    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
         |    FROM hd) t WHERE rn <= $KmvK),
         |pairs AS (
         |  SELECT a.g AS g1, b.g AS g2
         |  FROM (SELECT DISTINCT g FROM sk) a JOIN (SELECT DISTINCT g FROM sk) b
         |    ON a.g < b.g),
         |u AS (SELECT DISTINCT p.g1, p.g2, s.h
         |      FROM pairs p JOIN sk s ON s.g = p.g1 OR s.g = p.g2),
         |usk AS (
         |  SELECT g1, g2, h FROM (
         |    SELECT g1, g2, h, row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rn
         |    FROM u) t WHERE rn <= $KmvK),
         |th AS (SELECT g1, g2, COUNT(*) AS cnt_u, MAX(h) AS theta
         |       FROM usk GROUP BY 1, 2),
         |common AS (
         |  SELECT p.g1, p.g2, s1.h
         |  FROM pairs p
         |  JOIN sk s1 ON s1.g = p.g1
         |  JOIN sk s2 ON s2.g = p.g2 AND s2.h = s1.h),
         |cc AS (
         |  SELECT c.g1, c.g2, COUNT(*) AS c
         |  FROM common c JOIN th ON c.g1 = th.g1 AND c.g2 = th.g2 AND c.h <= th.theta
         |  GROUP BY 1, 2),
         |ca AS (
         |  SELECT p.g1, p.g2, COUNT(*) AS ca
         |  FROM pairs p
         |  JOIN sk s1 ON s1.g = p.g1
         |  JOIN th ON p.g1 = th.g1 AND p.g2 = th.g2 AND s1.h <= th.theta
         |  GROUP BY 1, 2),
         |ng AS (SELECT g, COUNT(*) AS n FROM li GROUP BY g),
         |ni AS (
         |  SELECT a.g AS g1, b.g AS g2, COUNT(*) AS n_intersect
         |  FROM li a JOIN li b ON a.k = b.k AND a.g < b.g
         |  GROUP BY 1, 2)
         |SELECT th.g1, th.g2,
         |  CASE WHEN th.cnt_u < $KmvK THEN CAST(th.cnt_u AS DOUBLE)
         |       ELSE ROUND(CAST(${KmvK - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
         |                  / CAST(th.theta AS DOUBLE), 6) + 0 END AS est_union,
         |  CASE WHEN th.cnt_u < $KmvK THEN CAST(COALESCE(cc.c, 0) AS DOUBLE)
         |       ELSE ROUND(CAST(COALESCE(cc.c, 0) AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
         |                  / CAST(th.theta AS DOUBLE), 6) + 0 END AS est_intersect,
         |  CASE WHEN th.cnt_u < $KmvK THEN CAST(COALESCE(ca.ca, 0) - COALESCE(cc.c, 0) AS DOUBLE)
         |       ELSE ROUND(CAST(COALESCE(ca.ca, 0) - COALESCE(cc.c, 0) AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
         |                  / CAST(th.theta AS DOUBLE), 6) + 0 END AS est_anb,
         |  CAST(n1.n + n2.n - COALESCE(ni.n_intersect, 0) AS BIGINT) AS n_union,
         |  CAST(COALESCE(ni.n_intersect, 0) AS BIGINT) AS n_intersect,
         |  CAST(n1.n - COALESCE(ni.n_intersect, 0) AS BIGINT) AS n_anb
         |FROM th
         |JOIN ng n1 ON n1.g = th.g1
         |JOIN ng n2 ON n2.g = th.g2
         |LEFT JOIN cc ON cc.g1 = th.g1 AND cc.g2 = th.g2
         |LEFT JOIN ca ON ca.g1 = th.g1 AND ca.g2 = th.g2
         |LEFT JOIN ni ON ni.g1 = th.g1 AND ni.g2 = th.g2
         |ORDER BY th.g1, th.g2""".stripMargin) { (s, dir) =>
      kmvSetOps(Tables.lineitem(s, dir), "l_returnflag", "l_orderkey")
    },

    // Count-min top-15 heavy hitters over document tokens, estimate
    // and exact side by side (est ≥ exact by construction). Total
    // order (est DESC, token) makes the k boundary deterministic.
    Q("sketch_cms_topk",
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |exact AS (SELECT tok, COUNT(*) AS n_exact, md5(tok) AS m
         |          FROM toks GROUP BY tok),
         |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (
         |  SELECT tok, n_exact, r,
         |         CAST(concat('0x', substr(m, 1 + 8 * r, 8)) AS BIGINT) % $CmsW AS b
         |  FROM exact, rs),
         |counters AS (SELECT r, b, SUM(n_exact) AS c FROM cells GROUP BY r, b)
         |SELECT p.tok, CAST(MIN(c.c) AS BIGINT) AS cms_est,
         |       CAST(p.n_exact AS BIGINT) AS n_exact
         |FROM cells p JOIN counters c ON p.r = c.r AND p.b = c.b
         |GROUP BY p.tok, p.n_exact
         |ORDER BY cms_est DESC, tok
         |LIMIT 15""".stripMargin) { (s, dir) =>
      cmsTopTokens(Tables.documents(s, dir), topK = 15)
    },

    // JOIN-SIZE ESTIMATION from two count-min summaries — the
    // optimizer's cardinality primitive (AMS/CMS inner-product
    // estimator, Alon–Matias–Szegedy by way of Cormode–Muthukrishnan):
    // |A ⋈_k B| = Σ_k f_A(k)·f_B(k), and the inner product of the two
    // counter tables, minimized over the d rows, upper-bounds it with
    // the usual ε·‖A‖₁·‖B‖₁ excess. The question "how big would this
    // join be" is answered from two d·w-long summaries WITHOUT running
    // the join — at 100 TB the sketches merge cell-wise per partition
    // and the estimate costs O(d·w), which is why engines keep exactly
    // this summary per join column. Sides: view-events × purchase-
    // events on user_id (both sides carry real multiplicities, so the
    // product term is non-trivial). All counters and products are
    // int64 — est and exact are BOTH hash-pinned, the realized
    // overestimate visible in the output.
    Q("sketch_cms_join_size",
      s"""WITH va AS (SELECT CAST(user_id AS VARCHAR) AS tok FROM events
         |            WHERE event_type = 'view'),
         |pb AS (SELECT CAST(user_id AS VARCHAR) AS tok FROM events
         |       WHERE event_type = 'purchase'),
         |rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |ca AS (
         |  SELECT r, CAST(concat('0x', substr(md5(tok), 1 + 8 * r, 8)) AS BIGINT) % $CmsW AS b,
         |         COUNT(*) AS c
         |  FROM va, rs GROUP BY 1, 2),
         |cb AS (
         |  SELECT r, CAST(concat('0x', substr(md5(tok), 1 + 8 * r, 8)) AS BIGINT) % $CmsW AS b,
         |         COUNT(*) AS c
         |  FROM pb, rs GROUP BY 1, 2),
         |ip AS (
         |  SELECT ca.r, CAST(SUM(ca.c * cb.c) AS BIGINT) AS dot
         |  FROM ca JOIN cb ON ca.r = cb.r AND ca.b = cb.b
         |  GROUP BY ca.r),
         |ex AS (
         |  SELECT CAST(COALESCE(SUM(a.n * b.n), 0) AS BIGINT) AS exact_join_size
         |  FROM (SELECT tok, COUNT(*) AS n FROM va GROUP BY 1) a
         |  JOIN (SELECT tok, COUNT(*) AS n FROM pb GROUP BY 1) b USING (tok))
         |SELECT CAST((SELECT COUNT(*) FROM va) AS BIGINT) AS n_views,
         |       CAST((SELECT COUNT(*) FROM pb) AS BIGINT) AS n_purchases,
         |       (SELECT MIN(dot) FROM ip) AS est_join_size,
         |       ex.exact_join_size
         |FROM ex""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").cast("string").as("tok"))
      def counters(df: DataFrame) =
        df.select(md5(col("tok")).as("m"), explode(cmsRows).as("r"))
          .select(col("r"),
            pmod(conv(expr("substring(m, 1 + 8*r, 8)"), 16, 10).cast("long"),
              lit(CmsW)).as("b"))
          .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
      val va = side("view")
      val pb = side("purchase")
      Materialize.using(va, pb) {
        val est = counters(va).as("a")
          .join(counters(pb).as("b"), Seq("r", "b"))
          .groupBy(col("r")).agg(sum(col("a.c") * col("b.c")).cast("long").as("dot"))
          .agg(min(col("dot")).as("est_join_size"))
          .withColumn("k", lit(1))
        val exact = va.groupBy(col("tok")).agg(count(lit(1)).as("na"))
          .join(pb.groupBy(col("tok")).agg(count(lit(1)).as("nb")), "tok")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).cast("long")
            .as("exact_join_size"))
          .withColumn("k", lit(1))
        val sizes = va.agg(count(lit(1)).as("n_views")).withColumn("k", lit(1))
          .join(pb.agg(count(lit(1)).as("n_purchases")).withColumn("k", lit(1)), "k")
        sizes
          .join(est, "k").join(exact, "k")
          .select(col("n_views"), col("n_purchases"),
            col("est_join_size"), col("exact_join_size"))
      }
    },

    // Quantiles completes the sketch triad (KMV = distinct, CMS =
    // frequency): DETERMINISTIC-HASH row sampling + discrete quantiles
    // of the sample, exact full-data quantiles alongside as the audit
    // baseline (drop the exact column at 100 TB — it is the one global
    // sort here; the sample side sorts only n/16 rows, and at a lower
    // rate fits one node). A hash rule beats rand(): the sample is
    // identical across retries, partitionings, and ENGINES — which is
    // what lets DuckDB replay the membership test and hash-pin the
    // ESTIMATES (rank error obeys the usual Hoeffding ε·n bound; the
    // pinned output makes the realized error visible). Quantiles are
    // element-selecting (`exact_quantile` ≡ `quantile_disc`), so every
    // emitted value is an original data double.
    // Log-bucketed quantile histogram (r10 s3) — the DDSketch idea
    // (Masson/Rim/Lee, VLDB'19: relative-error quantiles from
    // logarithmic buckets) rebuilt on INTEGER arithmetic so the sketch
    // is hash-pinnable cross-engine: values map to exact µ-units, the
    // bucket is the two-leading-digit cut ⌊v/10^(d−1)⌋·10^(d−1)
    // (decade d from the DIGIT COUNT of the integer, never log10 of a
    // double — the Benford lesson), giving ≤ 10% relative width. The
    // summary is the bucket histogram: one groupBy count (map-side
    // combinable, mergeable by addition — the scale path), a
    // prefix-sum over the BOUNDED bucket grid (≤ 90 buckets/decade),
    // and rank selection ⌈q·n⌉ in exact integer arithmetic. The query
    // publishes the audit alongside: the exact disc-quantile (native
    // one-pass aggregate) falls inside the chosen bucket BY
    // CONSTRUCTION — `contained` is the driver-visible proof.
    Q("sketch_log_histogram_quantiles",
      """WITH v AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vi
        |  FROM lineitem),
        |b AS (
        |  SELECT vi,
        |         CASE WHEN length(CAST(vi AS VARCHAR)) = 1 THEN 1
        |              ELSE CAST('1' || repeat('0', length(CAST(vi AS VARCHAR)) - 2)
        |                        AS BIGINT) END AS w
        |  FROM v),
        |hist AS (
        |  SELECT (vi // w) * w AS lo, w, COUNT(*) AS cnt
        |  FROM b GROUP BY 1, 2),
        |h AS (
        |  SELECT lo, w, cnt,
        |         SUM(cnt) OVER (ORDER BY lo ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM hist),
        |tot AS (SELECT COUNT(*) AS n FROM v),
        |t AS (
        |  SELECT q, (n * num + den - 1) // den AS target, n
        |  FROM (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.9, 9, 10), (0.99, 99, 100))
        |       AS qs(q, num, den) CROSS JOIN tot),
        |est AS (
        |  SELECT t.q, t.target, t.n, MIN(h.lo) AS est_lo
        |  FROM t JOIN h ON h.cum >= t.target
        |  GROUP BY 1, 2, 3),
        |ex AS (
        |  SELECT 0.25 AS q, quantile_disc(l_extendedprice, 0.25) AS eq FROM lineitem
        |  UNION ALL SELECT 0.5, quantile_disc(l_extendedprice, 0.5) FROM lineitem
        |  UNION ALL SELECT 0.9, quantile_disc(l_extendedprice, 0.9) FROM lineitem
        |  UNION ALL SELECT 0.99, quantile_disc(l_extendedprice, 0.99) FROM lineitem)
        |SELECT est.q,
        |       CAST(est.target AS BIGINT) AS target_rank,
        |       CAST(est.n AS BIGINT) AS n_total,
        |       CAST(est.est_lo AS BIGINT) AS est_lo_us,
        |       CAST(h.w AS BIGINT) AS width_us,
        |       CAST(h.cnt AS BIGINT) AS bucket_n,
        |       CAST(CAST(CAST(ex.eq AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS BIGINT)
        |         AS exact_q_us,
        |       CAST(CASE WHEN CAST(CAST(ex.eq AS DECIMAL(20,6)) * 1000000 AS BIGINT)
        |                      BETWEEN est.est_lo AND est.est_lo + h.w - 1
        |                 THEN 1 ELSE 0 END AS BIGINT) AS contained
        |FROM est JOIN h ON h.lo = est.est_lo JOIN ex ON ex.q = est.q
        |ORDER BY est.q""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val v = li.select(
        (col("l_extendedprice").cast("decimal(20,6)") * lit(1000000)).cast("long").as("vi"))
      val b = v.withColumn("w",
        when(length(col("vi").cast("string")) === 1, lit(1L))
          .otherwise(expr(
            "cast(concat('1', repeat('0', length(cast(vi as string)) - 2)) as bigint)")))
      val hist = b.groupBy(expr("(vi div w) * w").as("lo"), col("w"))
        .agg(count(lit(1)).as("cnt"))
      // prefix sum over the BOUNDED bucket grid (≤ 90/decade) — the
      // documented unpartitioned-window-on-a-grid class
      val h = hist.withColumn("cum",
        sum(col("cnt")).over(Window.orderBy(col("lo"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = v.agg(count(lit(1)).as("n"))
      val t = Seq((0.25, 1L, 4L), (0.5, 1L, 2L), (0.9, 9L, 10L), (0.99, 99L, 100L))
        .toDF("q", "num", "den")
        .crossJoin(broadcast(tot))
        .select(col("q"), expr("(n * num + den - 1) div den").as("target"), col("n"))
      val est = broadcast(t).join(h, col("cum") >= col("target"))
        .groupBy(col("q"), col("target"), col("n"))
        .agg(min(col("lo")).as("est_lo"))
      val ex = li.agg(
        graft.functions.exact_quantile(col("l_extendedprice"), 0.25).as("e25"),
        graft.functions.exact_quantile(col("l_extendedprice"), 0.5).as("e50"),
        graft.functions.exact_quantile(col("l_extendedprice"), 0.9).as("e90"),
        graft.functions.exact_quantile(col("l_extendedprice"), 0.99).as("e99"))
        .select(expr("stack(4, 0.25D, e25, 0.5D, e50, 0.9D, e90, 0.99D, e99) as (q, eq)"))
      val exUs = ex.select(col("q").as("xq"),
        (col("eq").cast("decimal(20,6)") * lit(1000000)).cast("long").as("exact_q_us"))
      est
        .join(h.select(col("lo"), col("w"), col("cnt")), col("lo") === col("est_lo"))
        .join(broadcast(exUs), col("xq") === col("q"))
        .select(
          col("q"),
          col("target").cast("long").as("target_rank"),
          col("n").cast("long").as("n_total"),
          col("est_lo").as("est_lo_us"),
          col("w").as("width_us"),
          col("cnt").as("bucket_n"),
          col("exact_q_us"),
          when(col("exact_q_us").between(col("est_lo"), col("est_lo") + col("w") - 1), 1L)
            .otherwise(0L).as("contained"))
        .orderBy(col("q"))
    },

    Q("sketch_sample_quantiles", {
      val hashSql = "CAST(concat('0x', substr(md5('sq:' || CAST(l_orderkey AS VARCHAR)" +
        " || ':' || CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT)"
      s"""WITH samp AS (
         |  SELECT l_extendedprice AS v FROM lineitem
         |  WHERE $hashSql < ${Two48.toLong / 16}),
         |sq AS (
         |  SELECT quantile_disc(v, 0.25) AS q25, quantile_disc(v, 0.5) AS q50,
         |         quantile_disc(v, 0.9) AS q90, quantile_disc(v, 0.99) AS q99,
         |         CAST(COUNT(*) AS BIGINT) AS n_sample
         |  FROM samp),
         |fq AS (
         |  SELECT quantile_disc(l_extendedprice, 0.25) AS q25,
         |         quantile_disc(l_extendedprice, 0.5) AS q50,
         |         quantile_disc(l_extendedprice, 0.9) AS q90,
         |         quantile_disc(l_extendedprice, 0.99) AS q99,
         |         CAST(COUNT(*) AS BIGINT) AS n_total
         |  FROM lineitem)
         |SELECT q, sample_q, exact_q, n_sample, n_total FROM (
         |  SELECT 0.25 AS q, sq.q25 AS sample_q, fq.q25 AS exact_q, n_sample, n_total FROM sq, fq
         |  UNION ALL
         |  SELECT 0.5, sq.q50, fq.q50, n_sample, n_total FROM sq, fq
         |  UNION ALL
         |  SELECT 0.9, sq.q90, fq.q90, n_sample, n_total FROM sq, fq
         |  UNION ALL
         |  SELECT 0.99, sq.q99, fq.q99, n_sample, n_total FROM sq, fq)
         |ORDER BY q""".stripMargin
    }) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val keep = h48("sq:",
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))) < lit(Two48.toLong / 16)
      val sq = li.filter(keep)
        .agg(
          graft.functions.exact_quantile(col("l_extendedprice"), 0.25).as("s25"),
          graft.functions.exact_quantile(col("l_extendedprice"), 0.5).as("s50"),
          graft.functions.exact_quantile(col("l_extendedprice"), 0.9).as("s90"),
          graft.functions.exact_quantile(col("l_extendedprice"), 0.99).as("s99"),
          count(lit(1)).as("n_sample"))
        .withColumn("k", lit(1))
      val fq = li
        .agg(
          graft.functions.exact_quantile(col("l_extendedprice"), 0.25).as("e25"),
          graft.functions.exact_quantile(col("l_extendedprice"), 0.5).as("e50"),
          graft.functions.exact_quantile(col("l_extendedprice"), 0.9).as("e90"),
          graft.functions.exact_quantile(col("l_extendedprice"), 0.99).as("e99"),
          count(lit(1)).as("n_total"))
        .withColumn("k", lit(1))
      sq.join(fq, "k")
        .select(expr(
          "stack(4, 0.25D, s25, e25, 0.5D, s50, e50, 0.9D, s90, e90, 0.99D, s99, e99)" +
            " as (q, sample_q, exact_q)"),
          col("n_sample"), col("n_total"))
        .orderBy(col("q"))
    },

    // HLL with a hash-pinned estimate (round 12): graft-native
    // HyperLogLog over the md5 hash family, completing the mergeable
    // family — `agg_approx_distinct` exercises Spark's built-in HLL++
    // (engine-internal → rows-only); THIS registers table and estimate
    // replay exactly in DuckDB. Per-priority register tables plus the
    // '*ALL*' row merged REGISTER-WISE (max per slot — the lossless
    // HLL merge, the whole point of the sketch at 100 TB: per-
    // partition 256-byte registers, never the data). See hllDistinct's
    // scaladoc for the raw-estimator honesty note.
    Q("sketch_hll_distinct",
      s"""WITH h AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(concat('0x', substr(md5('hll:' || CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT) AS h
         |  FROM orders),
         |r AS (
         |  SELECT grp, h % $HllM AS j,
         |         CASE WHEN h // $HllM = 0 THEN $HllRhoMax
         |              ELSE $HllRhoMax - length(bin(h // $HllM)) END AS rho
         |  FROM h),
         |regs AS (SELECT grp, j, MAX(rho) AS m_j FROM r GROUP BY grp, j),
         |allregs AS (
         |  SELECT grp, j, m_j FROM regs
         |  UNION ALL
         |  SELECT '*ALL*' AS grp, j, MAX(m_j) AS m_j FROM regs GROUP BY j),
         |grid AS (
         |  SELECT g.grp, t.range AS j
         |  FROM (SELECT DISTINCT grp FROM allregs) g CROSS JOIN range($HllM) t),
         |filled AS (
         |  SELECT grid.grp, grid.j, COALESCE(a.m_j, 0) AS m_j
         |  FROM grid LEFT JOIN allregs a ON a.grp = grid.grp AND a.j = grid.j),
         |s AS (
         |  SELECT grp,
         |         CAST(SUM(CAST(1 AS BIGINT) << ($HllRhoMax - m_j)) AS BIGINT) AS s_scaled,
         |         CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
         |  FROM filled GROUP BY grp),
         |exact AS (
         |  SELECT o_orderpriority AS grp,
         |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
         |  FROM orders GROUP BY 1
         |  UNION ALL
         |  SELECT '*ALL*', CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
         |SELECT s.grp,
         |       ROUND(((CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST($HllM AS DOUBLE)))
         |               * CAST(${HllM * HllM} AS DOUBLE) * CAST(${1L << HllRhoMax} AS DOUBLE))
         |             / CAST(s.s_scaled AS DOUBLE), 6) + 0 AS hll_est,
         |       s.n_zero_regs, x.n_exact
         |FROM s JOIN exact x ON s.grp = x.grp
         |ORDER BY s.grp""".stripMargin) { (s, dir) =>
      hllDistinct(Tables.orders(s, dir), "o_orderpriority", "o_custkey")
    },
  )

  /** Per-group HLL distinct-cardinality estimate over `keyCol`, plus
    * a `*ALL*` row merged register-wise from the per-group tables
    * (slot-wise max — HLL's lossless merge; the raw data is never
    * rescanned for the global estimate). Exact counts ride along as
    * the audit baseline, same contract as [[kmvDistinct]].
    *
    * Estimator honesty: this is Flajolet's RAW estimator
    * α_m·m²/Σ2^(−M_j) with NO small-range (linear-counting) or
    * large-range correction — both corrections need ln, and libm is
    * banned from value paths (the repo-wide exactness rule). Below
    * n ≈ 2.5·m the raw estimate reads high — the published bias the
    * corrections exist for; `n_zero_regs` (linear counting's input)
    * is emitted so a consumer can SEE when the estimate is in that
    * regime, and the KMV sketch is the repo's exact-small-range tool.
    * All arithmetic: integer register routing, length(bin(w)) leading-
    * zero ranks (no log2), BIGINT shift sums (order-free exact), one
    * IEEE divide — the ESTIMATE hash-pins cross-engine.
    *
    * Scale shape: one grouped max over (grp, j) — partial aggregation
    * collapses every map task to ≤ m cells per group before the
    * exchange (the 256-byte-sketch dataflow); the grid fill and the
    * estimator run on |groups|·m-bounded frames. */
  /** Per-row register rows (grp, j, rho) for `keyCol` — the pre-
    * aggregation half of the HLL build, shared by the batch query and
    * the streaming form (which applies its own streaming
    * groupBy(grp, j).max over these rows). The rank is the native
    * [[graft.functions.HllRho]] (one LZCNT intrinsic in codegen);
    * the DuckDB oracle keeps the value-identical
    * `maxRho − length(bin(w))` form, and SketchesSpec pins the two
    * equal on real hashes — native is the no-string-allocation path
    * for the one data-sized scan of the build. */
  def hllRowRegisters(df: DataFrame, grpCol: String, keyCol: String): DataFrame =
    df.select(col(grpCol).as("grp"), h48("hll:", col(keyCol).cast("string")).as("h"))
      .selectExpr("grp", s"h % $HllM AS j", s"h div $HllM AS w")
      .withColumn("rho", graft.functions.hll_rho(col("w"), HllRhoMax))
      .select(col("grp"), col("j"), col("rho"))

  /** Estimate from a register table (grp, j, m_j): fill the m-slot
    * grid per group, sum the scaled indicator in exact BIGINTs, one
    * IEEE divide — (grp, hll_est, n_zero_regs). The `grp` column may
    * be any type (string groups batch-side, DATE days streaming-side). */
  def hllEstimate(allRegs: DataFrame): DataFrame = {
    val spark = allRegs.sparkSession
    val grid = allRegs.select(col("grp")).distinct()
      .crossJoin(broadcast(spark.range(HllM).toDF("j")))
    val s = grid.join(allRegs, Seq("grp", "j"), "left_outer")
      .withColumn("m_j", coalesce(col("m_j"), lit(0)))
      .groupBy(col("grp"))
      .agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllRhoMax - m_j)")).cast("long")
          .as("s_scaled"),
        sum(when(col("m_j") === 0, 1).otherwise(0)).cast("long").as("n_zero_regs"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(HllM.toDouble))
    s.select(col("grp"),
      (round((alpha * lit((HllM * HllM).toDouble) * lit((1L << HllRhoMax).toDouble))
        / col("s_scaled").cast("double"), 6) + lit(0.0)).as("hll_est"),
      col("n_zero_regs"))
  }

  def hllDistinct(df: DataFrame, grpCol: String, keyCol: String): DataFrame = {
    // cached: the per-group and the merged registers both read it, and
    // the two reads plan differently (no exchange reuse)
    val regs = hllRowRegisters(df, grpCol, keyCol)
      .groupBy(col("grp"), col("j"))
      .agg(max(col("rho")).as("m_j"))
    Materialize.using(regs) {
      val merged = regs.groupBy(col("j")).agg(max(col("m_j")).as("m_j"))
        .select(lit("*ALL*").as("grp"), col("j"), col("m_j"))
      val allRegs = regs.select(col("grp").cast("string").as("grp"), col("j"), col("m_j"))
        .unionByName(merged)
      val exact = df.groupBy(col(grpCol).cast("string").as("grp"))
        .agg(countDistinct(col(keyCol)).cast("long").as("n_exact"))
        .unionByName(df.agg(countDistinct(col(keyCol)).cast("long").as("n_exact"))
          .select(lit("*ALL*").as("grp"), col("n_exact")))
      hllEstimate(allRegs)
        .join(exact, "grp")
        .select(col("grp"), col("hll_est"), col("n_zero_regs"), col("n_exact"))
        .orderBy(col("grp"))
    }
  }
}
