package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Record linkage: fuzzy entity matching by multi-pass blocking +
  * bounded edit-distance verification.
  *
  * The reference pipeline has no linkage step, but any corpus built
  * from scraped/merged catalogs needs one (dedup across sources whose
  * keys disagree: typos, OCR noise, truncation). The scalable shape is
  * the classic record-linkage decomposition:
  *
  *   1. BLOCK — project each side onto one or more cheap deterministic
  *      keys (here: 4-char name prefix AND 4-char name suffix — two
  *      passes, union'd). An edit that falls inside one key region
  *      still matches on the other, which is why multi-pass blocking
  *      is the standard recall fix (Fellegi–Sunter practice; same role
  *      as LSH bands for sets). Map-only key projection.
  *   2. CANDIDATES — hash-join per key, DISTINCT pair. Work is
  *      Σ_block |left|·|right| — bounded by block granularity, never
  *      all-pairs. Skewed blocks (a common prefix) are ordinary join
  *      skew: AQE splits them, same as every other keyed join here.
  *   3. VERIFY — Spark's thresholded `levenshtein(l, r, d)` (early-exit
  *      O(d·min(m,n)) band DP, codegen'd) keeps only true matches, so
  *      blocking false positives cost one bounded scan each.
  *
  * At 100 TB nothing materializes beyond the candidate pairs: both key
  * projections are map-side, the joins shuffle only (key, id, name),
  * and the verify is a scan over candidates.
  */
object Linkage {

  /** Candidate pairs from multi-pass blocking: for each blocking key
    * expression, join left×right on equal key, then union and distinct
    * the (left, right) id pairs. Both name columns ride along for the
    * verify stage. */
  def blockedCandidates(
      left: DataFrame, right: DataFrame,
      keys: Seq[Column => Column]): DataFrame = {
    // names shorter than a key width would hit the engines' divergent
    // sub-1 substring-start semantics (Spark treats pos 0 as 1;
    // DuckDB consumes a length unit before position 1) — exclude them
    // from blocking rather than risk a cross-engine key mismatch.
    // (Catalog names here are >= 7 chars; the filter is a guard, not
    // a behavior change.)
    val passes = keys.map { k =>
      val l = left.filter(length(col("name")) >= 4)
        .select(col("orig_id"), col("name").as("ln"), k(col("name")).as("k"))
      val r = right.filter(length(col("name")) >= 4)
        .select(col("typo_id"), col("name").as("rn"), k(col("name")).as("k"))
      l.join(r, "k").select(col("orig_id"), col("typo_id"), col("ln"), col("rn"))
    }
    passes.reduce(_ unionByName _).distinct()
  }

  /** Fuzzy link with prefix-4 + suffix-4 blocking and edit distance
    * ≤ maxDist. Inputs: (orig_id, name) and (typo_id, name). Output:
    * one row per verified pair with its exact distance. */
  def fuzzyLink(left: DataFrame, right: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"fuzzyLink: maxDist must be >= 0, got $maxDist")
    val prefix = (c: Column) => substring(c, 1, 4)
    val suffix = (c: Column) => c.substr(length(c) - lit(3), lit(4))
    val cand = blockedCandidates(left, right, Seq(prefix, suffix))
    // Thresholded levenshtein returns -1 past maxDist — the early-exit
    // band form; the plain 2-arg call would pay full O(m·n) per false
    // candidate.
    cand
      .withColumn("dist", levenshtein(col("ln"), col("rn"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("orig_id"), col("typo_id"), col("dist").cast("int").as("dist"))
  }

  /** End-to-end entity resolution: fuzzy pairwise links → transitive
    * closure (connected components) → one GOLDEN RECORD per entity
    * cluster — the full master-data pipeline, composed from the tiers
    * this library already has (pairs alone aren't an answer: a–b and
    * b–c links must resolve to ONE master even with no a–c link).
    * Golden rule: the minimum-id member is the master and contributes
    * the surviving name (`min_by` — an aggregate, deterministic since
    * ids are unique). Unlinked records resolve to singleton entities,
    * which IS the correct output, not a miss.
    *
    * Scale: links come from the blocked+verified join (never
    * all-pairs), closure is the large-star/small-star CC
    * (`connectedComponentsStar`: O(log n) alternations, so a long
    * chain of typo links converges instead of hitting a round cap),
    * and the golden fold is one keyed aggregate. */
  def entityResolution(left: DataFrame, right: DataFrame, maxDist: Int): DataFrame = {
    val links = fuzzyLink(left, right, maxDist)
    val nodes = Materialize(left.select(col("orig_id").as("id"), col("name"))
      .unionByName(right.select(col("typo_id").as("id"), col("name"))))
    val labels = graft.llm.Dedup.connectedComponentsStar(
      nodes.select(col("id")),
      links.select(col("orig_id").as("a"), col("typo_id").as("b")))
    nodes.join(labels, "id")
      .groupBy(col("label").as("golden_id"))
      .agg(
        count(lit(1)).cast("long").as("n_members"),
        min_by(col("name"), col("id")).as("golden_name"))
  }

  /** Declared fixture: a deterministic typo table planted from `part`
    * — every 20th part gets a tail substitution (caught by the prefix
    * pass), every 20th+10 a head substitution (caught ONLY by the
    * suffix pass — the single-key recall failure the multi-pass form
    * exists to fix). Ids offset by 10M keep the spaces disjoint. */
  private def typoFixture(parts: DataFrame): (DataFrame, DataFrame) = {
    val base = parts.select(col("p_partkey").as("orig_id"), col("p_name").as("name"))
    val typos = parts
      .filter(col("p_partkey") % 20 === 0 || col("p_partkey") % 20 === 10)
      .select(
        (col("p_partkey") + 10000000L).as("typo_id"),
        when(col("p_partkey") % 20 === 0,
          expr("concat(substring(p_name, 1, length(p_name) - 2), 'q', " +
            "substring(p_name, length(p_name), 1))"))
          .otherwise(expr("concat(substring(p_name, 1, 1), 'q', substring(p_name, 3))"))
          .as("name"))
    (base, typos)
  }

  val defs: Seq[Q] = Seq(

    // Multi-pass blocked fuzzy link: the oracle replays both blocking
    // passes, the DISTINCT candidate set, and the levenshtein verify
    // (identical unit-cost edit distance in both engines), so every
    // linked pair AND its distance is hash-pinned.
    Q("link_fuzzy_parts",
      """WITH base AS (SELECT p_partkey AS orig_id, p_name AS name FROM part),
        |typo AS (
        |  SELECT p_partkey + 10000000 AS typo_id,
        |         CASE WHEN p_partkey % 20 = 0
        |              THEN substring(p_name, 1, length(p_name) - 2) || 'q' ||
        |                   substring(p_name, length(p_name), 1)
        |              ELSE substring(p_name, 1, 1) || 'q' || substring(p_name, 3)
        |         END AS name
        |  FROM part WHERE p_partkey % 20 IN (0, 10)),
        |kb AS (
        |  SELECT orig_id, name AS ln, substring(name, 1, 4) AS k FROM base
        |  UNION ALL
        |  SELECT orig_id, name, substring(name, length(name) - 3, 4) FROM base),
        |kt AS (
        |  SELECT typo_id, name AS rn, substring(name, 1, 4) AS k FROM typo
        |  UNION ALL
        |  SELECT typo_id, name, substring(name, length(name) - 3, 4) FROM typo),
        |cand AS (
        |  SELECT DISTINCT orig_id, typo_id, ln, rn
        |  FROM kb JOIN kt USING (k))
        |SELECT orig_id, typo_id, CAST(levenshtein(ln, rn) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(ln, rn) <= 2
        |ORDER BY orig_id, typo_id""".stripMargin) { (s, dir) =>
      val (base, typos) = typoFixture(Tables.part(s, dir))
      fuzzyLink(base, typos, maxDist = 2).orderBy(col("orig_id"), col("typo_id"))
    },

    // Jaro–Winkler linkage — the transposition-tolerant complement of
    // the levenshtein verify above (edit distance over-penalizes the
    // swaps that dominate human typos; JW is the Fellegi–Sunter-era
    // name metric). Spark ships no JW, so this runs graft's native
    // codegen'd `jaro_winkler` expression, parameter-matched to
    // DuckDB's builtin `jaro_winkler_similarity` (window
    // ⌊max/2⌋−1, half transpositions, 0.1·prefix≤4 bonus above
    // jaro > 0.7) — the ORACLE is DuckDB's own implementation, the
    // strongest cross-check a custom expression can get. Blocked on
    // the name's first token (map-only key), probes broadcast; only
    // +,·,/ arithmetic, so the house 6-dp rounding pins every score.
    Q("link_jaro_parts",
      """WITH pr AS (
        |  SELECT p_partkey AS probe_key, p_name AS pn,
        |         string_split(p_name, ' ')[1] AS blk
        |  FROM part WHERE p_partkey % 97 = 0),
        |al AS (
        |  SELECT p_partkey AS cand_key, p_name AS cn,
        |         string_split(p_name, ' ')[1] AS blk
        |  FROM part)
        |SELECT probe_key, cand_key,
        |       ROUND(jaro_winkler_similarity(pn, cn), 6) + 0 AS jw
        |FROM pr JOIN al USING (blk)
        |WHERE cand_key != probe_key
        |  AND ROUND(jaro_winkler_similarity(pn, cn), 6) + 0 >= 0.88
        |ORDER BY probe_key, cand_key""".stripMargin) { (s, dir) =>
      val part = Tables.part(s, dir)
      val blk = element_at(split(col("p_name"), " "), 1)
      val pr = part.filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("probe_key"), col("p_name").as("pn"), blk.as("blk"))
      val al = part
        .select(col("p_partkey").as("cand_key"), col("p_name").as("cn"), blk.as("blk"))
      val jw = round(graft.functions.jaro_winkler(col("pn"), col("cn")), 6) + lit(0.0)
      al.join(broadcast(pr), "blk")
        .filter(col("cand_key") =!= col("probe_key"))
        .withColumn("jw", jw)
        .filter(col("jw") >= 0.88)
        .select(col("probe_key"), col("cand_key"), col("jw"))
        .orderBy(col("probe_key"), col("cand_key"))
    },

    // Entity resolution end-to-end on the same planted fixture: the
    // oracle replays the blocking + levenshtein links, closes them
    // with a recursive reachability CTE, and folds each cluster to
    // its min-id golden record — every entity's id, size, and
    // surviving name hash-pinned. (Shared catalog names make REAL
    // multi-record entities here, not just orig↔typo pairs.)
    Q("link_entity_golden",
      """WITH RECURSIVE
        |base AS (SELECT p_partkey AS orig_id, p_name AS name FROM part),
        |typo AS (
        |  SELECT p_partkey + 10000000 AS typo_id,
        |         CASE WHEN p_partkey % 20 = 0
        |              THEN substring(p_name, 1, length(p_name) - 2) || 'q' ||
        |                   substring(p_name, length(p_name), 1)
        |              ELSE substring(p_name, 1, 1) || 'q' || substring(p_name, 3)
        |         END AS name
        |  FROM part WHERE p_partkey % 20 IN (0, 10)),
        |kb AS (
        |  SELECT orig_id, name AS ln, substring(name, 1, 4) AS k FROM base
        |  UNION ALL
        |  SELECT orig_id, name, substring(name, length(name) - 3, 4) FROM base),
        |kt AS (
        |  SELECT typo_id, name AS rn, substring(name, 1, 4) AS k FROM typo
        |  UNION ALL
        |  SELECT typo_id, name, substring(name, length(name) - 3, 4) FROM typo),
        |cand AS (
        |  SELECT DISTINCT orig_id, typo_id, ln, rn
        |  FROM kb JOIN kt USING (k)),
        |links AS (
        |  SELECT orig_id AS a, typo_id AS b FROM cand
        |  WHERE levenshtein(ln, rn) <= 2),
        |nodes AS (
        |  SELECT orig_id AS id, name FROM base
        |  UNION ALL SELECT typo_id, name FROM typo),
        |und AS (SELECT a, b FROM links UNION SELECT b, a FROM links),
        |reach(a, b) AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a AND r.a <> u.b),
        |lab AS (
        |  SELECT n.id, LEAST(n.id, COALESCE(MIN(r.b), n.id)) AS cluster_id
        |  FROM nodes n LEFT JOIN reach r ON r.a = n.id
        |  GROUP BY n.id)
        |SELECT l.cluster_id AS golden_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_members,
        |       arg_min(n.name, n.id) AS golden_name
        |FROM lab l JOIN nodes n ON n.id = l.id
        |GROUP BY l.cluster_id ORDER BY golden_id""".stripMargin) { (s, dir) =>
      val (base, typos) = typoFixture(Tables.part(s, dir))
      entityResolution(base, typos, maxDist = 2).orderBy(col("golden_id"))
    },

    // Blocking-recall audit (r10 s3) — the minhashRecall discipline
    // applied to the linkage tier: does first-token blocking actually
    // catch the JW ≥ 0.88 pairs? Truth is the EXHAUSTIVE probe×corpus
    // JW join on the deterministic probe sample (|probes|·N — the
    // annRecall exact-side shape, probe count is the knob); blocked
    // candidates replay link_jaro_parts' first-token join; the audit
    // reports truth / found / missed / recall in ONE driver-visible
    // row. An imperfect recall here is the AUDIT's finding (a pair
    // whose typo hit the first token is invisible to this blocking),
    // not a defect — that is exactly what the audit exists to expose.
    Q("link_blocking_recall",
      """WITH pr AS (
        |  SELECT p_partkey AS probe_key, p_name AS pn,
        |         string_split(p_name, ' ')[1] AS blk
        |  FROM part WHERE p_partkey % 97 = 0),
        |al AS (
        |  SELECT p_partkey AS cand_key, p_name AS cn,
        |         string_split(p_name, ' ')[1] AS blk
        |  FROM part),
        |truth AS (
        |  SELECT pr.probe_key, al.cand_key
        |  FROM pr CROSS JOIN al
        |  WHERE al.cand_key != pr.probe_key
        |    AND ROUND(jaro_winkler_similarity(pr.pn, al.cn), 6) + 0 >= 0.88),
        |blocked AS (
        |  SELECT pr.probe_key, al.cand_key
        |  FROM pr JOIN al USING (blk)
        |  WHERE al.cand_key != pr.probe_key
        |    AND ROUND(jaro_winkler_similarity(pr.pn, al.cn), 6) + 0 >= 0.88),
        |m AS (
        |  SELECT t.probe_key, t.cand_key
        |  FROM truth t LEFT JOIN blocked b
        |    ON b.probe_key = t.probe_key AND b.cand_key = t.cand_key
        |  WHERE b.probe_key IS NULL)
        |SELECT (SELECT COUNT(*) FROM pr) AS n_probes,
        |       (SELECT COUNT(*) FROM truth) AS n_truth,
        |       (SELECT COUNT(*) FROM blocked) AS n_found,
        |       (SELECT COUNT(*) FROM m) AS n_missed,
        |       ROUND((SELECT COUNT(*) FROM blocked) * 1.0
        |             / (SELECT COUNT(*) FROM truth), 6) + 0 AS recall""".stripMargin) {
      (s, dir) =>
      val part = Tables.part(s, dir)
      val blk = element_at(split(col("p_name"), " "), 1)
      val pr = part.filter(col("p_partkey") % 97 === 0)
        .select(col("p_partkey").as("probe_key"), col("p_name").as("pn"), blk.as("blk"))
      val al = part
        .select(col("p_partkey").as("cand_key"), col("p_name").as("cn"),
          blk.as("cblk"))
      val jwOk = (round(graft.functions.jaro_winkler(col("pn"), col("cn")), 6) +
        lit(0.0)) >= 0.88
      val truth = Materialize(al.crossJoin(broadcast(pr))
        .filter(col("cand_key") =!= col("probe_key") && jwOk)
        .select(col("probe_key"), col("cand_key")))
      val blocked = Materialize(al.join(broadcast(pr), col("cblk") === col("blk"))
        .filter(col("cand_key") =!= col("probe_key") && jwOk)
        .select(col("probe_key"), col("cand_key")))
      val missed = truth.join(blocked, Seq("probe_key", "cand_key"), "left_anti")
      val nP = pr.count()
      val nT = truth.count()
      val nF = blocked.count()
      val nM = missed.count()
      import s.implicits._
      Seq((nP, nT, nF, nM)).toDF("n_probes", "n_truth", "n_found", "n_missed")
        .withColumn("recall",
          round(col("n_found") * lit(1.0) / col("n_truth"), 6) + lit(0.0))
    },
  )
}
