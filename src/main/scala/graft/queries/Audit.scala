package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Data-integrity auditing: ORDER-INDEPENDENT table fingerprints.
  *
  * The 100 TB operations problem this solves: after a migration,
  * replication, backfill, or engine swap, prove two copies of a table
  * are identical without sorting or moving either one. Each row is
  * hashed to a 60-bit key (the repo-wide portable md5-prefix family),
  * and per group the engine folds the keys with COMMUTATIVE
  * aggregates — XOR, a bounded-residue sum, min/max, count — so the
  * fingerprint is invariant to row order, partitioning, and task
  * count. One map-only pass plus a |groups|-row aggregate; the two
  * sides never ship data, only the tiny fingerprint frame.
  *
  * Why this aggregate set: XOR alone is blind to duplicated-pair
  * swaps (x⊕x = 0), a plain SUM of 60-bit keys overflows BIGINT past
  * ~2⁴ rows · 2⁶⁰; together, count + XOR + the 20-bit-residue sum
  * (overflow-safe to ~2⁴³ rows per group) + min/max make any
  * realistic divergence visible. The reference has no audit surface
  * (its checks are manual row-count prints,
  * /root/reference/scripts/01_data_ingestion.py:40-47); this is the
  * distributed replacement.
  *
  * The declared query is the strongest equivalence claim available:
  * DuckDB replays the identical hash + fold arithmetic over the same
  * parquet, so the ORACLE ITSELF is the cross-engine audit.
  */
object Audit {

  private def fp60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Fingerprint `df` grouped by `groupCol`; `rowRepr` must be a
    * canonical, engine-portable string rendering of the row (cast
    * ints/strings explicitly; avoid raw double→string formatting,
    * which engines render differently — hash doubles via their IEEE
    * bits or a fixed-precision round instead). `concat_ws` skips
    * nulls, so null vs empty-string collide — feed explicit sentinels
    * if that distinction matters for the audited table. */
  def tableFingerprint(df: DataFrame, groupCol: String, rowRepr: Column): DataFrame =
    df.select(col(groupCol), fp60(rowRepr).as("h"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        expr("bit_xor(h)").as("xor_fp"),
        sum(col("h") % 1048576).cast("long").as("sum_fp"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"))

  /** Row-level diff of two snapshots of a table keyed by `keyCol`:
    * FULL OUTER join on the key comparing 60-bit row hashes —
    * added / removed / changed, unchanged rows dropped. The
    * migration/backfill complement of `tableFingerprint`: the
    * fingerprint says WHETHER two copies diverge, this says WHERE.
    *
    * Scale shape: each side is reduced to (key, 8-byte hash) inside
    * its scan projection — row payloads never shuffle; the join is
    * one key-keyed exchange per side (bucket both snapshots on the
    * key to make it co-located); output is only the divergent keys.
    * `rowRepr` must follow the `tableFingerprint` portability rules
    * (explicit casts, no raw double rendering). */
  def snapshotDiff(
      before: DataFrame, after: DataFrame, keyCol: String, rowRepr: Column): DataFrame = {
    val b = before.select(col(keyCol).as("k"), fp60(rowRepr).as("h_before"))
    val a = after.select(col(keyCol).as("k"), fp60(rowRepr).as("h_after"))
    b.join(a, Seq("k"), "full_outer")
      .select(col("k").as(keyCol),
        when(col("h_before").isNull, lit("added"))
          .when(col("h_after").isNull, lit("removed"))
          .when(col("h_before") =!= col("h_after"), lit("changed"))
          .otherwise(lit("same")).as("status"))
      .filter(col("status") =!= "same")
  }

  /** Data-contract validation (Deequ-lite): evaluate named row-level
    * expectations in ONE aggregate pass — each rule is a boolean
    * Column, violations are `sum(when(!rule, 1))`, so N rules cost one
    * map-side-combined aggregate regardless of N, never one job per
    * rule. Whole-table rules (uniqueness) are expressed as aggregate
    * pairs (count vs approx/count-distinct) by the caller. Returns one
    * row per rule: (rule, n_violations, pass). */
  def contractCheck(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    // rule names are interpolated into the stack() SQL below — restrict
    // them to identifier-safe characters so a quote/backtick in a name
    // fails loudly here instead of breaking the generated query (ADVICE r8)
    rules.foreach { case (name, _) =>
      require(name.matches("[A-Za-z0-9_]+"),
        s"contractCheck: rule name '$name' must match [A-Za-z0-9_]+")
    }
    val sums = rules.map { case (name, rule) =>
      sum(when(!rule, 1).otherwise(0)).cast("long").as(name)
    }
    val wide = df.agg(sums.head, sums.tail: _*)
    val stacked = rules.map { case (name, _) => s"'$name', `$name`" }.mkString(", ")
    wide.select(expr(s"stack(${rules.size}, $stacked) AS (rule, n_violations)"))
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
  }

  /** SCD-1 MERGE (upsert): apply a keyed delta batch to a snapshot —
    * delta rows win on key collision (updates), delta-only keys insert,
    * untouched base rows carry through. The warehouse MERGE INTO
    * re-expressed as delta ∪ (base LEFT ANTI delta): one anti join
    * keyed on the merge key and a union — no row comparisons, no
    * window. The sibling of `Relational`'s `upsert_changeset` (a
    * COLUMN-level CDC changeset with deletes, applied via FULL OUTER
    * join): use that shape when changes arrive as per-column ops; use
    * this one when the delta carries COMPLETE replacement rows — then
    * nothing needs the outer join's column arbitration and the anti
    * join is the cheaper plan. Scale shape: the delta is the small
    * side (broadcast anti join; AQE flips it automatically), and with
    * both tables bucketed on the key the rewrite is shuffle-free; the
    * output is written partition-aligned with the base so repeated
    * merges stay co-located. Assumes `keyCol` is unique per side
    * (snapshot semantics); duplicate delta keys pass through
    * unmerged. */
  def mergeUpsert(base: DataFrame, delta: DataFrame, keyCol: String): DataFrame =
    delta.unionByName(
      base.join(delta.select(col(keyCol)), Seq(keyCol), "left_anti"))

  /** SCD type-2 merge: apply a changeset to a versioned history table,
    * closing the current version of every key whose tracked attributes
    * changed and opening a new one, while unchanged keys, untouched
    * keys, and already-closed history rows carry through verbatim.
    *
    * `history` schema: keyCol, changeCols…, valid_from DATE,
    * valid_to DATE (open rows carry the 2099-12-31 high-date sentinel
    * — a NULL open end would be the other convention, but a concrete
    * date keeps range predicates sargable and the column
    * non-nullable), is_current INT. `delta` is a CHANGESET (changed +
    * new keys; absent keys mean "no news", never "deleted" — deletes
    * are a CDC changeset concern, see `upsert_changeset`).
    *
    * Shape: ONE full-outer join of the current slice against the
    * delta, three filtered projections of it (close / open / carry),
    * and a union with the closed history. The delta is the small side
    * — broadcastable, and AQE flips the join when it is; the history
    * never moves except through the join, so with history bucketed on
    * the key the merge is a map-side stitch at 100 TB. Change
    * detection is null-safe equality over `changeCols` only — rows
    * arriving identical do NOT spawn a version (the no-op path a
    * naive "delta always wins" merge gets wrong). Like `mergeUpsert`,
    * assumes ONE row per key per side and per merge (snapshot/
    * changeset semantics); a delta carrying two rows for one key
    * would open two versions — dedupe upstream (e.g. latest-wins by
    * CDC sequence) before merging. */
  def scd2Merge(
      history: DataFrame, delta: DataFrame, keyCol: String,
      changeCols: Seq[String], asOf: Column): DataFrame = {
    require(changeCols.nonEmpty, "scd2Merge: changeCols must be non-empty")
    val openEnd = to_date(lit("2099-12-31"))
    val cur = history.filter(col("is_current") === 1)
    val closedHist = history.filter(col("is_current") =!= 1)
    val d = delta.select(
      col(keyCol).as("__k") +: changeCols.map(c => col(c).as(s"__d_$c")): _*)
    val j = cur.join(d, cur(keyCol) === d("__k"), "full_outer")
    val matched = cur(keyCol).isNotNull && col("__k").isNotNull
    val changed = changeCols.map(c => !(col(s"__d_$c") <=> col(c))).reduce(_ || _)
    val outCols = Seq(keyCol) ++ changeCols ++ Seq("valid_from", "valid_to", "is_current")
    val closed = j.filter(matched && changed).select(
      (col(keyCol) +: changeCols.map(col(_))) ++
        Seq(col("valid_from"), asOf.as("valid_to"), lit(0).as("is_current")): _*)
    val opened = j.filter(col("__k").isNotNull && (cur(keyCol).isNull || changed)).select(
      (coalesce(cur(keyCol), col("__k")).as(keyCol) +:
        changeCols.map(c => col(s"__d_$c").as(c))) ++
        Seq(asOf.as("valid_from"), openEnd.as("valid_to"), lit(1).as("is_current")): _*)
    val carried = j.filter(cur(keyCol).isNotNull && (col("__k").isNull || !changed))
      .select(outCols.map(col(_)): _*)
    closedHist.select(outCols.map(col(_)): _*)
      .unionByName(carried).unionByName(closed).unionByName(opened)
  }

  /** Time-travel read over an SCD-2 history: the table snapshot as it
    * was current at `asOf` — rows whose validity interval contains the
    * instant (`valid_from <= asOf < valid_to`; the half-open contract
    * means a version closed AT t is already superseded at t, matching
    * `scd2Merge` writing the same date to the closing row's valid_to
    * and the opening row's valid_from). This is the read side SCD-2
    * exists FOR: every historical state reconstructable from one
    * filter — no log replay. At 100 TB the two date predicates are
    * min/max-sargable, so a history partitioned or z-ordered on
    * valid_from serves any snapshot from a pruned scan. */
  def scd2AsOf(history: DataFrame, asOf: Column): DataFrame =
    history.filter(col("valid_from") <= asOf && asOf < col("valid_to"))

  /** Per-row temporal join against an SCD-2 history: each fact row is
    * enriched with the dimension version current AT THE ROW'S OWN
    * time — [[scd2AsOf]] generalized from one global instant to
    * per-row instants (the warehouse "join events to the profile as
    * it was then", the query pattern SCD-2 histories are BUILT for).
    * Equi-join on the key plus the half-open interval predicate; the
    * non-equi part filters within a key's own (short) version chain,
    * so cost is the equi-join's — per-key version counts are bounded
    * by change frequency, not data size. For adversarially long
    * chains use the as-of native operator instead (`join_asof_native`
    * is the sorted-merge form of the same question against event
    * streams). Versions partition time, so each fact matches at most
    * one version (exactly one when its instant is covered). */
  def scd2TemporalJoin(
      facts: DataFrame, history: DataFrame, keyCol: String, atCol: String): DataFrame = {
    val h = history.withColumnRenamed(keyCol, "__scd2_key")
    facts.join(h,
      facts(keyCol) === h("__scd2_key") &&
        h("valid_from") <= facts(atCol) && facts(atCol) < h("valid_to"))
      .drop("__scd2_key")
  }

  /** k-anonymity audit over quasi-identifier columns — the
    * privacy/compliance gate a training-data pipeline runs before
    * release: a row is k-anonymous iff its quasi-identifier (QI)
    * combination is shared by ≥ k rows, so any cell with n < k
    * re-identifies its members and must be suppressed or generalized.
    * Two grouped aggregates: per-QI-cell counts (the only data-sized
    * stage — one shuffle on the QI key), then the report rollup over
    * the cell frame (cell-domain-sized). Reports per `reportCol`:
    * cells, rows, risky cells (n < k), and the rows those cells
    * expose — the numbers that decide between suppression (drop
    * them) and generalization (coarsen a QI column and re-audit). */
  def kAnonymity(df: DataFrame, reportCol: Column, qi: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, s"kAnonymity: k must be >= 1, got $k")
    val cells = df.groupBy((reportCol.as("report") +: qi): _*)
      .agg(count(lit(1)).as("n"))
    cells.groupBy(col("report"))
      .agg(
        count(lit(1)).as("cells"),
        sum(col("n")).cast("long").as("n_rows"),
        sum(when(col("n") < k, 1L).otherwise(0L)).cast("long").as("risky_cells"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).cast("long").as("suppressed_rows"))
  }

  /** l-diversity audit (Machanavajjhala et al., TKDD 2007) — the
    * privacy gate k-anonymity misses: a QI group can be large (k-safe)
    * yet carry ONE sensitive value, so membership alone discloses it
    * (the homogeneity attack). Per QI group: distinct-l (how many
    * sensitive values appear) and the dominant value's share in
    * µ-units (the attacker's best-guess confidence — the quantity
    * behind the stronger entropy/recursive variants, exposed here
    * without their ln). All integer arithmetic. Shape: one (QI, sens)
    * keyed aggregate — the only data-sized stage — then a rollup on
    * the cell frame (cell-domain-bounded). */
  def lDiversity(df: DataFrame, qi: Seq[String], sens: String): DataFrame = {
    val cells = df.groupBy((qi :+ sens).map(col): _*)
      .agg(count(lit(1)).as("c"))
    cells.groupBy(qi.map(col): _*)
      .agg(
        sum(col("c")).cast("long").as("n_rows"),
        count(lit(1)).as("l_distinct"),
        expr("(MAX(c) * 1000000) div SUM(c)").cast("long").as("top_share_micro"))
  }

  /** t-closeness audit for an ORDERED sensitive attribute (Li, Li &
    * Venkatasubramanian, ICDE 2007): per QI group, the Earth Mover's
    * Distance between the group's sensitive-value distribution and the
    * global one — l-diversity's fix for the skewness attack (a group
    * can be diverse yet still far from the corpus base rate). For an
    * ordinal domain of m values the EMD has the closed form
    * Σ_j |cum_g(j) − cum(j)| / (m − 1). Probabilities are the repo's
    * fixed-point µ-units ((cnt·10⁶) div n — exact integers at ANY
    * group/corpus size, unlike the n_g·N cross-multiplied form whose
    * products overflow 2⁵³ at corpus scale; quantization error is
    * ≤ m/10⁶, documented), so the whole statistic is BIGINT.
    * Shape: one (QI, ord) keyed aggregate (the data-sized stage), the
    * full QI×domain grid generated on the bounded cell frame (absent
    * cells are REAL zeros — dropping them would shift every cum
    * after), global distribution broadcast, cum windows partitioned
    * by QI over m rows. */
  def tCloseness(df: DataFrame, qi: Seq[String], ord: String): DataFrame = {
    val qiCols = qi.map(col)
    val cells = Materialize(df.groupBy((qi :+ ord).map(col): _*)
      .agg(count(lit(1)).as("c"))) // feeds groups, domain, AND the grid join
    val grps = cells.groupBy(qiCols: _*).agg(sum(col("c")).cast("long").as("n_g"))
    val dom = cells.groupBy(col(ord)).agg(sum(col("c")).cast("long").as("cj"))
    val tot = dom.agg(sum(col("cj")).cast("long").as("n_all"),
      count(lit(1)).as("m"))
    val grid = grps
      .crossJoin(broadcast(dom))
      .crossJoin(broadcast(tot))
      .join(cells, qi :+ ord, "left_outer")
      .withColumn("pg_micro", expr("(COALESCE(c, 0) * 1000000) div n_g"))
      .withColumn("p_micro", expr("(cj * 1000000) div n_all"))
    val wCum = Window.partitionBy(qiCols: _*).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_g", sum(col("pg_micro")).over(wCum))
      .withColumn("cum", sum(col("p_micro")).over(wCum))
      .groupBy((qiCols :+ col("n_g").as("n_rows") :+ col("m")): _*)
      .agg(sum(abs(col("cum_g") - col("cum"))).as("s"))
      .select((qiCols :+ col("n_rows") :+
        when(col("m") > 1, expr("s div (m - 1)")).otherwise(lit(0L))
          .cast("long").as("emd_micro")): _*)
  }

  /** Exact equi-depth histogram over a BOUNDED-domain column — the
    * ANALYZE-style stats a cost-based optimizer and a skew planner
    * both feed on. Depth buckets (≈ n/B rows each) beat equi-width on
    * skewed data: width buckets collapse onto the hot range.
    *
    * The scale-honest exact form: per-VALUE counts (one keyed
    * aggregate — the only data-sized stage), then a cumulative sum
    * over the sorted DISTINCT values assigns each value's run
    * [cum−cnt, cum) to bucket = start·B div n. The global window runs
    * over the NDV-sized frame, NOT the data — exact equi-depth is a
    * prefix-sum over value granularity, so this form is for bounded
    * domains (quantities, small dims, enums, dates). For high-NDV
    * columns exact depth requires a global row sort; use
    * `repartitionByRange`'s sampled boundaries (approximate) or a GK
    * sketch instead. Ties never straddle buckets (a whole value run
    * lands in the bucket of its start position) — deterministic, and
    * why bucket counts are only ≈ n/B. */
  def equiDepthHistogram(df: DataFrame, valCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"equiDepthHistogram: buckets must be >= 1, got $buckets")
    val byVal = df.groupBy(col(valCol).as("v"))
      .agg(count(lit(1)).as("cnt"))
    val cum = byVal.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
      .withColumn("bucket", expr(s"((cum - cnt) * $buckets) div n").cast("int"))
      .groupBy(col("bucket"))
      .agg(
        min(col("v")).as("lo"),
        max(col("v")).as("hi"),
        sum(col("cnt")).cast("long").as("n_rows"))
  }

  /** Robust per-group outlier profile by median absolute deviation —
    * the screening pass a quality pipeline runs BEFORE trusting
    * mean/stddev anywhere (one fat-fingered 1e9 in a price column
    * drags the mean past every real row; the median doesn't move).
    * Flags x where |x − median| > k·MAD, the classic robust rule
    * (k = 3 ≈ the 2σ band for Gaussian data after the 1.4826
    * consistency factor — folded into k rather than multiplied in so
    * every comparison stays libm-free).
    *
    * Robust stats are irreducibly two-pass (the deviation quantile
    * depends on the median), so the shape is: exact median per group
    * (bounded frame, broadcast back) → deviation quantile per group
    * (bounded, broadcast back) → flag + count. Three scans of the
    * input; at 100 TB the scans are map-side over a column projection
    * and the per-group stats frames never exceed the group count.
    * `exact_quantile` is the discrete (element-selecting) quantile, so
    * med and MAD are actual data values — both engines compare
    * IDENTICAL doubles, no interpolation drift in the kept set. */
  def madOutliers(df: DataFrame, groupCol: String, valCol: String, k: Int): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(graft.functions.exact_quantile(col(valCol), 0.5).as("med"))
    val dev = df.select(col(groupCol), col(valCol))
      .join(broadcast(med), groupCol)
      .withColumn("adev", abs(col(valCol) - col("med")))
    val stats = dev.groupBy(col(groupCol))
      .agg(
        min(col("med")).as("med"),
        graft.functions.exact_quantile(col("adev"), 0.5).as("mad"),
        count(lit(1)).cast("long").as("n"))
    dev.join(broadcast(stats.drop("med")), groupCol)
      .groupBy(col(groupCol))
      .agg(
        min(col("med")).as("med0"),
        min(col("mad")).as("mad0"),
        min(col("n")).as("n"),
        sum(when(col("adev") > col("mad") * k, 1L).otherwise(0L)).as("n_out"))
      .select(
        col(groupCol),
        (round(col("med0"), 6) + lit(0.0)).as("med"),
        (round(col("mad0"), 6) + lit(0.0)).as("mad"),
        col("n"),
        col("n_out").as("n_outliers"),
        (round(col("n_out") * lit(1.0) / col("n"), 6) + lit(0.0)).as("outlier_frac"))
  }

  /** Join-key skew profile: the top-`topN` heaviest keys of `keyCol`
    * with their row share and skew factor (rows-under-key ÷ mean
    * rows-per-key) — the diagnostic a 100 TB join plan needs BEFORE
    * it shuffles (a skew factor ≫ 1 on a join key means one reducer
    * eats the key: pre-salt it, or let AQE split it — either way the
    * profile says which keys and how hard). One partial+final count
    * aggregate keyed on the key, a single-row totals frame broadcast
    * back over it, and a TakeOrdered top-N — never a global sort of
    * the counts. All ratios are exact-integer products divided once,
    * so both engines compute identical doubles. */
  def keySkew(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).cast("long").as("n"))
    val totals = counts.agg(
      sum(col("n")).cast("long").as("total"),
      count(lit(1)).cast("long").as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("n"),
        (round(col("n") * lit(1.0) / col("total"), 6) + lit(0.0)).as("share"),
        (round(col("n") * col("n_keys") * lit(1.0) / col("total"), 6) + lit(0.0))
          .as("skew_factor"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(topN)
  }

  /** ANALYZE-lite column profile: per column — null count, EXACT
    * distinct count, and lexical min/max of the canonical string
    * rendering — in ONE aggregate pass (the multi-distinct plans as a
    * single Expand, not one job per column). `cols` maps output name →
    * canonical portable rendering (same casting rules as
    * `tableFingerprint`: explicit casts, no raw double formatting);
    * names must be identifier-safe (same stack() rule as
    * `contractCheck`). The stats feed partition-pruning decisions,
    * dictionary-encoding choices, and the drift checks a data contract
    * can't express as a fixed bound. */
  def tableProfile(df: DataFrame, cols: Seq[(String, Column)]): DataFrame = {
    cols.foreach { case (name, _) =>
      require(name.matches("[A-Za-z0-9_]+"),
        s"tableProfile: column name '$name' must match [A-Za-z0-9_]+")
    }
    val aggs = cols.flatMap { case (name, c) => Seq(
      sum(when(c.isNull, 1).otherwise(0)).cast("long").as(s"${name}_nulls"),
      countDistinct(c).cast("long").as(s"${name}_ndv"),
      min(c).as(s"${name}_min"),
      max(c).as(s"${name}_max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { case (name, _) =>
      s"'$name', `${name}_nulls`, `${name}_ndv`, `${name}_min`, `${name}_max`"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $stacked) AS (column, n_nulls, n_distinct, min_repr, max_repr)"))
  }

  /** Oracle for the planted SCD-1 merge — shared by the batch query
    * and the streaming CDC form (`streaming_merge_upsert`: identical
    * answer by construction, since per-batch merges of key-disjoint
    * deltas compose to the whole-delta merge). */
  private[graft] val mergeUpsertOracleSql: String =
    """WITH delta AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice,
      |         'updated' AS merge_action
      |  FROM orders WHERE o_orderkey % 10 = 3
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice, 'inserted'
      |  FROM orders WHERE o_orderkey % 17 = 0),
      |kept AS (
      |  SELECT b.o_orderkey, b.o_custkey, b.o_totalprice, 'kept' AS merge_action
      |  FROM orders b LEFT JOIN delta d ON b.o_orderkey = d.o_orderkey
      |  WHERE d.o_orderkey IS NULL)
      |SELECT o_orderkey, o_custkey, o_totalprice, merge_action FROM delta
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_totalprice, merge_action FROM kept
      |ORDER BY o_orderkey""".stripMargin

  val defs: Seq[Q] = Seq(

    // Pairwise Pearson correlation matrix (r10 s4) over the fact's
    // numeric columns — the multicollinearity screen a feature
    // pipeline runs before trusting per-feature statistics. Exactness:
    // per-row products are IEEE doubles (identical cross-engine),
    // 6-dp-decimal-summed (order-independent — the dsum discipline on
    // FOURTEEN moments in ONE corpus pass), and every remaining op is
    // double arithmetic in pinned association order; sqrt is IEEE
    // correctly-rounded (unlike ln/exp) so it is hash-safe. The
    // 1-row moment frame is checkpointed, so the 6 pair rows are
    // projections of one cached row — the corpus is scanned ONCE.
    Q("audit_corr_matrix", {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val prs = for {
        i <- cols.indices; j <- (i + 1) until cols.length
      } yield (cols(i), cols(j))
      val moments =
        Seq("CAST(COUNT(*) AS BIGINT) AS n") ++
        cols.map(c => s"CAST(SUM(CAST($c AS DECIMAL(30,6))) AS DOUBLE) AS s_$c") ++
        cols.map(c => s"CAST(SUM(CAST($c * $c AS DECIMAL(30,6))) AS DOUBLE) AS ss_$c") ++
        prs.map { case (x, y) =>
          s"CAST(SUM(CAST($x * $y AS DECIMAL(30,6))) AS DOUBLE) AS c_${x}_$y" }
      val rows = prs.map { case (x, y) =>
        s"""SELECT '$x' AS x_col, '$y' AS y_col, n,
           |  ((CAST(n AS DOUBLE) * c_${x}_$y) - (s_$x * s_$y))
           |  / (sqrt((CAST(n AS DOUBLE) * ss_$x) - (s_$x * s_$x))
           |     * sqrt((CAST(n AS DOUBLE) * ss_$y) - (s_$y * s_$y))) AS corr
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m AS (SELECT ${moments.mkString(", ")} FROM lineitem)
         |$rows
         |ORDER BY x_col, y_col""".stripMargin
    }) { (s, dir) =>
      corrMatrix(Tables.lineitem(s, dir),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
    },

    // Spearman rank correlation matrix (r10 s4) — see
    // spearmanMatrix's scaladoc: monotone association robust to the
    // outliers and nonlinearity that fool Pearson; average-rank
    // (tie-correct) transform kept exact as the integer 2·avg_rank,
    // ranks computed on the NDV-bounded value frames (≤50 rows — the
    // window never sees data), then the corrMatrix moment discipline.
    Q("audit_spearman_corr", {
      val cols = Seq("l_discount", "l_quantity", "l_tax")
      val rankCtes = cols.map { c =>
        s"""r_$c AS (
           |  SELECT v, 2 * COALESCE(SUM(cnt) OVER (ORDER BY v
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |         + cnt + 1 AS ar2
           |  FROM (SELECT $c AS v, CAST(COUNT(*) AS BIGINT) AS cnt
           |        FROM lineitem GROUP BY 1))""".stripMargin
      }.mkString(",\n")
      val joined = cols.map(c => s"r_$c.ar2 AS $c").mkString(", ")
      val joins = cols.map(c => s"JOIN r_$c ON r_$c.v = l.$c").mkString(" ")
      val prs = for {
        i <- cols.indices; j <- (i + 1) until cols.length
      } yield (cols(i), cols(j))
      val moments =
        Seq("CAST(COUNT(*) AS BIGINT) AS n") ++
        cols.map(c => s"CAST(SUM(CAST($c AS DECIMAL(30,6))) AS DOUBLE) AS s_$c") ++
        cols.map(c => s"CAST(SUM(CAST($c * $c AS DECIMAL(30,6))) AS DOUBLE) AS ss_$c") ++
        prs.map { case (x, y) =>
          s"CAST(SUM(CAST($x * $y AS DECIMAL(30,6))) AS DOUBLE) AS c_${x}_$y" }
      val rows = prs.map { case (x, y) =>
        s"""SELECT '$x' AS x_col, '$y' AS y_col, n,
           |  ((CAST(n AS DOUBLE) * c_${x}_$y) - (s_$x * s_$y))
           |  / (sqrt((CAST(n AS DOUBLE) * ss_$x) - (s_$x * s_$x))
           |     * sqrt((CAST(n AS DOUBLE) * ss_$y) - (s_$y * s_$y))) AS corr
           |FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $rankCtes,
         |j AS (SELECT $joined FROM lineitem l $joins),
         |m AS (SELECT ${moments.mkString(", ")} FROM j)
         |$rows
         |ORDER BY x_col, y_col""".stripMargin
    }) { (s, dir) =>
      spearmanMatrix(Tables.lineitem(s, dir),
        Seq("l_discount", "l_quantity", "l_tax"))
    },

    // Chi-square independence screen (r10 s4): is the customer's
    // market segment associated with order status — the categorical
    // feature-vs-label test (the counterpart of the continuous KS/PSI
    // drift tier; MI would need ln, χ² needs only one divide per
    // cell). Per-cell term in pinned double order
    // ((O·n − r·c)² / ((n·r)·c) — all operands exact integers cast
    // once), the statistic is the 6-dp decimal sum of the ≤15-cell
    // frame via an unpartitioned window (post-agg, never over data).
    // Shape: one custkey-keyed join, ONE data-sized (seg, status)
    // aggregate; marginals are broadcast re-aggregates of the cell
    // frame. χ² is over observed cells (this dense fixture has no
    // empty cells; an empty cell's O=0 term would need the E-only
    // correction — documented, same definition both engines).
    Q("ml_chi2_independence",
      """WITH r AS (
        |  SELECT c.c_mktsegment AS seg, o.o_orderstatus AS status
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |cell AS (
        |  SELECT seg, status, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM r GROUP BY 1, 2),
        |rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS rr FROM cell GROUP BY 1),
        |ct AS (SELECT status, CAST(SUM(o) AS BIGINT) AS cc FROM cell GROUP BY 1),
        |nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
        |t AS (
        |  SELECT cell.seg, cell.status, cell.o,
        |         (CAST(rt.rr AS DOUBLE) * CAST(ct.cc AS DOUBLE)) / CAST(nn.n AS DOUBLE)
        |           AS expected,
        |         ((CAST(cell.o AS DOUBLE) * CAST(nn.n AS DOUBLE))
        |            - (CAST(rt.rr AS DOUBLE) * CAST(ct.cc AS DOUBLE)))
        |         * ((CAST(cell.o AS DOUBLE) * CAST(nn.n AS DOUBLE))
        |            - (CAST(rt.rr AS DOUBLE) * CAST(ct.cc AS DOUBLE)))
        |         / ((CAST(nn.n AS DOUBLE) * CAST(rt.rr AS DOUBLE)) * CAST(ct.cc AS DOUBLE))
        |           AS term
        |  FROM cell JOIN rt USING (seg) JOIN ct USING (status) CROSS JOIN nn)
        |SELECT seg, status, o AS observed, expected, term,
        |       CAST(SUM(CAST(term AS DECIMAL(30,6))) OVER () AS DOUBLE) AS chi2
        |FROM t
        |ORDER BY seg, status""".stripMargin) { (s, dir) =>
      val cell = Materialize(Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderstatus").as("status"))
        .join(Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_mktsegment").as("seg")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("seg"), col("status"))
        .agg(count(lit(1)).as("o")))
      val rt = cell.groupBy(col("seg").as("seg2")).agg(sum(col("o")).as("rr"))
      val ct = cell.groupBy(col("status").as("status2")).agg(sum(col("o")).as("cc"))
      val nn = cell.agg(sum(col("o")).as("n"))
      val dev = (col("o").cast("double") * col("n").cast("double")) -
        (col("rr").cast("double") * col("cc").cast("double"))
      val t = cell
        .join(broadcast(rt), col("seg") === col("seg2"))
        .join(broadcast(ct), col("status") === col("status2"))
        .crossJoin(broadcast(nn))
        .select(col("seg"), col("status"), col("o"),
          ((col("rr").cast("double") * col("cc").cast("double")) /
            col("n").cast("double")).as("expected"),
          (dev * dev /
            ((col("n").cast("double") * col("rr").cast("double")) *
              col("cc").cast("double"))).as("term"))
      t.select(col("seg"), col("status"), col("o").as("observed"),
          col("expected"), col("term"),
          sum(col("term").cast("decimal(30,6)")).over(Window.partitionBy())
            .cast("double").as("chi2"))
        .orderBy(col("seg"), col("status"))
    },

    // The documents table's publishable contract, checked in one
    // aggregate pass; the oracle replays each CASE sum. A planted
    // violation (rule max_chars_400 with a deliberately low bound)
    // proves failures REPORT rather than vanish.
    Q("audit_contract_check",
      """WITH v AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS id_not_null,
        |    CAST(SUM(CASE WHEN length(text) <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS text_nonempty,
        |    CAST(SUM(CASE WHEN lang NOT IN ('en', 'es', 'de', 'fr') THEN 1 ELSE 0 END) AS BIGINT) AS lang_in_enum,
        |    CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_consistent,
        |    CAST(SUM(CASE WHEN length(text) > 400 THEN 1 ELSE 0 END) AS BIGINT) AS max_chars_400
        |  FROM documents),
        |s AS (
        |  SELECT 'id_not_null' AS rule, id_not_null AS n_violations FROM v
        |  UNION ALL SELECT 'text_nonempty', text_nonempty FROM v
        |  UNION ALL SELECT 'lang_in_enum', lang_in_enum FROM v
        |  UNION ALL SELECT 'n_chars_consistent', n_chars_consistent FROM v
        |  UNION ALL SELECT 'max_chars_400', max_chars_400 FROM v)
        |SELECT rule, n_violations,
        |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INTEGER) AS pass
        |FROM s ORDER BY rule""".stripMargin) { (s, dir) =>
      contractCheck(Tables.documents(s, dir), Seq(
        "id_not_null" -> col("doc_id").isNotNull,
        "text_nonempty" -> (length(col("text")) > 0),
        "lang_in_enum" -> col("lang").isin("en", "es", "de", "fr"),
        "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
        "max_chars_400" -> (length(col("text")) <= 400)))
        .orderBy(col("rule"))
    },

    // Planted snapshot evolution: doc_id % 13 removed, % 11 edited,
    // % 17 re-inserted under a shifted id (added). The oracle replays
    // the same row hashes and the same outer-join classification, so
    // the divergent-key SET and each verdict are hash-pinned.
    Q("audit_snapshot_diff",
      """WITH bh AS (
        |  SELECT doc_id AS k,
        |         CAST(concat('0x', substr(md5(concat_ws('|',
        |           CAST(doc_id AS VARCHAR), md5(text))), 1, 15)) AS BIGINT) AS hb
        |  FROM documents),
        |aft AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0),
        |ah AS (
        |  SELECT doc_id AS k,
        |         CAST(concat('0x', substr(md5(concat_ws('|',
        |           CAST(doc_id AS VARCHAR), md5(text))), 1, 15)) AS BIGINT) AS ha
        |  FROM aft),
        |d AS (
        |  SELECT COALESCE(bh.k, ah.k) AS doc_id,
        |         CASE WHEN hb IS NULL THEN 'added'
        |              WHEN ha IS NULL THEN 'removed'
        |              WHEN hb <> ha THEN 'changed'
        |              ELSE 'same' END AS status
        |  FROM bh FULL OUTER JOIN ah ON bh.k = ah.k)
        |SELECT doc_id, status FROM d WHERE status <> 'same'
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val after = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      snapshotDiff(docs, after, "doc_id",
        concat_ws("|", col("doc_id").cast("string"), md5(col("text"))))
        .orderBy(col("doc_id"))
    },

    // SCD-1 merge of a planted delta into the orders snapshot:
    // %10==3 keys arrive updated (price doubled — exact in IEEE, so
    // the doubles hash-match), %17==0 keys arrive re-keyed as inserts,
    // everything else carries through. The oracle replays the
    // delta-wins union and the same action classification; row count,
    // every carried column, and the action labels are all hash-pinned.
    Q("audit_merge_upsert", mergeUpsertOracleSql) { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("merge_action", lit("kept"))
      val delta = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("o_totalprice"), lit("updated").as("merge_action"))
        .unionByName(Tables.orders(s, dir)
          .filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), lit("inserted").as("merge_action")))
      mergeUpsert(base, delta, "o_orderkey").orderBy(col("o_orderkey"))
    },

    // Skew profile of the orders→customer join key: the 10 heaviest
    // customers by order count with share and skew factor. Counts,
    // shares, and the exact-integer skew ratios all replay in SQL.
    Q("audit_key_skew",
      """WITH c AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM orders GROUP BY o_custkey),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |             CAST(COUNT(*) AS BIGINT) AS n_keys FROM c)
        |SELECT o_custkey, n,
        |       ROUND(n * 1.0 / total, 6) + 0 AS share,
        |       ROUND(n * n_keys * 1.0 / total, 6) + 0 AS skew_factor
        |FROM c, t
        |ORDER BY n DESC, o_custkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      keySkew(Tables.orders(s, dir), "o_custkey", topN = 10)
    },

    // ANALYZE-lite profile of the documents table: per-column null /
    // exact-distinct counts and lexical min/max of the canonical
    // renderings, one Expand-fused pass. The oracle recomputes every
    // stat from the same renderings.
    Q("audit_table_profile",
      """WITH v AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_nulls,
        |    CAST(COUNT(DISTINCT CAST(doc_id AS VARCHAR)) AS BIGINT) AS doc_id_ndv,
        |    MIN(CAST(doc_id AS VARCHAR)) AS doc_id_min,
        |    MAX(CAST(doc_id AS VARCHAR)) AS doc_id_max,
        |    CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_ndv,
        |    MIN(lang) AS lang_min, MAX(lang) AS lang_max,
        |    CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS source_ndv,
        |    MIN(source) AS source_min, MAX(source) AS source_max,
        |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
        |    CAST(COUNT(DISTINCT CAST(n_chars AS VARCHAR)) AS BIGINT) AS n_chars_ndv,
        |    MIN(CAST(n_chars AS VARCHAR)) AS n_chars_min,
        |    MAX(CAST(n_chars AS VARCHAR)) AS n_chars_max
        |  FROM documents),
        |s AS (
        |  SELECT 'doc_id' AS "column", doc_id_nulls AS n_nulls, doc_id_ndv AS n_distinct,
        |         doc_id_min AS min_repr, doc_id_max AS max_repr FROM v
        |  UNION ALL SELECT 'lang', lang_nulls, lang_ndv, lang_min, lang_max FROM v
        |  UNION ALL SELECT 'source', source_nulls, source_ndv, source_min, source_max FROM v
        |  UNION ALL SELECT 'n_chars', n_chars_nulls, n_chars_ndv, n_chars_min, n_chars_max FROM v)
        |SELECT * FROM s ORDER BY "column"""".stripMargin) { (s, dir) =>
      tableProfile(Tables.documents(s, dir), Seq(
        "doc_id" -> col("doc_id").cast("string"),
        "lang" -> col("lang"),
        "source" -> col("source"),
        "n_chars" -> col("n_chars").cast("string")))
        .orderBy(col("column"))
    },

    Q("audit_fingerprint",
      """WITH h AS (
        |  SELECT source,
        |         CAST(concat('0x', substr(md5(concat_ws('|',
        |           CAST(doc_id AS VARCHAR), lang, source,
        |           CAST(n_chars AS VARCHAR), md5(text))), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT source,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       bit_xor(h) AS xor_fp,
        |       CAST(SUM(h % 1048576) AS BIGINT) AS sum_fp,
        |       MIN(h) AS min_h,
        |       MAX(h) AS max_h
        |FROM h GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      tableFingerprint(
        Tables.documents(s, dir),
        "source",
        concat_ws("|",
          col("doc_id").cast("string"), col("lang"), col("source"),
          col("n_chars").cast("string"), md5(col("text"))))
        .orderBy(col("source"))
    },

    // SCD-2 merge of a planted changeset into a day-one history:
    // %10==3 prices arrive doubled (close + open a version), %10==7
    // arrive IDENTICAL (the no-op path — no version may spawn),
    // %17==0 arrive under new keys (insert open), everything else
    // carries. The oracle replays the full-outer classification and
    // both version rows per changed key; every date, price, and flag
    // is hash-pinned. (o_totalprice × 2 is IEEE-exact.)
    Q("audit_scd2_merge",
      """WITH hist AS (
        |  SELECT o_orderkey, o_totalprice, DATE '2024-01-01' AS valid_from,
        |         DATE '2099-12-31' AS valid_to, 1 AS is_current
        |  FROM orders),
        |delta AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice FROM orders WHERE o_orderkey % 17 = 0),
        |j AS (
        |  SELECT h.o_orderkey AS hk, h.o_totalprice AS hp, h.valid_from,
        |         d.o_orderkey AS dk, d.o_totalprice AS dp
        |  FROM hist h FULL OUTER JOIN delta d ON h.o_orderkey = d.o_orderkey),
        |closed AS (
        |  SELECT hk AS o_orderkey, hp AS o_totalprice, valid_from,
        |         DATE '2024-06-01' AS valid_to, 0 AS is_current
        |  FROM j WHERE hk IS NOT NULL AND dk IS NOT NULL AND hp <> dp),
        |opened AS (
        |  SELECT dk, dp, DATE '2024-06-01', DATE '2099-12-31', 1
        |  FROM j WHERE dk IS NOT NULL AND (hk IS NULL OR hp <> dp)),
        |carried AS (
        |  SELECT hk, hp, valid_from, DATE '2099-12-31', 1
        |  FROM j WHERE hk IS NOT NULL AND (dk IS NULL OR hp = dp))
        |SELECT o_orderkey, o_totalprice, valid_from, valid_to,
        |       CAST(is_current AS INTEGER) AS is_current
        |FROM (SELECT * FROM closed UNION ALL SELECT * FROM opened
        |      UNION ALL SELECT * FROM carried) u
        |ORDER BY o_orderkey, valid_from""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val history = orders.select(
        col("o_orderkey"), col("o_totalprice"),
        to_date(lit("2024-01-01")).as("valid_from"),
        to_date(lit("2099-12-31")).as("valid_to"),
        lit(1).as("is_current"))
      val delta = orders.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(orders.filter(col("o_orderkey") % 10 === 7)
          .select(col("o_orderkey"), col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("o_totalprice")))
      scd2Merge(history, delta, "o_orderkey", Seq("o_totalprice"),
        to_date(lit("2024-06-01")))
        .orderBy(col("o_orderkey"), col("valid_from"))
    },

    // Time travel over the SAME merged history: snapshots as of
    // 2024-03-01 (pre-merge — must reproduce the day-one table
    // verbatim: closed versions were still current then) and
    // 2024-07-01 (post-merge — doubled %10==3 prices, %17==0 inserts
    // present, no superseded row leaks through). The oracle replays
    // the merge and both interval filters, so every snapshot row is
    // hash-pinned; RelationalSpec additionally pins the half-open
    // boundary and one-row-per-key per snapshot on a hand fixture.
    Q("audit_scd2_asof",
      """WITH hist AS (
        |  SELECT o_orderkey, o_totalprice, DATE '2024-01-01' AS valid_from,
        |         DATE '2099-12-31' AS valid_to, 1 AS is_current
        |  FROM orders),
        |delta AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_totalprice FROM orders WHERE o_orderkey % 17 = 0),
        |j AS (
        |  SELECT h.o_orderkey AS hk, h.o_totalprice AS hp, h.valid_from,
        |         d.o_orderkey AS dk, d.o_totalprice AS dp
        |  FROM hist h FULL OUTER JOIN delta d ON h.o_orderkey = d.o_orderkey),
        |merged AS (
        |  SELECT hk AS o_orderkey, hp AS o_totalprice, valid_from,
        |         DATE '2024-06-01' AS valid_to
        |  FROM j WHERE hk IS NOT NULL AND dk IS NOT NULL AND hp <> dp
        |  UNION ALL
        |  SELECT dk, dp, DATE '2024-06-01', DATE '2099-12-31'
        |  FROM j WHERE dk IS NOT NULL AND (hk IS NULL OR hp <> dp)
        |  UNION ALL
        |  SELECT hk, hp, valid_from, DATE '2099-12-31'
        |  FROM j WHERE hk IS NOT NULL AND (dk IS NULL OR hp = dp))
        |SELECT s.snap_date, m.o_orderkey, m.o_totalprice
        |FROM (SELECT unnest([DATE '2024-03-01', DATE '2024-07-01']) AS snap_date) s
        |JOIN merged m
        |  ON m.valid_from <= s.snap_date AND s.snap_date < m.valid_to
        |ORDER BY snap_date, o_orderkey""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val history = orders.select(
        col("o_orderkey"), col("o_totalprice"),
        to_date(lit("2024-01-01")).as("valid_from"),
        to_date(lit("2099-12-31")).as("valid_to"),
        lit(1).as("is_current"))
      val delta = orders.filter(col("o_orderkey") % 10 === 3)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"))
        .unionByName(orders.filter(col("o_orderkey") % 10 === 7)
          .select(col("o_orderkey"), col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"), col("o_totalprice")))
      val merged = scd2Merge(history, delta, "o_orderkey", Seq("o_totalprice"),
        to_date(lit("2024-06-01")))
      Seq("2024-03-01", "2024-07-01").map { d =>
        scd2AsOf(merged, to_date(lit(d)))
          .select(to_date(lit(d)).as("snap_date"),
            col("o_orderkey"), col("o_totalprice"))
      }.reduce(_ unionByName _)
        .orderBy(col("snap_date"), col("o_orderkey"))
    },

    // Temporal enrichment: every event joins the user-profile tier
    // current ON ITS OWN DAY — the history comes out of the real
    // scd2Merge (base 'std' tiers, %3 users upgraded to 'pro' on
    // 2024-01-15, mid-way through the one-month event range), so
    // upgraded users contribute events to BOTH tiers split at the
    // upgrade date; n_users pins that (std counts every user, pro
    // only the upgraded third). The oracle constructs the same
    // two-version history directly and replays the interval join.
    Q("join_scd2_temporal",
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |hist AS (
        |  SELECT user_id, 'std' AS tier, DATE '2024-01-01' AS valid_from,
        |         CASE WHEN user_id % 3 = 0 THEN DATE '2024-01-15'
        |              ELSE DATE '2099-12-31' END AS valid_to
        |  FROM users
        |  UNION ALL
        |  SELECT user_id, 'pro', DATE '2024-01-15', DATE '2099-12-31'
        |  FROM users WHERE user_id % 3 = 0),
        |j AS (
        |  SELECT h.tier, e.user_id, e.value
        |  FROM events e JOIN hist h
        |    ON h.user_id = e.user_id
        |   AND h.valid_from <= CAST(date_trunc('day', e.ts) AS DATE)
        |   AND CAST(date_trunc('day', e.ts) AS DATE) < h.valid_to)
        |SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM j GROUP BY tier ORDER BY tier""".stripMargin) { (s, dir) =>
      val users = Tables.events(s, dir).select(col("user_id")).distinct()
      val base = users.select(
        col("user_id"), lit("std").as("tier"),
        to_date(lit("2024-01-01")).as("valid_from"),
        to_date(lit("2099-12-31")).as("valid_to"),
        lit(1).as("is_current"))
      val delta = users.filter(col("user_id") % 3 === 0)
        .select(col("user_id"), lit("pro").as("tier"))
      val history = scd2Merge(base, delta, "user_id", Seq("tier"),
        to_date(lit("2024-01-15")))
      val facts = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      scd2TemporalJoin(facts, history, "user_id", "day")
        .groupBy(col("tier"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
        .orderBy(col("tier"))
    },

    // k-anonymity audit of customers under the QI (nation, segment,
    // 1000-unit balance band), k=5, reported per nation: how many QI
    // cells re-identify their members and how many rows a
    // suppression release would drop. The band keeps the cell domain
    // bounded (the audit's own contract) and the floor-of-division
    // arithmetic replays exactly.
    Q("audit_k_anonymity",
      """WITH cells AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |         COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT c_nationkey,
        |       CAST(COUNT(*) AS BIGINT) AS cells,
        |       CAST(SUM(n) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_cells,
        |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS suppressed_rows
        |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      kAnonymity(Tables.customer(s, dir),
        col("c_nationkey"),
        Seq(col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band")),
        k = 5)
        .select(col("report").as("c_nationkey"), col("cells"),
          col("n_rows"), col("risky_cells"), col("suppressed_rows"))
        .orderBy(col("c_nationkey"))
    },

    // l-diversity per (nation, segment) QI group over order priority —
    // the homogeneity-attack gate k-anonymity misses (see lDiversity);
    // distinct-l and the dominant value's µ-share, all integer.
    Q("audit_l_diversity",
      """WITH r AS (
        |  SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS sens
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, sens, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment,
        |       CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) AS BIGINT) AS l_distinct,
        |       CAST((MAX(c) * 1000000) // CAST(SUM(c) AS BIGINT) AS BIGINT) AS top_share_micro
        |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val r = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("o_orderpriority").as("sens"))
      lDiversity(r, Seq("c_nationkey", "c_mktsegment"), "sens")
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },

    // t-closeness per (nation, segment) QI group: ordered EMD between
    // the group's priority distribution and the global one, in
    // fixed-point µ-units (see tCloseness) — the skewness-attack gate
    // above l-diversity. The priority's leading digit is the ordinal.
    Q("audit_t_closeness",
      """WITH r AS (
        |  SELECT c.c_nationkey, c.c_mktsegment,
        |         CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS j
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |cells AS (
        |  SELECT c_nationkey, c_mktsegment, j, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM r GROUP BY 1, 2, 3),
        |grps AS (SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n_g
        |         FROM cells GROUP BY 1, 2),
        |dom AS (SELECT j, CAST(SUM(c) AS BIGINT) AS cj FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cj) AS BIGINT) AS n_all,
        |               CAST(COUNT(*) AS BIGINT) AS m FROM dom),
        |grid AS (
        |  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, d.j, t.m,
        |         (COALESCE(cl.c, 0) * 1000000) // g.n_g AS pg_micro,
        |         (d.cj * 1000000) // t.n_all AS p_micro
        |  FROM grps g CROSS JOIN dom d CROSS JOIN tot t
        |  LEFT JOIN cells cl ON cl.c_nationkey = g.c_nationkey
        |    AND cl.c_mktsegment = g.c_mktsegment AND cl.j = d.j),
        |cum AS (
        |  SELECT c_nationkey, c_mktsegment, n_g, m,
        |         SUM(pg_micro) OVER w AS cum_g, SUM(p_micro) OVER w AS cum
        |  FROM grid
        |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment
        |               ORDER BY j ROWS UNBOUNDED PRECEDING))
        |SELECT c_nationkey, c_mktsegment, CAST(n_g AS BIGINT) AS n_rows,
        |       CAST(CASE WHEN m > 1
        |                 THEN CAST(SUM(ABS(cum_g - cum)) AS BIGINT) // (m - 1)
        |                 ELSE 0 END AS BIGINT) AS emd_micro
        |FROM cum GROUP BY c_nationkey, c_mktsegment, n_g, m
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val r = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"),
          substring(col("o_orderpriority"), 1, 1).cast("long").as("j"))
      tCloseness(r, Seq("c_nationkey", "c_mktsegment"), "j")
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },

    // Equi-depth histogram of lineitem quantity (NDV 50) in 8 depth
    // buckets: per-value counts, the NDV-sized prefix sum, and the
    // start·B div n bucket arithmetic all replay exactly — every
    // bucket boundary and count hash-pinned.
    Q("stats_histogram_eqdepth",
      """WITH bv AS (SELECT l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS cnt
        |            FROM lineitem GROUP BY 1),
        |c AS (SELECT v, cnt,
        |             SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM bv),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem)
        |SELECT CAST(((cum - cnt) * 8) // n AS INTEGER) AS bucket,
        |       MIN(v) AS lo, MAX(v) AS hi,
        |       CAST(SUM(cnt) AS BIGINT) AS n_rows
        |FROM c CROSS JOIN n GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      equiDepthHistogram(Tables.lineitem(s, dir), "l_quantity", buckets = 8)
        .orderBy(col("bucket"))
    },

    // Robust outlier profile of order totals per priority class:
    // med/MAD are DISCRETE quantiles (actual data elements — both
    // engines compare identical doubles, so the flagged SET is pinned,
    // not just the rounded summary row). Every 997th order's price is
    // planted ×50 in-query (same correctly-rounded multiply in both
    // engines) so the flagging path is exercised, not vacuous — the
    // synthetic totals are too uniform to produce natural 3-MAD
    // outliers, and the medians barely move (~0.1% of rows planted),
    // which is the point of robust stats.
    Q("audit_outliers_mad",
      """WITH src AS (
        |  SELECT o_orderpriority,
        |         CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice * 50
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |med AS (
        |  SELECT o_orderpriority AS g, quantile_disc(o_totalprice, 0.5) AS med
        |  FROM src GROUP BY 1),
        |dev AS (
        |  SELECT o.o_orderpriority AS g, abs(o.o_totalprice - m.med) AS adev, m.med
        |  FROM src o JOIN med m ON o.o_orderpriority = m.g),
        |stats AS (
        |  SELECT g, quantile_disc(adev, 0.5) AS mad, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM dev GROUP BY g)
        |SELECT d.g AS o_orderpriority,
        |       ROUND(MIN(d.med), 6) + 0 AS med,
        |       ROUND(MIN(s.mad), 6) + 0 AS mad,
        |       MIN(s.n) AS n,
        |       CAST(SUM(CASE WHEN d.adev > s.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       ROUND(SUM(CASE WHEN d.adev > s.mad * 3 THEN 1 ELSE 0 END) * 1.0 / MIN(s.n), 6) + 0
        |         AS outlier_frac
        |FROM dev d JOIN stats s USING (g)
        |GROUP BY d.g ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      madOutliers(
        Tables.orders(s, dir).select(
          col("o_orderpriority"),
          when(col("o_orderkey") % 997 === 0, col("o_totalprice") * 50)
            .otherwise(col("o_totalprice")).as("o_totalprice")),
        "o_orderpriority", "o_totalprice", k = 3)
        .orderBy(col("o_orderpriority"))
    },

    // Winsorized robust aggregate — the ACTING form of the outlier
    // profile above (MAD reports the tails; winsorization neutralizes
    // them so downstream means/sums are robust without dropping rows —
    // the standard pre-normalization step before feature scaling).
    // Cutoffs are DISCRETE per-group quantiles (exact_quantile ≡
    // DuckDB quantile_disc — actual data elements, no interpolation),
    // so the clamped value of every row is one of three ORIGINAL
    // doubles and the decimal sum is exact cross-engine. Same planted
    // ×50 spikes as audit_outliers_mad so the clamp path is exercised.
    // Scale shape: cutoff frame is group-domain-bounded → broadcast
    // back, clamp + sum is one map-side pass + one keyed aggregate.
    Q("audit_winsorized_stats",
      """WITH src AS (
        |  SELECT o_orderpriority AS g,
        |         CASE WHEN o_orderkey % 997 = 0 THEN o_totalprice * 50
        |              ELSE o_totalprice END AS v
        |  FROM orders),
        |cuts AS (
        |  SELECT g, quantile_disc(v, 0.01) AS lo_cut, quantile_disc(v, 0.99) AS hi_cut
        |  FROM src GROUP BY g)
        |SELECT s.g AS o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(MIN(c.lo_cut), 6) + 0 AS lo_cut,
        |       ROUND(MIN(c.hi_cut), 6) + 0 AS hi_cut,
        |       CAST(SUM(CAST(CASE WHEN s.v < c.lo_cut THEN c.lo_cut
        |                          WHEN s.v > c.hi_cut THEN c.hi_cut
        |                          ELSE s.v END AS DECIMAL(30,6))) AS DOUBLE) AS sum_winsorized,
        |       CAST(SUM(CASE WHEN s.v < c.lo_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
        |       CAST(SUM(CASE WHEN s.v > c.hi_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi
        |FROM src s JOIN cuts c USING (g)
        |GROUP BY s.g ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      winsorizedStats(Tables.orders(s, dir).select(
        col("o_orderpriority").as("g"),
        when(col("o_orderkey") % 997 === 0, col("o_totalprice") * 50)
          .otherwise(col("o_totalprice")).as("v")))
        .select(col("g").as("o_orderpriority"), col("n"), col("lo_cut"), col("hi_cut"),
          col("sum_winsorized"), col("n_clamped_lo"), col("n_clamped_hi"))
        .orderBy(col("o_orderpriority"))
    },

    // Two-sample Kolmogorov–Smirnov drift test — THE nonparametric
    // distribution-shift check an ML pipeline runs between a training
    // slice and a serving slice before trusting a model. Float CDFs
    // would make D engine-dependent near ties, so D is computed as an
    // INTEGER: max over the merged distinct-value grid of
    // |c1(v)·n2 − c2(v)·n1| (cross-multiplied cumulative counts), the
    // float division deferred to the final displayed statistic. The
    // cumulative window runs over the per-value COLLAPSED grid
    // (value-domain, not data-sized); `ks_at` reports the smallest
    // value achieving the max. Sides here: A-flag vs R-flag prices —
    // same generator, so the truthful answer is "no drift" (small D);
    // the boundary fixtures in RelationalSpec pin D = 1 (disjoint) and
    // D = 0 (identical).
    Q("audit_ks_drift",
      """WITH s AS (
        |  SELECT l_extendedprice AS v,
        |         CASE WHEN l_returnflag = 'A' THEN 1 ELSE 2 END AS side
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |bv AS (
        |  SELECT v,
        |         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS a1,
        |         SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS a2
        |  FROM s GROUP BY v),
        |c AS (
        |  SELECT v,
        |         SUM(a1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
        |         SUM(a2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
        |  FROM bv),
        |t AS (
        |  SELECT SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n1,
        |         SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS n2
        |  FROM s),
        |d AS (SELECT v, abs(c1 * t.n2 - c2 * t.n1) AS dnum, t.n1, t.n2 FROM c, t),
        |m AS (SELECT MIN(n1) AS n1, MIN(n2) AS n2, MAX(dnum) AS d_num FROM d)
        |SELECT CAST(m.n1 AS BIGINT) AS n1, CAST(m.n2 AS BIGINT) AS n2,
        |       CAST(m.d_num AS BIGINT) AS d_num,
        |       ROUND(CAST(m.d_num AS DOUBLE) / CAST(m.n1 * m.n2 AS DOUBLE), 6) + 0 AS ks_stat,
        |       (SELECT MIN(v) FROM d WHERE d.dnum = m.d_num) AS ks_at
        |FROM m""".stripMargin) { (s, dir) =>
      ksDrift(Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_extendedprice").as("v"),
          when(col("l_returnflag") === "A", 1).otherwise(2).as("side")))
    },

    // The bucketed KS form — the 100 TB path when the tested column is
    // continuous (near-all-distinct): 64 equi-width buckets bound the
    // CDF grid regardless of NDV, the bucketed D lower-bounds the true
    // D at bucket resolution, and the bucket arithmetic (one subtract,
    // one divide, one multiply, floor — pure IEEE) replays identically
    // in DuckDB so even the APPROXIMATE form stays hash-exact.
    // RelationalSpec pins bucketed ≤ exact and equality when buckets
    // dominate NDV.
    Q("audit_ks_drift_bucketed",
      """WITH s0 AS (
        |  SELECT l_extendedprice AS v,
        |         CASE WHEN l_returnflag = 'A' THEN 1 ELSE 2 END AS side
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM s0),
        |s AS (
        |  SELECT CAST(CASE WHEN b.hi = b.lo THEN 0
        |              ELSE least(floor(((s0.v - b.lo) / (b.hi - b.lo)) * 64), 63)
        |         END AS DOUBLE) AS v,
        |         side
        |  FROM s0, bounds b),
        |bv AS (
        |  SELECT v,
        |         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS a1,
        |         SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS a2
        |  FROM s GROUP BY v),
        |c AS (
        |  SELECT v,
        |         SUM(a1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
        |         SUM(a2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
        |  FROM bv),
        |t AS (
        |  SELECT SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n1,
        |         SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS n2
        |  FROM s),
        |d AS (SELECT v, abs(c1 * t.n2 - c2 * t.n1) AS dnum, t.n1, t.n2 FROM c, t),
        |m AS (SELECT MIN(n1) AS n1, MIN(n2) AS n2, MAX(dnum) AS d_num FROM d)
        |SELECT CAST(m.n1 AS BIGINT) AS n1, CAST(m.n2 AS BIGINT) AS n2,
        |       CAST(m.d_num AS BIGINT) AS d_num,
        |       ROUND(CAST(m.d_num AS DOUBLE) / CAST(m.n1 * m.n2 AS DOUBLE), 6) + 0 AS ks_stat,
        |       CAST((SELECT MIN(v) FROM d WHERE d.dnum = m.d_num) AS BIGINT) AS ks_at_bucket
        |FROM m""".stripMargin) { (s, dir) =>
      ksDriftBucketed(Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_extendedprice").as("v"),
          when(col("l_returnflag") === "A", 1).otherwise(2).as("side")),
        nBuckets = 64)
    },

    // Approximate functional dependency source → lang over documents
    // (see fdAudit's scaladoc): does a document's source determine
    // its language, and how many rows break it — per source the
    // majority language (deterministic tiebreak) and the
    // minimum-repair violation count. The multilingual corpus makes
    // the truthful answer "violated", which is the point of an FD
    // PROFILER (a checker would just say no).
    Q("audit_functional_dependency",
      """WITH pc AS (
        |  SELECT source AS a, lang AS b, COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |r AS (
        |  SELECT a, b, c,
        |         ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, b) AS rn
        |  FROM pc)
        |SELECT a AS source,
        |       CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(COUNT(*) AS BIGINT) AS n_distinct_b,
        |       MAX(CASE WHEN rn = 1 THEN b END) AS majority_b,
        |       CAST(SUM(c) - MAX(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS n_violations
        |FROM r GROUP BY a ORDER BY a""".stripMargin) { (s, dir) =>
      fdAudit(Tables.documents(s, dir)
        .select(col("source").as("a"), col("lang").as("b")))
        .withColumnRenamed("a", "source")
    },

    // Benford first-digit screen on event values (see benfordAudit's
    // scaladoc): per-digit observed vs log10(1+1/d) expectation plus
    // chi-square. The synthetic uniform generator honestly FAILS
    // Benford — the audit reports the deviation it exists to catch;
    // RelationalSpec pins a multiplicative fixture conforming and
    // the uniform one failing.
    Q("audit_benford",
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM events WHERE value >= 1),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
        |g AS (SELECT CAST(t.digit AS INT) AS digit FROM range(1, 10) t(digit)),
        |f AS (SELECT g.digit, COALESCE(c.n, 0) AS n FROM g LEFT JOIN c USING (digit)),
        |t AS (SELECT SUM(n) AS n_total FROM f),
        |x AS (
        |  SELECT f.digit, f.n, t.n_total,
        |         LN(1.0 + 1.0 / f.digit) / LN(10.0) AS pb,
        |         f.n - t.n_total * (LN(1.0 + 1.0 / f.digit) / LN(10.0)) AS dev,
        |         t.n_total * (LN(1.0 + 1.0 / f.digit) / LN(10.0)) AS expected
        |  FROM f, t)
        |SELECT digit,
        |       CAST(n AS BIGINT) AS n,
        |       ROUND(pb, 6) + 0 AS p_benford,
        |       CASE WHEN n_total > 0 THEN ROUND(n / CAST(n_total AS DOUBLE), 6) + 0
        |            ELSE 0 END AS p_observed,
        |       CAST(SUM(CASE WHEN n_total > 0
        |                     THEN CAST(ROUND(dev * dev / expected, 6) + 0 AS DECIMAL(18,6))
        |                     ELSE CAST(0 AS DECIMAL(18,6)) END) OVER () AS DOUBLE) AS chi_square
        |FROM x ORDER BY digit""".stripMargin) { (s, dir) =>
      benfordAudit(Tables.events(s, dir).select(col("value").as("v")))
    },

    // PSI drift — the bucket-integrated companion to the KS pair
    // (see psiDrift's scaladoc): early orders (pre-1998) as the
    // baseline population vs late orders as current, over
    // o_totalprice in 32 equi-width buckets. Same generator both
    // sides, so the truthful answer is "stable" (PSI near 0);
    // RelationalSpec pins a planted-shift fixture high and an
    // identical-sides fixture at exactly 0.
    Q("audit_psi_drift",
      """WITH s0 AS (
        |  SELECT o_totalprice AS v,
        |         CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |              THEN 1 ELSE 2 END AS side
        |  FROM orders),
        |bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM s0),
        |c AS (
        |  SELECT CASE WHEN b.hi = b.lo THEN 0
        |              ELSE least(floor(((s0.v - b.lo) / (b.hi - b.lo)) * 32), 31)
        |         END AS bk,
        |         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n1b,
        |         SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS n2b
        |  FROM s0, bounds b GROUP BY 1),
        |g AS (SELECT t.bucket FROM range(32) t(bucket)),
        |f AS (
        |  SELECT g.bucket, COALESCE(c.n1b, 0) AS n1b, COALESCE(c.n2b, 0) AS n2b
        |  FROM g LEFT JOIN c ON c.bk = g.bucket),
        |t AS (SELECT SUM(n1b) AS n1, SUM(n2b) AS n2 FROM f),
        |x AS (
        |  SELECT f.bucket, f.n1b, f.n2b,
        |         ROUND(((f.n2b + 1) / (t.n2 + 32.0) - (f.n1b + 1) / (t.n1 + 32.0)) *
        |               CAST(CAST(ROUND(LN(CAST(f.n2b + 1 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                  - CAST(ROUND(LN(CAST(t.n2 + 32 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                  - CAST(ROUND(LN(CAST(f.n1b + 1 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                  + CAST(ROUND(LN(CAST(t.n1 + 32 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                 AS DOUBLE), 6) + 0 AS contrib
        |  FROM f, t)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(n1b AS BIGINT) AS n_base,
        |       CAST(n2b AS BIGINT) AS n_curr,
        |       contrib AS psi_contrib,
        |       CAST(SUM(CAST(contrib AS DECIMAL(18,6))) OVER () AS DOUBLE) AS psi_total
        |FROM x ORDER BY bucket""".stripMargin) { (s, dir) =>
      psiDrift(Tables.orders(s, dir)
        .select(col("o_totalprice").as("v"),
          when(col("o_orderdate").cast("date") < lit("1998-01-01"), 1)
            .otherwise(2).as("side")),
        nBuckets = 32)
    },

    // Per-feature PSI drift table (see psiDriftByFeature's scaladoc):
    // the whole-feature-table screen in one pass — lineitem's three
    // numeric features unpivoted map-side, early ship-dates as the
    // baseline vs late as current, 16 buckets per feature on each
    // feature's own range. Same generator both sides → truthful
    // "stable" rows; RelationalSpec pins a one-feature-shifted
    // fixture flagging ONLY that feature.
    Q("audit_psi_by_feature",
      """WITH s0 AS (
        |  SELECT m.f, m.v,
        |         CASE WHEN CAST(m.sd AS DATE) < DATE '1998-01-01' THEN 1 ELSE 2 END AS side
        |  FROM (
        |    SELECT 'discount' AS f, l_discount AS v, l_shipdate AS sd FROM lineitem
        |    UNION ALL
        |    SELECT 'extendedprice', l_extendedprice, l_shipdate FROM lineitem
        |    UNION ALL
        |    SELECT 'quantity', l_quantity, l_shipdate FROM lineitem) m),
        |bounds AS (SELECT f, MIN(v) AS lo, MAX(v) AS hi FROM s0 GROUP BY f),
        |c AS (
        |  SELECT s0.f,
        |         CASE WHEN b.hi = b.lo THEN 0
        |              ELSE least(floor(((s0.v - b.lo) / (b.hi - b.lo)) * 16), 15)
        |         END AS bk,
        |         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n1b,
        |         SUM(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS n2b
        |  FROM s0 JOIN bounds b USING (f) GROUP BY 1, 2),
        |g AS (SELECT b.f, t.bucket FROM bounds b CROSS JOIN range(16) t(bucket)),
        |fz AS (
        |  SELECT g.f, g.bucket, COALESCE(c.n1b, 0) AS n1b, COALESCE(c.n2b, 0) AS n2b
        |  FROM g LEFT JOIN c ON c.f = g.f AND c.bk = g.bucket),
        |t AS (SELECT f, SUM(n1b) AS n1, SUM(n2b) AS n2 FROM fz GROUP BY f),
        |x AS (
        |  SELECT fz.f, fz.bucket, fz.n1b, fz.n2b,
        |         ROUND(((fz.n2b + 1) / (t.n2 + 16.0) - (fz.n1b + 1) / (t.n1 + 16.0)) *
        |               CAST(CAST(ROUND(LN(CAST(fz.n2b + 1 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                  - CAST(ROUND(LN(CAST(t.n2 + 16 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                  - CAST(ROUND(LN(CAST(fz.n1b + 1 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                  + CAST(ROUND(LN(CAST(t.n1 + 16 AS DOUBLE)), 12) AS DECIMAL(20,12))
        |                 AS DOUBLE), 6) + 0 AS contrib
        |  FROM fz JOIN t USING (f))
        |SELECT f AS feature,
        |       CAST(bucket AS BIGINT) AS bucket,
        |       CAST(n1b AS BIGINT) AS n_base,
        |       CAST(n2b AS BIGINT) AS n_curr,
        |       contrib AS psi_contrib,
        |       CAST(SUM(CAST(contrib AS DECIMAL(18,6))) OVER (PARTITION BY f) AS DOUBLE)
        |         AS psi_total
        |FROM x ORDER BY feature, bucket""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_discount"), col("l_extendedprice"), col("l_quantity"),
          col("l_shipdate"))
        .withColumn("side",
          when(col("l_shipdate").cast("date") < lit("1998-01-01"), 1).otherwise(2))
      val long = li.unpivot(
        ids = Array(col("side")),
        values = Array(col("l_discount").as("discount"),
          col("l_extendedprice").as("extendedprice"),
          col("l_quantity").as("quantity")),
        variableColumnName = "f",
        valueColumnName = "v")
      psiDriftByFeature(long.select(col("f"), col("v"), col("side")), nBuckets = 16)
    },

    // EXACT ROC-AUC — the model-eval primitive (Mann–Whitney U) in
    // pure integer arithmetic, making "how discriminative is this
    // score" a driver-checked number instead of an MLlib-internal
    // rows-only metric (M3's PR-AUC evaluator stays for training; this
    // is the oracle-pinned complement on the deterministic score
    // surface). Average-rank tie handling is exact by construction:
    // 2·Σranks(pos) = Σ_v pv·(2·start_v + nv + 1) over distinct
    // scores. On random values vs error labels the truthful AUC ≈ 0.5;
    // RelationalSpec pins separated (1.0) and all-tied (exactly 0.5)
    // fixtures.
    Q("ml_auc_exact",
      """WITH s AS (
        |  SELECT value AS score,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |bv AS (SELECT score, COUNT(*) AS nv, SUM(label) AS pv FROM s GROUP BY score),
        |c AS (
        |  SELECT score, nv, pv,
        |         COALESCE(SUM(nv) OVER (ORDER BY score
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                  0) AS start
        |  FROM bv),
        |a AS (
        |  SELECT SUM(pv * (2 * start + nv + 1)) AS two_rank_sum,
        |         SUM(pv) AS n_pos, SUM(nv) AS n
        |  FROM c)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos,
        |       CAST(n - n_pos AS BIGINT) AS n_neg,
        |       CAST(two_rank_sum - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
        |       ROUND(CAST(two_rank_sum - n_pos * (n_pos + 1) AS DOUBLE)
        |             / CAST(2 * n_pos * (n - n_pos) AS DOUBLE), 6) + 0 AS auc
        |FROM a""".stripMargin) { (s, dir) =>
      exactAuc(Tables.events(s, dir)
        .select(col("value").as("score"),
          when(col("event_type") === "error", 1).otherwise(0).as("label")))
    },

    // TTL / retention sweep (r10 s4): the compliance primitive every
    // production lake runs — which rows are past their retention
    // window, bucketed by day, plus the survivor count the DELETE
    // would leave. The TTL anchor is the CORPUS max timestamp (the
    // RFM anchor-day idiom — wall-clock now() would make the result
    // time-dependent and unhashable); expiry is a pure row predicate
    // (age > 20 days), so at 100 TB the sweep is scan + map-side
    // flag + day-bounded rollup, and the deletion itself is the
    // partition-level drop this report drives (day-partitioned
    // layout ⇒ expired days drop as whole partitions, never a
    // row-level rewrite).
    Q("audit_ttl_sweep",
      """WITH anchor AS (SELECT MAX(ts) AS mx FROM events),
        |flagged AS (
        |  SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
        |         CASE WHEN e.ts < a.mx - INTERVAL 20 DAY THEN 1 ELSE 0 END AS expired
        |  FROM events e CROSS JOIN anchor a)
        |SELECT day,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(expired) AS BIGINT) AS n_expired,
        |       CAST(SUM(1 - expired) AS BIGINT) AS n_retained
        |FROM flagged
        |GROUP BY day
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("ts"))
      val anchor = ev.agg(max(col("ts")).as("mx"))
      ev.crossJoin(broadcast(anchor))
        .select(to_date(col("ts")).as("day"),
          when(col("ts") < col("mx") - expr("INTERVAL 20 DAY"), 1)
            .otherwise(0).as("expired"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("expired")).cast("long").as("n_expired"),
          sum(lit(1) - col("expired")).cast("long").as("n_retained"))
        .orderBy(col("day"))
    },

    // Per-fold exact AUC (r10 s4) — the cross-validation readout the
    // pooled ml_auc_exact hides: the SAME md5 user-fold assignment as
    // ml_group_kfold (an entity's rows never straddle folds), rank
    // windows partitioned by fold, every fold's Mann–Whitney AUC in
    // exact integer arithmetic with one final divide. Fold-to-fold
    // spread here IS the variance estimate a single pooled AUC
    // cannot give.
    Q("ml_cv_auc_per_fold",
      """WITH s AS (
        |  SELECT value AS score,
        |         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label,
        |         CAST(concat('0x', substr(md5('fold:' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
        |  FROM events),
        |bv AS (SELECT fold, score, COUNT(*) AS nv, SUM(label) AS pv
        |       FROM s GROUP BY 1, 2),
        |c AS (
        |  SELECT fold, score, nv, pv,
        |         COALESCE(SUM(nv) OVER (PARTITION BY fold ORDER BY score
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                  0) AS start
        |  FROM bv),
        |a AS (
        |  SELECT fold, SUM(pv * (2 * start + nv + 1)) AS two_rank_sum,
        |         SUM(pv) AS n_pos, SUM(nv) AS n
        |  FROM c GROUP BY 1)
        |SELECT fold,
        |       CAST(n_pos AS BIGINT) AS n_pos,
        |       CAST(n - n_pos AS BIGINT) AS n_neg,
        |       ROUND(CAST(two_rank_sum - n_pos * (n_pos + 1) AS DOUBLE)
        |             / CAST(2 * n_pos * (n - n_pos) AS DOUBLE), 6) + 0 AS auc
        |FROM a ORDER BY fold""".stripMargin) { (s, dir) =>
      exactAucByFold(Tables.events(s, dir)
        .select(col("value").as("score"),
          when(col("event_type") === "error", 1).otherwise(0).as("label"),
          (conv(substring(md5(concat(lit("fold:"),
            col("user_id").cast("string"))), 1, 8), 16, 10).cast("long") % 5)
            .as("fold")))
    },

    // Referential-integrity audit over the star schema — the FK-orphan
    // report a warehouse runs before trusting any join (an orphan FK
    // silently DROPS rows from every inner join downstream; the audit
    // quantifies that loss per edge). Each edge is one left-outer join
    // to the dim's unique key with total+orphan counts in a single
    // pass — small dims broadcast, the fact-fact edge shuffles on the
    // key. The synthetic star is referentially clean (all-zero rows
    // are themselves the audit's finding), so one extra edge joins to
    // a DEGRADED orders slice (every 1000th key dropped in-query) to
    // keep the orphan-counting path exercised and non-vacuous.
    Q("audit_referential_integrity",
      """SELECT 'customer.c_nationkey->nation' AS edge,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
        |       ROUND(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0 AS orphan_frac
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders[degraded]', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM lineitem l LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 1000 != 0) o
        |  ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |UNION ALL
        |SELECT 'nation.n_regionkey->region', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |UNION ALL
        |SELECT 'orders.o_custkey->customer', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'supplier.s_nationkey->nation', CAST(COUNT(*) AS BIGINT),
        |       CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       ROUND(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) + 0
        |FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY edge""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val n = Tables.nation(s, dir)
      fkOrphans(Tables.customer(s, dir), "c_nationkey", n, "n_nationkey",
          "customer.c_nationkey->nation", bcast = true)
        .unionByName(fkOrphans(li, "l_orderkey", o, "o_orderkey",
          "lineitem.l_orderkey->orders", bcast = false))
        .unionByName(fkOrphans(li, "l_orderkey",
          o.filter(col("o_orderkey") % 1000 =!= 0), "o_orderkey",
          "lineitem.l_orderkey->orders[degraded]", bcast = false))
        .unionByName(fkOrphans(li, "l_partkey", Tables.part(s, dir), "p_partkey",
          "lineitem.l_partkey->part", bcast = true))
        .unionByName(fkOrphans(li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey",
          "lineitem.l_suppkey->supplier", bcast = true))
        .unionByName(fkOrphans(n, "n_regionkey", Tables.region(s, dir), "r_regionkey",
          "nation.n_regionkey->region", bcast = true))
        .unionByName(fkOrphans(o, "o_custkey", Tables.customer(s, dir), "c_custkey",
          "orders.o_custkey->customer", bcast = true))
        .unionByName(fkOrphans(Tables.supplier(s, dir), "s_nationkey", n, "n_nationkey",
          "supplier.s_nationkey->nation", bcast = true))
        .orderBy(col("edge"))
    })

  /** One FK edge of the referential-integrity audit: fact rows joined
    * left-outer to the dim's primary key (unique, so no fanout), total
    * and orphan counts in ONE pass. Small dims broadcast; the big-dim
    * edges shuffle on the key — the right plan either way. */
  def fkOrphans(
      fact: DataFrame, fk: String, dim: DataFrame, pk: String,
      edge: String, bcast: Boolean): DataFrame = {
    val d = dim.select(col(pk).as("_pk"))
    val dimSide = if (bcast) broadcast(d) else d
    fact.select(col(fk).as("_fk"))
      .join(dimSide, col("_fk") === col("_pk"), "left_outer")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("_pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(
        lit(edge).as("edge"), col("n_rows"), col("n_orphans"),
        (round(col("n_orphans") * lit(1.0) / col("n_rows"), 6) + lit(0.0))
          .as("orphan_frac"))
  }

  /** Two-sample Kolmogorov–Smirnov distance over a (v, side) frame
    * (side ∈ {1, 2}): D = max_v |F1(v) − F2(v)|, computed EXACTLY as
    * max |c1(v)·n2 − c2(v)·n1| over the merged distinct-value grid
    * (integer numerator — no float CDFs), plus the smallest v
    * achieving it. See the `audit_ks_drift` declaration. */
  def ksDrift(df: DataFrame): DataFrame = {
    val byV = df.groupBy(col("v"))
      .agg(
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("a1"),
        sum(when(col("side") === 2, 1L).otherwise(0L)).as("a2"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byV
      .withColumn("c1", sum(col("a1")).over(w))
      .withColumn("c2", sum(col("a2")).over(w))
    val tot = df.agg(
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("side") === 2, 1L).otherwise(0L)).as("n2"))
      .withColumn("k", lit(1))
    val d = cum.withColumn("k", lit(1)).join(broadcast(tot), "k")
      .withColumn("dnum", abs(col("c1") * col("n2") - col("c2") * col("n1")))
    // Global (ungrouped) aggregates so the shape is ONE row even on an
    // empty input frame — the SQL oracle's aggregate CTE yields one row
    // of NULLs there, and a groupBy spine would yield zero (ADVICE r9).
    // `tot` (always one row) carries n1/n2; values are unchanged on
    // non-empty input because tot is a single row either way.
    val mx = d.agg(max(col("dnum")).as("d_num")).withColumn("k", lit(1))
    val at = d.join(broadcast(mx), "k")
      .filter(col("dnum") === col("d_num"))
      .agg(min(col("v")).as("ks_at"))
      .withColumn("k", lit(1))
    tot.join(broadcast(mx), "k").join(broadcast(at), "k")
      .select(col("n1"), col("n2"), col("d_num"),
        (round(col("d_num") / (col("n1") * col("n2")).cast("double"), 6) + lit(0.0))
          .as("ks_stat"),
        col("ks_at"))
  }

  /** Bucketed KS for the continuous/high-NDV regime (ADVICE r9): on a
    * column whose values are nearly all distinct, [[ksDrift]]'s
    * distinct-value grid is data-sized and its global cumulative
    * window becomes a single-partition sort. Equi-width bucketing
    * bounds the grid at `nBuckets` regardless of NDV — D over the
    * bucketed CDF LOWER-bounds the true D with bucket-width
    * resolution (both engines replay the identical IEEE bucket
    * arithmetic, so the bucketed answer is still hash-exact). */
  def ksDriftBucketed(df: DataFrame, nBuckets: Int): DataFrame = {
    val bounds = df.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("k", lit(1))
    val bucketed = df.withColumn("k", lit(1)).join(broadcast(bounds), "k")
      .withColumn("bk",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(
            floor(((col("v") - col("lo")) / (col("hi") - col("lo"))) * nBuckets),
            lit(nBuckets - 1L)).cast("long")))
      .select(col("bk").cast("double").as("v"), col("side"))
    ksDrift(bucketed)
      .select(col("n1"), col("n2"), col("d_num"), col("ks_stat"),
        col("ks_at").cast("long").as("ks_at_bucket"))
  }

  /** Population Stability Index over a (v, side ∈ {1,2}) frame — the
    * industry-standard "did the distribution move" monitor (model-risk
    * heritage; rule of thumb: < 0.1 stable, 0.1–0.25 watch, > 0.25
    * shifted). Complements [[ksDrift]]: KS reads the single WORST CDF
    * gap; PSI integrates log-ratio mass movement across ALL buckets,
    * so a broad small shift that never opens one big gap still
    * registers. Equi-width buckets over the combined observed range
    * (the [[ksDriftBucketed]] IEEE bucket idiom — both engines replay
    * identical arithmetic), and add-one (Laplace) smoothing — the
    * standard empty-bucket epsilon made exact and deterministic:
    * p_b = (n1_b+1)/(n1+B), q_b = (n2_b+1)/(n2+B), contribution
    * (q_b−p_b)·ln(q_b/p_b) ≥ 0. The grid is generated 0..B−1 so
    * buckets empty on both sides still carry their smoothing-prior
    * term (and the empty-INPUT shape is the same B rows, PSI = 0 —
    * no empty-frame divergence, the ksDrift ADVICE lesson).
    *
    * Shape for scale: one bounds aggregate (1-row broadcast), one
    * bucket-keyed count aggregate (grid is B rows regardless of
    * data), everything after runs on the bounded grid. Determinism:
    * identical IEEE expression order cross-engine, and the
    * log-ratio follows the bigram-LM convention — ln(q/p) expands to
    * four INTEGER-argument ln terms (ln(n2b+1) − ln(n2+B) −
    * ln(n1b+1) + ln(n1+B)), each 12-dp rounded into DECIMAL and
    * combined exactly, so libm only ever sees bit-identical integer
    * arguments and a 1-ulp divergence must land within an ulp of a
    * 12-dp boundary on one of ≤ 2B+2 distinct integers to flip
    * anything (r10 this was ln of a computed double quotient —
    * per-bucket exposure); psi_total sums the ROUNDED contributions
    * in DECIMAL over the grid, so addition order cannot matter. */
  /** ln of an INTEGER-valued column, 12-dp rounded into exact
    * DECIMAL(20,12) — the bigram-LM determinism convention: libm only
    * sees bit-identical integer arguments, and everything downstream
    * of the rounding is exact decimal arithmetic. */
  private def ln12(c: Column): Column =
    round(log(c.cast("double")), 12).cast("decimal(20,12)")

  def psiDrift(df: DataFrame, nBuckets: Int): DataFrame = {
    val bounds = df.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .withColumn("k", lit(1))
    val counts = df.withColumn("k", lit(1)).join(broadcast(bounds), "k")
      .withColumn("bk",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(
            floor(((col("v") - col("lo")) / (col("hi") - col("lo"))) * nBuckets),
            lit(nBuckets - 1L)).cast("long")))
      .groupBy(col("bk"))
      .agg(
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n1b"),
        sum(when(col("side") === 2, 1L).otherwise(0L)).as("n2b"))
    val grid = df.sparkSession.range(nBuckets).select(col("id").as("bucket"))
    val full = grid.join(counts, col("bucket") === col("bk"), "left_outer")
      .select(col("bucket"),
        coalesce(col("n1b"), lit(0L)).as("n1b"),
        coalesce(col("n2b"), lit(0L)).as("n2b"))
    val w = Window.partitionBy()
    full
      .withColumn("n1", sum(col("n1b")).over(w))
      .withColumn("n2", sum(col("n2b")).over(w))
      .withColumn("p",
        (col("n1b") + 1).cast("double") / (col("n1") + nBuckets).cast("double"))
      .withColumn("q",
        (col("n2b") + 1).cast("double") / (col("n2") + nBuckets).cast("double"))
      .withColumn("lnr",
        (ln12(col("n2b") + 1) - ln12(col("n2") + nBuckets)
          - ln12(col("n1b") + 1) + ln12(col("n1") + nBuckets)).cast("double"))
      .withColumn("contrib",
        round((col("q") - col("p")) * col("lnr"), 6) + lit(0.0))
      .select(col("bucket"), col("n1b").as("n_base"), col("n2b").as("n_curr"),
        col("contrib").as("psi_contrib"),
        sum(col("contrib").cast("decimal(18,6)")).over(w)
          .cast("double").as("psi_total"))
      .orderBy(col("bucket"))
  }

  /** Approximate functional-dependency audit A→B over a (a, b) frame
    * — the profiling question "does column A determine column B, and
    * if not, how broken is it": per determinant value, the majority
    * consequent (mode with a deterministic (count DESC, value) ASC
    * tiebreak) and the g3-style violation count = rows that would
    * need repair to make the FD hold exactly (Kivinen–Mannila's
    * minimum-deletion error measure). All integer arithmetic.
    *
    * Shape for scale: one (a, b) count aggregate (output bounded by
    * the observed pair domain), then ONE a-keyed window + rollup on
    * the collapsed frame — the window never sees raw rows. */
  def fdAudit(df: DataFrame): DataFrame = {
    val pairCnt = df.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    val byA = Window.partitionBy(col("a"))
      .orderBy(col("c").desc, col("b"))
    pairCnt
      .withColumn("rn", row_number().over(byA))
      .groupBy(col("a"))
      .agg(
        sum(col("c")).cast("long").as("n_rows"),
        count(lit(1)).as("n_distinct_b"),
        max(when(col("rn") === 1, col("b"))).as("majority_b"),
        (sum(col("c")) - max(when(col("rn") === 1, col("c"))))
          .cast("long").as("n_violations"))
      .orderBy(col("a"))
  }

  /** Benford first-digit audit over a positive numeric column — the
    * classic fabricated/degenerate-data screen (Newcomb 1881, Benford
    * 1938; Nigrini's forensic-accounting use): naturally-grown
    * multiplicative quantities put P(d) = log10(1+1/d) mass on first
    * significant digit d, while uniform or hand-made numbers spread
    * digits evenly. Reports per-digit observed counts vs the Benford
    * expectation and the chi-square statistic. On the synthetic
    * uniform fixture the truthful answer IS "fails Benford" — the
    * audit's job is to say so, not to pass.
    *
    * Determinism: the first digit comes from the DECIMAL STRING of
    * floor(v) as a BIGINT (truncation then int→string — both exact
    * cross-engine), never from log10/pow of the double, whose 1-ulp
    * wobble at digit boundaries would flip bucket membership; only
    * the bounded 9-row expectation/chi-square tail touches libm
    * (ROUND+0 at the edge, the tfidf precedent). Rows with v < 1
    * have no first significant digit ≥ 1 at integer resolution and
    * are excluded by the same predicate in both engines.
    *
    * Shape for scale: one map-side digit projection + one 9-bucket
    * aggregate; everything after runs on the 9-row grid. */
  def benfordAudit(df: DataFrame): DataFrame = {
    val digits = df.filter(col("v") >= 1)
      .select(substring(floor(col("v")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val grid = df.sparkSession.range(1, 10).select(col("id").cast("int").as("digit"))
    val w = Window.partitionBy()
    grid.join(counts, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("n_total", sum(col("n")).over(w))
      // ln-ratio, NOT log10: Spark lowers a log10 call differently
      // than DuckDB's native log10 (1-ulp divergence); the explicit
      // ln(x)/ln(10) lowers identically in both engines. Same reason
      // the chi term squares by multiplication instead of pow.
      .withColumn("p_benford",
        log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)))
      .withColumn("expected", col("n_total") * col("p_benford"))
      .withColumn("dev", col("n") - col("expected"))
      .select(col("digit"), col("n"),
        (round(col("p_benford"), 6) + lit(0.0)).as("p_benford"),
        when(col("n_total") > 0,
            round(col("n") / col("n_total").cast("double"), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("p_observed"),
        sum(when(col("n_total") > 0,
            round(col("dev") * col("dev") / col("expected"), 6) + lit(0.0))
          .otherwise(lit(0.0)).cast("decimal(18,6)")).over(w)
          .cast("double").as("chi_square"))
      .orderBy(col("digit"))
  }

  /** Per-FEATURE PSI drift table over a (f, v, side) frame — the
    * deployment-monitoring generalization of [[psiDrift]]: one row
    * per (feature, bucket) with the feature's own equi-width bucket
    * grid (per-feature bounds) and per-feature PSI total, so a whole
    * feature table is screened in ONE pass instead of a query per
    * column. Same Laplace smoothing, same decimal-summed rounded
    * contributions; the bucket grid is generated per feature via a
    * |features|×B cross of the bounds frame, so features empty on
    * both sides in some bucket still carry their prior term and the
    * output shape is fixed at |features|·B rows.
    *
    * Shape for scale: one per-feature bounds aggregate (broadcast —
    * |features| rows), one (f, bucket) count aggregate, and a
    * grid-bounded tail; the unpivot feeding it is map-side. */
  def psiDriftByFeature(df: DataFrame, nBuckets: Int): DataFrame = {
    val bounds = df.groupBy(col("f"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val counts = df.join(broadcast(bounds), Seq("f"))
      .withColumn("bk",
        when(col("hi") === col("lo"), lit(0L)).otherwise(
          least(
            floor(((col("v") - col("lo")) / (col("hi") - col("lo"))) * nBuckets),
            lit(nBuckets - 1L)).cast("long")))
      .groupBy(col("f"), col("bk"))
      .agg(
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("n1b"),
        sum(when(col("side") === 2, 1L).otherwise(0L)).as("n2b"))
    val grid = bounds.select(col("f"))
      .crossJoin(df.sparkSession.range(nBuckets).select(col("id").as("bucket")))
    val w = Window.partitionBy(col("f"))
    grid.join(counts, grid("f") === counts("f") && col("bucket") === col("bk"), "left_outer")
      .select(grid("f"), col("bucket"),
        coalesce(col("n1b"), lit(0L)).as("n1b"),
        coalesce(col("n2b"), lit(0L)).as("n2b"))
      .withColumn("n1", sum(col("n1b")).over(w))
      .withColumn("n2", sum(col("n2b")).over(w))
      .withColumn("p",
        (col("n1b") + 1).cast("double") / (col("n1") + nBuckets).cast("double"))
      .withColumn("q",
        (col("n2b") + 1).cast("double") / (col("n2") + nBuckets).cast("double"))
      .withColumn("lnr",
        (ln12(col("n2b") + 1) - ln12(col("n2") + nBuckets)
          - ln12(col("n1b") + 1) + ln12(col("n1") + nBuckets)).cast("double"))
      .withColumn("contrib",
        round((col("q") - col("p")) * col("lnr"), 6) + lit(0.0))
      .select(col("f").as("feature"), col("bucket"),
        col("n1b").as("n_base"), col("n2b").as("n_curr"),
        col("contrib").as("psi_contrib"),
        sum(col("contrib").cast("decimal(18,6)")).over(w)
          .cast("double").as("psi_total"))
      .orderBy(col("feature"), col("bucket"))
  }

  /** EXACT ROC-AUC over a (score, label ∈ {0,1}) frame via the
    * Mann–Whitney U statistic in pure integer arithmetic: with
    * average-rank tie handling, 2·Σ(ranks of positives) =
    * Σ_v pv·(2·start_v + nv + 1) over the distinct-score grid, and
    * AUC = (2Σ − np(np+1)) / (2·np·nn). Every term is int64; only the
    * final division is float (exact inputs < 2⁵³). See the
    * `ml_auc_exact` declaration. */
  def exactAuc(df: DataFrame): DataFrame = {
    val byV = df.groupBy(col("score"))
      .agg(count(lit(1)).as("nv"), sum(col("label").cast("long")).as("pv"))
    val w = Window.orderBy(col("score")).rowsBetween(Window.unboundedPreceding, -1)
    val cum = byV.withColumn("start", coalesce(sum(col("nv")).over(w), lit(0L)))
    cum.agg(
        sum(col("pv") * (col("start") * 2 + col("nv") + 1)).as("two_rank_sum"),
        sum(col("pv")).as("n_pos"),
        sum(col("nv")).as("n"))
      .select(
        col("n_pos").cast("long").as("n_pos"),
        (col("n") - col("n_pos")).cast("long").as("n_neg"),
        (col("two_rank_sum") - col("n_pos") * (col("n_pos") + 1)).cast("long").as("auc_num"),
        // one-class guard (the exactAucByFold contract): AUC is
        // undefined without both classes — NULL, not an ANSI
        // divide-by-zero throw on a filtered slice
        when(col("n_pos") > 0 && col("n") > col("n_pos"),
          round((col("two_rank_sum") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2L) * col("n_pos") * (col("n") - col("n_pos"))).cast("double"), 6)
            + lit(0.0))
          .as("auc"))
  }

  /** [[exactAuc]] per fold over a (score, label, fold) frame — the
    * cross-validation readout: rank windows PARTITIONED by fold, so
    * each fold's AUC is the exact Mann–Whitney statistic over only
    * its own rows (a pooled AUC hides fold variance — the thing CV
    * exists to expose). Same all-integer arithmetic; one window + two
    * aggregates, all fold-keyed. */
  def exactAucByFold(df: DataFrame): DataFrame = {
    val byV = df.groupBy(col("fold"), col("score"))
      .agg(count(lit(1)).as("nv"), sum(col("label").cast("long")).as("pv"))
    val w = Window.partitionBy(col("fold")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byV.withColumn("start", coalesce(sum(col("nv")).over(w), lit(0L)))
    cum.groupBy(col("fold"))
      .agg(
        sum(col("pv") * (col("start") * 2 + col("nv") + 1)).as("two_rank_sum"),
        sum(col("pv")).as("n_pos"),
        sum(col("nv")).as("n"))
      .select(
        col("fold"),
        col("n_pos").cast("long").as("n_pos"),
        (col("n") - col("n_pos")).cast("long").as("n_neg"),
        // one-class guard: AUC undefined when a fold has no positives
        // or no negatives — NULL, not an ANSI divide-by-zero throw
        when(col("n_pos") > 0 && col("n") > col("n_pos"),
          round((col("two_rank_sum") - col("n_pos") * (col("n_pos") + 1)).cast("double") /
            (lit(2L) * col("n_pos") * (col("n") - col("n_pos"))).cast("double"), 6)
            + lit(0.0))
          .as("auc"))
      .orderBy(col("fold"))
  }

  /** Winsorized per-group stats over a (g, v) frame: clamp v into the
    * group's discrete [p01, p99] and report the exact decimal sum plus
    * clamp counts — see the `audit_winsorized_stats` declaration. */
  def winsorizedStats(src: DataFrame): DataFrame = {
    val cuts = src.groupBy(col("g")).agg(
      graft.functions.exact_quantile(col("v"), 0.01).as("lo_cut"),
      graft.functions.exact_quantile(col("v"), 0.99).as("hi_cut"))
    src.join(broadcast(cuts), "g")
      .withColumn("wv", least(greatest(col("v"), col("lo_cut")), col("hi_cut")))
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("n"),
        (round(min(col("lo_cut")), 6) + lit(0.0)).as("lo_cut"),
        (round(min(col("hi_cut")), 6) + lit(0.0)).as("hi_cut"),
        sum(col("wv").cast("decimal(30,6)")).cast("double").as("sum_winsorized"),
        sum(when(col("v") < col("lo_cut"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("v") > col("hi_cut"), 1L).otherwise(0L)).as("n_clamped_hi"))
  }

  /** Spearman rank correlation matrix — Pearson over AVERAGE-rank
    * transforms (the tie-correct form; with heavy ties min-rank
    * Spearman is biased). Exactness: average ranks live in half-steps,
    * so the transform is the INTEGER 2·avg_rank = 2·(#smaller) + cnt
    * + 1 (scale-invariance of Pearson absorbs the 2×) and the whole
    * pipeline stays in the corrMatrix discipline. Scale-honesty: this
    * form computes ranks from the per-VALUE count frame — the rank
    * window runs over NDV rows, not data rows — so it is the right
    * plan exactly when the columns are low-cardinality (≤50 here; a
    * continuous column would need a global sort — that cost is
    * Spearman's definition, use bucketed approximate ranks at 100 TB
    * if ±ε is acceptable). Rank maps broadcast back; ONE data pass
    * for the counts, one for the moments. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val ranked = cols.foldLeft(df.select(cols.map(col): _*)) { (acc, c) =>
      val vc = df.groupBy(col(c).as(s"v_$c")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col(s"v_$c"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = vc.select(col(s"v_$c"),
        (coalesce(sum(col("cnt")).over(w), lit(0L)) * 2 + col("cnt") + 1)
          .as(s"ar2_$c"))
      acc.join(broadcast(r), acc(c) === col(s"v_$c")).drop(s"v_$c")
    }.select(cols.map(c => col(s"ar2_$c").as(c)): _*)
    corrMatrix(ranked, cols)
  }

  /** Pairwise Pearson correlations over `cols` in ONE corpus pass —
    * see the `audit_corr_matrix` declaration. All C(k,2)+2k moment
    * sums ride one aggregate; the 1-row moment frame is checkpointed
    * so each pair row is a projection, not a re-scan. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    val cs = cols.sorted
    val prs = for { i <- cs.indices; j <- (i + 1) until cs.length } yield (cs(i), cs(j))
    def dsum6(c: Column, n: String) =
      sum(c.cast("decimal(30,6)")).cast("double").as(n)
    val aggs: Seq[Column] =
      cs.map(c => dsum6(col(c), s"s_$c")) ++
      cs.map(c => dsum6(col(c) * col(c), s"ss_$c")) ++
      prs.map { case (x, y) => dsum6(col(x) * col(y), s"c_${x}_$y") }
    val m = Materialize(df.agg(count(lit(1)).as("n"), aggs: _*))
    val nD = col("n").cast("double")
    prs.map { case (x, y) =>
      // zero-variance guard: a constant column makes the denominator
      // 0.0 and ANSI-mode double division THROWS (Spark 4 default) —
      // the degenerate contract is NULL (correlation undefined), and
      // on real data the guard is a no-op (EdgeCaseSpec pins it)
      val den = sqrt((nD * col(s"ss_$x")) - (col(s"s_$x") * col(s"s_$x"))) *
        sqrt((nD * col(s"ss_$y")) - (col(s"s_$y") * col(s"s_$y")))
      val num = (nD * col(s"c_${x}_$y")) - (col(s"s_$x") * col(s"s_$y"))
      m.select(lit(x).as("x_col"), lit(y).as("y_col"), col("n"),
        when(den =!= 0.0, num / den).as("corr"))
    }.reduce(_ unionByName _)
      .orderBy(col("x_col"), col("y_col"))
  }
}
