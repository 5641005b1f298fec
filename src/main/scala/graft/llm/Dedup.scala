package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Deduplication for large-scale corpus curation over `documents`
  * (SURVEY §7.3 M4 north-star; VERDICT r1 LLM-pipeline tier 1).
  *
  * Three tiers, all shuffle-bounded — NEVER all-pairs:
  *  - exact: group by content hash, keep min id (deterministic victor;
  *    `dropDuplicates` keeps an arbitrary row and is avoided on purpose).
  *  - MinHash + banded LSH: k=12 signatures in b=4 bands × r=3; only
  *    rows agreeing on a full band ever meet in a join, so the shuffle
  *    key is (band_idx, band_hash) and comparison cost is
  *    O(candidates), not O(n²). Candidates are then verified with exact
  *    token-set Jaccard.
  *  - SimHash: 16-bit majority signature per document — near-dup
  *    detection via small hamming distance on a single BIGINT.
  *
  * All hashes derive from md5 hex prefixes (`conv(substring(md5(…),1,8))`)
  * — engine-portable, so even the LSH pipeline is DuckDB-oracle-checked
  * end-to-end (same seeds, same bands, same buckets in both engines).
  * The k minhash signatures use a Carter–Wegman affine family over ONE
  * md5 base hash per element ((a_i·h + b_i) mod p, exact 64-bit integer
  * arithmetic in both engines) — one md5 per token/gram instead of k.
  *
  * 100 TB posture: signatures are one narrow projection pass; the band
  * self-join shuffles on band hash (uniformly distributed); the verify
  * join re-fetches token sets by doc_id (hash join on the id). A hot
  * bucket (thousands of mutually-similar docs) degrades to quadratic
  * within that bucket only — mitigate with more bands/rows, not with a
  * driver-side cap.
  */
object Dedup {

  val NumHashes = 12
  val Bands = 4
  val RowsPerBand = 3
  val JaccardThreshold = 0.9

  /** Banding geometry for SEQUENCE similarity (bigram sets): 6 bands
    * × 2 minhashes. Bigram Jaccard runs much lower than token-set
    * Jaccard for the same pair (sequences differ more than
    * vocabularies), so the s-curve midpoint sits lower than the
    * 4×3 token geometry: detection ≈ 1−(1−J²)⁶ — 0.43 at J=0.3,
    * 0.82 at J=0.5, 0.998 at J=0.8 — with exact verify behind it.
    * (Declared BEFORE `defs`: the oracle SQL interpolates these at
    * object init, and Scala vals initialize in declaration order.) */
  val NgramBands = 6
  val NgramRowsPerBand = 2
  val NgramHashes: Int = NgramBands * NgramRowsPerBand

  /** 60-bit simhash geometry (round 5): the 16-bit signature below is
    * the compact sketch; HAMMING PAIRING needs a wider one — on a
    * vocabulary-dense corpus a 16-bit signature concentrates (measured
    * at sf0.01: 79% of all pairs collide in some 4-bit band). 60 bits
    * is the widest md5-prefix signature that stays a positive BIGINT
    * in both engines (15 hex chars).
    *
    * BLOCK-PERMUTED banding (round 6, Manku/Jain/Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW 2007 §3): split the 60
    * bits into 6 blocks of 10. A pair within hamming distance 3 flips
    * bits in ≤ 3 blocks, so ≥ 3 blocks agree EXACTLY — key each of
    * the C(6,3) = 20 tables on a 30-bit concatenation of one 3-block
    * combination. Still a LOSSLESS candidate filter (recall 1.0 by
    * construction, unlike probabilistic minhash/SRP banding), but the
    * per-table key space is 2^30 instead of the round-5 4×15 form's
    * 2^15 — at n = 10⁹ uniformly distributed signatures expected
    * bucket occupancy is n/2^30 ≈ 1, where the 15-bit key produced
    * ~n²/2^15 candidate pairs (quadratic blow-up past ~10⁸ docs). */
  val SimHash64Bits = 60
  val SimHashBlocks = 6
  val SimHashBlockBits: Int = SimHash64Bits / SimHashBlocks
  val MaxHamming = 3
  /** Blocks per table key: hamming ≤ MaxHamming leaves ≥ blocks−h
    * intact, so every qualifying pair agrees on some full combo. */
  val SimHashComboSize: Int = SimHashBlocks - MaxHamming
  val SimHashCombos: Seq[Seq[Int]] =
    (0 until SimHashBlocks).combinations(SimHashComboSize).map(_.toSeq).toSeq

  /** Portable 32-bit hash: first 8 hex chars of md5, as a BIGINT. */
  private def h32(c: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), c)), 1, 8), 16, 10).cast("long")
  private def h32Sql(expr: String, seed: String): String =
    s"CAST(concat('0x', substr(md5('$seed' || $expr), 1, 8)) AS BIGINT)"

  // ── Affine minhash family (round 7) ──────────────────────────────
  //
  // The k minhash signatures used to cost k md5 calls PER ELEMENT
  // (12 per token / per bigram — the dominant cost of the signature
  // stage once the LLM tier joined the bench headline). The standard
  // fix (Carter–Wegman universal hashing, the construction every
  // minhash paper assumes): ONE md5-derived 32-bit base hash h per
  // element, then k affine transforms h_i = (a_i·h + b_i) mod p over
  // a prime p — pure 64-bit integer arithmetic that is exact and
  // identical in Spark and DuckDB, so the oracle replays it verbatim.
  // a_i ∈ [1, 2^31) keeps a_i·h + b_i < 2^63 (no overflow in either
  // engine); the constants derive from the same md5 family as
  // everything else (driver-side, interpolated as literals).

  /** Largest prime below 2^32 — the affine family's modulus. */
  val MinHashPrime = 4294967291L

  /** Driver-side md5 top-32-bits (same arithmetic as `h32`). */
  private def md5Top32(seed: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
  private[graft] def mhA(fam: String, i: Int): Long =
    md5Top32(s"${fam}a$i") % ((1L << 31) - 2) + 1 // [1, 2^31-2]
  private[graft] def mhB(fam: String, i: Int): Long =
    md5Top32(s"${fam}b$i") % MinHashPrime

  /** k-signature minhash over exploded (doc_id, e) element rows: one
    * md5 per element, k affine mins in ONE partial+final aggregate
    * keyed doc_id — the shuffle carries k longs per doc (map-side
    * combined), and the md5 count drops k-fold vs the per-signature
    * transform form. Docs with no elements (null text) emit no row —
    * both engines share that rule (explode/unnest drop them). */
  private def affineSignatures(
      elems: DataFrame, fam: String, k: Int, prefix: String): DataFrame = {
    val withH = elems.withColumn("h", h32(col("e"), s"$fam:"))
    val mins = (0 until k).map(i =>
      min((col("h") * mhA(fam, i) + mhB(fam, i)) % MinHashPrime).as(s"$prefix$i"))
    withH.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** DuckDB replay of `affineSignatures` over an elements subquery
    * producing (doc_id, e). */
  private[graft] def affineSigSql(
      fam: String, k: Int, prefix: String, elemsSql: String): String =
    "SELECT doc_id, " + (0 until k).map(i =>
      s"min((h * ${mhA(fam, i)} + ${mhB(fam, i)}) % $MinHashPrime) AS $prefix$i")
      .mkString(", ") +
      s" FROM (SELECT doc_id, ${h32Sql("e", s"$fam:")} AS h FROM ($elemsSql)) GROUP BY doc_id"

  /** doc_id + distinct token set. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
  private val tokenizedSql =
    "SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents"

  /** MinHash signature columns mh0..mh{k-1} (affine family — one md5
    * per token, k affine mins; see `affineSignatures`). */
  def signatures(toks: DataFrame): DataFrame =
    affineSignatures(
      toks.select(col("doc_id"), explode(col("toks")).as("e")),
      "mh", NumHashes, "mh")
  private val signaturesSql: String =
    affineSigSql("mh", NumHashes, "mh",
      "SELECT doc_id, unnest(toks) AS e FROM toks")

  /** One row per (doc, band) straight from the text — the whole LSH
    * key derivation (gram hashing, affine minhash, per-band md5) fused
    * into ONE map-side expression (round 7): no gram rows, no exploded
    * exchange, no doc_id-keyed aggregate. `banded(signatures(…))`
    * below is the composed baseline it is pinned bit-identical to. */
  private[graft] def tokenBanded(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.minhash_band_hashes(
        col("text"), 1, "mh:",
        (0 until NumHashes).map(i => mhA("mh", i)),
        (0 until NumHashes).map(i => mhB("mh", i)),
        MinHashPrime, RowsPerBand)).as(Seq("band_idx", "band_hash")))

  /** One row per (doc, band): band hash = md5 of the band's r signature
    * values. Only full-band agreement creates a candidate. */
  def banded(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col(s"mh$i"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", cols: _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }
  private[graft] def bandedSqlFrom(sigRel: String): String =
    (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"mh$i")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', ${cols.mkString(", ")})) AS band_hash FROM $sigRel"
    }.mkString(" UNION ALL ")
  private val bandedSql: String = bandedSqlFrom("sig")

  /** Banded-LSH near-dup pairs, verified with exact Jaccard.
    *
    * `toks` is read by both verify joins and `bands` by both sides of
    * the self-join. Neither is cached: the second `toks` read is a
    * ReusedExchange, and the second `bands` read re-runs only the
    * map-only signature generator (final plan at sf0.01) — a cache
    * here outlived the call in the session CacheManager. */
  // NOTE (round-4 measurement): a fused native Generator for
  // signatures→banding (one token pass, à la WinnowGenerator) was
  // prototyped and REJECTED — parity held but no speedup (20.7 s vs
  // 19.2 s at sf0.1, measured while `toks` was persisted, so projection
  // collapsing never re-ran the tokenizer), the md5 calls
  // dominate both forms equally, and the query's real cost is the
  // degenerate-corpus verify join. The winnow fusion won because its
  // composed form paid an exchange + sort + distinct; this one
  // wouldn't have.
  def nearDupPairs(docs: DataFrame, threshold: Double = JaccardThreshold): DataFrame = {
    val toks = tokenized(docs)
    val bands = tokenBanded(docs)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // fused native expression: one hash-probe pass, no intersection
    // array materialization (same value as the list_intersect oracle —
    // both inputs are distinct sets)
    cand
      .join(toks.select(col("doc_id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("jaccard",
        round(graft.functions.jaccard_similarity(col("ta"), col("tb")), 6) + lit(0.0))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Truth-candidate pairs for [[minhashRecall]]: probe×corpus pairs
    * sharing at least one RARE token (corpus document frequency ≤
    * `maxDf` — the winnow-containment stop-list, ADVICE r9). Without
    * the stop-list a single universal token costs \|probes\|·N join
    * rows; with it the join is ≤ maxDf·Σ_probe \|toks\| rows, bounded
    * by the probe sample regardless of corpus skew. Exposed so
    * LlmSpec can pin the bound on a planted-stop-word fixture. */
  def minhashTruthCandidates(
      toks: DataFrame, probePred: Column, maxDf: Int): DataFrame = {
    val ct = toks.select(col("doc_id").as("cid"), explode(col("toks")).as("t"))
    val rare = ct.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("t"))
    val pt = toks.filter(probePred)
      .select(col("doc_id").as("pid"), explode(col("toks")).as("t"))
    pt.join(rare, "t").join(ct, "t").filter(col("cid") =!= col("pid"))
      .select(col("pid"), col("cid")).distinct()
  }

  /** Banding recall per probe — see the `dedup_minhash_recall`
    * declaration. `probePred` filters doc_id; ground truth is the
    * exact-Jaccard ≥ τ set over probe×corpus, computed in TWO bounded
    * phases: (1) candidate pairs sharing a rare (df ≤ `maxDf`) token
    * ([[minhashTruthCandidates]] — the stop-list keeps one universal
    * token from costing \|probes\|·N rows), then (2) the EXACT
    * integer τ test 19·|∩| ≥ 9·(|A|+|B|) ⟺ J ≥ 0.9 on just those
    * pairs via array_intersect. The found set is the production
    * banded candidates; recall is their quotient per probe.
    *
    * Exactness contract: a true pair is missed only if EVERY shared
    * token has df > maxDf (J ≥ 0.9 means near-total token sharing,
    * so a rare probe token is almost surely shared — but the loud
    * oracle below, not this argument, is the guarantee). The declared query's
    * oracle deliberately stays the UNBOUNDED exact-truth form, so a
    * maxDf too low for the corpus turns the driver hash check red
    * instead of silently under-counting truth — which is exactly how
    * the first fixed default (1000) was caught at sf0.1, where the
    * 31-token fixture vocabulary puts EVERY df near 0.8·N. The
    * default is therefore ADAPTIVE: max(1000, ⌈0.95·N⌉) — only
    * effectively-universal tokens (df > 95% of docs) are auto-dropped,
    * which a J ≥ 0.9 pair can only rely on when virtually the whole
    * corpus shares them. Pass an absolute `maxDf > 0` on Zipfian
    * corpora for the tight \|probes\|-scaled bound. */
  def minhashRecall(
      docs: DataFrame, probePred: Column, maxDf: Int = -1): DataFrame = {
    val toks = tokenized(docs)
    Materialize.using(toks) {
      val effMaxDf =
        if (maxDf > 0) maxDf
        else math.max(1000L, math.ceil(0.95 * toks.count()).toLong)
          .min(Int.MaxValue.toLong).toInt
      val tru = minhashTruthCandidates(toks, probePred, effMaxDf)
        .join(toks.select(col("doc_id").as("pid"), col("toks").as("ta")), "pid")
        .join(toks.select(col("doc_id").as("cid"), col("toks").as("tb")), "cid")
        .filter(
          size(array_intersect(col("ta"), col("tb"))).cast("long") * 19 >=
            (size(col("ta")).cast("long") + size(col("tb")).cast("long")) * 9)
        .select(col("pid"), col("cid"))
      val bands = tokenBanded(docs)
      Materialize.using(tru, bands) {
        val cand = bands.filter(probePred).as("p")
          .join(bands.as("c"),
            col("p.band_idx") === col("c.band_idx") &&
              col("p.band_hash") === col("c.band_hash") &&
              col("p.doc_id") =!= col("c.doc_id"))
          .select(col("p.doc_id").as("pid"), col("c.doc_id").as("cid"))
          .distinct()
        val fnd = tru.join(cand, Seq("pid", "cid"), "left_semi")
          .groupBy(col("pid")).agg(count(lit(1)).as("n_found"))
        val nc = cand.groupBy(col("pid")).agg(count(lit(1)).as("n_cand"))
        val nt = tru.groupBy(col("pid")).agg(count(lit(1)).as("n_true"))
        nt.join(fnd, Seq("pid"), "left_outer")
          .join(nc, Seq("pid"), "left_outer")
          .select(
            col("pid").as("probe_id"),
            col("n_true"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("n_found"), lit(0L)).as("n_found"),
            (round(coalesce(col("n_found"), lit(0L)) * lit(1.0) / col("n_true"), 6) + lit(0.0))
              .as("recall"),
            // empty candidate set => vacuous precision 1 (nothing wasted)
            when(coalesce(col("n_cand"), lit(0L)) === 0, lit(1.0))
              .otherwise(round(coalesce(col("n_found"), lit(0L)) * lit(1.0) / col("n_cand"), 6)
                + lit(0.0))
              .as("cand_precision"))
      }
    }
  }

  /** 16-bit SimHash: bit k set iff the majority of token hashes have
    * bit k set (ties → 1, deterministic). Native map-side signature
    * (round 7) — the composed form below re-inlined the md5 transform
    * into every bit's HOF fold (16 interpreted md5 passes per token);
    * `coalesce(…, 0)` mirrors its null-toks value (every bit's
    * `when(null …)` fell to otherwise(0)). */
  val SimHashBits = 16
  def simhashed(docs: DataFrame): DataFrame =
    tokenized(docs).select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      coalesce(
        graft.functions.simhash_sig(col("toks"), "sh:", SimHashBits, 8),
        lit(0L)).as("simhash"))

  /** Composed-built-ins 16-bit simhash — the verification baseline for
    * the native expression (and a worked example of the plan-collapse
    * trap: `hashes` inlines into all 16 bit folds). */
  def simhashedHof(docs: DataFrame): DataFrame = {
    val hashes = transform(col("toks"), t => h32(t, "sh:"))
    val n = size(col("toks"))
    val bits = (0 until SimHashBits).map { k =>
      val ones = aggregate(hashes, lit(0L), (acc, h) =>
        acc + shiftright(h, k).bitwiseAND(lit(1L)))
      when(ones * 2 >= n, lit(1L) * (1L << k)).otherwise(0L)
    }
    tokenized(docs).select(
      col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      bits.reduce(_ + _).as("simhash"))
  }
  private val simhashSql: String = {
    val h = h32Sql("t", "sh:")
    val bits = (0 until SimHashBits).map { k =>
      s"(CASE WHEN list_sum(list_transform(toks, t -> ($h >> $k) & 1)) * 2 >= len(toks) THEN ${1L << k} ELSE 0 END)"
    }
    s"""WITH toks AS ($tokenizedSql)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |       CAST(${bits.mkString(" + ")} AS BIGINT) AS simhash
       |FROM toks ORDER BY doc_id""".stripMargin
  }

  /** 60-bit simhash, MAP-ONLY (round 7): the native `simhash_sig`
    * expression computes the whole majority signature per row inside
    * the scan projection — no exploded-token exchange, no 61-column
    * aggregate state (the round-5 explode+agg form is kept below as
    * the verified baseline). Same md5-prefix hash family, same
    * ties → 1 rule, bit-identical (DedupSpec pins it). Null-text docs
    * are dropped (the signature of a null array is null, filtered
    * here) — the declared oracle filters `toks IS NOT NULL` to pin
    * the same semantics in SQL. */
  def simhashed64(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        graft.functions.simhash_sig(
          array_distinct(split(col("text"), " ")), "sh64:", SimHash64Bits, 15)
          .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The round-5 explode → md5 → partial+final-aggregate form of
    * `simhashed64` — one md5 per (doc, token), NOT 60 HOF folds each
    * re-inlining the token-hash transform (the plan-collapse
    * O(bits·tokens·md5) trap). Kept as the verification baseline for
    * the native map-only expression. */
  def simhashed64Agg(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      .withColumn("h",
        conv(substring(md5(concat(lit("sh64:"), col("t"))), 1, 15), 16, 10).cast("long"))
    val sums = (0 until SimHash64Bits).map(k =>
      sum(shiftright(col("h"), k).bitwiseAND(lit(1L))).as(s"b$k"))
    val agg = tok.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail :+ count(lit(1)).as("n"): _*)
    val bits = (0 until SimHash64Bits).map(k =>
      when(col(s"b$k") * 2 >= col("n"), lit(1L) * (1L << k)).otherwise(0L))
    agg.select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** One 30-bit table key per (doc, 3-block combo): the combo's blocks
    * concatenated MSB-first. Shared by the DataFrame and SQL sides so
    * the oracle replays the identical arithmetic (and package-visible
    * so LlmSpec exercises THIS derivation, not a stale inline copy —
    * ADVICE r6). */
  private[graft] def comboKey(sig: Column, combo: Seq[Int]): Column = {
    val mask = (1L << SimHashBlockBits) - 1
    combo.zipWithIndex.map { case (blk, p) =>
      shiftleft(
        shiftright(sig, blk * SimHashBlockBits).bitwiseAND(lit(mask)),
        (combo.size - 1 - p) * SimHashBlockBits)
    }.reduce(_ + _)
  }
  private def comboKeySql(sigExpr: String, combo: Seq[Int]): String = {
    val mask = (1L << SimHashBlockBits) - 1
    combo.zipWithIndex.map { case (blk, p) =>
      s"((($sigExpr >> ${blk * SimHashBlockBits}) & $mask) << ${(combo.size - 1 - p) * SimHashBlockBits})"
    }.mkString(" + ")
  }

  /** One row per (doc, C(6,3) combo table): the block-permuted banded
    * signature frame the candidate self-join keys on. 20 rows per doc
    * (vs the retired 4×15 form's 4) — a 5× banded-row shuffle
    * expansion, which is the standard Manku trade for a 2^30 per-table
    * key space: at 10⁹ docs the old 2^15 keys produced ~n²/2^15
    * candidate PAIRS (quadratic), while 20n 12-byte rows stay linear.
    * `dedup_simhash_pairs` is in the bench headline so the trade is
    * tracked round-over-round (ADVICE r6). */
  private[graft] def simhashBanded(sh: DataFrame): DataFrame = {
    val bandStructs = SimHashCombos.zipWithIndex.map { case (combo, ti) =>
      struct(lit(ti).as("band_idx"), comboKey(col("simhash"), combo).as("band_bits"))
    }
    // carries the 8-byte signature alongside the band key (r20):
    // simhashPairsFrom verifies straight off the candidate join with
    // it; key-only consumers (occupancy diagnostics) simply ignore it
    sh.select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.band_idx"), col("band.band_bits"))
  }

  /** Simhash table buckets holding more than `bound` docs — the
    * occupancy diagnostic (VERDICT r6 task 8): on a vocabulary-
    * degenerate corpus the 60-bit signatures concentrate, one
    * (table, 30-bit key) bucket goes hot, and the candidate join
    * inside it is quadratic BY CONSTRUCTION (losslessness — those
    * docs genuinely are mutual near-dup candidates). Nothing caps;
    * this surfaces the buckets so the cost is visible before the
    * verify join pays it. */
  def simhashHotBuckets(docs: DataFrame, bound: Long): DataFrame =
    simhashBanded(simhashed64(docs))
      .groupBy(col("band_idx"), col("band_bits"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > bound)

  /** Hamming near-dup pairs over 60-bit simhashes via LOSSLESS
    * block-permuted banding (Manku WWW'07: hamming ≤ `MaxHamming`
    * flips ≤ 3 of 6 blocks, so ≥ 3 blocks — some full C(6,3) combo —
    * agree exactly; `bit_count(xor)` verifies). The candidate shuffle
    * keys on (band_idx, band_bits) with a 2^30 per-table key space;
    * hot buckets on a vocabulary-dense corpus are GENUINE near-dup
    * neighborhoods (they must collide — that is the losslessness),
    * the same data property dedup_minhash_pairs documents.
    *
    * `occupancyBound`: when set, buckets holding more than that many
    * docs are counted and logged before the candidate join (one extra
    * aggregate over the banded rows) — loud degradation, no cap. */
  def simhashPairs(
      docs: DataFrame, maxHamming: Int = MaxHamming,
      occupancyBound: Option[Long] = None): DataFrame = {
    require(maxHamming <= MaxHamming,
      s"block-permuted banding is lossless only for hamming <= $MaxHamming")
    val sh = simhashed64(docs)
    Materialize.using(sh) {
      val banded = simhashBanded(sh)
      occupancyBound.foreach { bound =>
        Similarity.warnHotBuckets("simhashPairs",
          banded.groupBy(col("band_idx"), col("band_bits"))
            .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") > bound),
          Seq("band_idx", "band_bits"), bound)
      }
      simhashPairsFrom(sh, banded, maxHamming)
    }
  }

  /** Un-persisted, un-checkpointed simhash pair PLAN (VERDICT r13
    * task 1) — the band self-join + hamming verify pipeline with the
    * map-only signature derivation rebuilt on each side, so its
    * exchange volumes are probe-readable (as [[nearDupPairs]]'s are:
    * it caches nothing). */
  private[graft] def simhashPairsPlan(
      docs: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    val sh = simhashed64(docs)
    simhashPairsFrom(sh, simhashBanded(sh), maxHamming)
  }

  private def simhashPairsFrom(
      sh: DataFrame, banded: DataFrame, maxHamming: Int): DataFrame = {
    // r20 (optimization round, guide §8 inverted): the verify payload
    // here is ONE 8-byte long per side, not a token array — so it
    // rides THROUGH the band self-join (+8 B per 12-byte band row)
    // instead of being joined back per side, which removes both
    // signature join-backs (two joins + their exchanges in the
    // non-broadcast regime) from the plan. The distinct's key widens
    // by the two hashes, but they are functionally determined by the
    // ids, so the candidate cardinality — and every emitted pair — is
    // unchanged (same oracle; PlanAuditSpec's shuffle-record gate
    // strictly drops). Contrast nearDupPairs, where the verify
    // needs full token ARRAYS and the join-back is the right trade.
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_bits") === col("b.band_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** 16-byte BINARY content key (r21, guide §6): `unhex(md5(text))` —
    * HALF the 32-char hex string's bytes on the wire of every probe
    * join and in every standing content-hash table (the builder
    * backlog #1 / VERDICT r20 task 6 key-width fix). Bijective with
    * the hex form, so equality semantics — and every verdict — are
    * unchanged. */
  private[graft] def contentKey(text: Column): Column = unhex(md5(text))

  /** Key encoder matched to an EXISTING index frame's `h` column type
    * — the migration shim for standing tables: a pre-r21 table stores
    * hex STRING keys and keeps probing/appending correctly (its probe
    * side hashes to hex), a rebuilt table stores 16-byte BINARY and
    * pays half the key bytes. The TABLE is the source of truth, so
    * mixed fleets need no flag day. */
  private[graft] def keyEncoderFor(idx: DataFrame): Column => Column =
    idx.schema.find(_.name == "h").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.BinaryType) => contentKey
      case _ => md5(_)
    }

  /** Incremental (delta-vs-corpus) exact dedup — the shape a 100 TB
    * pipeline actually runs: the corpus's content-hash index
    * (hash → canonical keep_id, maintained at ingest) is joined by
    * the NEW batch only; the full corpus never rescans. Returns each
    * delta doc with status 'dup' (and its canonical duplicate) or
    * 'new'. At scale the index is bucketed by hash so the join
    * shuffles only the delta. */
  def incrementalDedup(corpus: DataFrame, delta: DataFrame): DataFrame =
    hashVerdictFrom(corpusHashIndex(corpus), delta)

  /** The in-query (h, keep_id) content-hash index of a corpus. */
  private[graft] def corpusHashIndex(corpus: DataFrame): DataFrame =
    corpus.groupBy(contentKey(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))

  /** The exact tier's probe, shared by the hits and the verdict forms:
    * delta rows hashed map-side (with the encoding the INDEX carries —
    * see [[keyEncoderFor]]) and joined to the (h, keep_id) index.
    * `how = "inner"` gives the tier's HITS as (delta_id, dup_of);
    * `"left"` keeps every delta doc (a null dup_of where none hit) —
    * the verdict form is that one join, not delta ⟕ hits, because a
    * second join on doc_id would add two exchanges to a probe that
    * needs one. */
  private[graft] def hashProbe(idx: DataFrame, delta: DataFrame, how: String): DataFrame =
    delta.select(col("doc_id"), keyEncoderFor(idx)(col("text")).as("h"))
      .join(idx, Seq("h"), how)
      .select(col("doc_id").as("delta_id"), col("keep_id").as("dup_of"))

  /** The exact tier's 'dup'/'new' verdict, shared by
    * [[incrementalDedup]] and the served [[probeHashIndex]]. */
  private def hashVerdictFrom(idx: DataFrame, delta: DataFrame): DataFrame =
    hashProbe(idx, delta, "left").withColumnRenamed("delta_id", "doc_id")
      .transform(dupVerdict("doc_id", "dup"))

  /** One tier's verdict from its hits: `ids` (one id column, every
    * delta row) left-joined to the (delta_id, dup_of) hits — `status`
    * reads `dupStatus` where a hit exists and 'new' otherwise, and
    * `dup_of` is −1 where none does. */
  private[graft] def verdictFrom(
      ids: DataFrame, hits: DataFrame, dupStatus: String): DataFrame = {
    val id = ids.columns.head
    ids.join(hits.withColumnRenamed("delta_id", id), Seq(id), "left")
      .transform(dupVerdict(id, dupStatus))
  }

  /** (id, dup_of or null) → (id, status, dup_of or −1). */
  private def dupVerdict(id: String, dupStatus: String)(df: DataFrame): DataFrame =
    df.select(col(id),
      when(col("dup_of").isNull, "new").otherwise(dupStatus).as("status"),
      coalesce(col("dup_of"), lit(-1L)).as("dup_of"))

  /** Persist the corpus's content-hash index (hash → canonical
    * keep_id) bucketed by h — the standing exact-dedup artifact the
    * [[incrementalDedup]] scaladoc describes ("at scale the index is
    * bucketed by hash so the join shuffles only the delta"), made
    * real like the band/SRP/gram serving tables. The groupBy's
    * corpus-sized shuffle is paid ONCE at build. r21: the key is the
    * 16-byte BINARY [[contentKey]] — half the hex form's key bytes in
    * the table and on every probe wire; pre-r21 hex tables keep
    * serving through [[keyEncoderFor]] until their next rebuild. */
  def buildHashIndex(
      corpus: DataFrame, spark: SparkSession, table: String, path: String,
      buckets: Int = 8): Unit = {
    bucketedCreate(
      corpus.groupBy(contentKey(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id")),
      table, path, BucketSpec(buckets, Seq("h"), Seq("h")))
  }

  /** Probe newly arrived docs against a persisted [[buildHashIndex]]
    * table: identical semantics to [[incrementalDedup]], with the
    * probe join shuffling ONLY the delta side (LlmSpec pins one
    * exchange with broadcast disabled). */
  def probeHashIndex(delta: DataFrame, spark: SparkSession, table: String): DataFrame =
    hashVerdictFrom(spark.table(table), delta)

  /** The bucket spec of a catalog serving table; fails loudly for a
    * table without one. */
  private[graft] def bucketSpecOf(spark: SparkSession, table: String): BucketSpec =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bucket spec — this is for the bucketed serving tables"))

  /** THE bucketed writer: every serving-index write (the builds,
    * [[bucketedAppend]], [[compactWrite]] and the refits) goes through
    * it. The rows are repartitioned on the bucket columns into
    * `numBuckets` partitions before `bucketBy`/`sortBy`, so each write
    * task holds exactly one bucket and a write lands AT MOST ONE FILE
    * PER BUCKET. Without the repartition every task writes a file into
    * every bucket it holds rows for: an append's file fan-out equalled
    * its task count, and at production partition counts every append
    * tripped [[graft.streaming.GateOps.compactionDue]]. Rows that are
    * already hash-partitioned on the bucket columns into `numBuckets`
    * partitions (the hash and gram appends' anti-join exchange) keep
    * that partitioning — Catalyst drops the redundant repartition, so
    * the write reuses the derivation's one exchange. */
  private def bucketedWriter(rows: DataFrame, spec: BucketSpec) = {
    val cols = spec.bucketColumnNames
    val bucketed = rows.repartition(spec.numBuckets, cols.map(col): _*).write
      .bucketBy(spec.numBuckets, cols.head, cols.tail: _*)
    spec.sortColumnNames match {
      case Nil => bucketed
      case s => bucketed.sortBy(s.head, s.tail: _*)
    }
  }

  /** Write `rows` as the bucketed catalog table `table` at `path`
    * (replacing any table of that name) and write the location's spec
    * sidecar with the given swap-commit fields: a build commits epoch
    * 0; a compaction or refit candidate is its predecessor's epoch + 1,
    * uncommitted until the swap lands. */
  private[graft] def bucketedCreate(
      rows: DataFrame, table: String, path: String, spec: BucketSpec,
      epoch: Long = 0L, committed: Boolean = true): Unit = {
    bucketedWriter(rows, spec).mode("overwrite").option("path", path).saveAsTable(table)
    writeSpecSidecar(rows.sparkSession, path, spec.numBuckets,
      spec.bucketColumnNames, spec.sortColumnNames, epoch, committed)
  }

  /** Append `rows` into an existing bucketed table under the TABLE'S
    * OWN bucket spec (read from the catalog, never re-declared at the
    * call site — a drifted spec would silently leave the new files
    * mis-bucketed and re-introduce a probe-side corpus exchange),
    * through [[bucketedWriter]]: at most one new file per bucket.
    * Shared by every `append*` maintenance path. */
  private[graft] def bucketedAppend(
      rows: DataFrame, spark: SparkSession, table: String): Unit = {
    bucketedWriter(rows, bucketSpecOf(spark, table)).mode("append").saveAsTable(table)
    // refresh the CALLER's relation cache explicitly: when `rows`
    // descends from a foreachBatch frame, the write executes under the
    // micro-batch's CLONED session and its commit-time refresh hits the
    // clone's cache only — the caller's session would keep serving the
    // pre-append file listing and probe the index as if the append
    // never happened (found by the two-batch ingest-loop test: batch 2
    // read batch 1's admission from the path-based IVF index but not
    // from either catalog-backed bucketed table).
    spark.catalog.refreshTable(table)
  }

  // ── bucket-spec SIDECAR + fresh-catalog re-attach (r18) ───────────
  //
  // Every bucketed serving table's spec (bucket count + columns) used
  // to live ONLY in the metastore — a fresh process with an in-memory
  // catalog could see the index FILES but had no safe way to serve
  // them (attaching with a guessed spec would silently mis-bucket
  // every probe join into a corpus-side exchange). The fix is the
  // seeds-file discipline applied to the spec: each build/compact/
  // refit writes a tiny `_graft_spec.json` beside the bucket files
  // (the leading underscore keeps Spark's file index from reading it
  // as data, like _SUCCESS), and [[reattachBucketedTable]] recreates
  // the catalog entry from location + sidecar — so the PATH is the
  // durable handle for every family, and the metastore is a cache.

  private[graft] val SpecSidecar = "_graft_spec.json"

  /** Writer-lease marker beside a MID-SWAP candidate's sidecar
    * (r20, ADVICE r19): [[resolveCommittedCandidate]]'s loser sweep
    * must not delete the uncommitted candidate of a writer that is
    * merely SLOW — a paused or partitioned driver mid-refit looks
    * identical on disk to a crashed one, and sweeping its directory
    * would leave that writer's catalog rename serving a deleted
    * location. The fence is a lease: [[writeSpecSidecar]] stamps this
    * marker whenever it writes an uncommitted sidecar (and the swap
    * paths re-stamp it immediately before their catalog mutation), the
    * sweep skips uncommitted losers whose lease is younger than
    * `graft.index.sweepLeaseTtlMs` (default 15 min), and
    * [[commitSpecSidecar]] retires the lease once the candidate is
    * committed. A crashed writer's lease simply ages out, so recovery
    * stays automatic — just TTL-delayed for the uncommitted-leftover
    * case. Pre-r20 mid-swap leftovers carry no lease and sweep
    * immediately, exactly the old behavior. */
  private[graft] val LeaseSidecar = "_graft_lease"
  private[graft] val SweepLeaseTtlConf = "graft.index.sweepLeaseTtlMs"
  private[graft] val SweepLeaseTtlDefaultMs = 15L * 60L * 1000L

  /** Stamp (or re-stamp) the writer lease at a candidate location.
    * Plain create-overwrite: the lease carries no payload — its
    * FileStatus modification time is the heartbeat, so a torn write
    * still reads as a fresh lease (the conservative direction: keep,
    * don't sweep). */
  private[graft] def touchLease(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, LeaseSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write("lease".getBytes("UTF-8")) finally out.close()
  }

  /** Age of the writer lease at a location in milliseconds; None when
    * no lease exists (committed candidate, or a pre-r20 layout). Uses
    * the filesystem's modification time against this JVM's clock — the
    * TTL default is generous precisely because object-store mtimes and
    * driver clocks can skew by seconds, not minutes. */
  private[graft] def leaseAgeMs(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, LeaseSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      if (!fs.exists(p)) None
      else Some(math.max(0L,
        System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private[graft] def deleteLease(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, LeaseSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.delete(p, false) catch { case _: java.io.IOException => () }
  }

  /** The sweep-lease TTL in effect for a session: sessions can tighten
    * it to 0 (tests constructing crash states) or widen it for
    * long-pause environments. */
  private[graft] def sweepLeaseTtlMs(spark: SparkSession): Long =
    spark.conf.getOption(SweepLeaseTtlConf).map(_.toLong)
      .getOrElse(SweepLeaseTtlDefaultMs)

  /** Full sidecar contents (r19, VERDICT r18 task 1): the bucket spec
    * plus the SWAP-COMMIT protocol fields that make crash-inside-swap
    * × catalog-loss recovery automatic.
    *
    *  - `epoch` totally orders the candidate directories of ONE
    *    logical index: a build writes 0, every compact/refit writes
    *    its predecessor's epoch + 1 — so after any crash the newest
    *    COMMITTED candidate is the index's current truth and every
    *    other candidate is provably superseded or never-committed.
    *  - `committed` is false while a swap is in flight: the candidate
    *    sidecar is written (committed=false) right after the data
    *    commits, and flipped to true ([[commitSpecSidecar]]) only
    *    AFTER the catalog rename — so a sidecar that says
    *    committed=true is a state some swap fully reached, and a
    *    false one is safely discardable (rolling back an in-flight
    *    refit/compaction loses no data: the previous committed
    *    candidate still holds every row).
    *
    * Pre-r19 sidecars lack both fields and read as (epoch 0,
    * committed) — exactly the old semantics, so existing indexes keep
    * re-attaching without a rewrite. */
  private[graft] case class SpecInfo(
      numBuckets: Int, bucketCols: Seq[String], sortCols: Seq[String],
      epoch: Long, committed: Boolean)

  /** Write the bucket-spec sidecar beside a serving table's files.
    * Hadoop FileSystem API, so the same code serves file:/hdfs:/s3a:
    * locations. Builds keep the defaults (epoch 0, committed); swap
    * candidates pass their predecessor's epoch + 1 with
    * committed=false and flip after the rename. */
  private[graft] def writeSpecSidecar(
      spark: SparkSession, path: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String],
      epoch: Long = 0L, committed: Boolean = true): Unit = {
    def arr(cs: Seq[String]) = cs.map(c => "\"" + c + "\"").mkString("[", ",", "]")
    val json = s"""{"numBuckets":$buckets,"bucketCols":${arr(bucketCols)},""" +
      s""""sortCols":${arr(sortCols)},"epoch":$epoch,"committed":$committed}"""
    val p = new org.apache.hadoop.fs.Path(path, SpecSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // write-temp-then-rename, never truncate-in-place (review r19): the
    // commit FLIP rewrites the sidecar of the dir about to be served —
    // an in-place fs.create(overwrite) would truncate first, so a crash
    // mid-write leaves a CORRUPT sidecar the strict reader throws on,
    // turning every automatic recovery path manual. With the rename
    // protocol the worst crash states are (a) a stray `_…tmp` file
    // (underscore-prefixed, invisible to scans, overwritten next write)
    // and (b) a briefly ABSENT sidecar between delete and rename —
    // which reads as "not a candidate" and rolls back to the committed
    // predecessor, exactly the safe answer.
    val tmp = new org.apache.hadoop.fs.Path(
      path, s"$SpecSidecar.tmp${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"could not move $tmp into place as $p — sidecar write failed")
    }
    // writer-lease fence (r20, ADVICE r19): an uncommitted sidecar is
    // a live swap by definition — stamp the lease so a concurrent
    // fresh-catalog boot's loser sweep leaves this candidate alone
    // until the lease ages out. Stamped AFTER the sidecar rename so a
    // crash between the two leaves (sidecar, no lease) = the pre-r20
    // immediately-sweepable state, never a lease guarding nothing.
    if (!committed) touchLease(spark, path)
  }

  /** Read a location's bucket-spec sidecar. None ONLY when the file
    * (or its directory) does not exist; any other read or parse
    * failure THROWS (ADVICE r18): a flaky object-store read must not
    * masquerade as "no sidecar" — that would silently drop a swap
    * candidate in [[graft.llm.Similarity.pinnedAssignedDir]] (picking
    * the other, possibly uncommitted, side) or surface in
    * [[reattachBucketedTable]] as the misleading "pre-r18 index:
    * rebuild" message. */
  private[graft] def readSpecSidecar(
      spark: SparkSession, path: String): Option[(Int, Seq[String], Seq[String])] =
    readSpecSidecarFull(spark, path).map(s => (s.numBuckets, s.bucketCols, s.sortCols))

  /** [[readSpecSidecar]] with the swap-commit fields. Same error
    * contract: None is exclusively file-not-found. */
  private[graft] def readSpecSidecarFull(
      spark: SparkSession, path: String): Option[SpecInfo] = {
    val p = new org.apache.hadoop.fs.Path(path, SpecSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      try {
        val in = fs.open(p)
        val bytes =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val chunk = new Array[Byte](4096)
            var n = in.read(chunk)
            while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
            buf.toByteArray
          } finally in.close()
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        def strs(f: String): Seq[String] = {
          val it = root.get(f).elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
        Some(SpecInfo(
          root.get("numBuckets").asInt(), strs("bucketCols"), strs("sortCols"),
          // pre-r19 sidecars: epoch 0, committed — the old semantics
          if (root.has("epoch")) root.get("epoch").asLong() else 0L,
          if (root.has("committed")) root.get("committed").asBoolean() else true))
      } catch {
        // the exists() above raced a concurrent delete — genuinely absent
        case _: java.io.FileNotFoundException => None
        case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
        case e: Throwable => throw new IllegalStateException(
          s"unreadable $SpecSidecar under $path " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — refusing to treat " +
            "a read/parse failure as an absent sidecar (it would silently drop " +
            "a swap candidate or mis-diagnose a re-attach); retry or inspect " +
            "the file", e)
      }
    }
  }

  /** Flip a candidate sidecar to committed=true — the swap's LAST
    * durable step, issued after the catalog rename. Returns true when
    * a flip happened; false when the sidecar is already committed or
    * absent (pre-r19 layouts — recovery must still complete the
    * catalog swap on them). */
  private[graft] def commitSpecSidecar(spark: SparkSession, path: String): Boolean =
    readSpecSidecarFull(spark, path) match {
      case Some(s) if !s.committed =>
        writeSpecSidecar(spark, path, s.numBuckets, s.bucketCols, s.sortCols,
          s.epoch, committed = true)
        // the swap is durable — retire the writer lease so the location
        // never reads as "possibly live mid-swap" again (committed
        // candidates are arbitrated by epoch alone)
        deleteLease(spark, path)
        true
      case _ => false
    }

  /** Swap-path fence (r20, ADVICE r19): immediately before a swap's
    * catalog mutation (DROP→RENAME), re-verify the candidate directory
    * still carries its sidecar and re-stamp the writer lease. A writer
    * paused long enough for its lease to age out can have its
    * candidate swept by a concurrent fresh-catalog boot
    * ([[resolveCommittedCandidate]]) — without this check its rename
    * would land and serve a deleted location. Failing loudly here
    * turns that zombie swap into a clean abort: the committed
    * predecessor is still serving, so the refit simply re-runs. The
    * check-to-rename window that remains is milliseconds against a
    * 15-minute lease TTL. */
  private[graft] def fenceSwapCandidate(spark: SparkSession, path: String): Unit =
    readSpecSidecarFull(spark, path) match {
      case None => throw new IllegalStateException(
        s"swap candidate $path lost its $SpecSidecar before the catalog " +
          "rename — a concurrent boot's candidate resolution swept it (this " +
          "writer's lease aged past " + SweepLeaseTtlConf + "). The committed " +
          "predecessor is untouched; re-run the refit/compaction.")
      case Some(s) if s.committed => throw new IllegalStateException(
        s"swap candidate $path is already committed — another process " +
          "completed a swap at this location; refusing to double-swap.")
      case _ => touchLease(spark, path)
    }

  /** The sidecar epoch at a location; 0 when the sidecar is absent
    * (pre-r19 layout) — the swap that calls this writes epoch + 1, so
    * the first post-upgrade compact/refit lands at epoch 1 and
    * outranks nothing it shouldn't. */
  private[graft] def sidecarEpoch(spark: SparkSession, location: String): Long =
    readSpecSidecarFull(spark, location).map(_.epoch).getOrElse(0L)

  /** Deterministically resolve ONE logical index's candidate
    * directories after any crash (r19, VERDICT r18 task 1): among the
    * sidecar-bearing candidates, the newest COMMITTED epoch wins, and
    * every other candidate — committed losers and mid-swap
    * (committed=false) leftovers alike — is DELETED, so recovery from
    * a crash-inside-swap plus catalog loss is fully automatic instead
    * of the old loud dual-candidate refusal. Returns the winner's
    * path; None when no candidate carries a sidecar (nothing to
    * serve — pre-sidecar layout or never built).
    *
    * Writer-lease fence (r20, ADVICE r19): an uncommitted loser whose
    * [[LeaseSidecar]] is younger than [[SweepLeaseTtlConf]] is SKIPPED
    * by the sweep, not deleted — on a shared object store it may be
    * the live candidate of a slow writer on another driver, and
    * deleting it would leave that writer's catalog rename serving a
    * deleted location. The skipped candidate resolves itself: its
    * writer either commits (next resolution arbitrates by epoch) or
    * the lease ages out and the next boot reclaims the directory. The
    * winner choice is unaffected — only the destructive sweep defers.
    *
    * Only call on a CATALOG-LOSS path: when the catalog still knows
    * the table (or its `_compacting` sibling), [[recoverCompact]]
    * owns the swap state and deleting a directory the catalog
    * references would break that recovery — [[graft.streaming.GateOps]]
    * guards every call site with a tableExists check.
    *
    * Fails loudly on the two genuinely ambiguous states: an epoch TIE
    * among committed candidates (two independent builds aimed at the
    * same root — no protocol ordering exists), and an all-uncommitted
    * candidate set (the protocol flips committed BEFORE deleting the
    * predecessor, so this state means the sidecars were tampered with
    * or a pre-r19 process interleaved — nothing is provably safe to
    * serve). */
  private[graft] def resolveCommittedCandidate(
      spark: SparkSession, candidates: Seq[String]): Option[String] = {
    // normalize before distinct (review r19): the same dir passed under
    // two spellings ("…/v2" and "…/v2/", or scheme-qualified plus bare)
    // would read one sidecar twice and abort as a spurious epoch tie —
    // dedupe by the QUALIFIED path, keep answering in the caller's own
    // first spelling
    val conf = spark.sessionState.newHadoopConf()
    val byQualified = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (raw <- candidates) {
      val hp = new org.apache.hadoop.fs.Path(raw)
      val q = hp.getFileSystem(conf).makeQualified(hp).toString
      if (!byQualified.contains(q)) byQualified.update(q, raw)
    }
    val specs = byQualified.values.toSeq
      .flatMap(p => readSpecSidecarFull(spark, p).map(p -> _))
    if (specs.isEmpty) None
    else {
      val committed = specs.filter(_._2.committed)
      if (committed.isEmpty) throw new IllegalStateException(
        s"no committed candidate among ${specs.map(_._1).mkString(", ")} — every " +
          "sidecar is mid-swap (committed=false); the commit protocol never " +
          "reaches this state (the predecessor stays committed until after the " +
          "flip), so resolve manually before re-attaching")
      val maxEpoch = committed.map(_._2.epoch).max
      committed.filter(_._2.epoch == maxEpoch) match {
        case Seq((winner, _)) =>
          val ttl = sweepLeaseTtlMs(spark)
          for ((loser, s) <- specs if loser != winner) {
            // writer-lease fence (r20, ADVICE r19): an UNCOMMITTED
            // loser with a fresh lease may be a live writer mid-refit
            // on another driver — leave it; either its own commit flip
            // arbitrates it later, or its lease ages past the TTL and
            // the next boot reclaims it. Committed losers have no live
            // writer by protocol (commit is the swap's last step) and
            // sweep unconditionally, as do lease-less uncommitted
            // leftovers (pre-r20 layouts and crash-between-sidecar-
            // and-lease states).
            val possiblyLive =
              !s.committed && leaseAgeMs(spark, loser).exists(_ < ttl)
            if (!possiblyLive)
              deleteTableLocation(spark, new org.apache.hadoop.fs.Path(loser).toUri)
          }
          Some(winner)
        case ties => throw new IllegalStateException(
          s"epoch tie (${maxEpoch}) among committed candidates " +
            s"${ties.map(_._1).mkString(", ")} — two independent builds aimed at " +
            "the same root; delete the stale one manually")
      }
    }
  }

  /** One-shot sidecar BACKFILL for a pre-r18 index (r19, VERDICT r18
    * task 3): derive the bucket spec from the catalog — the one place
    * that still knows it — and write the `_graft_spec.json` the
    * build/compact/refit paths have written since r18, so path-only
    * re-attach works on existing artifacts without forcing a rebuild.
    * Returns true when a sidecar was written; false when the location
    * already carries one (idempotent — safe to run fleet-wide).
    * Throws when the catalog does not know the table or the table is
    * not bucketed: with neither catalog nor sidecar there is NO
    * known-correct spec, and guessing one would silently mis-bucket
    * every probe join (the exact failure the sidecar exists to
    * prevent). */
  def backfillSpecSidecar(spark: SparkSession, table: String): Boolean = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table has no bucket spec — the sidecar protocol is for the bucketed " +
        "serving tables"))
    val loc = new org.apache.hadoop.fs.Path(meta.location).toString
    if (readSpecSidecarFull(spark, loc).isDefined) false
    else {
      writeSpecSidecar(spark, loc, spec.numBuckets,
        spec.bucketColumnNames, spec.sortColumnNames)
      true
    }
  }

  /** Re-attach a bucketed serving table from its on-disk location into
    * a FRESH catalog (r18, VERDICT r17 task 3 — the last durable-
    * metastore assumption): recreates the catalog entry with the
    * sidecar's bucket spec and the parquet footer schema, pointing at
    * the existing files. Returns true when a re-attach happened; false
    * (no-op) when the catalog already knows the table or its
    * `_compacting` sibling — crash states inside a swap keep recovering
    * through [[recoverCompact]] on the surviving catalog, and a fresh
    * catalog combined with a half-finished swap surfaces as multiple
    * candidate locations at the call site, never a silent pick. Fails
    * loudly when the sidecar is missing: attaching with a guessed
    * bucket spec would silently mis-bucket every probe join. */
  def reattachBucketedTable(
      spark: SparkSession, table: String, path: String): Boolean = {
    val cat = spark.sessionState.catalog
    def exists(t: String) =
      cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t))
    if (exists(table) || exists(s"${table}_compacting")) false
    else {
      val spec = readSpecSidecarFull(spark, path).getOrElse(
        throw new IllegalStateException(
          s"no $SpecSidecar under $path — cannot re-attach $table with a " +
            "known-correct bucket spec (pre-r18 index: run backfillSpecSidecar " +
            "on a catalog that still knows the table, or rebuild/compact once)"))
      // an uncommitted sidecar marks a mid-swap candidate: attaching it
      // could serve a half-refit — route through the candidate resolver
      if (!spec.committed) throw new IllegalStateException(
        s"the sidecar under $path is mid-swap (committed=false) — re-attach " +
          "through resolveCommittedCandidate / GateOps.bootGate's candidate " +
          "form so the newest COMMITTED swap side is served")
      // ADVICE r18: quote identifiers and escape the path literal so a
      // column needing backticks or a quoted character in the location
      // cannot break (or redirect) the statement
      def q(id: String) = "`" + id.replace("`", "``") + "`"
      def lit(s: String) = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
      // ...and wrap the footer read so an empty or unreadable data dir
      // yields the same actionable diagnostic as a missing sidecar
      // instead of a bare schema-inference stack
      val schemaDdl =
        try {
          val sc = spark.read.parquet(path).schema
          if (sc.isEmpty) throw new IllegalStateException("no columns inferred")
          sc.toDDL
        } catch {
          case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
          case e: Throwable => throw new IllegalStateException(
            s"cannot re-attach $table from $path: the sidecar is present but the " +
              s"location's parquet data is unreadable or empty " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}) — the index files " +
              "are gone or corrupt; rebuild the index", e)
        }
      val sorted =
        if (spec.sortCols.nonEmpty)
          s"SORTED BY (${spec.sortCols.map(q).mkString(", ")}) "
        else ""
      spark.sql(
        s"CREATE TABLE ${q(table)} ($schemaDdl) USING parquet " +
          s"CLUSTERED BY (${spec.bucketCols.map(q).mkString(", ")}) $sorted" +
          s"INTO ${spec.numBuckets} BUCKETS LOCATION ${lit(path)}")
      true
    }
  }

  /** The rows an [[appendHashIndex]] call writes: the delta's hashes
    * anti-joined against the standing index (only genuinely NEW
    * hashes enter; the index side reads its bucket files co-located),
    * grouped to the per-hash min doc_id. The delta is repartitioned
    * into the table's buckets UP FRONT, so that one exchange serves
    * the anti-join, the groupBy and the bucketed write — broadcast or
    * not. Exposed separately so LlmSpec can pin the append plan at one
    * delta-sized exchange. */
  private[graft] def appendHashIndexRows(
      delta: DataFrame, spark: SparkSession, table: String): DataFrame = {
    val idx = spark.table(table)
    // the TABLE's key encoding wins (keyEncoderFor): appends into a
    // pre-r21 hex table stay hex; rebuilt BINARY tables append binary
    delta.select(keyEncoderFor(idx)(col("text")).as("h"), col("doc_id"))
      .repartition(bucketSpecOf(spark, table).numBuckets, col("h"))
      .join(idx, Seq("h"), "left_anti")
      .groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
  }

  /** Incremental (append) maintenance for [[buildHashIndex]] — at
    * 100 TB the standing ingest gate cannot re-pay the corpus-sized
    * build per batch (VERDICT r14 task 1). Writes only the delta's
    * NEW (h, keep_id) rows into the bucketed table; existing hashes
    * keep their canonical keep_id (first-write-wins, which equals the
    * global min-id victor whenever doc_ids are assigned monotonically
    * at ingest — the convention every incremental tier here assumes).
    * Probe-after-append is row-identical to a probe against a
    * from-scratch rebuild over corpus ∪ delta (LlmSpec pins it). */
  def appendHashIndex(delta: DataFrame, spark: SparkSession, table: String): Unit =
    bucketedAppend(appendHashIndexRows(delta, spark, table), spark, table)

  /** Compact a bucketed serving table after a run of appends — the
    * maintenance tail of the build → append → compact lifecycle: each
    * [[bucketedAppend]] lands at most one file per bucket per batch,
    * and while the bucketed PROBE plan never regresses (hash
    * partitioning is a property of the spec, not the file count), a
    * K-append bucket is up to K+1 files of task overhead and lost
    * within-file sort locality. Compaction rewrites the table's
    * CONTENT (never re-deriving from text — this reads the index, not
    * the corpus) into fresh bucket files at `newPath` through the one
    * bucketed writer (one file per bucket), then swaps the catalog
    * name. Probe results are identical by
    * construction (same rows, same spec — LlmSpec pins file-count
    * collapse AND probe equality).
    *
    * OPERATIONAL CONTRACT (ADVICE r15):
    *  - The drop→rename swap is not atomic: the table name is
    *    unresolvable for a window, and a crash inside it leaves the
    *    compacted table registered as `<table>_compacting` with all
    *    data intact. Recovery is [[recoverCompact]] — re-issuing the
    *    swap's remaining steps, never a rebuild (LlmSpec constructs
    *    the crashed state and proves probe equality after recovery).
    *  - Streaming readers need a full BOUNCE (stop → compact →
    *    restart), not merely avoiding the drop→rename window: a
    *    stream-static gate refreshes its file LISTING per micro-batch
    *    (appends become visible) but holds the RELATION — and its
    *    location — resolved at query start, so after even a clean
    *    between-trigger swap the next micro-batch lists the retired
    *    location and fails with FAILED_READ_FILE (measured Spark 4
    *    behavior, pinned in StreamingSpec's needs-gate-bounce test;
    *    fail-stop here is the point — without the location cleanup the
    *    gate would silently serve the superseded index forever).
    *  - The superseded table's files at its old external location are
    *    deleted after a successful rename (repeated compactions used
    *    to leak the old paths' disk). */
  def compactIndex(spark: SparkSession, table: String, newPath: String): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    compactWrite(spark, table, newPath)
    fenceSwapCandidate(spark, newPath)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE ${table}_compacting RENAME TO $table")
    // commit order matters (r19): flip the candidate sidecar BEFORE
    // deleting the predecessor, so at every instant at least one
    // candidate is committed — a crash anywhere leaves either "old
    // committed wins" (swap rolls back, no data lost) or "new
    // committed wins, old is a deletable loser"; never ambiguity
    commitSpecSidecar(spark, newPath)
    deleteTableLocation(spark, meta.location)
  }

  /** [[compactIndex]]'s WRITE step alone: commit the rewritten bucket
    * files as `<table>_compacting` at `newPath`, touching nothing
    * else. Exposed `private[graft]` so LlmSpec can CONSTRUCT the
    * swap's crash states (committed-write-then-crash, dropped-then-
    * crash) and prove [[recoverCompact]] completes each one. */
  private[graft] def compactWrite(
      spark: SparkSession, table: String, newPath: String): Unit = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    // read the table's FILES plainly, not the catalog table: the
    // bucketed relation advertises HashPartitioning(cols, n), which
    // lets Catalyst elide the writer's repartition as redundant while
    // autoBucketedScan independently reads plain file splits — the
    // write's tasks then hold arbitrary bucket mixes and emit
    // (tasks × buckets) files instead of one per bucket (measured:
    // 16 files for 8 buckets). A plain read carries no partitioning
    // claim, so the repartition survives and aligns task ↔ bucket.
    // The catalog already holds the schema: no footer-schema job.
    // Candidate sidecar: predecessor's epoch + 1, committed=false until
    // the swap's rename lands ([[commitSpecSidecar]] flips it) — data
    // is complete the moment this sidecar exists, but a boot must
    // prefer the still-committed predecessor until the flip
    bucketedCreate(
      spark.read.schema(meta.schema).parquet(meta.location.toString),
      s"${table}_compacting", newPath, bucketSpecOf(spark, table),
      epoch = sidecarEpoch(spark, meta.location.toString) + 1L, committed = false)
  }

  /** Best-effort delete of a superseded table location through the
    * Hadoop FileSystem API — file:/hdfs:/s3a: alike (review r18: the
    * old file-scheme-only guard left the superseded dir AND its spec
    * sidecar behind on object stores, so a committed refit would read
    * as TWO sidecar-bearing candidates in [[graft.llm.Similarity
    * .pinnedAssignedDir]] forever). A failed delete only leaks space —
    * never fail the swap over cleanup. */
  private[graft] def deleteTableLocation(
      spark: SparkSession, location: java.net.URI): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(location)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // review r18 follow-up: best-effort must not be SILENT — a
      // delete the role can't perform leaves the dual-candidate state
      // pinnedAssignedDir refuses, and the operator needs to learn it
      // at swap time, not at the next boot's misleading crash message
      if (fs.exists(p) && !fs.delete(p, true))
        System.err.println(
          s"[graft] WARN superseded location not deleted: $location — remove it " +
            "manually (a leftover sidecar-bearing dir blocks fresh-catalog re-attach)")
    } catch {
      case ie: InterruptedException => Thread.currentThread().interrupt(); throw ie
      case e: Throwable =>
        System.err.println(
          s"[graft] WARN superseded location delete failed: $location " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — remove it manually")
    }

  /** Crash recovery for [[compactIndex]]'s non-atomic swap — the
    * documented procedure as CODE (VERDICT r15 task 2: "a recovery
    * procedure that exists only in a comment is untested ops code").
    * Idempotent over every state the swap can crash in:
    *  - `<table>_compacting` alone (crash between DROP and RENAME) —
    *    finish with the RENAME;
    *  - both registered (crash between the compacted write's commit
    *    and the DROP) — finish the whole swap: the compacted content
    *    is complete once `<table>_compacting` committed, so drop the
    *    old table, rename, and delete the superseded files;
    *  - `table` alone — nothing to recover (clean state or an
    *    already-recovered one);
    *  - neither — unrecoverable here (the compacted write itself never
    *    committed): loud error, the caller re-runs [[compactIndex]].
    * Never re-derives from the corpus. Returns the action taken
    * ("renamed" / "swapped" / "noop"). */
  def recoverCompact(spark: SparkSession, table: String): String = {
    val cat = spark.sessionState.catalog
    def exists(t: String) =
      cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(t))
    // recovery-side sweep fence (review r20, completing the ADVICE r19
    // lease work): on a shared store, a fresh-catalog boot ELSEWHERE
    // can have swept this crashed swap's candidate directory once its
    // lease aged out (resolveCommittedCandidate keeps only the
    // committed winner). The live swap paths abort via
    // fenceSwapCandidate; the recovery paths must make the same check
    // before mutating the catalog — renaming a swept location would
    // "recover" a table that serves deleted files, silently (the
    // commitSpecSidecar false return carries no alarm). A location
    // that exists WITHOUT a sidecar stays recoverable: that is the
    // pre-r19 layout, whose swaps recovery must still complete.
    def fenceLocation(loc: java.net.URI, role: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) throw new IllegalStateException(
        s"$role location $loc is gone — a candidate sweep on another driver " +
          "reclaimed it (this swap's writer lease aged past " + SweepLeaseTtlConf +
          " before recovery ran). The swept data was never the committed truth; " +
          s"DROP the stale catalog entry and re-attach the committed candidate " +
          "(GateOps.bootGateFromCandidates) or re-run compactIndex.")
    }
    (exists(table), exists(s"${table}_compacting")) match {
      case (false, true) =>
        val newLoc = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_compacting")).location
        fenceLocation(newLoc, s"${table}_compacting candidate")
        spark.sql(s"ALTER TABLE ${table}_compacting RENAME TO $table")
        // complete the sidecar commit the crashed swap never reached —
        // otherwise a LATER catalog loss would roll this recovery back
        // (the predecessor's committed sidecar would outrank an
        // uncommitted winner). The predecessor's location is unknown in
        // this state (the DROP already happened); its leftover dir is a
        // provable epoch-loser the next candidate resolution deletes.
        commitSpecSidecar(spark, newLoc.toString)
        "renamed"
      case (true, true) =>
        val oldLoc = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location
        // fence BEFORE the DROP: if the candidate was swept, the old
        // committed table is still whole — abort with it serving
        fenceLocation(cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${table}_compacting")).location,
          s"${table}_compacting candidate")
        spark.sql(s"DROP TABLE $table")
        spark.sql(s"ALTER TABLE ${table}_compacting RENAME TO $table")
        val newLoc = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location
        commitSpecSidecar(spark, newLoc.toString)
        deleteTableLocation(spark, oldLoc)
        "swapped"
      case (true, false) =>
        // a crash BETWEEN the rename and the sidecar flip leaves the
        // served location's sidecar uncommitted — finish the flip so
        // the on-disk state agrees with the catalog's. Fence first:
        // in that same crash state the location is still an
        // UNCOMMITTED candidate on disk, so a fresh-catalog boot
        // elsewhere can have swept it — "noop" would then bless a
        // table serving deleted files
        val loc = cat.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location
        fenceLocation(loc, s"$table served")
        if (commitSpecSidecar(spark, loc.toString)) "committed" else "noop"
      case (false, false) =>
        throw new IllegalStateException(
          s"neither $table nor ${table}_compacting is registered — the compacted " +
            "write never committed; re-run compactIndex (the probe tables are gone)")
    }
  }

  /** Incremental NEAR-dup (delta-vs-corpus banded index) — the
    * production ingest shape for near-duplicates, completing
    * `incrementalDedup` (exact tier): the corpus's banded minhash
    * index (maintained at ingest; at scale bucketed by
    * (band_idx, band_hash)) is probed by the NEW batch's bands only —
    * the corpus never rescans, only the delta shuffles. Candidates
    * verify with exact token-set Jaccard; each delta doc reports
    * 'near_dup' with its deterministic min-id corpus victor, or
    * 'new'. */
  def incrementalNearDedup(
      corpus: DataFrame, delta: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    nearVerdict(delta, incrementalNearHits(corpus, delta, threshold))

  /** [[incrementalNearDedup]]'s HITS alone: (delta_id, dup_of) for the
    * delta docs with a verified corpus near-dup. */
  private[graft] def incrementalNearHits(
      corpus: DataFrame, delta: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame = {
    val cand = tokenBanded(delta).as("d")
      .join(tokenBanded(corpus).as("c"),
        col("d.band_idx") === col("c.band_idx") &&
          col("d.band_hash") === col("c.band_hash"))
      .select(col("d.doc_id").as("delta_id"), col("c.doc_id").as("corpus_id"))
    nearDupHitsFrom(cand, corpus, delta, threshold)
  }

  /** The verify + verdict TAIL of [[incrementalNearDedup]], over a raw
    * (delta_id, corpus_id) candidate frame that may carry duplicates
    * (several agreeing bands, or a streaming generator's per-batch
    * emissions — the `verifyAndRank` convention): every delta doc
    * reported 'near_dup' or 'new' from [[nearDupHitsFrom]]. Exposed so
    * the streaming band probe hands its sunk pairs to the SAME
    * verification. */
  private[graft] def nearDupVerdictFrom(
      cand: DataFrame, corpus: DataFrame, delta: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    nearVerdict(delta, nearDupHitsFrom(cand, corpus, delta, threshold))

  /** The verified HITS of a raw candidate frame: distinct pairs, exact
    * token-set Jaccard against the corpus's token sets, deterministic
    * min-id corpus victor — (delta_id, dup_of). */
  private[graft] def nearDupHitsFrom(
      cand: DataFrame, corpus: DataFrame, delta: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    nearDupHits(cand,
      tokenized(corpus).select(col("doc_id").as("corpus_id"), col("toks").as("ct")),
      delta, threshold)

  /** [[nearDupHitsFrom]] with the corpus token sets supplied as a
    * (corpus_id, ct) frame — the served form reads them from the
    * persisted [[buildBandIndex]] table instead of re-tokenizing the
    * raw corpus. */
  private def nearDupHits(
      cand: DataFrame, corpusToks: DataFrame, delta: DataFrame,
      threshold: Double): DataFrame =
    cand.select(col("delta_id"), col("corpus_id")).distinct()
      .join(tokenized(delta).select(col("doc_id").as("delta_id"), col("toks").as("dt")),
        "delta_id")
      .join(corpusToks, "corpus_id")
      .filter(round(graft.functions.jaccard_similarity(col("dt"), col("ct")), 6)
        >= threshold)
      .groupBy(col("delta_id"))
      .agg(min(col("corpus_id")).as("dup_of"))

  /** The near tier's 'near_dup'/'new' verdict: delta ⟕ hits. */
  private def nearVerdict(delta: DataFrame, hits: DataFrame): DataFrame =
    verdictFrom(delta.select(col("doc_id")), hits, "near_dup")

  /** Persist the corpus's near-dup SERVING pair: the banded minhash
    * index bucketed (and sorted) by band_hash, and the token-set table
    * bucketed by corpus_id — the standing artifacts an at-scale ingest
    * gate maintains. Both corpus-sized shuffles are paid ONCE at
    * build; every later probe joins co-located against the bucket
    * files, so only the arriving delta crosses the wire (the
    * [[buildGramIndex]] discipline applied to the minhash tier, which
    * is also what the stream-static `streaming_neardup_probe` join
    * would read in place at 100 TB instead of rescanning the raw
    * corpus per micro-batch). */
  def buildBandIndex(
      corpus: DataFrame, spark: SparkSession, table: String, path: String,
      buckets: Int = 8): Unit = {
    // bucket on BOTH join keys: a bucketed scan only replaces the
    // exchange when the bucket spec equals the join's partitioning
    val bandKeys = Seq("band_idx", "band_hash")
    bucketedCreate(
      tokenBanded(corpus)
        .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash")),
      s"${table}_bands", s"$path/bands", BucketSpec(buckets, bandKeys, bandKeys))
    bucketedCreate(
      tokenized(corpus).select(col("doc_id").as("corpus_id"), col("toks").as("ct")),
      s"${table}_toks", s"$path/toks", BucketSpec(buckets, Seq("corpus_id"), Seq("corpus_id")))
  }

  /** Probe newly arrived docs against a persisted [[buildBandIndex]]
    * pair: identical semantics to [[incrementalNearDedup]], but the
    * candidate join shuffles ONLY the delta side (one small exchange
    * to match the band bucketing — LlmSpec pins exactly one exchange
    * on the probe with broadcast disabled) and the verify reads the
    * persisted token sets co-located on corpus_id. */
  def probeBandIndex(
      delta: DataFrame, spark: SparkSession, table: String,
      threshold: Double = JaccardThreshold): DataFrame =
    nearVerdict(delta, bandIndexHits(delta, spark, table, threshold))

  /** [[probeBandIndex]]'s HITS alone: (delta_id, dup_of). */
  private[graft] def bandIndexHits(
      delta: DataFrame, spark: SparkSession, table: String,
      threshold: Double = JaccardThreshold): DataFrame = {
    val cand = tokenBanded(delta)
      .join(spark.table(s"${table}_bands"), Seq("band_idx", "band_hash"))
      .select(col("doc_id").as("delta_id"), col("corpus_id"))
    nearDupHits(cand, spark.table(s"${table}_toks"), delta, threshold)
  }

  /** The genuinely NEW docs of an [[appendBandIndex]] delta: ids not
    * already in the token-set table (which is bucketed on corpus_id,
    * so the anti-join reads the index co-located and re-buckets ONLY
    * the delta — one exchange, LlmSpec pins it). Exposed for the
    * append plan pin. */
  private[graft] def appendBandIndexNew(
      delta: DataFrame, spark: SparkSession, table: String): DataFrame =
    delta.join(
      spark.table(s"${table}_toks").select(col("corpus_id").as("doc_id")),
      Seq("doc_id"), "left_anti")

  /** Incremental (append) maintenance for [[buildBandIndex]]: the
    * delta's band rows and token sets are PER-DOC facts — no cross-doc
    * aggregation lives in these tables — so appending them yields a
    * table whose contents are row-identical to a from-scratch rebuild
    * over corpus ∪ delta, and probe-after-append ≡ probe-after-rebuild
    * exactly (LlmSpec pins it). IDEMPOTENT under at-least-once
    * redelivery (r15): already-indexed doc_ids are anti-joined out
    * against the corpus_id-bucketed token table first — a redelivered
    * batch appends nothing. NOTE the ingest assumption this encodes
    * (ADVICE r15): ids must never be REUSED with different content —
    * this tier (and the gram/SRP tiers) anti-join on doc_id, so a
    * same-id revision is dropped, while [[appendHashIndex]] anti-joins
    * on CONTENT hash, so the same revision DOES enter the hash index;
    * under id reuse the tiers' verdicts diverge. All four append paths
    * therefore assume monotone, never-reused ingest ids (the same
    * assumption that makes first-write-wins equal the min-id victor).
    * Cost: the anti-join re-buckets only the delta (one
    * delta-bounded exchange; the derivations stay map-only — native
    * minhash Generator + posexplode), and each table's bucketed write
    * repartitions its delta-sized rows into the buckets (one file per
    * bucket). The full build's two corpus-sized exchanges are never
    * re-paid (VERDICT r14 task 1). */
  def appendBandIndex(delta: DataFrame, spark: SparkSession, table: String): Unit = {
    val newDocs = appendBandIndexNew(delta, spark, table)
    Materialize.using(newDocs) {
      bucketedAppend(
        tokenBanded(newDocs)
          .select(col("doc_id").as("corpus_id"), col("band_idx"), col("band_hash")),
        spark, s"${table}_bands")
      bucketedAppend(
        tokenized(newDocs).select(col("doc_id").as("corpus_id"), col("toks").as("ct")),
        spark, s"${table}_toks")
    }
  }

  /** The declared incremental-near delta fixture (shared by the batch
    * query and the streaming band probe — map-only, so it lifts to an
    * unbounded source unchanged): exact copies of every 5th corpus
    * doc, appended-revision variants of every 7th, and genuinely novel
    * texts for every 11th. */
  private[graft] def incrementalNearDelta(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" appended revision")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("completely novel content payload "),
            col("doc_id").cast("string")).as("text")))

  /** The exact-tier delta fixture (copies of the %5 slice + revised
    * %7 texts), shared by `dedup_incremental` and its served `_idx`
    * form. */
  private[graft] def incrementalExactDelta(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" appended revision")).as("text")))

  /** Oracle for [[incrementalDedup]] over [[incrementalExactDelta]],
    * shared verbatim by `dedup_incremental` and `dedup_incremental_idx`. */
  private[graft] val incrementalExactOracleSql: String =
    """WITH idx AS (
      |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM documents GROUP BY 1),
      |delta AS (
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' appended revision' AS text
      |  FROM documents WHERE doc_id % 7 = 0)
      |SELECT d.doc_id,
      |       CASE WHEN i.keep_id IS NULL THEN 'new' ELSE 'dup' END AS status,
      |       COALESCE(i.keep_id, -1) AS dup_of
      |FROM delta d LEFT JOIN idx i ON md5(d.text) = i.h
      |ORDER BY d.doc_id""".stripMargin

  /** Oracle for [[incrementalNearDedup]] over [[incrementalNearDelta]]
    * — both sides' banding and the exact-Jaccard verify replayed in
    * SQL. Shared verbatim by `dedup_incremental_near` and
    * `streaming_neardup_probe`. */
  private[graft] def incrementalNearOracleSql: String = {
    val ctoksSql = "SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents"
    val dtoksSql = "SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM delta"
    s"""WITH delta AS (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text || ' appended revision' AS text
       |  FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id,
       |         'completely novel content payload ' || CAST(doc_id AS VARCHAR) AS text
       |  FROM documents WHERE doc_id % 11 = 0),
       |ctoks AS ($ctoksSql),
       |dtoks AS ($dtoksSql),
       |csig AS (${affineSigSql("mh", NumHashes, "mh", "SELECT doc_id, unnest(toks) AS e FROM ctoks")}),
       |dsig AS (${affineSigSql("mh", NumHashes, "mh", "SELECT doc_id, unnest(toks) AS e FROM dtoks")}),
       |cbands AS (${bandedSqlFrom("csig")}),
       |dbands AS (${bandedSqlFrom("dsig")}),
       |cand AS (
       |  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
       |  FROM dbands d JOIN cbands c
       |    ON d.band_idx = c.band_idx AND d.band_hash = c.band_hash),
       |dup AS (
       |  SELECT delta_id, MIN(corpus_id) AS dup_of
       |  FROM cand
       |  JOIN dtoks dt ON dt.doc_id = delta_id
       |  JOIN ctoks ct ON ct.doc_id = corpus_id
       |  WHERE ROUND(len(list_intersect(dt.toks, ct.toks)) * 1.0 /
       |        (len(dt.toks) + len(ct.toks) - len(list_intersect(dt.toks, ct.toks))), 6)
       |        >= $JaccardThreshold
       |  GROUP BY delta_id)
       |SELECT d.doc_id,
       |       CASE WHEN u.dup_of IS NULL THEN 'new' ELSE 'near_dup' END AS status,
       |       COALESCE(u.dup_of, -1) AS dup_of
       |FROM delta d LEFT JOIN dup u ON d.doc_id = u.delta_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The declared cluster fixture: a deterministic 3-link chain per
    * document (id — id+1M — id+2M): a-b and b-c dup edges WITHOUT a
    * direct a-c edge, so the cluster only collapses if transitivity
    * actually propagates. (Shared by both CC variants' queries.) */
  private def chainClusterFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val nodes = docs.select(col("doc_id").as("id"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("id")))
      .unionByName(docs.select((col("doc_id") + 2000000L).as("id")))
    val edges = docs
      .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("a"),
        (col("doc_id") + 2000000L).as("b")))
    (nodes, edges)
  }

  /** Recursive-CTE reachability oracle over the chain fixture. */
  private val chainClusterOracleSql: String =
    """WITH RECURSIVE
      |nodes AS (
      |  SELECT doc_id FROM documents
      |  UNION ALL SELECT doc_id + 1000000 FROM documents
      |  UNION ALL SELECT doc_id + 2000000 FROM documents),
      |e AS (
      |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, doc_id + 2000000 FROM documents),
      |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      |reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a AND r.a <> u.b)
      |SELECT n.doc_id,
      |       LEAST(n.doc_id, COALESCE(MIN(r.b), n.doc_id)) AS cluster_id
      |FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id
      |GROUP BY n.doc_id
      |ORDER BY n.doc_id""".stripMargin

  /** ASYMMETRIC containment pairs over winnowing fingerprints
    * (Schleimer/Wilkerson/Aiken SIGMOD'03 §5 — the MOSS shape): doc a
    * is "contained in" doc b when ≥ `theta` of a's selective
    * fingerprints also appear in b. Containment, not Jaccard — a short
    * doc quoted whole inside a long one scores 1.0 here but near 0 on
    * Jaccard, so this is the dedup tier that catches quotation/subset
    * duplication the symmetric tiers can't.
    *
    * Scale shape: fingerprints come from the native `WinnowGenerator`
    * (map-only, inside the scan projection); a document-frequency
    * STOP-LIST (`maxDf`, the published winnowing practice) drops
    * boilerplate fingerprints before pairing, which both bounds the
    * keyed self-join at Σ_fp df² ≤ maxDf·Σ df and keeps the
    * denominator meaningful (a fingerprint shared by half the corpus
    * says nothing about copying). All joins are fp/doc-keyed partial+
    * final aggregates — never all-pairs, no driver collects. The
    * denominator counts SELECTIVE fingerprints only (those surviving
    * the stop-list), on both engines identically. */
  def containmentPairs(docs: DataFrame, maxDf: Int, theta: Double): DataFrame = {
    val fps = docs.select(col("doc_id"),
      graft.functions.winnow_fingerprints(col("text"), 8, 4).as("fp"))
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val sel = fps.join(rare, "fp").select(col("doc_id"), col("fp"))
    val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val shared = sel.as("a")
      .join(sel.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .filter(col("shared") >= col("n_fp") * theta)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_fp"),
        (round(col("shared") / col("n_fp"), 6) + lit(0.0)).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Header planted by the `dedup_substring_spans` declared query:
    * prepended verbatim to every third doc so a KNOWN multi-gram
    * duplicated region exists and the island merge is exercised
    * deterministically (14 tokens → gram starts 0..6 fuse into ONE
    * 14-token span). Natural cross-doc 8-gram repeats in the corpus
    * ride along. */
  private[graft] val SpanHeader: String =
    "shared syndicated wire service header block repeated verbatim " +
      "across partner outlets each morning edition"

  /** Exact duplicated-substring spans, the positional complement of
    * the chunk tier (`Curation.stripBoilerplate` catches duplication
    * only at fixed chunk alignment; this catches a copied passage at
    * ANY offset — the suffix-array-style exact-substring dedup of
    * published training-data pipelines, re-expressed as sliding-gram
    * hash joins instead of a suffix array, which does not distribute).
    *
    * A token position is "duplicated" when the `n`-gram starting
    * there also occurs in at least one OTHER document; runs of
    * duplicated starts whose token intervals [pos, pos+n-1] touch are
    * merged into maximal spans (split only when the gap between
    * consecutive duplicated starts exceeds `n`), so `dup_tokens` is
    * the exact count of tokens covered by cross-document duplication,
    * with no double counting across overlapping grams.
    *
    * Scale shape: grams leave the scan as (pos, 60-bit key) rows from
    * the native `ngram_hashes` Generator — no gram string is ever
    * materialized; "appears in ≥ 2 docs" is min(doc)≠max(doc), a
    * partial+final aggregate on 8-byte keys (no countDistinct); the
    * re-fetch is a LEFT SEMI hash join on the same key; the island
    * merge windows partition BY DOCUMENT, so per-task state is one
    * doc's duplicated positions — bounded by doc length regardless of
    * corpus size. Never all-pairs anywhere.
    *
    * Returns (doc_id, span_start, span_tokens), one row per maximal
    * span; eagerly materialized (bounded: ≤ docs × spans-per-doc)
    * so the gram cache never outlives the call. */
  /** Maximal-span island merge over flagged (doc_id, pos) gram-start
    * rows: split only when the gap between consecutive duplicated
    * starts exceeds `n` (token intervals [pos, pos+n-1] no longer
    * touch), so Σ span_tokens counts each covered token exactly once.
    * Windows partition BY DOCUMENT — per-task state is one doc's
    * flagged positions, and the span aggregate reuses the same
    * doc_id exchange (grp extends its key). */
  private[graft] def islandSpans(hits: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > n, lit(1)).otherwise(lit(0)))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(n)).cast("long").as("span_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }

  /** Per-doc rollup of span rows + the duplicated fraction against
    * `docs`' token counts. Flagged docs only. */
  private def spanRollup(docs: DataFrame, spans: DataFrame): DataFrame = {
    val ntok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    spans
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_spans"),
        sum(col("span_tokens")).cast("long").as("dup_tokens"),
        max(col("span_tokens")).cast("long").as("max_span"))
      .join(ntok, "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"), col("max_span"),
        (round(col("dup_tokens") / col("n_tokens"), 6) + lit(0.0)).as("dup_frac"))
  }

  private def gramPosRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.ngram_hashes(col("text"), n, 15).as(Seq("pos", "gram_h")))

  /** Per-doc n-gram NOVELTY against everything that arrived before it
    * — the corpus freshness/memorization audit ("how much of this doc
    * is new text vs restatement of earlier docs"): a gram is novel in
    * the doc holding its corpus-wide FIRST occurrence (min doc_id —
    * ingest order is the time axis, the incremental-dedup convention),
    * and a doc whose novelty is ~0 adds no new n-grams to the corpus.
    * The inverse lens of [[duplicatedSpans]]: spans localize repeats
    * inside a doc; novelty scores the doc's contribution to the
    * corpus. Per-doc DISTINCT gram keys, so a gram repeated within
    * one doc counts once.
    *
    * Shape for scale: one (doc_id, gram_h) distinct exchange, then
    * first-occurrence via groupBy MIN — partial (map-side) min makes
    * stop-word-grade grams cheap, where a per-gram window would sort
    * entire skewed gram partitions on one task — one gram-keyed join
    * back, one doc rollup. Keys are the native 60-bit scan-side
    * generator; gram strings never shuffle. Docs with < n tokens
    * yield no grams and are absent in both engines. */
  def gramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = gramPosRows(docs, n)
      .select(col("doc_id"), col("gram_h")).distinct()
    val first = grams.groupBy(col("gram_h")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("gram_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (round(col("n_novel") * lit(1.0) / col("n_grams"), 6) + lit(0.0)).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking (CDC) — the rolling-hash boundary rule
    * from dedup storage (Muthitacharoen et al., LBFS SOSP'01; the
    * Rabin-fingerprint family): cut BEFORE token q whenever the
    * w-token gram ending at q−1 hashes to 0 mod `divisor`, so chunk
    * boundaries depend only on LOCAL content. That buys the property
    * fixed-stride chunking ([[graft.functions.ChunkGenerator]])
    * cannot have: inserting a prefix shifts every stride window and
    * kills all sharing, but CDC boundaries re-align right after the
    * edit and every downstream chunk fingerprint survives —
    * chunk-level dedup that is robust to insertions. Expected chunk
    * length ≈ `divisor` tokens. Output is one row per chunk with its
    * 60-bit fingerprint and how many docs share it.
    *
    * Shape for scale: ONE persisted (doc, text, toks, len) projection
    * feeds all three consumers (the shared-scan discipline — three
    * raw corpus scans otherwise); gram keys come from the native
    * scan-side generator (gram strings never shuffle); the
    * boundary→chunk assignment windows over INTEGER positions only;
    * per-doc spans collapse to ONE sorted array row (sort_array ∘
    * collect_list — per-doc bounded), so the doc's text crosses the
    * join exactly once; chunk slicing + fingerprinting are map-side;
    * the sharing count is a fingerprint-keyed aggregate + join on
    * the chunk frame. Per-doc state is bounded by doc length. */
  def contentChunks(docs: DataFrame, w: Int = 4, divisor: Int = 16): DataFrame = {
    // one corpus pass: the native generator emits finished chunk rows
    // inside the scan (cut decisions + fingerprints fused over one
    // UTF-8 encoding of the tokens); the checkpoint bounds the frame
    // so the sharing aggregate and the join both read chunk rows, not
    // the corpus. The window pipeline this replaced lives on as
    // [[contentChunksComposed]] — LlmSpec pins the two row-identical
    // and the declared oracle (unchanged) re-proves it at driver time.
    val rows = Materialize(docs.select(col("doc_id"),
        graft.functions.cdc_chunks(col("text"), w, divisor)
          .as(Seq("chunk_idx", "start_pos", "n_tokens", "chunk_fp"))))
    val sharing = rows.groupBy(col("chunk_fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
    rows.join(sharing, Seq("chunk_fp"))
      .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
        col("n_tokens"), col("chunk_fp"), col("n_docs_sharing"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** The composed (gram-explode + position-window + span-collapse +
    * text-join) CDC pipeline — the pre-generator form, kept as the
    * verification baseline for [[CdcChunkGenerator]] (the
    * boilerplateChunks convention). */
  def contentChunksComposed(docs: DataFrame, w: Int = 4, divisor: Int = 16): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
      .withColumn("len", size(col("toks")))
    Materialize.using(base) {
      val g = base.select(col("doc_id"), col("len"),
        graft.functions.ngram_hashes(col("text"), w, 15).as(Seq("pos", "gram_h")))
      val cuts = g
        .filter(pmod(col("gram_h"), lit(divisor)) === 0 && col("pos") + w < col("len"))
        .select(col("doc_id"), (col("pos") + w).as("s"))
      val starts = cuts.unionByName(
        base.filter(col("len") > 0).select(col("doc_id"), lit(0).as("s")))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      val spans = starts.join(base.select(col("doc_id"), col("len")), Seq("doc_id"))
        .withColumn("e", coalesce(lead(col("s"), 1).over(byDoc), col("len")))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))
      val out = base.join(spans, Seq("doc_id"))
        .select(col("doc_id"), col("toks"),
          posexplode(col("spans")).as(Seq("chunk_idx", "sp")))
        .select(col("doc_id"), col("chunk_idx"),
          col("sp.s").as("start_pos"),
          (col("sp.e") - col("sp.s")).as("n_tokens"),
          conv(substring(md5(
            array_join(slice(col("toks"), col("sp.s") + 1, col("sp.e") - col("sp.s")), " ")),
            1, 15), 16, 10).cast("long").as("chunk_fp"))
      val sharing = out.groupBy(col("chunk_fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs_sharing"))
      out.join(sharing, Seq("chunk_fp"))
        .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
          col("n_tokens"), col("chunk_fp"), col("n_docs_sharing"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }
  }

  /** Row-LOCAL CDC chunker: the same cut rule as [[contentChunks]]
    * computed entirely inside each row with higher-order functions —
    * no windows, no joins, no aggregates, no state. This is the form
    * that makes CDC chunking's parallelism explicit: chunk assignment
    * depends only on the row, so it runs unchanged as a STATELESS
    * streaming projection (`streaming_cdc_chunks`), and LlmSpec pins
    * it chunk-identical to the window-based batch pipeline. Cost
    * note: gram hashes here are interpreted md5 per position
    * (row-local); the batch path keeps the native scan-side
    * generator — the two meet at identical fingerprints. */
  def contentChunkRows(docs: DataFrame, w: Int = 4, divisor: Int = 16): DataFrame = {
    val toks = split(col("text"), " ")
    val len = size(toks)
    def gramH(s0: Column): Column =
      conv(substring(md5(array_join(slice(toks, s0 + 1, lit(w)), " ")), 1, 15), 16, 10)
        .cast("long")
    val sCand = when(len > w, sequence(lit(0), len - w - 1))
      .otherwise(array().cast("array<int>"))
    val cuts = filter(transform(sCand, s0 => s0 + w),
      q => pmod(gramH(q - w), lit(divisor)) === 0)
    val starts = when(len > 0, concat(array(lit(0)), cuts))
      .otherwise(array().cast("array<int>"))
    val ends = when(size(starts) > 0,
        concat(slice(starts, lit(2), size(starts) - 1), array(len)))
      .otherwise(array().cast("array<int>"))
    val spans = zip_with(starts, ends, (s0, e0) => struct(s0.as("s"), e0.as("e")))
    docs
      .select(col("doc_id"), toks.as("toks"),
        posexplode(spans).as(Seq("chunk_idx", "sp")))
      .select(col("doc_id"), col("chunk_idx"),
        col("sp.s").as("start_pos"),
        (col("sp.e") - col("sp.s")).as("n_tokens"),
        conv(substring(md5(array_join(
          slice(col("toks"), col("sp.s") + 1, col("sp.e") - col("sp.s")), " ")),
          1, 15), 16, 10).cast("long").as("chunk_fp"))
  }

  private def spansFromGrams(grams: DataFrame, n: Int): DataFrame = {
    val dupGrams = grams.groupBy(col("gram_h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("gram_h"))
    val hits = grams.join(dupGrams, Seq("gram_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    islandSpans(hits, n)
  }

  /** The span pipeline WITHOUT caching or materialization —
    * PlanAuditSpec inspects this frame (the public API materializes it
    * through [[graft.Materialize]], which hides the plan). */
  private[graft] def spanRowsPlan(docs: DataFrame, n: Int = 8): DataFrame =
    spansFromGrams(gramPosRows(docs, n), n)

  def duplicatedSpanRows(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = gramPosRows(docs, n)
    Materialize.using(grams)(spansFromGrams(grams, n))
  }

  /** Keep-one-copy substring dedup — the ACTING form of
    * `duplicatedSpans` (which only reports): every cross-document
    * duplicated span is excised EXCEPT from the gram's canonical
    * owner (the min doc_id containing it) — the published
    * exact-substring dedup semantics. A position is stripped iff some
    * covering gram is duplicated AND this doc is not that gram's
    * owner; ownership is per GRAM (deterministic min), so the rule is
    * order-free and replays exactly in SQL. The survival guarantee is
    * therefore gram-granular: exactly one copy of each duplicated
    * n-GRAM survives the corpus. A multi-gram passage keeps an intact
    * copy only when one doc owns all its grams — when different grams
    * of the passage have different min-doc owners (a sub-gram also
    * appears in an earlier doc), each owner keeps its grams and no
    * single doc may retain the passage verbatim (ADVICE r8: the
    * earlier per-passage phrasing overclaimed). Untouched docs pass
    * byte-identical. Returns (doc_id, n_kept, clean_text).
    *
    * Scale shape: ownership is the same min/max aggregate the report
    * tier runs (plus min kept as the owner id); the strip reuses
    * `Curation.removeSpans` — all stages doc-partitioned, never
    * all-pairs. */
  def substringStrip(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = gramPosRows(docs, n)
    Materialize.using(grams) {
      val owners = grams.groupBy(col("gram_h"))
        .agg(min(col("doc_id")).as("owner"), max(col("doc_id")).as("mx"))
        .filter(col("owner") =!= col("mx"))
        .select(col("gram_h"), col("owner"))
      val hits = grams.join(owners, "gram_h")
        .filter(col("doc_id") =!= col("owner"))
        .select(col("doc_id"), col("pos"))
      Curation.removeSpans(docs, islandSpans(hits, n))
    }
  }

  /** Incremental substring probe — the span tier of the delta-vs-corpus
    * family (`incrementalDedup` exact, `incrementalNearDedup` banded):
    * which passages of the NEWLY ARRIVED docs already exist verbatim
    * anywhere in the standing corpus. Only the delta is gram-scanned
    * for positions; the corpus side reduces to its distinct gram-key
    * set (the persisted index at scale — the same artifact the
    * decontamination bloom builds from), and the probe is a LEFT SEMI
    * join keyed on the 8-byte gram hash. Island merge + rollup as in
    * `duplicatedSpans`; a delta doc that is a verbatim copy reports
    * one whole-doc span with dup_frac 1.0. */
  def incrementalSubstringSpans(
      corpus: DataFrame, delta: DataFrame, n: Int = 8): DataFrame = {
    val corpusGrams = corpus
      .select(graft.functions.ngram_hashes(col("text"), n, 15).as(Seq("pos", "gram_h")))
      .select(col("gram_h")).distinct()
    val deltaGrams = delta.select(col("doc_id"),
      graft.functions.ngram_hashes(col("text"), n, 15).as(Seq("pos", "gram_h")))
    val hits = deltaGrams.join(corpusGrams, Seq("gram_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spanRollup(delta, islandSpans(hits, n))
  }

  /** Per-doc rollup of `duplicatedSpanRows`: span count, exact
    * duplicated-token total, widest span, and the duplicated fraction
    * of the doc — the quantity pipelines threshold on ("drop docs
    * > 50 % duplicated", Lee et al.-style). Flagged docs only. */
  def duplicatedSpans(docs: DataFrame, n: Int = 8): DataFrame =
    spanRollup(docs, duplicatedSpanRows(docs, n))

  /** WITHIN-doc duplicated n-gram coverage — the Gopher-class
    * self-repetition rule ("fraction of a doc covered by n-grams that
    * recur in the SAME doc"; Rae et al. 2021 §A.1.1 use duplicate
    * line/paragraph/n-gram fractions as drop rules), expressed as
    * exact token coverage: union of [pos, pos+n) over every position
    * whose gram key occurs ≥ 2 times in its doc, island-merged like
    * the cross-doc detector so overlaps never double-count.
    *
    * Scale shape: the recurrence test is a COUNT window over
    * (doc_id, gram_h) — no self-join; that exchange plus the doc_id
    * island/rollup exchange are the whole plan (2 shuffles). All keys
    * are 60-bit longs from the native scan-side Generator; gram
    * strings never shuffle. Per-doc state is bounded by doc length,
    * so skew follows the corpus's own doc-size distribution. */
  def intraDocSpans(docs: DataFrame, n: Int = 3): DataFrame = {
    val perDocGram = Window.partitionBy(col("doc_id"), col("gram_h"))
    val hits = gramPosRows(docs, n)
      .withColumn("c", count(lit(1)).over(perDocGram))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("pos"))
    spanRollup(docs, islandSpans(hits, n))
  }

  /** Persist the corpus's DISTINCT gram-key set as a table bucketed
    * (and sorted) by gram_h — the standing substring index. The
    * distinct's shuffle is paid ONCE at build; every later probe
    * joins co-located against the bucket files. */
  def buildGramIndex(
      corpus: DataFrame, spark: SparkSession, table: String, path: String,
      n: Int = 8, buckets: Int = 8): Unit = {
    bucketedCreate(gramPosRows(corpus, n).select(col("gram_h")).distinct(),
      table, path, BucketSpec(buckets, Seq("gram_h"), Seq("gram_h")))
  }

  /** Probe newly arrived docs against a persisted `buildGramIndex`
    * table: identical semantics to `incrementalSubstringSpans`, but
    * the probe join shuffles ONLY the delta side (one small exchange
    * to match the index bucketing — LlmSpec pins exactly one exchange
    * on the probe with broadcast disabled). */
  def probeGramIndex(
      delta: DataFrame, spark: SparkSession, table: String, n: Int = 8): DataFrame = {
    val hits = gramPosRows(delta, n)
      .join(spark.table(table), Seq("gram_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spanRollup(delta, islandSpans(hits, n))
  }

  /** The rows an [[appendGramIndex]] call writes: the delta's gram
    * keys anti-joined against the standing index (index side reads
    * its bucket files co-located), then deduplicated. The gram rows are
    * repartitioned into the table's buckets up front, so the anti-join,
    * the distinct and the bucketed write all reuse that one
    * delta-sized exchange (LlmSpec pins it). */
  private[graft] def appendGramIndexRows(
      delta: DataFrame, spark: SparkSession, table: String, n: Int = 8): DataFrame =
    gramPosRows(delta, n).select(col("gram_h"))
      .repartition(bucketSpecOf(spark, table).numBuckets, col("gram_h"))
      .join(spark.table(table), Seq("gram_h"), "left_anti")
      .distinct()

  /** Incremental (append) maintenance for [[buildGramIndex]]: only
    * the delta's genuinely NEW gram keys enter the table, so its
    * contents stay exactly the distinct gram set of corpus ∪ delta —
    * probe-after-append ≡ probe-after-rebuild by construction (the
    * probe is a LEFT SEMI join, insensitive to row order; LlmSpec
    * pins frame equality). The build's corpus-sized distinct is never
    * re-paid (VERDICT r14 task 1). */
  def appendGramIndex(
      delta: DataFrame, spark: SparkSession, table: String, n: Int = 8): Unit =
    bucketedAppend(appendGramIndexRows(delta, spark, table, n), spark, table)

  /** Delta fixture shared by the incremental-substring queries: exact
    * copies (+1M), appended revisions (+2M), novel docs (+3M) — the
    * same construction as `dedup_incremental_near`. */
  private def incrementalSubstringFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" appended revision")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("completely novel content payload "),
            col("doc_id").cast("string")).as("text")))
    (docs, delta)
  }

  /** Oracle shared by both incremental-substring plans (in-query
    * distinct vs persisted bucketed index — same answer by
    * construction): replays corpus gram keys, delta positions, the
    * island merge, and the rollup. */
  private val incrementalSubstringOracleSql: String = {
    val n = 8
    def gramsOf(src: String, withId: Boolean): String = {
      val idCol = if (withId) "doc_id, " else ""
      s"""SELECT $idCol
         |       unnest(range(1, greatest(len(l) - ${n - 1}, 0) + 1)) AS i,
         |       unnest(list_transform(range(1, greatest(len(l) - ${n - 1}, 0) + 1),
         |                             i -> array_to_string(l[i:i+${n - 1}], ' '))) AS gram
         |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM $src)""".stripMargin
    }
    s"""WITH delta AS (
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text || ' appended revision' AS text
       |  FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS doc_id,
       |         'completely novel content payload ' || CAST(doc_id AS VARCHAR) AS text
       |  FROM documents WHERE doc_id % 11 = 0),
       |cg AS (
       |  SELECT DISTINCT CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
       |  FROM (${gramsOf("documents", withId = false)})),
       |dg AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
       |  FROM (${gramsOf("delta", withId = true)})),
       |hits AS (SELECT dg.doc_id, dg.pos FROM dg JOIN cg USING (gram_h)),
       |flagged AS (
       |  SELECT doc_id, pos,
       |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
       |              THEN 1 ELSE 0 END AS brk
       |  FROM hits),
       |isl AS (SELECT doc_id, pos,
       |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |        FROM flagged),
       |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) - MIN(pos) + $n AS w
       |          FROM isl GROUP BY doc_id, grp),
       |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM delta)
       |SELECT s.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_spans,
       |       CAST(SUM(w) AS BIGINT) AS dup_tokens,
       |       CAST(MAX(w) AS BIGINT) AS max_span,
       |       ROUND(SUM(w) * 1.0 / MAX(t.n_tokens), 6) + 0 AS dup_frac
       |FROM spans s JOIN tok t USING (doc_id)
       |GROUP BY s.doc_id
       |ORDER BY s.doc_id""".stripMargin
  }

  /** Oracle SQL for the three text near-dup PAIR tiers — factored so
    * `dedup_tier_agreement` can replay all three in one statement. */
  private[graft] val minhashPairsSql: String =
    s"""WITH toks AS ($tokenizedSql),
       |sig AS ($signaturesSql),
       |bands AS ($bandedSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT id_a, id_b,
       |         ROUND(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
       |               (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) + 0 AS jaccard
       |  FROM cand
       |  JOIN toks ta ON ta.doc_id = id_a
       |  JOIN toks tb ON tb.doc_id = id_b)
       |SELECT id_a, id_b, jaccard FROM j
       |WHERE jaccard >= $JaccardThreshold""".stripMargin

  private val simhashPairsSql: String = {
    val h = s"CAST(concat('0x', substr(md5('sh64:' || t), 1, 15)) AS BIGINT)"
    val bits = (0 until SimHash64Bits).map(k =>
      s"(CASE WHEN list_sum(list_transform(toks, t -> ($h >> $k) & 1)) * 2 >= len(toks) THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)")
      .mkString("\n + ")
    val bandsSql = SimHashCombos.zipWithIndex.map { case (combo, ti) =>
      s"SELECT doc_id, simhash, $ti AS band_idx, ${comboKeySql("simhash", combo)} AS band_bits FROM sh"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS ($tokenizedSql),
       |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM toks
       |       WHERE toks IS NOT NULL),
       |bands AS ($bandsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
       |   AND a.doc_id < b.doc_id)
       |SELECT c.id_a, c.id_b,
       |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
       |FROM cand c
       |JOIN sh sa ON sa.doc_id = c.id_a
       |JOIN sh sb ON sb.doc_id = c.id_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $MaxHamming""".stripMargin
  }

  private val ngramPairsSql: String = {
    val gbandsSql = (0 until NgramBands).map { b =>
      val cols = (b * NgramRowsPerBand until (b + 1) * NgramRowsPerBand)
        .map(i => s"gmh$i")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', ${cols.mkString(", ")})) AS band_hash FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS grams
       |  FROM t WHERE len(w) >= 2),
       |sig AS (${affineSigSql("gmh", NgramHashes, "gmh",
      "SELECT doc_id, unnest(grams) AS e FROM g")}),
       |bands AS ($gbandsSql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT id_a, id_b,
       |         ROUND(len(list_intersect(ga.grams, gb.grams)) * 1.0 /
       |               (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))), 6) + 0 AS jaccard
       |  FROM cand
       |  JOIN g ga ON ga.doc_id = id_a
       |  JOIN g gb ON gb.doc_id = id_b)
       |SELECT id_a, id_b, jaccard FROM j
       |WHERE jaccard >= 0.3""".stripMargin
  }

  /** One DuckDB statement replaying all three tier pipelines + the
    * consensus count — shared by the standalone and shared-scan
    * declared queries (identical semantics, different scan plan). */
  private val tierAgreementSql: String =
    s"""WITH u AS (
       |  SELECT id_a, id_b, 'minhash' AS tier FROM ($minhashPairsSql)
       |  UNION ALL
       |  SELECT id_a, id_b, 'simhash' AS tier FROM ($simhashPairsSql)
       |  UNION ALL
       |  SELECT id_a, id_b, 'ngram' AS tier FROM ($ngramPairsSql))
       |SELECT id_a, id_b,
       |       CAST(COUNT(*) AS BIGINT) AS n_tiers,
       |       string_agg(tier, ',' ORDER BY tier) AS tiers
       |FROM u GROUP BY id_a, id_b
       |HAVING COUNT(*) >= 2
       |ORDER BY id_a, id_b""".stripMargin

  /** Multi-tier consensus over the three INDEPENDENT text near-dup
    * detectors (vocabulary minhash, 60-bit simhash hamming, bigram
    * sequence Jaccard): pairs flagged by ≥ `minTiers` of them — the
    * published precision-boosting practice (each tier has distinct
    * false-positive modes; their intersection keeps dup recall while
    * discarding single-tier noise). One pass per tier (each already
    * banded/verified, never all-pairs) + a pair-keyed count — the
    * union adds no new join. */
  def tierAgreement(docs: DataFrame, minTiers: Int = 2): DataFrame = {
    def pairsOf(df: DataFrame, tier: String): DataFrame =
      df.select(col("id_a"), col("id_b"), lit(tier).as("tier"))
    pairsOf(nearDupPairs(docs), "minhash")
      .unionByName(pairsOf(simhashPairs(docs), "simhash"))
      .unionByName(pairsOf(ngramJaccardPairs(docs, threshold = 0.3), "ngram"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("long").as("n_tiers"),
        array_join(sort_array(collect_list(col("tier"))), ",").as("tiers"))
      .filter(col("n_tiers") >= minTiers)
  }

  /** Shared-scan form of `tierAgreement` (the PLANS.md honesty note,
    * closed in round 9): fed a raw parquet frame, the standalone
    * consensus pays THREE independent corpus scans — each tier's
    * signature stage re-reads (doc_id, text) from storage, which at
    * 100 TB is 300 TB of I/O for one logical pass. Here the
    * (doc_id, text) projection is persisted ONCE and every signature
    * stage — vocabulary minhash bands + verify token sets, 60-bit
    * simhash, bigram minhash bands + verify gram sets — derives from
    * the cached frame, so the corpus leaves storage exactly once (the
    * cache fill on first materialization). The tier pipelines
    * themselves are UNCHANGED — only their input relation differs —
    * so the result is row-for-row identical to `tierAgreement`
    * (DedupSpec pins equality, and pins that the tier signature
    * stages read the cache, not parquet). */
  def tierAgreementShared(docs: DataFrame, minTiers: Int = 2): DataFrame = {
    val corpus = docs.select(col("doc_id"), col("text"))
    Materialize.using(corpus)(tierAgreement(corpus, minTiers))
  }

  /** Oracle for the CDC chunk surface — shared verbatim by the batch
    * query and the stateless streaming form (the tierAgreement
    * discipline: the driver certifies them hash-identical). */
  private[graft] val cdcChunksOracleSql: String = {
    val w = 4; val d = 16
    s"""WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |lens AS (SELECT doc_id, len(l) AS len FROM corpus),
         |gs AS (
         |  SELECT doc_id,
         |         unnest(range(1, greatest(len(l) - ${w - 1}, 0) + 1)) AS i,
         |         unnest(list_transform(range(1, greatest(len(l) - ${w - 1}, 0) + 1),
         |                               i -> array_to_string(l[i:i+${w - 1}], ' '))) AS gram
         |  FROM corpus),
         |cuts AS (
         |  SELECT g.doc_id, (g.i - 1) + $w AS s
         |  FROM gs g JOIN lens USING (doc_id)
         |  WHERE CAST(concat('0x', substr(md5(g.gram), 1, 15)) AS BIGINT) % $d = 0
         |    AND (g.i - 1) + $w < lens.len),
         |starts AS (
         |  SELECT doc_id, s FROM cuts
         |  UNION ALL
         |  SELECT doc_id, 0 AS s FROM lens WHERE len > 0),
         |ch AS (
         |  SELECT st.doc_id, st.s,
         |         COALESCE(LEAD(st.s) OVER (PARTITION BY st.doc_id ORDER BY st.s),
         |                  lens.len) AS e,
         |         ROW_NUMBER() OVER (PARTITION BY st.doc_id ORDER BY st.s) - 1 AS chunk_idx
         |  FROM starts st JOIN lens USING (doc_id)),
         |fp AS (
         |  SELECT ch.doc_id, ch.chunk_idx, ch.s AS start_pos,
         |         ch.e - ch.s AS n_tokens,
         |         CAST(concat('0x', substr(md5(
         |           array_to_string(c.l[ch.s + 1:ch.e], ' ')), 1, 15)) AS BIGINT) AS chunk_fp
         |  FROM ch JOIN corpus c USING (doc_id)),
         |sh AS (SELECT chunk_fp, COUNT(DISTINCT doc_id) AS n_docs_sharing
         |       FROM fp GROUP BY 1)
         |SELECT fp.doc_id,
         |       CAST(fp.chunk_idx AS INT) AS chunk_idx,
         |       CAST(fp.start_pos AS INT) AS start_pos,
         |       CAST(fp.n_tokens AS INT) AS n_tokens,
         |       fp.chunk_fp,
         |       CAST(sh.n_docs_sharing AS BIGINT) AS n_docs_sharing
         |FROM fp JOIN sh USING (chunk_fp)
         |ORDER BY fp.doc_id, fp.chunk_idx""".stripMargin
  }

  val defs: Seq[Q] = Seq(

    // Winnowing-fingerprint containment: every (a, b) where ≥ half of
    // a's selective fingerprints appear in b. The oracle replays the
    // whole pipeline — winnow selection, df≤20 stop-list, keyed pair
    // counts, the θ·n_fp cut (θ = 0.5: exactly representable, so the
    // double compare is engine-identical) — pinning the pair SET and
    // the containment scores, not just counts.
    Q("dedup_containment",
      """WITH g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                        i -> CAST(concat('0x', substr(md5(substr(text, i, 8)), 1, 8)) AS BIGINT)) AS h
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(
        |           list_transform(range(1, greatest(len(h) - 3, 1) + 1),
        |                          i -> list_min(list_slice(h, i, i + 3))))) AS fps
        |  FROM g),
        |f AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
        |sel AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
        |sz AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, p.shared, sz.n_fp,
        |       ROUND(p.shared * 1.0 / sz.n_fp, 6) + 0 AS containment
        |FROM p JOIN sz ON sz.doc_id = p.doc_a
        |WHERE p.shared >= sz.n_fp * 0.5
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      containmentPairs(Tables.documents(s, dir), maxDf = 20, theta = 0.5)
    },

    // Exact dedup over a corpus with planted duplicates (the corpus
    // unioned with a shifted copy of itself): group-by content hash,
    // deterministic min-id victor, copy count.
    Q("dedup_exact",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      corpus.groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    },

    // Exact duplicated-substring spans on a planted-header corpus
    // (every third doc gets the shared 14-token SpanHeader prepended,
    // so gram starts 0..6 must fuse into one 14-token span; natural
    // cross-doc 8-gram repeats ride along). The oracle replays the
    // whole pipeline — sliding 8-gram 60-bit keys at the same
    // positions, min≠max cross-doc test, gap>n island split, per-doc
    // rollup — so span boundaries, token totals, and fractions are
    // all hash-pinned, not just row counts.
    Q("dedup_substring_spans", {
      val n = 8
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN '$SpanHeader ' || text ELSE text END AS text
         |  FROM documents),
         |corpus AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
         |gs AS (
         |  SELECT doc_id,
         |         unnest(range(1, greatest(len(l) - ${n - 1}, 0) + 1)) AS i,
         |         unnest(list_transform(range(1, greatest(len(l) - ${n - 1}, 0) + 1),
         |                               i -> array_to_string(l[i:i+${n - 1}], ' '))) AS gram
         |  FROM corpus),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |             CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
         |      FROM gs),
         |dup AS (SELECT gram_h FROM g GROUP BY gram_h HAVING MIN(doc_id) <> MAX(doc_id)),
         |hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram_h)),
         |flagged AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
         |              THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |isl AS (SELECT doc_id, pos,
         |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM flagged),
         |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) - MIN(pos) + $n AS w
         |          FROM isl GROUP BY doc_id, grp),
         |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM docs)
         |SELECT s.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_spans,
         |       CAST(SUM(w) AS BIGINT) AS dup_tokens,
         |       CAST(MAX(w) AS BIGINT) AS max_span,
         |       ROUND(SUM(w) * 1.0 / MAX(t.n_tokens), 6) + 0 AS dup_frac
         |FROM spans s JOIN tok t USING (doc_id)
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin
    }) { (s, dir) =>
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(SpanHeader + " "), col("text")))
          .otherwise(col("text")).as("text"))
      duplicatedSpans(planted).orderBy(col("doc_id"))
    },

    // Content-defined chunking (see contentChunks' scaladoc): the
    // insertion-robust chunk-level dedup surface on the RAW corpus —
    // rolling-hash cut rule, per-chunk 60-bit fingerprints, cross-doc
    // sharing counts; every boundary decision and fingerprint replays
    // exactly in the oracle's md5 arithmetic. LlmSpec pins THE CDC
    // property: a planted prefix insertion preserves all but the
    // first chunk's sharing while fixed-stride sharing drops to zero.
    Q("dedup_cdc_chunks", cdcChunksOracleSql) { (s, dir) =>
      contentChunks(Tables.documents(s, dir))
    },

    // Cross-source duplicate matrix (r10): the provenance view of the
    // near-dup detector — CONFIRMED duplicate pairs rolled up by
    // unordered source pair ("which crawls copy from which, and how
    // close"), the report a curation team reads before dropping a
    // source. Distinct from corpus_source_overlap (token-level
    // vocabulary sharing): this counts verified J ≥ 0.9 PAIRS.
    // least/greatest normalizes the pair so A→B and B→A land in one
    // cell; mean Jaccard sums the already-6-dp-rounded scores in
    // DECIMAL (order-free). Pair volume is the LSH candidate set —
    // never all-pairs; the source joins are dim-keyed.
    Q("dedup_source_matrix",
      s"""WITH pairs AS ($minhashPairsSql),
         |src AS (SELECT doc_id, source FROM documents),
         |m AS (
         |  SELECT least(sa.source, sb.source) AS source_a,
         |         greatest(sa.source, sb.source) AS source_b,
         |         p.jaccard
         |  FROM pairs p JOIN src sa ON sa.doc_id = p.id_a
         |               JOIN src sb ON sb.doc_id = p.id_b)
         |SELECT source_a, source_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         |         + 0 AS mean_jaccard
         |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val pairs = nearDupPairs(docs.select(col("doc_id"), col("text")))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          (round(sum(col("jaccard").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6) + lit(0.0)).as("mean_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Per-doc first-occurrence novelty (see gramNovelty's scaladoc):
    // the freshness/memorization audit on the RAW corpus — ingest
    // order (doc_id) is the time axis; the oracle replays the exact
    // 60-bit md5 gram keys, so the score is hash-pinned end to end.
    Q("dedup_gram_novelty", {
      val n = 8
      s"""WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |gs AS (
         |  SELECT doc_id,
         |         unnest(list_transform(range(1, greatest(len(l) - ${n - 1}, 0) + 1),
         |                               i -> array_to_string(l[i:i+${n - 1}], ' '))) AS gram
         |  FROM corpus),
         |g AS (SELECT DISTINCT doc_id,
         |             CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
         |      FROM gs),
         |f AS (SELECT gram_h, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
         |SELECT g.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_grams,
         |       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       ROUND(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1.0
         |             / COUNT(*), 6) + 0 AS novelty
         |FROM g JOIN f USING (gram_h)
         |GROUP BY g.doc_id
         |ORDER BY g.doc_id""".stripMargin
    }) { (s, dir) =>
      gramNovelty(Tables.documents(s, dir))
    },

    // WITHIN-doc self-repetition coverage (Gopher-class drop rule).
    // Every 7th doc is self-concatenated in-query (text twice) so its
    // grams all recur and coverage must reach the seam-limited
    // maximum; natural within-doc 3-gram repeats in other docs ride
    // along. The oracle replays gram keys, the per-doc recurrence
    // test, island merge, and rollup — spans and fractions
    // hash-pinned at every SF.
    Q("dedup_intradoc_spans", {
      val n = 3
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text ELSE text END AS text
         |  FROM documents),
         |corpus AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
         |gs AS (
         |  SELECT doc_id,
         |         unnest(range(1, greatest(len(l) - ${n - 1}, 0) + 1)) AS i,
         |         unnest(list_transform(range(1, greatest(len(l) - ${n - 1}, 0) + 1),
         |                               i -> array_to_string(l[i:i+${n - 1}], ' '))) AS gram
         |  FROM corpus),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |             CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
         |      FROM gs),
         |hits AS (SELECT doc_id, pos FROM (
         |           SELECT doc_id, pos,
         |                  COUNT(*) OVER (PARTITION BY doc_id, gram_h) AS c
         |           FROM g) WHERE c >= 2),
         |flagged AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
         |              THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |isl AS (SELECT doc_id, pos,
         |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM flagged),
         |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) - MIN(pos) + $n AS w
         |          FROM isl GROUP BY doc_id, grp),
         |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM docs)
         |SELECT s.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_spans,
         |       CAST(SUM(w) AS BIGINT) AS dup_tokens,
         |       CAST(MAX(w) AS BIGINT) AS max_span,
         |       ROUND(SUM(w) * 1.0 / MAX(t.n_tokens), 6) + 0 AS dup_frac
         |FROM spans s JOIN tok t USING (doc_id)
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin
    }) { (s, dir) =>
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")).as("text"))
      intraDocSpans(planted).orderBy(col("doc_id"))
    },

    // Keep-one-copy substring dedup on the same planted-header corpus
    // as dedup_substring_spans: doc 0 is the header's canonical owner
    // (min doc_id ≡ 0 mod 3) and must keep it verbatim; every other
    // planted doc loses it. The oracle replays ownership, the island
    // merge, and the reassembly — cleaned text fingerprint-pinned.
    Q("dedup_substring_strip", {
      val n = 8
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN '$SpanHeader ' || text ELSE text END AS text
         |  FROM documents),
         |corpus AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
         |gs AS (
         |  SELECT doc_id,
         |         unnest(range(1, greatest(len(l) - ${n - 1}, 0) + 1)) AS i,
         |         unnest(list_transform(range(1, greatest(len(l) - ${n - 1}, 0) + 1),
         |                               j -> array_to_string(l[j:j+${n - 1}], ' '))) AS gram
         |  FROM corpus),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |             CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
         |      FROM gs),
         |own AS (SELECT gram_h, MIN(doc_id) AS owner FROM g GROUP BY gram_h
         |        HAVING MIN(doc_id) <> MAX(doc_id)),
         |hits AS (SELECT g.doc_id, g.pos FROM g JOIN own USING (gram_h)
         |         WHERE g.doc_id <> own.owner),
         |flagged AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
         |              THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |isl AS (SELECT doc_id, pos,
         |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM flagged),
         |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) - MIN(pos) + $n AS w
         |          FROM isl GROUP BY doc_id, grp),
         |cov AS (SELECT doc_id, unnest(range(s, s + w)) AS pos FROM spans),
         |tok AS (SELECT doc_id, unnest(range(1, len(l) + 1)) - 1 AS pos, unnest(l) AS t
         |        FROM corpus),
         |kept AS (
         |  SELECT tk.doc_id, tk.pos, tk.t
         |  FROM tok tk LEFT JOIN cov c ON tk.doc_id = c.doc_id AND tk.pos = c.pos
         |  WHERE c.pos IS NULL)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       CAST(length(string_agg(t, ' ' ORDER BY pos)) AS BIGINT) AS clean_len,
         |       CAST(concat('0x', substr(md5(string_agg(t, ' ' ORDER BY pos)), 1, 8)) AS BIGINT) AS clean_fp
         |FROM kept GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(SpanHeader + " "), col("text")))
          .otherwise(col("text")).as("text"))
      substringStrip(planted)
        .select(col("doc_id"), col("n_kept"),
          length(col("clean_text")).cast("long").as("clean_len"),
          conv(substring(md5(col("clean_text")), 1, 8), 16, 10).cast("long").as("clean_fp"))
        .orderBy(col("doc_id"))
    },

    // Banded MinHash LSH → exact-Jaccard verify. Oracle-checked: the
    // same md5-derived hash family runs in DuckDB.
    Q("dedup_minhash_pairs",
      s"$minhashPairsSql\nORDER BY id_a, id_b") { (s, dir) =>
      nearDupPairs(Tables.documents(s, dir))
    },

    // LSH QUALITY as a driver-checked query — the dedup twin of
    // `embed_ann_recall`: per probe, the banded candidates that are
    // TRUE near-dups (exact Jaccard ≥ τ, probe×corpus ground truth)
    // over the number of true near-dups — banding recall, hash-pinned.
    // Near-dups are planted IN-QUERY (docs < 20 get a copy at +10⁶
    // with every 15th token dropped ⇒ J ≈ 0.93 ≥ τ = 0.9, token
    // surgery both engines replay identically), so the truth set is
    // non-vacuous on the near-unique corpus. The τ test is INTEGER —
    // J ≥ 0.9 ⟺ 19·|∩| ≥ 9·(|A|+|B|) — so the truth SET can't drift
    // on a rounding boundary. Exact side costs Σ_probe df-weighted
    // token joins (|probes| is the sampling knob, exactly as in the
    // ANN audit); the banding side is the production map-only path.
    Q("dedup_minhash_recall", {
      val keptSql = "array_to_string(list_transform(" +
        "list_filter(range(1, len(string_split(text, ' ')) + 1), i -> i % 15 != 0)," +
        " i -> string_split(text, ' ')[i]), ' ')"
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, $keptSql FROM documents WHERE doc_id < 20),
         |toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM aug),
         |sig AS ($signaturesSql),
         |bands AS ($bandedSql),
         |sz AS (SELECT doc_id, len(toks) AS s FROM toks),
         |pt AS (SELECT doc_id AS pid, unnest(toks) AS t FROM toks WHERE doc_id < 20),
         |ct AS (SELECT doc_id AS cid, unnest(toks) AS t FROM toks),
         |iv AS (
         |  SELECT pid, cid, COUNT(*) AS i FROM pt JOIN ct USING (t)
         |  WHERE cid != pid GROUP BY 1, 2),
         |tru AS (
         |  SELECT pid, cid FROM iv
         |  JOIN sz sp ON sp.doc_id = pid
         |  JOIN sz sc ON sc.doc_id = cid
         |  WHERE 19 * i >= 9 * (sp.s + sc.s)),
         |cand AS (
         |  SELECT DISTINCT p.doc_id AS pid, c.doc_id AS cid
         |  FROM bands p JOIN bands c
         |    ON p.band_idx = c.band_idx AND p.band_hash = c.band_hash
         |   AND p.doc_id < 20 AND c.doc_id != p.doc_id),
         |fnd AS (
         |  SELECT t.pid, COUNT(*) AS n_found
         |  FROM tru t JOIN cand c ON c.pid = t.pid AND c.cid = t.cid
         |  GROUP BY 1),
         |nc AS (SELECT pid, COUNT(*) AS n_cand FROM cand GROUP BY 1),
         |nt AS (SELECT pid, COUNT(*) AS n_true FROM tru GROUP BY 1)
         |SELECT nt.pid AS probe_id,
         |       CAST(nt.n_true AS BIGINT) AS n_true,
         |       CAST(COALESCE(c.n_cand, 0) AS BIGINT) AS n_cand,
         |       CAST(COALESCE(f.n_found, 0) AS BIGINT) AS n_found,
         |       ROUND(COALESCE(f.n_found, 0) * 1.0 / nt.n_true, 6) + 0 AS recall,
         |       CASE WHEN COALESCE(c.n_cand, 0) = 0 THEN CAST(1.0 AS DOUBLE)
         |            ELSE ROUND(COALESCE(f.n_found, 0) * 1.0 / c.n_cand, 6) + 0
         |       END AS cand_precision
         |FROM nt
         |LEFT JOIN fnd f ON f.pid = nt.pid
         |LEFT JOIN nc c ON c.pid = nt.pid
         |ORDER BY probe_id""".stripMargin
    }) { (s, dir) =>
      val docs0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val l = split(col("text"), " ")
      val keptTxt = array_join(
        transform(filter(sequence(lit(1), size(l)), i => i % 15 =!= 0),
          i => element_at(l, i)), " ")
      val aug = docs0.unionByName(docs0.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), keptTxt.as("text")))
      minhashRecall(aug, probePred = col("doc_id") < 20)
        .orderBy(col("probe_id"))
    },

    // Multi-tier consensus: pairs flagged by ≥ 2 of the three
    // independent text tiers, with the agreeing tier list. The oracle
    // replays ALL THREE pipelines (each WITH-block nests as a derived
    // table) and the same count/agg — pair set, counts, and tier
    // strings all hash-pinned.
    Q("dedup_tier_agreement", tierAgreementSql) { (s, dir) =>
      tierAgreement(Tables.documents(s, dir)).orderBy(col("id_a"), col("id_b"))
    },

    // Shared-scan consensus: the SAME three-tier intersection computed
    // off ONE persisted (doc_id, text) projection — the 100 TB form
    // (one corpus pass, not three). Same oracle statement as the
    // standalone query, so the driver independently certifies the two
    // forms hash-identical.
    Q("dedup_tier_agreement_shared", tierAgreementSql) { (s, dir) =>
      tierAgreementShared(Tables.documents(s, dir))
        .orderBy(col("id_a"), col("id_b"))
    },

    // SimHash signature table (near-dup via hamming distance on one
    // BIGINT; pairing behavior unit-tested in DedupSpec).
    Q("dedup_simhash", simhashSql) { (s, dir) =>
      simhashed(Tables.documents(s, dir)).orderBy("doc_id")
    },

    // Hamming near-dup PAIRS over the 60-bit simhash, candidates from
    // lossless Manku block-permuted bands (6 blocks × 10 bits,
    // C(6,3)=20 tables keyed on 30-bit 3-block concatenations:
    // hamming ≤ 3 ⇒ some full combo agrees), exact bit_count(xor)
    // verify. Fully oracle-checked: signature, bands, and verify all
    // replay in SQL.
    Q("dedup_simhash_pairs",
      s"$simhashPairsSql\nORDER BY id_a, id_b") { (s, dir) =>
      simhashPairs(Tables.documents(s, dir))
    },

    // Incremental dedup: a synthetic delta batch (exact copies of the
    // %5 slice + genuinely-new texts from the %7 slice) probes the
    // corpus's content-hash index — the delta-only shape a production
    // ingest runs (the corpus never rescans per batch).
    Q("dedup_incremental", incrementalExactOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      incrementalDedup(docs, incrementalExactDelta(docs)).orderBy(col("doc_id"))
    },

    // The SERVING form: the content-hash index PERSISTED bucketed by
    // h, so the probe join shuffles only the delta (the groupBy's
    // corpus-sized shuffle was paid once at build). Same oracle —
    // identical answer by construction; LlmSpec pins the
    // single-exchange probe shape (the near/SRP/gram-idx discipline).
    Q("dedup_incremental_idx", incrementalExactOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val tbl = "hash_idx_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_hash_idx").toString
      buildHashIndex(docs, s, tbl, s"$path/$tbl")
      try Materialize(probeHashIndex(incrementalExactDelta(docs), s, tbl)
        .orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Bench.deleteRecursively(path)
      }
    },

    // APPEND-maintained serving index (VERDICT r14 task 1): build the
    // hash index from the first-ingested slice (doc_id < 200 — the
    // split is MONOTONE like real ingest, which is exactly the
    // assumption first-write-wins needs: the testdata carries a few
    // duplicate texts, and a non-monotone split could hand the later
    // batch the smaller id), appendHashIndex the remainder (one
    // delta-sized exchange — only NEW hashes enter), then probe. Same
    // oracle: probe-after-append must be row-identical to a probe
    // against a from-scratch rebuild over the full corpus.
    Q("dedup_incremental_idx_append", incrementalExactOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val tbl = "hash_app_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_hash_app").toString
      buildHashIndex(docs.filter(col("doc_id") < 200), s, tbl, s"$path/$tbl")
      appendHashIndex(docs.filter(col("doc_id") >= 200), s, tbl)
      try Materialize(probeHashIndex(incrementalExactDelta(docs), s, tbl)
        .orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Bench.deleteRecursively(path)
      }
    },

    // Incremental NEAR-dedup: the delta batch (exact copies, light
    // revisions, genuinely novel texts) probes the corpus's BANDED
    // minhash index — candidates only where a full band agrees, exact
    // Jaccard verify, deterministic min-id corpus victor. Fully
    // oracle-checked: both sides' banding and the verify replay in SQL.
    // (Oracle and delta fixture are shared VERBATIM with the streaming
    // form `streaming_neardup_probe` — the driver certifies
    // stream ≡ batch hash-identical, the tierAgreement discipline.)
    Q("dedup_incremental_near", incrementalNearOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      incrementalNearDedup(docs, incrementalNearDelta(docs)).orderBy(col("doc_id"))
    },

    // The SERVING form of the same probe: the corpus's banded minhash
    // index and token-set table are PERSISTED, bucketed on their join
    // keys (band_hash / corpus_id) — the candidate join then shuffles
    // ONLY the delta side and the verify reads token sets co-located
    // (their corpus-sized shuffles were paid once at build). Same
    // oracle — identical answer by construction; LlmSpec pins the
    // single-exchange probe shape and frame equality with the
    // in-query form (the dedup_incremental_substring_idx discipline
    // applied to the minhash tier).
    Q("dedup_incremental_near_idx", incrementalNearOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val tbl = "band_idx_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_band_idx").toString
      buildBandIndex(docs, s, tbl, s"$path/$tbl")
      try Materialize(probeBandIndex(incrementalNearDelta(docs), s, tbl)
        .orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
        graft.Bench.deleteRecursively(path)
      }
    },

    // APPEND-maintained serving pair (VERDICT r14 task 1): build the
    // band/token tables from the first-ingested slice, appendBandIndex
    // the remainder (one delta-bounded exchange — the r15 idempotence
    // anti-join; derivation itself is map-only per-doc facts), then
    // probe. Same oracle: the band and token tables are per-doc facts,
    // so probe-after-append is row-identical to a probe against a
    // from-scratch rebuild over the full corpus.
    Q("dedup_incremental_near_idx_append", incrementalNearOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val tbl = "band_app_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_band_app").toString
      buildBandIndex(docs.filter(col("doc_id") < 200), s, tbl, s"$path/$tbl")
      appendBandIndex(docs.filter(col("doc_id") >= 200), s, tbl)
      try Materialize(probeBandIndex(incrementalNearDelta(docs), s, tbl)
        .orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_bands")
        s.sql(s"DROP TABLE IF EXISTS ${tbl}_toks")
        graft.Bench.deleteRecursively(path)
      }
    },

    // Incremental SUBSTRING probe: which passages of the delta batch
    // already exist verbatim in the corpus. Same delta construction as
    // dedup_incremental_near (exact copies / appended revisions /
    // novel docs); exact copies must report whole-doc spans with
    // dup_frac 1.0, revisions a prefix span, novel docs nothing. The
    // oracle replays corpus gram keys, delta positions, the island
    // merge, and the rollup.
    Q("dedup_incremental_substring", incrementalSubstringOracleSql) { (s, dir) =>
      val (docs, delta) = incrementalSubstringFixture(s, dir)
      incrementalSubstringSpans(docs, delta).orderBy(col("doc_id"))
    },

    // The SERVING form of the same probe: the corpus gram index is a
    // PERSISTED table bucketed by gram_h — the probe then shuffles
    // ONLY the delta side (one small exchange to match the bucketing;
    // the index reads co-located, its shuffle paid once at build).
    // Same oracle — identical answer by construction; LlmSpec pins
    // the single-exchange probe shape and frame equality.
    Q("dedup_incremental_substring_idx", incrementalSubstringOracleSql) { (s, dir) =>
      val (docs, delta) = incrementalSubstringFixture(s, dir)
      val tbl = "gram_idx_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_gram_idx").toString
      buildGramIndex(docs, s, tbl, s"$path/$tbl")
      try Materialize(probeGramIndex(delta, s, tbl).orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Bench.deleteRecursively(path)
      }
    },

    // APPEND-maintained gram index (VERDICT r14 task 1): build from
    // the first-ingested slice, appendGramIndex the remainder (one
    // delta-sized exchange — only genuinely NEW gram keys enter), then
    // probe. Same oracle: the table stays exactly the distinct gram
    // set of the full corpus, so probe-after-append is row-identical
    // to a probe against a from-scratch rebuild.
    Q("dedup_incremental_substring_idx_append", incrementalSubstringOracleSql) { (s, dir) =>
      val (docs, delta) = incrementalSubstringFixture(s, dir)
      val tbl = "gram_app_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_gram_app").toString
      buildGramIndex(docs.filter(col("doc_id") < 200), s, tbl, s"$path/$tbl")
      appendGramIndex(docs.filter(col("doc_id") >= 200), s, tbl)
      try Materialize(probeGramIndex(delta, s, tbl).orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Bench.deleteRecursively(path)
      }
    },

    // Dup-pair graph → clusters: min-label propagation vs a recursive-
    // CTE reachability oracle. The declared graph is a deterministic
    // 3-link chain per document (id — id+1M — id+2M): a-b and b-c dup
    // edges WITHOUT a direct a-c edge, so the cluster only collapses if
    // transitivity actually propagates. (The minhash pair graph on this
    // synthetic corpus is near-complete — fine for the operator, bad
    // for a bounded recursive oracle — so the declared query uses the
    // chain; DedupSpec runs the operator on real minhash pairs too.)
    Q("dedup_cluster_canonical", chainClusterOracleSql) { (s, dir) =>
      val (nodes, edges) = chainClusterFixture(s, dir)
      connectedComponents(nodes, edges)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },

    // STANDING GROUP-LABEL table, build → append → probe (r17): the
    // CC labels as a serving artifact on the chain fixture — base
    // chains id—id+1M—id+2M are built into the bucketed table, then a
    // delta arrives mixing ATTACHMENTS (id+3M linked to each chain's
    // tail — must adopt the chain's standing min-id label) and a
    // wholly NEW pair (id+4M—id+5M, touching nothing — must label as
    // its own component min). The oracle replays full reachability
    // over the UNION and reads the delta ids' labels: attach-only
    // append ≡ full CC here because no delta component bridges two
    // groups (the bridge case returns a pending-merge count and is
    // the refit signal — spec-pinned, not SQL-expressible without a
    // side effect).
    Q("dedup_incremental_group_idx", {
      s"""WITH RECURSIVE
         |nodes AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL SELECT doc_id + 1000000 FROM documents
         |  UNION ALL SELECT doc_id + 2000000 FROM documents
         |  UNION ALL SELECT doc_id + 3000000 FROM documents
         |  UNION ALL SELECT doc_id + 4000000 FROM documents
         |  UNION ALL SELECT doc_id + 5000000 FROM documents),
         |e AS (
         |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
         |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
         |  UNION ALL SELECT doc_id + 2000000, doc_id + 3000000 FROM documents
         |  UNION ALL SELECT doc_id + 4000000, doc_id + 5000000 FROM documents),
         |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a AND r.a <> u.b),
         |cl AS (
         |  SELECT n.doc_id,
         |         LEAST(n.doc_id, COALESCE(MIN(r.b), n.doc_id)) AS label
         |  FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id
         |  GROUP BY n.doc_id)
         |SELECT doc_id, label FROM cl WHERE doc_id >= 3000000
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val (nodes, edges) = chainClusterFixture(s, dir)
      val tbl = "glbl_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_glbl").toString
      buildGroupLabels(nodes, edges, s, tbl, s"$path/$tbl")
      val dNodes = docs.select((col("doc_id") + 3000000L).as("id"))
        .unionByName(docs.select((col("doc_id") + 4000000L).as("id")))
        .unionByName(docs.select((col("doc_id") + 5000000L).as("id")))
      val dEdges = docs
        .select((col("doc_id") + 2000000L).as("a"), (col("doc_id") + 3000000L).as("b"))
        .unionByName(docs
          .select((col("doc_id") + 4000000L).as("a"), (col("doc_id") + 5000000L).as("b")))
      appendGroupLabels(dNodes, dEdges, s, tbl)
      try Materialize(s.table(tbl).filter(col("id") >= 3000000L)
        .select(col("id").as("doc_id"), col("label"))
        .orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Bench.deleteRecursively(path)
      }
    },

    // GROUP-AWARE SPLIT over the same chain graph (r17): the fix the
    // curation_split_leakage audit motivates — every chain member
    // routes by the hash of its GROUP's min-id label, so a dup-group
    // can never span train/valid/test (a per-doc hash split would
    // scatter the id/id+1M/id+2M chain ~one time in four). The oracle
    // replays reachability (recursive CTE), the min-label group id,
    // AND the md5-bucket routing — assignment-level pinning, like
    // curation_hash_split.
    Q("curation_group_split", {
      def splitCase(idCol: String): String =
        s"""CASE WHEN CAST(concat('0x', substr(md5('split:' || CAST($idCol AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
           |     WHEN CAST(concat('0x', substr(md5('split:' || CAST($idCol AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'valid'
           |     ELSE 'test' END""".stripMargin
      s"""WITH RECURSIVE
         |nodes AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL SELECT doc_id + 1000000 FROM documents
         |  UNION ALL SELECT doc_id + 2000000 FROM documents),
         |e AS (
         |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, doc_id + 2000000 FROM documents),
         |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a AND r.a <> u.b),
         |cl AS (
         |  SELECT n.doc_id,
         |         LEAST(n.doc_id, COALESCE(MIN(r.b), n.doc_id)) AS group_id
         |  FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id
         |  GROUP BY n.doc_id)
         |SELECT doc_id, group_id,
         |       ${splitCase("group_id")} AS split
         |FROM cl ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val (nodes, edges) = chainClusterFixture(s, dir)
      graft.llm.Curation.groupAwareSplit(
          nodes.select(col("id").as("doc_id")),
          edges.select(col("a").as("id_a"), col("b").as("id_b")))
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy(col("doc_id"))
    },

    // GROUP-AWARE SPLIT, SERVED FORM (r18, VERDICT r17 task 2): the
    // standing-gate consumer the label table was built for — no CC at
    // split time. Lifecycle exercised end to end: base chains are
    // BUILT into the bucketed label table, a delta slice (id+3M,
    // attached to each chain's tail) arrives via the attach-only
    // APPEND and must route by its chain's STANDING min-id label, and
    // a late slice (id+4M, never appended — arrived after the last
    // index write) must fall back to its own id (the singleton /
    // hashSplit rule; ADVICE r17 — the old inner join silently
    // dropped such docs). The oracle replays reachability over the
    // union graph (attach-only ≡ full CC here: no delta component
    // bridges two groups), the min-label group id, the COALESCE
    // fallback, and the md5-bucket routing — assignment-level pinning.
    Q("curation_group_split_served", {
      def splitCase(idCol: String): String =
        s"""CASE WHEN CAST(concat('0x', substr(md5('split:' || CAST($idCol AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
           |     WHEN CAST(concat('0x', substr(md5('split:' || CAST($idCol AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'valid'
           |     ELSE 'test' END""".stripMargin
      s"""WITH RECURSIVE
         |labeled AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL SELECT doc_id + 1000000 FROM documents
         |  UNION ALL SELECT doc_id + 2000000 FROM documents
         |  UNION ALL SELECT doc_id + 3000000 FROM documents),
         |docs AS (
         |  SELECT doc_id FROM labeled
         |  UNION ALL SELECT doc_id + 4000000 FROM documents),
         |e AS (
         |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
         |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
         |  UNION ALL SELECT doc_id + 2000000, doc_id + 3000000 FROM documents),
         |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |reach(a, b) AS (
         |  SELECT a, b FROM und
         |  UNION
         |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a AND r.a <> u.b),
         |cl AS (
         |  SELECT n.doc_id,
         |         LEAST(n.doc_id, COALESCE(MIN(r.b), n.doc_id)) AS label
         |  FROM labeled n LEFT JOIN reach r ON r.a = n.doc_id
         |  GROUP BY n.doc_id),
         |sp AS (
         |  SELECT d.doc_id, COALESCE(cl.label, d.doc_id) AS group_id
         |  FROM docs d LEFT JOIN cl ON cl.doc_id = d.doc_id)
         |SELECT doc_id, group_id,
         |       ${splitCase("group_id")} AS split
         |FROM sp ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val (nodes, edges) = chainClusterFixture(s, dir)
      val tbl = "gsplit_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val path = java.nio.file.Files.createTempDirectory("graft_gsplit").toString
      buildGroupLabels(nodes, edges, s, tbl, s"$path/$tbl")
      appendGroupLabels(
        docs.select((col("doc_id") + 3000000L).as("id")),
        docs.select((col("doc_id") + 2000000L).as("a"),
          (col("doc_id") + 3000000L).as("b")),
        s, tbl)
      val allDocs = nodes.select(col("id").as("doc_id"))
        .unionByName(docs.select((col("doc_id") + 3000000L).as("doc_id")))
        .unionByName(docs.select((col("doc_id") + 4000000L).as("doc_id")))
      try Materialize(graft.llm.Curation.groupAwareSplitServed(allDocs, s, tbl)
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy(col("doc_id")))
      finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Bench.deleteRecursively(path)
      }
    },

    // PageRank over the same chain graph, 5 unrolled power iterations:
    // the oracle replays the identical algebra CTE by CTE ((1−d)/N +
    // d·Σ rank/deg over undirected neighbors), so every node's rank —
    // not just the ordering — is pinned to 6 dp. On a—b—c chains the
    // middles must outrank the ends.
    Q("dedup_graph_pagerank", {
      val iters = 5
      val d = 0.85
      val iterCtes = (1 to iters).map { k =>
        s"""r$k AS (
           |  SELECT x.id,
           |         (1 - $d) / (SELECT n FROM nn) + $d * COALESCE(SUM(u.c), 0) AS r
           |  FROM r${k - 1} x
           |  LEFT JOIN (SELECT und.b AS id, r${k - 1}.r / deg.d AS c
           |             FROM und JOIN deg USING (a) JOIN r${k - 1} ON r${k - 1}.id = und.a) u
           |    USING (id)
           |  GROUP BY x.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH g AS (
         |  SELECT doc_id FROM documents
         |  UNION ALL SELECT doc_id + 1000000 FROM documents
         |  UNION ALL SELECT doc_id + 2000000 FROM documents),
         |e AS (
         |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, doc_id + 2000000 FROM documents),
         |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY a),
         |nn AS (SELECT COUNT(*) AS n FROM g),
         |r0 AS (SELECT doc_id AS id, 1.0 / (SELECT n FROM nn) AS r FROM g),
         |$iterCtes
         |SELECT id, ROUND(r * (SELECT n FROM nn), 6) + 0 AS rank_norm
         |FROM r$iters ORDER BY id""".stripMargin
    }) { (s, dir) =>
      val (nodes, edges) = chainClusterFixture(s, dir)
      pageRank(nodes, edges).orderBy(col("id"))
    },

    // Same transitive-closure oracle, computed by the alternating
    // large-star/small-star algorithm — the O(log n)-round variant for
    // adversarial diameters (min-label propagation above is
    // O(diameter) rounds). Both must produce identical clusters.
    Q("dedup_cluster_star", chainClusterOracleSql) { (s, dir) =>
      val (nodes, edges) = chainClusterFixture(s, dir)
      connectedComponentsStar(nodes, edges)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },

    // Label propagation over two complete triangles joined by ONE
    // bridge edge per document: CC collapses all six nodes to one
    // cluster, LPA must keep TWO communities — the sub-component
    // granularity that motivates the operator. The oracle unrolls all
    // 5 synchronous rounds (count → argmax with the same (c desc,
    // label asc) tiebreak → coalesce), so every intermediate state is
    // pinned, not just the fixed point.
    Q("graph_label_prop",
      s"""WITH ${lpaCtesSql(5)}
         |SELECT id, label FROM l5 ORDER BY id""".stripMargin) { (s, dir) =>
      val (nodes, edges) = lpaFixture(Tables.documents(s, dir).select(col("doc_id")))
      labelPropagation(nodes, edges, iters = 5).orderBy(col("id"))
    },

    // LPA CONVERGENCE TRACE (VERDICT r14 task 8, the graph_kcore_trace
    // discipline): per-round changed-label counts over the same
    // fixture and the same unrolled-CTE oracle, so the fixed-5-rounds
    // choice in graph_label_prop is EVIDENCE, not convention — on the
    // triangle+bridge chains the sync dynamics change 6·N, 4·N, 1·N
    // nodes in rounds 1-3, hit the fixed point at round 4 (changed 0),
    // and round 5 certifies one round PAST convergence (still 0).
    Q("graph_label_prop_trace",
      s"""WITH ${lpaCtesSql(5)}
         |${(1 to 5).map(k =>
             s"""SELECT CAST($k AS BIGINT) AS round,
                |       CAST((SELECT COUNT(*) FROM l$k x JOIN l${k - 1} y
                |             ON x.id = y.id WHERE x.label <> y.label) AS BIGINT) AS changed"""
               .stripMargin).mkString("\nUNION ALL ")}
         |ORDER BY round""".stripMargin) { (s, dir) =>
      val (nodes, edges) = lpaFixture(Tables.documents(s, dir).select(col("doc_id")))
      labelPropagationTrace(nodes, edges, iters = 5)
    },

    // Triangle counts + local clustering coefficient over the chain
    // fixture CLOSED for every third document (a–c added when
    // doc_id % 3 = 0): closed chains are triangles (lcc 1 at all three
    // corners), open ones stay paths (middles deg 2, tri 0) — so the
    // query pins both the closure detection and its absence. The
    // oracle counts each triangle once via id-ordered edges (the count
    // is orientation-invariant, so the engine's degree-ordering and
    // the oracle's id-ordering must agree exactly).
    Q("graph_triangles",
      """WITH e0 AS (
        |  SELECT doc_id AS a, doc_id + 1000000 AS b FROM documents
        |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
        |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 3 = 0),
        |und AS (
        |  SELECT DISTINCT a, b
        |  FROM (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0) t
        |  WHERE a <> b),
        |deg AS (SELECT a AS id, COUNT(*) AS d FROM und GROUP BY a),
        |o AS (SELECT a, b FROM und WHERE a < b),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM o e1 JOIN o e2 ON e2.a = e1.b
        |  JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        |  SELECT id, COUNT(*) AS tri
        |  FROM (SELECT x AS id FROM tri
        |        UNION ALL SELECT y FROM tri
        |        UNION ALL SELECT z FROM tri) u
        |  GROUP BY id)
        |SELECT deg.id, CAST(deg.d AS BIGINT) AS degree,
        |       CAST(COALESCE(corners.tri, 0) AS BIGINT) AS tri,
        |       ROUND(COALESCE(corners.tri, 0) * 2.0 / (deg.d * (deg.d - 1)), 6) + 0 AS lcc
        |FROM deg LEFT JOIN corners USING (id)
        |WHERE deg.d >= 2
        |ORDER BY id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val edges = docs
        .select(col("doc_id").as("a"), (col("doc_id") + 1000000L).as("b"))
        .unionByName(docs.select((col("doc_id") + 1000000L).as("a"),
          (col("doc_id") + 2000000L).as("b")))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("a"), (col("doc_id") + 2000000L).as("b")))
      triangleStats(edges).orderBy(col("id"))
    },

    // Word-bigram Jaccard near-dup — minhash-over-bigrams banded LSH
    // (sequence similarity gets the same banding machinery as the
    // vocabulary pipeline; round 5 replaced the coarse data-dependent
    // (source, len_band) blocking key). Fully oracle-checked: bigram
    // construction is index arithmetic and the band hashes replay the
    // same md5 family in both engines.
    Q("dedup_ngram_jaccard",
      s"$ngramPairsSql\nORDER BY id_a, id_b") { (s, dir) =>
      ngramJaccardPairs(Tables.documents(s, dir), threshold = 0.3)
    },

    // EXACT threshold set-similarity join (r10 s3) — the
    // deterministic complement of the LSH tier: minhash banding is
    // probabilistic (a true pair can in principle miss every band);
    // this tier is exhaustive BY CONSTRUCTION — any pair with J ≥ τ
    // shares a gram, and the co-occurrence count join enumerates
    // every gram-sharing pair. The oracle replays the identical
    // count-join, so the driver hash is a full cross-engine replay of
    // the exact tier (25 pairs at sf0.01 / 256 at sf0.1 — same pair
    // sets the LSH tier finds, now with a completeness guarantee).
    // τ = 2/5 held as a rational (integer cross-multiplication); the
    // Jaccard output is half-up integer micro-units (a double
    // quotient of small integers CAN terminate exactly on a 6-dp
    // boundary — 1/128 does).
    Q("dedup_jaccard_exact",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(w)),
        |                                      i -> w[i] || ' ' || w[i + 1])) AS grams
        |  FROM t WHERE len(w) >= 2),
        |tok AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |sz AS (SELECT doc_id, len(grams) AS sz FROM g),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM tok a JOIN tok b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni
        |  FROM inter
        |  JOIN sz sa ON sa.doc_id = id_a
        |  JOIN sz sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b,
        |       CAST(inter AS BIGINT) AS n_shared,
        |       CAST((2 * 1000000 * inter + uni) // (2 * uni) AS DOUBLE) / 1000000.0
        |         AS jaccard
        |FROM j WHERE 5 * inter >= 2 * uni
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      jaccardExactJoin(Tables.documents(s, dir))
    },
  )

  /** Connected components over a dup-pair graph by min-label
    * propagation — the step that turns pairwise near-dup evidence into
    * clusters with one canonical survivor each (pairs alone can't be
    * acted on: transitive dups a–b, b–c must collapse to ONE keeper).
    *
    * Each iteration is one shuffle (edges ⋈ labels, groupBy node);
    * convergence needs diameter iterations — tiny for dup clusters.
    * (For adversarial diameters use `connectedComponentsStar` below:
    * the alternating large-star/small-star variant, O(log n) rounds
    * behind the same API.) Lineage is
    * truncated per iteration ([[graft.Materialize]]) so the plan doesn't
    * grow with the iteration count. Deterministic: the min label is
    * order-independent.
    */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val und = undirected(edges)
    Materialize.using(und) {
      var labels = Materialize(nodes.select(col("id"), col("id").as("label")))
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val nbrMin = und.join(labels, und("a") === labels("id"))
          .groupBy(und("b").as("nid"))
          .agg(min(col("label")).as("nbr_label"))
        val next = Materialize(
          labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
            .select(labels("id"),
              least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label")))
        changed = next.as("n")
          .join(labels.as("o"), col("n.id") === col("o.id"))
          .filter(col("n.label") =!= col("o.label"))
          .count()
        labels = next
        iter += 1
      }
      // r18 (caught by the new split/label edge tests): exiting on the
      // iteration cap with changes still flowing used to RETURN the
      // half-converged labels — silently split groups, which in
      // groupAwareSplit re-introduces the very leakage it exists to
      // prevent. A wrong answer is never an acceptable cap behavior;
      // callers with adversarial diameters use the star form.
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter iterations — a " +
            "component's diameter exceeds the cap; use connectedComponentsStar " +
            "(O(log n) rounds) or raise maxIter")
      labels
    }
  }

  // ── dup-group LABELS as a standing serving artifact (r17) ─────────
  //
  // groupAwareSplit (and any group-keyed consumer: per-group sampling,
  // canonical selection, leakage audits) needs the CC labels; paying a
  // full CC per call is the corpus rescan the other tiers' indexes
  // exist to avoid. The label table gets the same lifecycle, with the
  // CC-specific honesty: appends are ATTACH-ONLY — a new doc adopts
  // the minimum existing label among its corpus neighbors (or its
  // delta-component min id when it attaches to nothing), which equals
  // the true CC of the union EXCEPT when one delta component BRIDGES
  // two existing groups (merging them needs corpus-side label
  // rewrites, which no delta-bounded write can do). Bridges are
  // therefore counted and returned as PENDING MERGES — the refit
  // signal, exactly the staleness-audit discipline — and
  // [[refitGroupLabels]] is the action: full CC, swap via the
  // bucketed-table machinery. Under the monotone-id ingest convention
  // a group's min-id label never moves on attach, so attach-only
  // labels are STABLE (the hashSplit requirement) between refits.

  /** Build the label table: full CC over (nodes(id), edges(a, b)),
    * persisted BUCKETED BY id — probe joins and the append's
    * idempotence anti-join read it co-located. */
  def buildGroupLabels(
      nodes: DataFrame, edges: DataFrame, spark: SparkSession,
      table: String, path: String, buckets: Int = 8): Unit = {
    // star form (r18): the standing table must label ANY graph shape —
    // a 1000-hop near-dup chain converges in ~10 alternations here
    // where min-propagation needs 1000 rounds (and used to return
    // split groups past its cap)
    bucketedCreate(connectedComponentsStar(nodes, edges), table, path,
      BucketSpec(buckets, Seq("id"), Seq("id")))
  }

  /** Attach-only append: label the arriving docs against the standing
    * table and return the PENDING-MERGE count (delta components whose
    * corpus neighbors span ≥ 2 distinct labels — attach-only picked
    * the min; a nonzero count is the refit signal). `deltaEdges` may
    * mix delta–delta and delta–corpus pairs (endpoints are classified
    * against the table). Idempotent under at-least-once redelivery via
    * the id anti-join, like every other append tier. */
  def appendGroupLabels(
      deltaNodes: DataFrame, deltaEdges: DataFrame, spark: SparkSession,
      table: String): Long = {
    val corpus = spark.table(table)
    val dIds = Materialize(deltaNodes.select(col("id")).distinct())
    val e = deltaEdges.select(col("a"), col("b"))
    // delta-internal subgraph: both endpoints in the delta
    val eIn = e
      .join(dIds.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(dIds.select(col("id").as("b")), Seq("b"), "left_semi")
    // CC over the delta alone is delta-sized; its label is the
    // component's min delta id (star form — a delta batch can itself
    // carry a long chain, r18)
    val comp = connectedComponentsStar(dIds, eIn)
      .select(col("id"), col("label").as("comp"))
    // corpus attachments: the non-delta endpoint's standing label,
    // keyed by the delta endpoint (either orientation)
    val touch = e.select(col("a").as("did"), col("b").as("cid"))
      .unionByName(e.select(col("b").as("did"), col("a").as("cid")))
      .join(dIds.select(col("id").as("did")), Seq("did"), "left_semi")
      .join(corpus.select(col("id").as("cid"), col("label").as("clabel")), "cid")
      .select(col("did"), col("clabel"))
    val perComp = comp.join(touch.withColumnRenamed("did", "id"), Seq("id"), "left")
      .groupBy(col("comp"))
      .agg(
        min(col("clabel")).as("cmin"),
        countDistinct(col("clabel")).as("ndist"))
    val pending = perComp
      .select(sum(greatest(col("ndist") - 1L, lit(0L))).as("p"))
      .collect()(0).getAs[Any](0) match {
        case null => 0L
        case n: Long => n
      }
    val labeled = comp.join(perComp.select(col("comp"), col("cmin")), "comp")
      .select(col("id"),
        coalesce(col("cmin"), col("comp")).as("label"))
      .join(corpus.select(col("id")), Seq("id"), "left_anti")
    bucketedAppend(labeled, spark, table)
    pending
  }

  /** REFIT the label table: full CC over the caller-held graph (the
    * pair source is the standing band index, not a corpus rescan of
    * text), swapped in via the compactIndex DROP→RENAME so
    * [[recoverCompact]] heals a crash inside it. Run when
    * [[appendGroupLabels]] reports pending merges — the CC analog of
    * the IVF refit cadence. */
  def refitGroupLabels(
      nodes: DataFrame, edges: DataFrame, spark: SparkSession,
      table: String, newPath: String, buckets: Int = 8): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    bucketedCreate(connectedComponentsStar(nodes, edges), s"${table}_compacting",
      newPath, BucketSpec(buckets, Seq("id"), Seq("id")),
      epoch = sidecarEpoch(spark, meta.location.toString) + 1L, committed = false)
    fenceSwapCandidate(spark, newPath)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE ${table}_compacting RENAME TO $table")
    commitSpecSidecar(spark, newPath)
    deleteTableLocation(spark, meta.location)
  }

  /** Fixed-iteration PageRank over the undirected dup-pair graph —
    * the centrality companion to the connected-components tier: inside
    * a dup cluster it ranks the "template" document every near-copy
    * links to (highest in-contribution), the principled canonical-pick
    * when min-id is too arbitrary; across the corpus it surfaces hub
    * documents whose passages spread widest.
    *
    * Deterministic by construction: a FIXED iteration count (power
    * iteration, not run-to-convergence — the oracle unrolls the same
    * `iters` algebra), double arithmetic rounded ONLY at the final
    * output (both engines' partial-sum orders differ at ~1e-16;
    * ROUND(·,6) absorbs it, the repo's derived-float convention).
    * Each iteration is ONE shuffle (contributions keyed by the
    * destination node) plus the degree/rank hash joins; lineage is
    * truncated per iteration ([[graft.Materialize]]) exactly like
    * `connectedComponents`. The node count is the only driver scalar
    * (bounded boundary, same class as the ML class counts). Returns
    * (id, rank_norm) with rank_norm = rank · N (mean 1.0 — the
    * scale-free form comparable across corpus sizes). */
  def pageRank(
      nodes: DataFrame, edges: DataFrame,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    // ONE layout exchange for the whole setup (r20): the dedup
    // aggregate, the degree aggregate, AND the deg join all reuse the
    // layout's hash(a) (each requires clustering by a or (a, b), which
    // hash(a) satisfies), where the r19 shape paid distinct + degree +
    // repartition exchanges. Self-loops are kept: a self-loop
    // contributes to its own rank. Cached with undDeg: the deg side of
    // the undDeg join would otherwise re-derive the layout inside the
    // one materializing job (undDeg.count())
    val und = undirected(edges)
    val deg = und.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    // cache the DEGREE-ANNOTATED edge frame, pre-partitioned on the
    // join key (r19, the LPA one-layout discipline): the old code
    // persisted only `und` and left undDeg lazy, so every iteration
    // re-ran the degree aggregate AND the deg join from the cache —
    // per-round work that never changes. One layout, built once, all
    // `iters` rounds stream it.
    val undDeg = und.join(deg, "a")
    val ids = nodes.select(col("id"))
    val (ranks, n) = Materialize.using(und, undDeg) {
      undDeg.count()
      val n = ids.count().toDouble
      var ranks = Materialize(ids.select(col("id"), (lit(1.0) / n).as("rank")))
      for (i <- 1 to iters) {
        val contrib = undDeg
          .join(ranks.withColumnRenamed("id", "a"), "a")
          .select(col("b").as("id"), (col("rank") / col("deg")).as("c"))
          .groupBy(col("id")).agg(sum(col("c")).as("in_rank"))
        ranks = Materialize(ids
          .join(contrib, Seq("id"), "left")
          .select(col("id"),
            (lit((1 - damping) / n) + lit(damping) * coalesce(col("in_rank"), lit(0.0)))
              .as("rank")))
      }
      (ranks, n)
    }
    ranks.select(col("id"), (round(col("rank") * n, 6) + lit(0.0)).as("rank_norm"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the adversarial-diameter variant behind the same
    * API as `connectedComponents`: min-label propagation needs
    * O(diameter) rounds (a pathological 10⁶-long dup chain = 10⁶
    * shuffles), this converges in O(log n) alternations because every
    * round re-wires nodes DIRECTLY to the minimum seen so far instead
    * of one hop closer to it.
    *
    * Per alternation (two shuffles, both keyed on a node id):
    *  - large-star: every node u re-points its LARGER neighbors at
    *    m = min(Γ(u) ∪ {u}) — trees flatten toward minima;
    *  - small-star: every node u re-points its smaller-or-equal
    *    neighbors (and itself) at m — stars collapse onto the min.
    * Fixed point: each component is one star centered at its global
    * min; labels read off the star edges. Lineage is truncated per
    * alternation ([[graft.Materialize]]), convergence is edge-set equality.
    */
  def connectedComponentsStar(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame =
    ccStarWithRounds(nodes, edges, maxIter)._1

  /** `connectedComponentsStar` plus the alternation count (exposed so
    * DedupSpec can pin the O(log n) convergence on a long chain). */
  def ccStarWithRounds(
      nodes: DataFrame, edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    var e = Materialize(edges.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct())
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // LARGE-STAR: und(a → Γ(a)); m(a) = min(Γ(a) ∪ {a});
      // emit (v, m(a)) for v ∈ Γ(a), v > a
      val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val mins = und.groupBy(col("a")).agg(min(col("b")).as("minb"))
        .select(col("a"), least(col("minb"), col("a")).as("m"))
      val ls = und.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // SMALL-STAR over larger→smaller pointers; m(a) = min(Γ≤(a) ∪ {a})
      // (all pointees are < a here, so m = min(b)); emit (v, m) for
      // v ∈ Γ≤(a) ∪ {a}, v ≠ m
      val dir = ls.select(
          greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val mins2 = dir.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = dir.join(mins2, "a")
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .unionByName(mins2.select(col("a"), col("m").as("b")))
        .distinct()
      val nextT = Materialize(next)
      // both frames are distinct sets, so their symmetric difference is
      // the (a, b) groups of size 1 in their union: one job, one shuffle
      changed = nextT.unionByName(e).groupBy(col("a"), col("b")).count()
        .filter(col("count") === 1).count()
      e = nextT
      iter += 1
    }
    // same fail-loud cap contract as the plain form (r18); at the
    // star alternation's O(log n) convergence the default 50 covers
    // any physically storable graph, so this only ever fires on a
    // pathological maxIter override
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter alternations — " +
          "raise maxIter")
    val labels = nodes
      .join(e.groupBy(col("a").as("id")).agg(min(col("b")).as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("label"))
    (labels, iter)
  }

  /** Synchronous label propagation (fixed rounds) — community
    * detection at SUB-component granularity: connected components
    * answer "is there any dup path at all", LPA answers "which dense
    * groups actually belong together" (a chain of borderline pairs
    * bridging two dense clusters stays two communities; CC would
    * collapse it to one). Deterministic variant: every node adopts
    * the most frequent label among its neighbors each round, ties
    * broken by SMALLEST label; isolated nodes keep their own.
    * Randomized async LPA converges better on adversarial graphs but
    * is unreplayable; fixed synchronous rounds with a total tiebreak
    * order make every round's state — not just the fixed point —
    * oracle-replayable.
    *
    * Each round is one keyed join (labels onto edge destinations) +
    * one (node, label) count aggregate + one arg-max aggregate
    * (max_by over (count, −label) — an aggregate, NOT a per-node
    * window sort), with lineage checkpoint-truncated per round. */
  def labelPropagation(
      nodes: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame = {
    // r19 (VERDICT r18 task 7, "pre-bucket the edge table by src"): the
    // layout is hash(a)-partitioned once and persisted, so all `iters`
    // rounds reuse it. While the labels broadcast (up to ~10⁸ nodes)
    // each round's join streams the persisted edges and the fused
    // label_mode aggregation reuses hash(a) — a round runs with ZERO
    // edge-sized exchanges (r19 census; LlmSpec pins the SMJ-regime
    // round at 3 exchanges).
    val und = lpaLayout(nodes, edges)
    Materialize.using(und) {
      und.count()
      // rounds 1..iters−1 come materialized from the round stream; the
      // last round's truncation moves onto the attached frame (`using`
      // materializes it), so the call materializes exactly `iters`
      // frames and returns a bare checkpoint scan (the durability
      // contract GraphsSpec pins: under the reliable policy the caller
      // holds a recoverable artifact, not a lazy re-derivation).
      // Every round truncates: fusing two rounds per materialized job
      // measured ~1.6× SLOWER (PLANS.md r16).
      val before = lpaRounds(und, nodes).drop(iters - 1).next()
      attachIsolated(nodes, if (iters == 0) before else lpaWinners(und, before))
    }
  }

  /** Per-round changed-label counts of [[labelPropagation]] — the
    * convergence trace (declared `graph_label_prop_trace`): round k's
    * row counts the nodes whose label differs from round k−1, so a
    * fixed-point run reads as a descending series hitting (and
    * staying at) zero. It reads the same round stream over the same
    * layout as [[labelPropagation]]; each count is a lazy 1-row
    * aggregate over two checkpointed rounds (the `kCoreTrace`
    * pattern), all computed in the one job that materializes the
    * result. Isolated nodes keep their self-label in every round, so
    * comparing winners frames counts exactly the changed nodes.
    * `nodes` holds distinct ids. */
  def labelPropagationTrace(
      nodes: DataFrame, edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, "labelPropagationTrace: iters must be >= 1")
    val und = lpaLayout(nodes, edges)
    Materialize.using(und) {
      und.count()
      val rounds = lpaRounds(und, nodes).take(iters + 1).toIndexedSeq
      (1 to iters).map { k =>
        rounds(k).join(rounds(k - 1).withColumnRenamed("label", "old"), "id")
          .filter(col("label") =!= col("old"))
          .agg(count(lit(1)).as("changed"))
          .select(lit(k.toLong).as("round"), col("changed"))
      }.reduce(_ unionByName _).orderBy(col("round"))
    }
  }

  /** The shared unrolled-CTE oracle prefix for the LPA queries
    * (`graph_label_prop` / `graph_label_prop_trace`): fixture graph,
    * undirected edges, self-labels l0, and one (count → argmax →
    * coalesce) CTE triple per round up to l`iters`. One definition so
    * the final-state query and the convergence trace can never replay
    * different dynamics. */
  private def lpaCtesSql(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""n$k AS (
         |  SELECT und.a, l${k - 1}.label, COUNT(*) AS c
         |  FROM und JOIN l${k - 1} ON l${k - 1}.id = und.b
         |  GROUP BY und.a, l${k - 1}.label),
         |w$k AS (
         |  SELECT a, label FROM (
         |    SELECT a, label,
         |           ROW_NUMBER() OVER (PARTITION BY a ORDER BY c DESC, label) AS rn
         |    FROM n$k) t
         |  WHERE rn = 1),
         |l$k AS (
         |  SELECT g.id, COALESCE(w.label, g.id) AS label
         |  FROM g LEFT JOIN w$k w ON g.id = w.a)""".stripMargin
    }.mkString(",\n")
    val offsets = (0 to 5).map(k => s"SELECT doc_id + ${k}000000 AS id FROM documents")
      .mkString("\n  UNION ALL ")
    s"""g AS (
       |  $offsets),
       |e AS (
       |  SELECT doc_id + 0 AS a, doc_id + 1000000 AS b FROM documents
       |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM documents
       |  UNION ALL SELECT doc_id + 0, doc_id + 2000000 FROM documents
       |  UNION ALL SELECT doc_id + 3000000, doc_id + 4000000 FROM documents
       |  UNION ALL SELECT doc_id + 4000000, doc_id + 5000000 FROM documents
       |  UNION ALL SELECT doc_id + 3000000, doc_id + 5000000 FROM documents
       |  UNION ALL SELECT doc_id + 2000000, doc_id + 3000000 FROM documents),
       |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
       |l0 AS (SELECT id, id AS label FROM g),
       |$rounds""".stripMargin
  }

  /** The declared `graph_label_prop` fixture: two complete triangles
    * per document joined by one bridge edge (offsets 0-1-2 and 3-4-5,
    * bridge 2-3) — shared by the query, the probe, and the spec. */
  private[graft] def lpaFixture(docs: DataFrame): (DataFrame, DataFrame) = {
    def off(k: Int) = col("doc_id") + (k * 1000000L)
    // one scan + explode per frame instead of 6 + 7 unioned scan legs
    // (r20, the refreshDeltaDocs rationale: a union schedules one
    // task-leg per branch per materialization); rows identical
    val nodes = docs.select(
      explode(array((0 to 5).map(off): _*)).as("id"))
    val edges = docs.select(
      explode(array(Seq((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3))
        .map { case (i, j) => struct(off(i).as("a"), off(j).as("b")) }: _*)).as("e"))
      .select(col("e.a"), col("e.b"))
    (nodes, edges)
  }

  /** The iterative tier's one symmetric edge layout: both directions of
    * every (a, b) edge, hash-partitioned on a, deduplicated. The dedup
    * rides the layout exchange (r20): hash(a) clusters every (a, b)
    * group into one partition, so repartition-then-distinct pays ONE
    * exchange where distinct-then-repartition paid two, and every
    * consumer keyed on a — a frontier or label join, a degree
    * aggregate — reuses hash(a) instead of shuffling again (r19).
    * Self-loops are kept; callers that drop them filter `a =!= b` on
    * their input. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a"))
      .distinct()

  /** LPA's layout: [[undirected]] over the input edges that are not
    * self-loops and whose two endpoints are both nodes. The winners-only
    * rounds need the b side explicitly, or a non-node endpoint would
    * carry its label into round 2+; dropping the a side too changes no
    * label, since such a row only fed a winner the attach discards.
    * Both semi-joins read the node ids (broadcast-class), once per
    * call, never per round; a no-op when edge endpoints ⊆ nodes (every
    * caller in this repo). */
  private[graft] def lpaLayout(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val ids = nodes.select(col("id"))
    undirected(edges.filter(col("a") =!= col("b"))
      .join(ids.withColumnRenamed("id", "a"), Seq("a"), "left_semi")
      .join(ids.withColumnRenamed("id", "b"), Seq("b"), "left_semi"))
  }

  /** LPA's one round loop, as a lazy stream over the layout `und`:
    * element 0 is the self-labels, element k ≥ 1 the materialized
    * winners of round k, computed from element k − 1. A round runs
    * only when the caller advances to it, so [[labelPropagation]] and
    * [[labelPropagationTrace]] read the same rounds and each pays for
    * the ones it reads. */
  private def lpaRounds(und: DataFrame, nodes: DataFrame): Iterator[DataFrame] =
    Iterator.iterate(nodes.select(col("id"), col("id").as("label")))(labels =>
      Materialize(lpaWinners(und, labels)))

  /** One synchronous LPA round, winners only: per-node most-frequent
    * neighbor label with the (c desc, label asc) tiebreak, for the
    * degree ≥ 1 nodes, keyed `id`. Rounds propagate this frame, not
    * the full label table (r20): every label the next round's join
    * reads is keyed by an edge endpoint b, and b has degree ≥ 1 in the
    * symmetric layout (its reverse row makes it an a), so it is in
    * every round's winners; isolated nodes keep their self-label and
    * are attached once ([[attachIsolated]]).
    *
    * r19 (VERDICT r18 task 7): the former two-step
    * `groupBy(a, label).count` → `groupBy(a).max_by` is FUSED into the
    * single [[graft.functions.LabelMode]] aggregation — the per-round
    * plan drops one keyed exchange (the (a, label) count table no
    * longer re-shuffles by a; counting happens inside the aggregation
    * buffer on both partial and final sides). Per round the remaining
    * communication is exactly the irreducible LPA pair: labels to
    * their edge destinations (the join), joined rows to their source's
    * aggregation (the one exchange) — see LabelMode's scaladoc for the
    * hub-degree buffer bound this trades for. */
  private[graft] def lpaWinners(und: DataFrame, labels: DataFrame): DataFrame =
    und
      .join(labels.select(col("id").as("b"), col("label")), "b")
      .groupBy(col("a"))
      .agg(graft.functions.label_mode(col("label")).as("label"))
      .withColumnRenamed("a", "id")

  /** Left-coalesce `winners` onto the node table: nodes without a
    * winner row (isolated — degree 0) keep their self-label. */
  private[graft] def attachIsolated(nodes: DataFrame, winners: DataFrame): DataFrame =
    nodes.select(col("id"))
      .join(winners, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))

  /** ONE un-checkpointed LPA round from the initial self-labels
    * (VERDICT r13 task 1 family): [[labelPropagation]] materializes
    * per round by design (the Pregel lineage-bounding discipline), so
    * whole-query metrics only ever see the last checkpoint scan — this
    * exposes the per-ITERATION exchange volume, which is the number a
    * 100 TB capacity plan multiplies by the round count. */
  private[graft] def labelPropagationRoundPlan(
      nodes: DataFrame, edges: DataFrame): DataFrame =
    attachIsolated(nodes, lpaWinners(lpaLayout(nodes, edges),
      nodes.select(col("id"), col("id").as("label"))))

  /** Per-node triangle counts + local clustering coefficient over a
    * dup-pair graph — the structural signal that separates a genuine
    * near-dup CLUSTER (dense, high lcc: every copy pairs with every
    * other) from a chain of borderline pairs (lcc 0: a–b and b–c at
    * threshold with no a–c edge), which is exactly the distinction a
    * transitive-closure dedup silently erases.
    *
    * Degree-ordered algorithm (Suri & Vassilvitskii, WWW'11): orient
    * every edge from its lower (degree, id) endpoint to the higher,
    * form wedges at the low corner, close them with one semi-join.
    * Each triangle is counted at exactly ONE corner, and total wedge
    * work is O(m^{3/2}) regardless of degree skew — a hub of degree d
    * generates no wedges itself; only its lower-ordered neighbors do.
    * That bound is why this survives a power-law dup graph at 100 TB
    * where the naive per-node neighbor-pair join (Σ C(deg,2)) dies on
    * the hottest key.
    *
    * Output: (id, degree, tri, lcc) for nodes with degree ≥ 2, where
    * lcc = 2·tri / (degree·(degree−1)).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // deg feeds the orientation join AND the final output; oriented
    // feeds both wedge spokes AND the closure probe. Checkpointing
    // both keeps each computed ONCE — un-materialized, the three
    // consumers of `oriented` re-run the whole dedup + degree + join
    // lineage (an 18-shuffle plan measured at sf0.01; 5 after).
    val und = Materialize(undirected(edges.filter(col("a") =!= col("b"))))
    val deg = Materialize(und.groupBy(col("a").as("id")).agg(count(lit(1)).as("d")))
    val oriented = Materialize(und
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a"), col("b"), col("db")))
    // wedges at the low corner, the two spokes ordered in the SAME
    // (degree, id) total order so the closing edge — if present — is
    // oriented v→w and one semi-join decides closure
    val e1 = oriented.select(col("a"), col("b").as("v"), col("db").as("dv"))
    val e2 = oriented.select(col("a"), col("b").as("w"), col("db").as("dw"))
    val tris = e1.join(e2, Seq("a"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .join(oriented.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"), "left_semi")
    val corners = tris
      .select(explode(array(col("a"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("tri"))
    deg.filter(col("d") >= 2)
      .join(corners, Seq("id"), "left")
      .select(
        col("id"),
        col("d").cast("long").as("degree"),
        coalesce(col("tri"), lit(0L)).cast("long").as("tri"),
        (round(coalesce(col("tri"), lit(0L)) * lit(2.0) / (col("d") * (col("d") - lit(1))), 6)
          + lit(0.0)).as("lcc"))
  }

  /** (doc_id, distinct word-bigram set) — the sequence-similarity
    * unit. Bigrams are index arithmetic over the token split, so the
    * oracle rebuilds them exactly. */
  def bigramSets(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    val grams = array_distinct(transform(
      sequence(lit(1), size(col("w")) - 1),
      i => concat(element_at(col("w"), i), lit(" "), element_at(col("w"), i + 1))))
    docs.select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), grams.as("grams"))
  }

  /** Word-bigram Jaccard pairs via minhash-over-bigrams banded LSH →
    * exact bigram-Jaccard verify.
    *
    * Round 5 (VERDICT r4 weak #2): the old blocking key was
    * (source, token-count band) — data-dependent and coarse: with few
    * sources and concentrated lengths one block is O(n) and the
    * pairwise verify inside it quadratic, and a true near-dup pair
    * whose lengths straddle a band boundary is invisible. Banded
    * minhash over the bigram set is the same machinery the
    * vocabulary pipeline above uses (uniform band-hash shuffle keys,
    * candidate cost Σ_bucket C(n_b, 2), never all-pairs) applied to
    * the sequence unit. Measured at sf0.01: 685 candidates of
    * 124,750 pairs, all 25 true J≥0.3 pairs caught, hottest bucket
    * 9 of 500 docs. */
  /** (doc_id, band_idx, band_hash) banded minhash-over-bigrams rows —
    * the candidate join's input, package-visible so LlmSpec's
    * occupancy/selectivity tests exercise THIS derivation rather than
    * an inline copy that could drift from it (same rule as comboKey).
    *
    * Round 7: the bigram rows come from the native `ngrams` Generator
    * (emitted inside the scan projection, zero shuffles) instead of
    * exploding the HOF-built distinct-gram ARRAYS — the array build
    * was the signature path's dominant map cost, and min is
    * idempotent, so minhashing the generator's multiset rows yields
    * the IDENTICAL signatures the oracle computes over list_distinct
    * grams. The gram arrays are now built only where sets are really
    * needed: the exact-Jaccard verify. */
  private[graft] def ngramBanded(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.minhash_band_hashes(
        col("text"), 2, "gmh:",
        (0 until NgramHashes).map(i => mhA("gmh", i)),
        (0 until NgramHashes).map(i => mhB("gmh", i)),
        MinHashPrime, NgramRowsPerBand)).as(Seq("band_idx", "band_hash")))

  /** The composed form of `ngramBanded` — generator gram rows →
    * affine-min aggregate → md5 band hashes — kept as the verified
    * baseline for the fused expression. */
  private[graft] def ngramBandedComposed(docs: DataFrame): DataFrame = {
    val sig = affineSignatures(
      docs.select(col("doc_id"),
          graft.functions.ngrams(col("text"), 2).as(Seq("pos", "e")))
        .select(col("doc_id"), col("e")),
      "gmh", NgramHashes, "gmh")
    val bandStructs = (0 until NgramBands).map { b =>
      val cols = (b * NgramRowsPerBand until (b + 1) * NgramRowsPerBand)
        .map(i => col(s"gmh$i"))
      struct(lit(b).as("band_idx"), md5(concat_ws(",", cols: _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
  }

  /** Exact bigram-set similarity join at Jaccard ≥ 2/5 via PREFIX
    * FILTERING — the AllPairs/PPJoin family (Chaudhuri et al.
    * ICDE'06; Bayardo et al. WWW'07; Xiao et al. WWW'08) — the
    * deterministic, provably-complete alternative to the minhash LSH
    * tier (banding can miss a true pair; the prefix lemma cannot).
    *
    * Prefix lemma: order every doc's gram set by ONE global total
    * order (df asc, gram asc — rarest first, the order that makes
    * prefixes selective). If J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉,
    * and two sets with overlap ≥ α must collide within their first
    * |X| − α + 1 elements — so the prefixes of length
    * |X| − ⌈τ·|X|⌉ + 1 of ANY qualifying pair share a gram. Candidate
    * generation therefore joins PREFIX rows only; the size filter
    * 2·|A| ≤ 5·|B| ∧ 2·|B| ≤ 5·|A| (τ ≤ min/max, cross-multiplied)
    * prunes before the exact array_intersect verify.
    *
    * Scale shape: df is one gram-keyed count (map-side combinable);
    * the prefix build is a per-doc sort of its own gram array (no
    * window — slice(array_sort(collect_list))); the candidate join is
    * gram-keyed on PREFIX rows (rare grams by construction — the df
    * order concentrates selectivity); verify joins are doc-keyed.
    *
    * REGIME (measured, sf0.1): prefix filtering wins when df is
    * SKEWED — a Zipfian corpus where the prefix excludes the
    * stop-gram head cuts candidates by orders of magnitude. The
    * synthetic documents corpus is the opposite pathology: 931
    * distinct bigrams across 5 000 docs (every gram df ≈ 275), so
    * candidates ≈ all co-occurring pairs (10.3 M) and the per-pair
    * array verify ships 2×50-gram arrays to 10 M rows — the shuffle
    * IS the cost. That is why the DECLARED query is
    * [[jaccardExactJoin]] (co-occurrence count join, no arrays on any
    * shuffle) and this prefix form is the library path for skewed-df
    * corpora; LlmSpec proves the two emit identical pairs on a
    * Zipfian fixture.
    *
    * τ is the rational 2/5 end to end: ⌈τ·sz⌉ = (2·sz+4) div 5; the
    * verify keeps 5·inter ≥ 2·union; the reported jaccard is half-up
    * integer micro-units — no float threshold anywhere.
    */
  def jaccardPrefixJoin(docs: DataFrame): DataFrame = {
    val g = bigramSets(docs)
      .withColumn("sz", size(col("grams")).cast("long"))
    Materialize.using(g) {
      prefixCandidates(g)
        .join(g.select(col("doc_id").as("id_a"), col("grams").as("ga"), col("sz").as("sa")),
          "id_a")
        .join(g.select(col("doc_id").as("id_b"), col("grams").as("gb"), col("sz").as("sb")),
          "id_b")
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
        .withColumn("uni", col("sa") + col("sb") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 2)
        .select(col("id_a"), col("id_b"),
          col("inter").as("n_shared"),
          (expr("(2 * 1000000 * inter + uni) div (2 * uni)").cast("double") /
            lit(1000000.0)).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  /** The prefix-lemma candidate stage of [[jaccardPrefixJoin]],
    * package-visible so LlmSpec measures ITS selectivity (candidates
    * vs all co-occurring pairs on a Zipfian fixture) rather than an
    * inline copy that could drift. Input: (doc_id, grams, sz). */
  private[graft] def prefixCandidates(g: DataFrame): DataFrame = {
    val tok = g.select(col("doc_id"), col("sz"), explode(col("grams")).as("gram"))
    val df = tok.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val prefix = tok.join(df, "gram")
      .groupBy(col("doc_id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("df"), col("gram")))).as("ord"))
      .select(col("doc_id"), col("sz"),
        explode(slice(col("ord"), lit(1),
          (col("sz") - expr("(2 * sz + 4) div 5") + 1).cast("int"))).as("p"))
      .select(col("doc_id"), col("sz"), col("p.gram").as("gram"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 2 <= col("b.sz") * 5 &&
          col("b.sz") * 2 <= col("a.sz") * 5)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Exact bigram-set similarity join at Jaccard ≥ 2/5 as a
    * CO-OCCURRENCE COUNT join — the exhaustive exact tier, shaped so
    * nothing wide ever shuffles (Vernica et al. SIGMOD'10 is the
    * published MapReduce treatment of this family):
    *
    *   inter(A,B) = COUNT over the gram-keyed tok ⋈ tok join
    *   union(A,B) = |A| + |B| − inter  (sizes joined doc-keyed)
    *   keep 5·inter ≥ 2·union          (τ = 2/5, integer cross-mult)
    *
    * Work is Σ_g df_g² pair-count rows — each a bare (id_a, id_b) —
    * with the per-pair aggregation partially reduced inside each
    * join task before any exchange; gram ARRAYS never leave their
    * doc row (the array-verify form shipped 2×50-gram arrays to 10 M
    * candidate rows on this corpus and was the measured blowup).
    * Σ df² is the honest price of EXACTNESS on an all-similar corpus;
    * on skewed-df corpora [[jaccardPrefixJoin]] cuts the candidate
    * side via the prefix lemma, and the sub-quadratic path remains
    * the LSH tier — three tiers, one verified pair semantics.
    */
  def jaccardExactJoin(docs: DataFrame): DataFrame = {
    val g = bigramSets(docs).withColumn("sz", size(col("grams")).cast("long"))
    Materialize.using(g) {
      val tok = g.select(col("doc_id"), explode(col("grams")).as("gram"))
      val sz = g.select(col("doc_id"), col("sz"))
      val inter = tok.as("a")
        .join(tok.as("b"),
          col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sz.select(col("doc_id").as("id_a"), col("sz").as("sa")), "id_a")
        .join(sz.select(col("doc_id").as("id_b"), col("sz").as("sb")), "id_b")
        .withColumn("uni", col("sa") + col("sb") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 2)
        .select(col("id_a"), col("id_b"),
          col("inter").as("n_shared"),
          (expr("(2 * 1000000 * inter + uni) div (2 * uni)").cast("double") /
            lit(1000000.0)).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val g = bigramSets(docs)
    // cached: the candidate self-join reads bands twice, and with the
    // fused map-only derivation there is no agg exchange left for
    // Spark to reuse across the two sides
    val bands = ngramBanded(docs)
    Materialize.using(g, bands)(ngramJaccardPairsFrom(g, bands, threshold))
  }

  /** Un-persisted, un-checkpointed bigram-Jaccard pair PLAN (VERDICT
    * r13 task 1) — probe-readable exchange volumes, as
    * [[simhashPairsPlan]]'s. */
  private[graft] def ngramJaccardPairsPlan(
      docs: DataFrame, threshold: Double): DataFrame =
    ngramJaccardPairsFrom(bigramSets(docs), ngramBanded(docs), threshold)

  private def ngramJaccardPairsFrom(
      g: DataFrame, bands: DataFrame, threshold: Double): DataFrame = {
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("id_a"), col("grams").as("ga")), "id_a")
      .join(g.select(col("doc_id").as("id_b"), col("grams").as("gb")), "id_b")
      .withColumn("jaccard",
        round(graft.functions.jaccard_similarity(col("ga"), col("gb")), 6) + lit(0.0))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
