package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Corpus-curation operators beyond per-doc scoring (builder-prompt
  * "training-data pipeline" tier; complements `TextAnalysis` /
  * `Dedup`): repetition signals, PII scrubbing, cross-document
  * boilerplate detection, train/eval decontamination, stratified
  * mixing, and token-budget packing.
  *
  * Reference anchor: the reference's quality layer is the inline
  * print-check culture of `scripts/02_label_engineering.py:136-152`
  * (manual spot checks, no curation ops) — these operators are the
  * engine-surface extension `BASELINE.json`'s north star asks for.
  * Each is a PUBLIC parameterized function (the library API a real
  * pipeline calls with its own corpus/rates/budgets) plus a declared,
  * oracle-checked query pinning it to the test corpus.
  *
  * Scale posture shared by all: tokenize/explode is map-side; every
  * counting stage is a partial+final hash aggregate keyed on
  * (doc, token|gram|chunk); the wide joins key on a 60-bit md5-prefix
  * hash of the gram/chunk (`fp60`), never the string itself — shuffle
  * rows carry 8 bytes instead of the gram text, and the oracle replays
  * the identical hash arithmetic so the check stays exact. No driver
  * collects, no cartesian products, no UDFs.
  */
object Curation {

  /** Ceiling on the relational bloom audit's explicit bits-side
    * broadcast (r20, ADVICE r19): 4M distinct bit positions ≈ 32 MB
    * of raw longs — comfortably driver-safe. numBits = 10·|eval
    * grams|, so this admits eval slices up to ~400k distinct grams;
    * broader slices fall back to a shuffled join in
    * [[bloomFprPinned]]. */
  private[graft] val MaxBroadcastBloomBits = 4L << 20

  /** (doc_id, pos, t) token rows — 0-based pos from posexplode. */
  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "t")))

  /** Portable 32-bit-in-a-long content hash (same family as the dedup
    * modules: hex md5 prefix → decimal). */
  private def fp(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 60-bit join key for gram/chunk values: 15 hex chars of md5
    * (60 bits keeps the BIGINT positive in both engines; collision
    * odds at 10⁹ distinct grams ≈ 4·10⁻⁴ per corpus — the standard
    * content-key trade at scale, and EXACT for the oracle because
    * DuckDB replays the same arithmetic). */
  private def fp60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  private def fp60Sql(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr), 1, 15)) AS BIGINT)"

  // ── Public operator API ──────────────────────────────────────────

  /** Gopher-style repetition signals per doc: duplicate-token
    * fraction, most-common-token fraction, most-common-bigram
    * fraction. Token counts are one partial+final aggregate keyed
    * (doc_id, token); bigrams come from the native `ngrams(text, 2)`
    * Generator — emitted inside the scan projection (round 5; the
    * lead()-over-position form paid a doc_id window exchange + sort
    * before the first bigram existed). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val tok = tokens(docs)
    val tc = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    val ts = tc.groupBy(col("doc_id")).agg(
      sum(col("c")).cast("long").as("n_tokens"),
      count(lit(1)).cast("long").as("n_distinct"),
      max(col("c")).cast("long").as("top_c"))
    val bc = ngramRows(docs, 2)
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("c"))
    val bs = bc.groupBy(col("doc_id")).agg(
      sum(col("c")).cast("long").as("n_bigrams"),
      max(col("c")).cast("long").as("top_bc"))
    ts.join(bs, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        (round(lit(1.0) - col("n_distinct") * lit(1.0) / col("n_tokens"), 6) + lit(0.0))
          .as("dup_token_frac"),
        (round(col("top_c") * lit(1.0) / col("n_tokens"), 6) + lit(0.0))
          .as("top_token_frac"),
        (round(coalesce(col("top_bc") * lit(1.0) / col("n_bigrams"), lit(0.0)), 6) + lit(0.0))
          .as("top_bigram_frac"))
  }

  /** Detect-count-redact emails and phone numbers in `textCol`.
    * Returns the input plus n_emails / n_phones / clean columns.
    * The regex subset ([a-z0-9] classes, {n} repetition, literal dot)
    * behaves identically under Java regex and RE2. Map-only. */
  val EmailRe = """[a-z0-9]+@[a-z0-9]+\.[a-z]+"""
  val PhoneRe = """[0-9]{3}-[0-9]{4}"""
  def scrubPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("clean",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"))

  /** URL extraction + domain normalization (round 8): the provenance
    * side of anti-domination — before `domainCap` can bound a domain,
    * something must EXTRACT and normalize domains from raw text. The
    * regex subset ((?i) + char classes, no lazy ops) behaves
    * identically under Java regex and RE2/DuckDB. Round 9 (ADVICE r8):
    * the pattern is case-insensitive and the path class admits ports,
    * query strings, percent-escapes, and fragments (`:?&=%~+#`) — the
    * old class truncated `host:8443/p?q=1` at the colon, leaving the
    * tail in the text; the extracted domain is lowercased (ports
    * excluded — ':' stops the host class). Map-only per doc; the
    * rollup is one partial+final aggregate keyed by domain. */
  val UrlRe = """(?i)https?://[a-z0-9.-]+[a-z0-9/._:?&=%~+#-]*"""
  private val DomainRe = """(?i)https?://(www[.])?([a-z0-9.-]+)"""
  def urlDomains(df: DataFrame, textCol: String): DataFrame =
    df.select(col("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlRe), lit(0))).as("url"))
      .withColumn("domain", lower(regexp_extract(col("url"), DomainRe, 2)))

  /** Per-domain occurrence stats over `urlDomains`: URL mentions and
    * distinct citing docs — the inputs a domain-cap / source-mixing
    * policy consumes. */
  def domainStats(df: DataFrame, textCol: String): DataFrame =
    urlDomains(df, textCol)
      .groupBy(col("domain"))
      .agg(count(lit(1)).cast("long").as("n_urls"),
        countDistinct(col("doc_id")).cast("long").as("n_docs"))

  /** Deterministic content-hash train/valid/test split (round 9) —
    * the LLM-pipeline assignment rule: bucket = hash(doc_id) mod 100,
    * split by bucket thresholds. Hash assignment (not random) is the
    * published practice because it is STABLE — a doc keeps its split
    * across re-runs, incremental ingests, and engine swaps, so eval
    * contamination can't creep in through reshuffles (rand() would
    * reassign on every retry). Map-only, scan-fused; the seed string
    * namespaces this split from every other hash rule in the repo. */
  def hashSplit(
      docs: DataFrame, trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"hashSplit: invalid split ($trainPct/$validPct)")
    val bucket = fp(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    docs.withColumn("split",
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + validPct, "valid")
        .otherwise("test"))
  }

  /** GROUP-AWARE deterministic split (r17) — the FIX the
    * `curation_split_leakage` audit motivates: near-duplicates of a
    * train doc must not land in valid/test, so the split is decided
    * per DUP-GROUP, not per doc. Groups are connected components over
    * the supplied near-dup `pairs` (id_a, id_b — the caller picks the
    * tier: minhash bands, simhash, semantic), and every member routes
    * by the hash of the GROUP's min-id label — so no group can ever
    * span splits, and a SINGLETON doc (its own label) gets exactly the
    * split [[hashSplit]] would give it: the two rules differ only
    * where leakage was possible. Stability inherits from both parts:
    * a doc's split changes only if its group's min-id member changes.
    * Scale: the CC alternations dominate (a pass over the pair graph
    * per large-star/small-star alternation, O(log n) of them — the
    * `dedup_cluster_star` shape); the split itself is one map-side
    * hash. */
  def groupAwareSplit(
      docs: DataFrame, pairs: DataFrame,
      trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"groupAwareSplit: invalid split ($trainPct/$validPct)")
    // star CC (r18): a long chain of pairwise near-dups is a realistic
    // group shape, and the min-propagation form used to SPLIT it past
    // its iteration cap — re-introducing cross-split leakage for
    // exactly the docs the rule exists to protect
    val labels = Dedup.connectedComponentsStar(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("id_a").as("a"), col("id_b").as("b")))
    val bucket = fp(concat(lit("split:"), col("group_id").cast("string"))) % 100
    docs.join(
        labels.select(col("id").as("doc_id"), col("label").as("group_id")),
        Seq("doc_id"))
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validPct, "valid")
          .otherwise("test"))
  }

  /** [[groupAwareSplit]] against the STANDING label table
    * ([[Dedup.buildGroupLabels]] lifecycle) instead of recomputing the
    * connected components from pairs — the serving form: one bucketed
    * probe join, no CC iterations. Same routing rule (hash of the
    * group label), so on a freshly refit table it is row-identical to
    * the pairs form (spec-pinned); between refits it reflects the
    * attach-only labels, whose pending-merge count is the staleness
    * signal the operator already watches.
    *
    * The label probe is a LEFT join with `coalesce(label, doc_id)`
    * (ADVICE r17): a doc that arrived after the last
    * build/append — not yet in the table — routes by its OWN id, the
    * singleton rule [[groupAwareSplit]] applies to docs absent from
    * `pairs`, and exactly the assignment [[hashSplit]] would give it.
    * The old inner join silently DROPPED such docs from the split
    * output — worse than a wrong split. */
  def groupAwareSplitServed(
      docs: DataFrame, spark: SparkSession, labelTable: String,
      trainPct: Int = 90, validPct: Int = 5): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"groupAwareSplitServed: invalid split ($trainPct/$validPct)")
    val bucket = fp(concat(lit("split:"), col("group_id").cast("string"))) % 100
    docs.join(
        spark.table(labelTable)
          .select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("label"), col("doc_id")))
      .drop("label")
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + validPct, "valid")
          .otherwise("test"))
  }

  /** Deterministic negative sampling for contrastive training
    * (round 9): each anchor doc gets `k` pseudo-random negatives via
    * hash-modular addressing — negative j of doc d is the doc with id
    * hash("neg:" ‖ d ‖ ":" ‖ j) mod N (self-collisions shift by one).
    * Hash choice (not RNG) for the same reason as `hashSplit`: pairs
    * are stable across re-runs and engines, so a resumed training job
    * sees the same batches. Map-only k-row explode per anchor + ONE
    * keyed join to fetch the negatives' attributes; N is a broadcast
    * single-row aggregate.
    *
    * CONTRACT: doc_ids must be dense 0..N−1 (the post-packing id
    * space of a training corpus — and of the test tables; asserted in
    * the spec). With sparse ids, address by row rank at ingest
    * instead. */
  def negativePairs(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    val anchors = docs.select(col("doc_id"), col("source"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("source"), col("n"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("raw",
        fp(concat(lit("neg:"), col("doc_id").cast("string"), lit(":"),
          col("j").cast("string"))) % col("n"))
      .withColumn("neg_id",
        when(col("raw") === col("doc_id"), (col("raw") + 1) % col("n"))
          .otherwise(col("raw")))
    anchors
      .join(docs.select(col("doc_id").as("neg_id"), col("source").as("neg_source")),
        "neg_id")
      .select(col("doc_id"), col("j"), col("neg_id"), col("source"),
        col("neg_source"),
        (col("neg_source") =!= col("source")).cast("int").as("cross_source"))
  }

  /** Temperature-based mixture weights (round 9): the multinomial
    * source-sampling rule of multilingual/multi-source pretraining —
    * p_s ∝ (tokens_s)^α with α = 0.5, which upsamples small sources
    * (α = 1 is proportional, α = 0 uniform). Reported per source:
    * exact token counts, the relative weight vs the largest source,
    * and the sampling boost (the factor by which the rule oversamples
    * this source relative to proportional sampling). Everything is
    * engine-exact: counts are integers, the single division is one
    * IEEE op, and sqrt is CORRECTLY ROUNDED by IEEE 754 — no libm
    * drift, so the oracle replays the arithmetic bit for bit (the
    * reason α is fixed at 0.5 rather than a general pow()). The
    * per-source frame is bounded (one row per source) and the max
    * joins back as a broadcast single row — no window over docs. */
  def temperatureMixture(docs: DataFrame): DataFrame = {
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("t")).cast("long").as("n_tokens"))
    val mx = perSource.agg(max(col("n_tokens")).as("max_tokens"))
    perSource.crossJoin(broadcast(mx))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (round(sqrt(col("n_tokens") * lit(1.0) / col("max_tokens")), 6) + lit(0.0))
          .as("w_rel"),
        (round(sqrt(col("max_tokens") * lit(1.0) / col("n_tokens")), 6) + lit(0.0))
          .as("boost"))
  }

  /** Split each doc into non-overlapping `chunkTokens`-token chunks;
    * count how many of a doc's chunks appear in ≥2 distinct docs
    * (header/footer/template boilerplate). The chunks come from the
    * native strided Generator (`graft.functions.chunks`) — assembled
    * and 60-bit-hashed INSIDE the scan projection, zero shuffles
    * before the cross-doc count (the composed form below pays an
    * exchange + per-chunk order-restoring sort first; CurationSpec
    * pins equality and measures the difference). Downstream, the
    * cross-doc count and verdict join shuffle 8-byte keys only. */
  def boilerplateChunks(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    val chunks = docs
      .select(col("doc_id"),
        graft.functions.chunks(col("text"), chunkTokens).as(Seq("chunk", "chunk_text")))
      .select(col("doc_id"), fp60(col("chunk_text")).as("chunk_h"))
    val cc = chunks.groupBy(col("chunk_h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    chunks.join(cc, "chunk_h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("ndocs") >= 2, 1).otherwise(0)).cast("long").as("n_boilerplate"))
  }

  /** Boilerplate REMOVAL (round 7; `boilerplateChunks` above only
    * detects): drop every chunk appearing in ≥ 2 distinct docs and
    * reassemble each doc's surviving text in chunk order. The
    * reassembly sorts (chunk, text) structs — collect_list alone has
    * no order guarantee across merges. Two keyed shuffles (chunk_h
    * count + the doc_id reassembly aggregate); text moves only for
    * kept chunks. A doc whose every chunk is boilerplate disappears —
    * the corpus-cleaning semantics (both engines share the rule:
    * aggregation over zero kept rows emits nothing). */
  def stripBoilerplate(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    val chunks = docs
      .select(col("doc_id"),
        graft.functions.chunks(col("text"), chunkTokens).as(Seq("chunk", "chunk_text")))
      .withColumn("chunk_h", fp60(col("chunk_text")))
    val cc = chunks.groupBy(col("chunk_h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    chunks.join(cc, "chunk_h")
      .filter(col("ndocs") < 2)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk"), col("chunk_text")))),
            x => x.getField("chunk_text")), " ").as("clean_text"))
  }

  /** Composed-built-ins chunking (posexplode → groupBy(doc, chunk) →
    * order-restoring sort) — the reference the native ChunkGenerator
    * is verified against, row for row. */
  def boilerplateChunksComposed(docs: DataFrame, chunkTokens: Int = 10): DataFrame = {
    val chunks = tokens(docs)
      .withColumn("chunk", expr(s"pos div $chunkTokens"))
      .groupBy(col("doc_id"), col("chunk"))
      // order inside the chunk is restored by sorting (pos, t) structs —
      // collect_list alone has no order guarantee across merges
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("t")))),
          x => x.getField("t")), " ").as("chunk_text"))
      .select(col("doc_id"), fp60(col("chunk_text")).as("chunk_h"))
    val cc = chunks.groupBy(col("chunk_h"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    chunks.join(cc, "chunk_h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("ndocs") >= 2, 1).otherwise(0)).cast("long").as("n_boilerplate"))
  }

  /** Sliding `n`-token grams as (doc_id, gram) rows via the native
    * `ngrams` Generator — grams materialize inside the scan
    * projection, ZERO shuffles (OperatorsSpec pins equality with the
    * window reference form below and measures the difference). */
  def ngramRows(docs: DataFrame, n: Int = 8): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.ngrams(col("text"), n).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("gram"))

  /** Reference implementation of `ngramRows` composed from built-ins:
    * posexplode + collect_list over an n-row window — ONE exchange
    * keyed doc_id plus a sort before any gram exists (each token
    * still emitted once; the slice-inside-transform lambda form would
    * re-split the text per gram, the O(n²) plan-collapse trap
    * documented on text_winnow_fingerprint). Kept as the
    * verification baseline for the Generator. */
  def ngramRowsWindowed(docs: DataFrame, n: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, n - 1)
    tokens(docs)
      .withColumn("garr", collect_list(col("t")).over(w))
      .filter(size(col("garr")) === n)
      .select(col("doc_id"), array_join(col("garr"), " ").as("gram"))
  }

  /** Flag training docs sharing any sliding `n`-gram with the eval
    * slice (`evalPred` over doc columns selects the held-out set).
    * The probe is a left join keyed on the gram: the eval side is the
    * small curated benchmark — it broadcasts at scale. Returns
    * (doc_id, n_grams, n_contam) for flagged train docs only. */
  /** (doc_id, gram_h) rows: sliding n-grams pre-hashed to their
    * 60-bit content keys by the fused `ngram_hashes` Generator — no
    * gram STRING ever reaches a row buffer (round 7; row-for-row
    * equal to `ngramRows` + `fp60`, FunctionsSpec pins it). */
  private def gramHashRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.ngram_hashes(col("text"), n, 15).as(Seq("pos", "gram_h")))
      .select(col("doc_id"), col("gram_h"))

  def decontaminate(docs: DataFrame, evalPred: Column, n: Int = 8): DataFrame = {
    // Grams are hashed to 60-bit keys INSIDE the generator itself:
    // everything downstream (distinct, semi/anti joins, the probe join)
    // shuffles 8-byte longs, never the n-gram strings. They feed BOTH
    // the eval-gram set and the train side — cached, or each reference
    // re-runs the generator over the corpus.
    val grams = gramHashRows(docs, n)
    Materialize.using(grams)(
      contaminatedFrom(grams, docs.filter(evalPred).select(col("doc_id"))))
  }

  /** The contamination aggregate shared by [[decontaminate]] and the
    * probe-facing [[decontaminatePlan]]: eval-gram distinct, train-side
    * distinct, the gram-keyed probe join, per-doc contam rollup. */
  private def contaminatedFrom(grams: DataFrame, evalIds: DataFrame): DataFrame = {
    val ev = grams.join(evalIds, Seq("doc_id"), "left_semi").select(col("gram_h")).distinct()
    val tr = grams.join(evalIds, Seq("doc_id"), "left_anti").distinct()
    tr.join(ev.withColumn("hit", lit(1)), Seq("gram_h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contam"))
      .filter(col("n_contam") > 0)
  }

  /** SEMANTIC decontamination (r18) — the embedding-similarity member
    * of the decontam family (exact 8-gram, bloom-pruned, span-surgical,
    * streaming): flag every TRAIN vector whose cosine to ANY eval-set
    * vector reaches `tau`. Verbatim-overlap tiers can't see a
    * paraphrased or re-tokenized benchmark leak; the embedding tier
    * can — this is the eval-leak analog of SemDeDup, and the modern
    * complement to n-gram decontamination.
    *
    * Shape: both sides bucket by the deterministic SRP hyperplane
    * signature ([[Similarity.srpBucket]] — map-only, codegen'd at the
    * scan), candidates are same-bucket (corpus × eval) pairs, the
    * exact rounded cosine verifies. The eval side carries an EXPLICIT
    * broadcast hint: it is benchmark-sized by contract (thousands of
    * vectors), and the bucket key has only 2^SrpBits = 256 distinct
    * values — a stats-driven shuffle join here would serialize the
    * whole corpus onto 256 reducers, so the plan must never depend on
    * AQE guessing right. The corpus therefore NEVER shuffles;
    * candidates are bucket-bounded, never all-pairs. Blocking recall
    * is the SRP tier's (multi-probe / banded variants exist for
    * higher recall); determinism is exact, which is what the oracle
    * checks. Returns (vec_id, n_hits, max_cos) for flagged corpus
    * vectors only. */
  def semanticDecontam(
      emb: DataFrame, evalEmb: DataFrame, tau: Double = 0.99): DataFrame = {
    val c = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.srpBucket(col("v")))
    val ev = evalEmb
      .select(col("vec_id").as("eval_id"), col("embedding").cast("array<double>").as("ev"))
      .withColumn("bucket", Similarity.srpBucket(col("ev")))
    c.join(broadcast(ev), "bucket")
      .withColumn("cs", round(Similarity.cosine(col("v"), col("ev")), 6) + lit(0.0))
      .filter(col("cs") >= tau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"), max(col("cs")).as("max_cos"))
  }

  /** Un-persisted, un-checkpointed decontamination PLAN (VERDICT r13
    * task 1): same exchanges as [[decontaminate]] — persistence only
    * dedups the map-side gram generator — but probe-readable by
    * `PlanAudit.shuffleStats`. */
  private[graft] def decontaminatePlan(
      docs: DataFrame, evalPred: Column, n: Int = 8): DataFrame =
    contaminatedFrom(gramHashRows(docs, n), docs.filter(evalPred).select(col("doc_id")))

  /** `decontaminate` with a BLOOM-FILTER pre-filter — the shuffle
    * reducer for the 100 TB shape: the eval side's gram hashes are
    * folded into one bloom sketch (a bounded driver artifact:
    * ~1.2 MB per 10⁶ grams at 1% fpp, the same bounded-aggregate
    * class as the IVF centroid table), shipped as a plan literal into
    * the codegen'd `might_contain` predicate, and applied MAP-SIDE to
    * the train grams BEFORE the probe join — so the join shuffles only the ~fpp
    * fraction of grams that might hit, instead of every train gram.
    * False positives are resolved by the exact hash join that
    * follows, so the RESULT is identical to `decontaminate` (same
    * declared oracle; CurationSpec pins frame equality) — only the
    * plan changes. n_grams is therefore computed before the filter,
    * from the unfiltered per-doc distinct counts. */
  def decontaminateBloom(
      docs: DataFrame, evalPred: Column, n: Int = 8, fpp: Double = 0.01): DataFrame = {
    val grams = gramHashRows(docs, n)
    val evalIds = docs.filter(evalPred).select(col("doc_id"))
    val ev = grams.join(evalIds, Seq("doc_id"), "left_semi").select(col("gram_h")).distinct()
    val tr = grams.join(evalIds, Seq("doc_id"), "left_anti").distinct()
    Materialize.using(grams, tr) {
      val evCount = math.max(ev.count(), 1L)
      // Distributed sketch build: Spark's own bloom aggregate (partial
      // filters merged by the engine) replaces `stat.bloomFilter`'s RDD
      // treeAggregate, and the probe compiles to the codegen'd
      // `might_contain` expression instead of a closure UDF that walled
      // off whole-stage codegen at the filter node (VERDICT r8 #6). The
      // one collected row is the ~1.2 MB serialized filter — the same
      // bounded driver artifact as before, now shipped as a plan
      // literal. Bit count is the standard optimum −n·ln(p)/ln²2;
      // Spark clamps past its runtime-bloom caps, where the degraded
      // fpp only widens the pre-filter (the exact join still decides).
      val numBits = math.ceil(
        -evCount * math.log(fpp) / (math.log(2) * math.log(2))).toLong
      val bloomBytes = ev
        .agg(graft.functions.bloom_filter_agg(col("gram_h"), evCount, numBits).as("bf"))
        .head.getAs[Array[Byte]](0)
      val perDoc = tr.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_grams"))
      val contam = tr.filter(graft.functions.might_contain(bloomBytes, col("gram_h")))
        .join(ev.withColumn("hit", lit(1)), Seq("gram_h"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contam"))
        .filter(col("n_contam") > 0)
      contam.join(perDoc, "doc_id")
        .select(col("doc_id"), col("n_grams"), col("n_contam"))
    }
  }

  /** Honesty audit for the bloom pre-filter tier (the
    * dedup_minhash_recall / embed_ann_recall pattern applied to
    * decontamination): measure the sketch's ACTUAL false-positive
    * rate against the exact gram set, and pin its no-false-negative
    * guarantee. One row: distinct training grams probed, bloom hits,
    * true hits, false positives, misses (MUST be 0 — a bloom can
    * over-approximate but never under-approximate), and the realized
    * FP µ-rate over the true negatives. Declared rows-only (the
    * filter's bits are engine-internal — DuckDB can't replay
    * might_contain); CurationSpec pins miss=0 and fpr ≤ 3× the
    * configured fpp. Same bounded-driver shape as the decontam path:
    * the one collected artifact is the serialized filter. */
  def bloomFprAudit(
      docs: DataFrame, evalPred: Column, n: Int = 8, fpp: Double = 0.01): DataFrame = {
    val grams = gramHashRows(docs, n)
    Materialize.using(grams) {
      val evalIds = docs.filter(evalPred).select(col("doc_id"))
      val ev = grams.join(evalIds, Seq("doc_id"), "left_semi")
        .select(col("gram_h")).distinct()
      val p = grams.join(evalIds, Seq("doc_id"), "left_anti")
        .select(col("gram_h")).distinct()
      val evCount = math.max(ev.count(), 1L)
      val numBits = math.ceil(
        -evCount * math.log(fpp) / (math.log(2) * math.log(2))).toLong
      val bloomBytes = ev
        .agg(graft.functions.bloom_filter_agg(col("gram_h"), evCount, numBits).as("bf"))
        .head.getAs[Array[Byte]](0)
      p
        .withColumn("hit",
          graft.functions.might_contain(bloomBytes, col("gram_h")).cast("long"))
        .join(ev.withColumn("t", lit(1L)), Seq("gram_h"), "left")
        .select(col("hit"), coalesce(col("t"), lit(0L)).as("t"))
        .agg(
          count(lit(1)).cast("long").as("n_probes"),
          sum(col("hit")).cast("long").as("n_bloom_hits"),
          sum(col("t")).cast("long").as("n_true"),
          sum(col("hit") * (lit(1L) - col("t"))).cast("long").as("n_false_pos"),
          sum((lit(1L) - col("hit")) * col("t")).cast("long").as("n_missed"))
        .withColumn("fpr_micro",
          expr("(n_false_pos * 1000000) div greatest(n_probes - n_true, 1)"))
    }
  }

  /** [[bloomFprAudit]]'s ORACLE-REPLAYABLE twin (r19, VERDICT r18
    * task 5 — the BPE playbook applied to the bloom tier): the same
    * (n_probes, n_bloom_hits, n_true, n_false_pos, n_missed,
    * fpr_micro) audit, with the filter's BITS expressed RELATIONALLY
    * instead of through the byte-array aggregate — k md5-derived
    * positions per gram modulo an integer-sized bit space (numBits =
    * 10·|eval grams|, integer arithmetic only, so both engines size
    * identically; ~1.7% expected FPR at k = 3), membership = all k
    * positions present in the eval side's distinct-position set. That
    * IS a Bloom filter — same no-false-negative guarantee, same FPR
    * mechanics — just queryable by DuckDB, so the realized FPR
    * hash-pins cross-engine while `decontam_bloom_fpr` keeps auditing
    * the production byte-array path (engine-internal bits → rows-only).
    *
    * Scale shape: the bits side is ≤ numBits distinct ints (a few
    * hundred KB at any corpus size that respects the eval-slice
    * bound) — broadcast explicitly; the probe side is k map-generated
    * positions per gram plus one gram-keyed aggregate. */
  def bloomFprPinned(
      docs: DataFrame, evalPred: Column, n: Int = 8, k: Int = 3): DataFrame = {
    val grams = gramHashRows(docs, n)
    val evalIds = docs.filter(evalPred).select(col("doc_id"))
    val ev = grams.join(evalIds, Seq("doc_id"), "left_semi")
      .select(col("gram_h")).distinct()
    Materialize.using(grams, ev) {
      val p = grams.join(evalIds, Seq("doc_id"), "left_anti")
        .select(col("gram_h")).distinct()
      // integer sizing rule — exact in both engines (the float m =
      // −E·ln p/ln²2 rule of the production audit would hinge on libm
      // ULPs); the count is a bounded scalar (the evCount the byte-array
      // audit already collects)
      val numBits = math.max(ev.count(), 1L) * 10L
      def pos(i: Int, g: Column): Column =
        (conv(substring(md5(concat(lit(s"bfp$i:"), g.cast("string"))), 1, 12), 16, 10)
          .cast("long") % numBits).as(s"b$i")
      def posArr(g: Column): Column = array((1 to k).map(pos(_, g)): _*)
      val bits = ev.select(explode(posArr(col("gram_h"))).as("bit")).distinct()
      // broadcast only under the documented eval-slice bound (r20,
      // ADVICE r19): the bits side holds ≤ numBits = 10·|eval grams|
      // distinct longs, and nothing upstream enforces that evalPred is
      // narrow — a broad slice would force a multi-hundred-MB driver
      // broadcast. Reuse the count already paid for numBits as the
      // gate: past [[MaxBroadcastBloomBits]] the hint is DROPPED and
      // the planner shuffles the join — the audit stays correct, it
      // just pays an exchange instead of risking the driver.
      val bitsSide = bits.withColumn("set1", lit(1L))
      val bitsJoin =
        if (numBits <= MaxBroadcastBloomBits) broadcast(bitsSide) else bitsSide
      val hit = p.select(col("gram_h"), explode(posArr(col("gram_h"))).as("bit"))
        .join(bitsJoin, Seq("bit"), "left")
        .groupBy(col("gram_h"))
        .agg(min(coalesce(col("set1"), lit(0L))).as("hit"))
      hit
        .join(ev.withColumn("t", lit(1L)), Seq("gram_h"), "left")
        .select(col("hit"), coalesce(col("t"), lit(0L)).as("t"))
        .agg(
          count(lit(1)).cast("long").as("n_probes"),
          sum(col("hit")).cast("long").as("n_bloom_hits"),
          sum(col("t")).cast("long").as("n_true"),
          sum(col("hit") * (lit(1L) - col("t"))).cast("long").as("n_false_pos"),
          sum((lit(1L) - col("hit")) * col("t")).cast("long").as("n_missed"))
        .withColumn("fpr_micro",
          expr("(n_false_pos * 1000000) div greatest(n_probes - n_true, 1)"))
    }
  }

  /** DuckDB replay of [[bloomFprPinned]] — gram CTEs shared with
    * [[decontamOracleSql]], positions and sizing replayed with the
    * identical integer arithmetic. */
  private[graft] def bloomFprPinnedOracleSql(k: Int = 3): String = {
    val posList = (1 to k).map(i =>
      s"CAST(concat('0x', substr(md5(concat('bfp$i:', CAST(gram_h AS VARCHAR))), 1, 12)) AS BIGINT) % (SELECT m FROM nb)")
      .mkString("[", ", ", "]")
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |gs AS (SELECT doc_id,
       |              unnest(list_transform(range(1, greatest(len(l) - 7, 0) + 1),
       |                                    i -> array_to_string(l[i:i+7], ' '))) AS gram
       |       FROM base),
       |g AS (SELECT doc_id, ${fp60Sql("gram")} AS gram_h FROM gs),
       |ev AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 7 = 0),
       |p AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 7 <> 0),
       |nb AS (SELECT GREATEST(COUNT(*), 1) * 10 AS m FROM ev),
       |bits AS (
       |  SELECT DISTINCT bit FROM (
       |    SELECT unnest($posList) AS bit FROM ev) zb),
       |pb AS (SELECT gram_h, unnest($posList) AS bit FROM p),
       |hit AS (
       |  SELECT pb.gram_h,
       |         MIN(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS hit
       |  FROM pb LEFT JOIN bits USING (bit)
       |  GROUP BY pb.gram_h),
       |rows_ AS (
       |  SELECT h.hit, CASE WHEN ev.gram_h IS NOT NULL THEN 1 ELSE 0 END AS t
       |  FROM hit h LEFT JOIN ev USING (gram_h))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       |       CAST(SUM(hit) AS BIGINT) AS n_bloom_hits,
       |       CAST(SUM(t) AS BIGINT) AS n_true,
       |       CAST(SUM(hit * (1 - t)) AS BIGINT) AS n_false_pos,
       |       CAST(SUM((1 - hit) * t) AS BIGINT) AS n_missed,
       |       CAST(SUM(hit * (1 - t)) * 1000000
       |              // GREATEST(COUNT(*) - SUM(t), 1) AS BIGINT) AS fpr_micro
       |FROM rows_""".stripMargin
  }

  /** Domain-weighted mixing: keep a doc iff its content-hash bucket
    * (0..999) falls under its language's rate. Hash rules are stable
    * under retries and re-runs — a seeded Bernoulli is not — so the
    * sample is reproducible cross-engine. Scan-fused map-only. */
  def stratifiedSample(
      docs: DataFrame, rates: Seq[(String, Int)], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(when(lit(false), 0)) {
      case (acc, (l, r)) => acc.when(col("lang") === l, r)
    }.otherwise(defaultRate)
    docs
      .withColumn("bucket", fp(col("doc_id").cast("string")) % 1000)
      .withColumn("rate", rate)
      .filter(col("bucket") < col("rate"))
  }

  /** Cap each source (domain) at `cap` docs, chosen by a DETERMINISTIC
    * content-hash order — the standard anti-domination step of corpus
    * mixing (one crawl domain must not swamp the mix; the rank-by-hash
    * choice keeps the kept set stable under retries and incremental
    * re-runs, where rand() would churn it). One hash exchange keyed
    * source + a per-source sort for row_number — and the rank filter
    * plans as a `WindowGroupLimit`, so every MAP task pre-truncates to
    * its local top-`cap` per source before the exchange (CurationSpec
    * pins the physical operator, like `topk_per_key`): the shuffle
    * never carries more than cap·tasks rows of a hot domain. For the
    * regime where even the post-shuffle single-task sort of those
    * survivors matters, `domainCapSharded` below spreads phase one
    * over explicit shards — identical rows out. */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    docs
      .withColumn("rk", fp(concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= cap)
  }

  /** `domainCap` with an EXPLICIT sharded pre-filter (the production
    * variant the round-7 docstring only described — VERDICT r7 task 4):
    *  1. shard = hash(doc_id) mod `nShards`; per (source, shard), keep
    *     the local top-`cap` by (rk, doc_id). Any globally-kept row is
    *     also among the smallest `cap` of its own shard (its in-shard
    *     predecessors are a subset of its global predecessors), so the
    *     survivor set — ≤ cap·nShards rows per source — is a superset
    *     of the keepers, and a hot domain's phase-one sort spreads
    *     over nShards tasks instead of one.
    *  2. the plain per-source window over the bounded survivor set.
    *     Phase-two row_numbers equal the global ones on every kept row:
    *     a kept row's global predecessors all survive phase one, and
    *     any extra survivor (local rank ≤ cap, global rank > cap)
    *     orders after every kept row of its source by construction.
    * Both rank filters plan as WindowGroupLimit. CurationSpec pins
    * row-for-row equality (rn included) with `domainCap` on a planted
    * hot-source corpus. */
  def domainCapSharded(docs: DataFrame, cap: Int, nShards: Int = 32): DataFrame = {
    val wLocal = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("rk"), col("doc_id"))
    val wGlobal = Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    docs
      .withColumn("rk", fp(concat(lit("cap:"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(hash(col("doc_id")), lit(nShards)))
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= cap)
      .drop("lrn", "shard")
      .withColumn("rn", row_number().over(wGlobal).cast("long"))
      .filter(col("rn") <= cap)
  }

  /** Concatenate each source's docs in doc_id order and split the
    * token stream into fixed-`budget` bins: a doc's bin span falls
    * out of one windowed cumulative sum (pure integer arithmetic —
    * exact and engine-independent). One hash exchange keyed source;
    * at 100 TB — or under a hot source — use `packTokenBinsSharded`
    * below: the two-phase (source, shard) form, row-for-row identical
    * output with bounded per-task window state. */
  def packTokenBins(docs: DataFrame, budget: Int = 512): DataFrame = {
    val bySource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(bySource))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("start_bin"),
        expr(s"(cum - 1) div $budget").as("end_bin"),
        expr(s"cum - n_tokens - ((cum - n_tokens) div $budget) * $budget").as("bin_offset"))
  }

  /** `packTokenBins` under SKEW (round 7, VERDICT r6 task 5): a hot
    * source (one crawl domain holding half the corpus) concentrates
    * the single `Window.partitionBy(source)` cumulative sum on one
    * task. The sub-sharded form bounds per-task window state while
    * producing the IDENTICAL rows (CurationSpec pins row-for-row
    * equality on a planted 50%-hot corpus):
    *  1. shard = doc_id div `shardSpan` — contiguous in the doc_id
    *     ORDER within each source (all of shard k sorts before shard
    *     k+1), which is the only property prefix-sum composition
    *     needs; each (source, shard) window is bounded by the span;
    *  2. local cumulative sums per (source, shard) — the skewed
    *     source now spreads over ~span-many tasks;
    *  3. per-shard token totals (a tiny aggregate: one row per
    *     (source, shard)) get their own prefix sum over shards —
    *     a window over a frame ~|sources|·|shards| rows, not |docs|;
    *  4. global cum = local cum + preceding-shards offset.
    * Two extra small exchanges buy a bounded per-task sort — the
    * standard two-phase prefix-sum, same shape as the salted
    * aggregate and the chunked telemetry window. */
  def packTokenBinsSharded(
      docs: DataFrame, budget: Int = 512, shardSpan: Long = 1000L): DataFrame = {
    val byShard = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $shardSpan"))
      .withColumn("local_cum", sum(col("n_tokens")).over(byShard))
    val precedingShards = Window.partitionBy(col("source"))
      .orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("offset",
        coalesce(sum(col("shard_tokens")).over(precedingShards), lit(0L)))
      .select(col("source"), col("shard"), col("offset"))
    local.join(offsets, Seq("source", "shard"))
      .withColumn("cum", col("local_cum") + col("offset"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("start_bin"),
        expr(s"(cum - 1) div $budget").as("end_bin"),
        expr(s"cum - n_tokens - ((cum - n_tokens) div $budget) * $budget").as("bin_offset"))
  }

  /** The whole assembly line: exact dedup (first doc_id wins) →
    * decontamination vs `evalPred` → `minTokens` quality gate →
    * stratified mixing → token packing. Five exchanges end to end
    * regardless of corpus size. */
  def trainingReady(
      docs: DataFrame, evalPred: Column, minTokens: Int,
      rates: Seq[(String, Int)], defaultRate: Int, budget: Int): DataFrame = {
    // the dedup survivors feed decontamination AND the kept-side
    // filters — cached so the groupBy+semi join runs once; the packed
    // listing is one narrow row per kept doc (no text column), far
    // smaller than the text-bearing corpus cache it lets us drop
    val corpus = exactDedupCorpus(docs)
    Materialize.using(corpus) {
      val contam = decontaminate(corpus, evalPred).select(col("doc_id"))
      trainingReadyFrom(corpus, contam, evalPred, minTokens, rates, defaultRate, budget)
    }
  }

  /** The capstone's exact-dedup stage: first doc_id per content hash
    * wins, as a survivor aggregate over the content hash + doc_id
    * semi-join back (the declared queries' plan; the oracle replays
    * the same SQL). In the broadcast regime the corpus is never
    * shuffled and the output KEEPS the scan partitioning — which
    * matters here because every caller persists this frame for two
    * downstream consumers, and the narrow cache keeps their per-job
    * task count low.
    *
    * Documents contract: `doc_id` is unique. When it is not, the
    * survivor is still chosen per content hash, but the semi-join
    * keeps EVERY row carrying a surviving `doc_id` — including rows
    * of that id whose text hashes elsewhere (CurationSpec pins this).
    * No runtime check: it would cost a job on every call. */
  private[graft] def exactDedupCorpus(docs: DataFrame): DataFrame = {
    val survivors = docs.groupBy(Dedup.contentKey(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    docs.join(survivors, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
  }

  /** Keep-first exact dedup as one content-hash-partitioned window
    * min — one scan and one corpus exchange (`corpus_curated`'s form);
    * preserves the caller's columns. Window state is bounded by the
    * duplicate multiplicity of one content hash — the groups
    * [[exactDedupCorpus]]'s survivor aggregate builds anyway. */
  private[graft] def keepMinDocByText(docs: DataFrame): DataFrame =
    docs
      // 16-byte binary content key (Dedup.contentKey): the window's
      // partition expression materializes as a shuffle column, so the
      // binary form halves it vs the 32-char hex md5 (same groups —
      // unhex is bijective on md5 output)
      .withColumn("__keep_id",
        min(col("doc_id")).over(Window.partitionBy(Dedup.contentKey(col("text")))))
      .filter(col("doc_id") === col("__keep_id"))
      .drop("__keep_id")

  /** Un-persisted, un-checkpointed capstone PLAN (VERDICT r13 task 1):
    * the exact-dedup semi-join, decontamination, length gate, mixing
    * and packing stages in one probe-readable lineage — what the
    * public API shields behind its cached corpus and two
    * checkpoints. Exchange volumes match the public form; only
    * map-side re-derivation differs. */
  private[graft] def trainingReadyPlan(
      docs: DataFrame, evalPred: Column, minTokens: Int,
      rates: Seq[(String, Int)], defaultRate: Int, budget: Int): DataFrame = {
    val corpus = exactDedupCorpus(docs)
    trainingReadyFrom(
      corpus, decontaminatePlan(corpus, evalPred).select(col("doc_id")),
      evalPred, minTokens, rates, defaultRate, budget)
  }

  private def trainingReadyFrom(
      corpus: DataFrame, contam: DataFrame, evalPred: Column, minTokens: Int,
      rates: Seq[(String, Int)], defaultRate: Int, budget: Int): DataFrame = {
    val kept = stratifiedSample(
      corpus.filter(!evalPred)
        .join(contam, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= minTokens),
      rates, defaultRate)
    val bySource = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept.withColumn("cum", sum(col("n_tokens")).over(bySource))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("start_bin"))
  }

  /** Funnel report over the SAME stage semantics as `trainingReady`:
    * per-stage survivor counts (raw → exact dedup → train slice →
    * decontamination → length gate → stratified mix) as one small
    * frame — the pipeline-health artifact an operator reads before
    * shipping a corpus ("where did my tokens go?"). Each stage is a
    * 1-row aggregate unioned in order; no driver collects, and the
    * deduped corpus is persisted once exactly like the capstone. */
  def curationFunnel(
      docs: DataFrame, evalPred: Column, minTokens: Int,
      rates: Seq[(String, Int)], defaultRate: Int): DataFrame = {
    val corpus = exactDedupCorpus(docs)
    Materialize.using(corpus) {
      val contam = decontaminate(corpus, evalPred).select(col("doc_id"))
      val train = corpus.filter(!evalPred)
      val decon = train.join(contam, Seq("doc_id"), "left_anti")
      val minlen = decon
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tokens") >= minTokens)
      val mixed = stratifiedSample(minlen, rates, defaultRate)
      def stage(i: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).cast("long").as("n"))
          .select(lit(i).cast("int").as("stage_idx"), lit(name).as("stage"), col("n"))
      stage(0, "raw", docs)
        .unionByName(stage(1, "exact_dedup", corpus))
        .unionByName(stage(2, "train_slice", train))
        .unionByName(stage(3, "decontam", decon))
        .unionByName(stage(4, "min_tokens", minlen))
        .unionByName(stage(5, "mixed", mixed))
    }
  }

  /** Default mixing rates (per-mille) used by the declared queries. */
  val MixRates: Seq[(String, Int)] =
    Seq("en" -> 500, "es" -> 1000, "de" -> 250, "fr" -> 750)

  /** Epoch-weighted mixture: the UPSAMPLING half of data mixing that
    * `stratifiedSample` (rates ≤ 1000‰) cannot express. A stratum
    * weighted `rate` per-mille emits ⌊rate/1000⌋ full copies of every
    * doc plus one more for the deterministic hash fraction — e.g.
    * 2250‰ ⇒ every doc twice, a stable 25% of docs a third time — the
    * "n epochs of the high-quality subset" knob of an LLM data recipe
    * (the same doc_id hash bucket as stratifiedSample decides the
    * fractional copy, so the two ops compose into one mixing policy).
    * Shape: map-only — a per-row rate lookup, one `sequence` +
    * `explode`; no shuffle at any size (the copies inherit the
    * source partitioning). Deterministic: same corpus → same mix,
    * retry-stable, and the oracle replays the identical arithmetic. */
  def epochMixture(
      docs: DataFrame, rates: Seq[(String, Int)], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(when(lit(false), 0)) {
      case (acc, (l, r)) => acc.when(col("lang") === l, r)
    }.otherwise(defaultRate).cast("long")
    docs
      .withColumn("bucket", fp(col("doc_id").cast("string")) % 1000)
      .withColumn("rate", rate)
      .withColumn("n_copies",
        floor(col("rate") / 1000L).cast("long") +
          when(col("bucket") < col("rate") % 1000L, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n_copies"))).as("epoch"))
  }

  /** Default epoch weights for the declared query: de is upsampled
    * 2.25×, en kept, fr half-sampled, es dropped to a 10% tail. */
  val EpochRates: Seq[(String, Int)] =
    Seq("en" -> 1000, "es" -> 100, "de" -> 2250, "fr" -> 500)

  /** Pairwise vocabulary overlap between sources — the corpus-mixing
    * diagnostic (which sources are redundant? which contribute novel
    * vocabulary?) behind mixture-weight decisions. EXACT tier: the
    * intersection is computed by a TOKEN-KEYED self-join over distinct
    * (source, 60-bit token key) rows — per-source vocabularies are
    * never materialized as sets anywhere; Jaccard follows from
    * |A∩B| and the per-source sizes. Per-token join fan-out is
    * bounded by S² for S sources sharing it, so this tier fits
    * corpus-level source labels (dozens); for domain-granularity
    * sources (millions) use `sourceOverlapSketch`. Pairs with empty
    * intersection are omitted (inner-join semantics, both engines). */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val perTok = perTokenSources(docs)
    Materialize.using(perTok)(sourceOverlapFrom(perTok))
  }

  /** Un-persisted, un-checkpointed overlap PLAN (the decontaminatePlan
    * convention): shared by PlanAuditSpec and PlanDump so the audited
    * shape can never drift from the shipped one. */
  private[graft] def sourceOverlapPlan(docs: DataFrame): DataFrame =
    sourceOverlapFrom(perTokenSources(docs))

  /** One grouped pass: (tok_h, sorted distinct source list). r20
    * (optimization round, guide §2.3/§2.4): the former shape paid
    * THREE corpus-sized exchanges — a (source, tok_h) distinct, then
    * the tok ⋈ tok self-join on tok_h re-shuffled the distinct frame
    * on BOTH sides (plus SMJ sorts in the non-broadcast regime). This
    * pays ONE: collect_set dedups (source, token) inside the partial
    * aggregation buffers (map-side), and the per-token ≤ S sorted
    * source list leaves the single tok_h exchange. */
  private def perTokenSources(docs: DataFrame): DataFrame = docs
    .select(col("source"), explode(split(col("text"), " ")).as("t"))
    .select(col("source"), fp60(col("t")).as("tok_h"))
    .groupBy(col("tok_h"))
    .agg(sort_array(collect_set(col("source"))).as("ss"))

  /** Pair generation + Jaccard tail over [[perTokenSources]]: the
    * C(S,2) ordered pairs are generated MAP-SIDE by higher-order array
    * expressions (src_a < src_b exactly as the retired join predicate
    * ordered them), counted by a tiny pair-keyed aggregate; per-source
    * vocabulary sizes fall out of the same aggregated frame (explode +
    * a source-keyed count). Identical rows to the r19 self-join form:
    * same oracle SQL, CurationSpec/PropertySpec brute-force
    * cross-checks unchanged. */
  private def sourceOverlapFrom(perTok: DataFrame): DataFrame = {
    val sizes = perTok.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("v"))
    val pairs = perTok
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> transform(slice(ss, i + 2, size(ss) - i - 1), " +
          "y -> named_struct('src_a', x, 'src_b', y))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
    pairs
      .join(sizes.select(col("source").as("src_a"), col("v").as("va")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("v").as("vb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (round(col("n_shared") / (col("va") + col("vb") - col("n_shared")), 6) + lit(0.0))
          .as("jaccard"))
  }

  /** Sketch tier of `sourceOverlap`: per-source k-component minhash
    * (the Carter–Wegman affine family shared with `Dedup` — one md5
    * per token, k integer mins in ONE partial+final aggregate), so
    * per-source state is k longs regardless of vocabulary size, and
    * pairing is an EQUALITY join on (component, min-value) — sources
    * only meet where a component agrees, never all-pairs. Estimate is
    * agreeing-components / k (σ = √(J(1−J)/k) ≈ 0.06 at k = 64).
    * Deterministic, so fully oracle-replayed despite being a sketch.
    * Source pairs agreeing on NO component are omitted — at k = 64
    * that means J ≲ 2% indistinguishable from disjoint, the priced-in
    * sketch floor. */
  def sourceOverlapSketch(docs: DataFrame, k: Int = 64): DataFrame = {
    val fam = "so"
    val elems = docs
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .select(col("source"),
        conv(substring(md5(concat(lit(fam + ":"), col("t"))), 1, 8), 16, 10)
          .cast("long").as("h"))
    val mins = (0 until k).map(i =>
      min((col("h") * Dedup.mhA(fam, i) + Dedup.mhB(fam, i)) % Dedup.MinHashPrime)
        .as(s"mh$i"))
    val sig = elems.groupBy(col("source")).agg(mins.head, mins.tail: _*)
      .select(col("source"),
        posexplode(array((0 until k).map(i => col(s"mh$i")): _*)).as(Seq("i", "mh")))
    sig.as("a")
      .join(sig.as("b"),
        col("a.i") === col("b.i") && col("a.mh") === col("b.mh") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).cast("long").as("n_match"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        (round(col("n_match") / lit(k.toDouble), 6) + lit(0.0)).as("est_jaccard"))
  }

  /** SURGICAL decontamination (round 8): instead of dropping every
    * doc sharing an n-gram with the eval slice (`decontaminate` — the
    * recall-safe but wasteful form), remove ONLY the contaminated
    * token spans and reassemble the rest. Spans are the maximal
    * islands of eval-overlapping gram starts (same merge rule as
    * `Dedup.duplicatedSpans`, so removed token counts are exact with
    * no overlap double-count); a doc whose every token is covered
    * disappears, an untouched doc passes through byte-identical.
    *
    * Scale shape: eval grams are the bounded curated-benchmark set
    * (broadcasts); hit detection is the map-only generator + LEFT
    * SEMI on 8-byte keys; span merge and reassembly both partition
    * BY DOC (one exchange, reused); token text moves only for kept
    * tokens. */
  def stripContaminated(docs: DataFrame, evalPred: Column, n: Int = 8): DataFrame = {
    val train = docs.filter(!evalPred)
    val ev = docs.filter(evalPred)
      .select(graft.functions.ngram_hashes(col("text"), n, 15).as(Seq("p", "gram_h")))
      .select(col("gram_h")).distinct()
    val hits = train
      .select(col("doc_id"),
        graft.functions.ngram_hashes(col("text"), n, 15).as(Seq("pos", "gram_h")))
      .join(ev, Seq("gram_h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    removeSpans(train, Dedup.islandSpans(hits, n))
  }

  /** Excise `(doc_id, span_start, span_tokens)` token ranges from
    * `docs` and reassemble the survivors in order → (doc_id, n_kept,
    * clean_text). Shared by the surgical decontamination above and
    * the keep-one-copy substring dedup (`Dedup.substringStrip`).
    * Every stage partitions by doc; token text moves only for kept
    * tokens; docs whose every token is covered disappear. */
  private[graft] def removeSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start").cast("long"),
          col("span_start").cast("long") + col("span_tokens") - 1)).as("pos"))
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("t"))
    toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("t")))),
            x => x.getField("t")), " ").as("clean_text"))
  }

  /** Per-doc lexical-diversity score (distinct-token ratio, 6 dp) —
    * the cheap rule-based stand-in for a reference-LM perplexity in
    * the CCNet-style bucketing below. */
  private def diversityScore(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(col("doc_id"), col("lang"),
      (round(size(array_distinct(toks)) * lit(1.0) / size(toks), 6) + lit(0.0))
        .as("score"))
  }

  /** CCNet-style per-language quality terciles: rank docs within
    * their language and label head / middle / tail — the published
    * shape for language-adaptive filtering (a global threshold
    * over-prunes low-resource languages; per-lang terciles keep each
    * language's own best third). NTILE over (score desc, doc_id) is a
    * deterministic total order, so both engines bucket identically.
    *
    * Scale caveat, by design: NTILE needs a per-language SORT — a
    * dominant language concentrates on few tasks. This is the exact
    * REPORTING form; the gate below is the 100 TB filtering form
    * (bounded per-lang quantile aggregate + broadcast compare, no
    * global window). */
  def langQualityBuckets(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    diversityScore(docs)
      .withColumn("tercile", ntile(3).over(w).cast("long"))
      .withColumn("bucket",
        when(col("tercile") === 1, "head")
          .when(col("tercile") === 2, "middle").otherwise("tail"))
  }

  /** The SCALE form of per-language quality gating: each language's
    * cutoff is a bounded aggregate (one value per lang, broadcasts),
    * and the keep decision is a map-side compare — no per-language
    * global sort over DOCS anywhere. Keeps the top ~`1−q` fraction
    * per language; boundary TIES are all kept (≥), the one deliberate
    * semantic difference from NTILE's positional split.
    *
    * Round 9 (ADVICE r8): the cutoff used to be an INTERPOLATED
    * percentile rounded to 6 dp — a last-ulp cross-engine libm
    * difference straddling a rounding boundary could flip both the
    * reported cutoff and SET membership. It is now an ORDER
    * STATISTIC: the k-th smallest score with k = ceil(q·n), selected
    * by integer rank arithmetic over the per-(lang, score) counts.
    * Scores are 6-dp-quantized values identical in both engines and
    * ranks are integers, so the cutoff is a value that EXISTS in the
    * data and both engines select the same one exactly — nothing is
    * interpolated. The rank window runs over the BOUNDED
    * (lang, distinct-score) frame (≤ 10⁶ rows per lang by
    * quantization), not over docs. */
  def langQualityGate(docs: DataFrame, q: Double = 0.666667): DataFrame = {
    val scored = diversityScore(docs)
    val perScore = scored.groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("c"))
    val byScore = Window.partitionBy(col("lang")).orderBy(col("score"))
    val byLang = Window.partitionBy(col("lang"))
    val cuts = perScore
      .withColumn("cum", sum(col("c")).over(byScore))
      .withColumn("n", sum(col("c")).over(byLang))
      .filter(col("cum") >= ceil(lit(q) * col("n")))
      .groupBy(col("lang")).agg(min(col("score")).as("cutoff"))
    scored.join(broadcast(cuts), "lang")
      .filter(col("score") >= col("cutoff"))
      .select(col("doc_id"), col("lang"), col("score"), col("cutoff"))
  }

  /** The INCREMENTAL counterpart of [[trainingReady]] — the standing
    * ingest gate's full verdict over an arriving batch, composing every
    * delta-vs-corpus tier this library maintains into one cascade. Each
    * delta doc gets the FIRST verdict that fires, in cost-escalation
    * order (cheap content hash before token bands before embedding
    * cells before gram probes):
    *
    *   1. `exact_dup`   — md5(text) hits the corpus content-hash index
    *                      ([[Dedup.incrementalDedup]] semantics);
    *   2. `near_dup`    — banded-minhash candidate verified at token
    *                      Jaccard ≥ 0.9 ([[Dedup.incrementalNearDedup]]);
    *   3. `sem_dup`     — same pinned quantizer cell, rounded cosine
    *                      ≥ 0.99 ([[Similarity.incrementalSemDedup]] on
    *                      the batch's embeddings);
    *   4. `contaminated`— shares a sliding 8-gram with the eval slice
    *                      (the [[decontaminate]] probe, delta-side);
    *   5. `low_quality` — under `minTokens` whitespace tokens;
    *   6. `train`       — admitted.
    *
    * Dup verdicts carry the tier's deterministic min-id corpus victor
    * in `dup_of` (−1 otherwise). Delta-vs-DELTA duplicates are out of
    * scope by design — they are the next batch's delta-vs-corpus
    * problem once this batch's survivors are appended (the
    * `append*Index` paths), exactly how the per-tier incremental forms
    * already behave.
    *
    * Scale posture: every tier shuffles ONLY the delta — the corpus
    * sides are the standing artifacts (content-hash / band / cell
    * assignment / eval-gram set) that the serving-index family
    * maintains incrementally; this in-query form derives them inline so
    * the whole cascade (all four probes, both thresholds, every
    * tiebreak) replays under one DuckDB oracle. The eval-gram set is
    * eval-slice-sized (broadcast class), and the cascade (one union of
    * the tiers' hits, one groupBy) is delta-keyed throughout — at
    * 100 TB the wire cost is O(|delta| · tiers), never corpus-sized. */
  def incrementalRefresh(
      docs: DataFrame, emb: DataFrame, deltaDocs: DataFrame,
      deltaEmb: DataFrame, evalPred: Column, minTokens: Int = 5,
      tau: Double = 0.99): DataFrame = {
    val ex = Dedup.hashProbe(Dedup.corpusHashIndex(docs), deltaDocs, "inner")
    val nr = Dedup.incrementalNearHits(docs, deltaDocs)
    val sm = Similarity.incrementalSemHits(emb, deltaEmb, tau)
    val contam = gramHashRows(deltaDocs, 8)
      .join(evalGrams(docs, evalPred), Seq("gram_h"), "left_semi")
      .select(col("doc_id"))
    refreshCascade(deltaDocs, ex, nr, sm, contam, minTokens)
  }

  /** The eval slice's distinct 8-gram keys — the contamination tier's
    * standing artifact (eval-slice-sized: broadcast class). */
  private[graft] def evalGrams(docs: DataFrame, evalPred: Column): DataFrame =
    gramHashRows(docs.filter(evalPred), 8).select(col("gram_h")).distinct()

  /** [[incrementalRefresh]] against the STANDING serving artifacts —
    * the production form of the gate: the corpus never appears; every
    * tier probes the persisted index it maintains (content-hash table,
    * band + token-set tables, pinned-IVF seeds + the BUCKETED
    * `assigned` table — whose `v` column also supplies the verify-side
    * corpus vectors, so the semantic verify reads the INDEX, not the
    * raw embeddings), plus the caller-held eval-gram set. Per batch
    * the wire carries only the delta: LlmSpec pins that the composed
    * plan keeps every BUCKETED index scan (hash / bands / toks /
    * assigned) free of exchanges on its scan→join path WITH BROADCAST
    * DISABLED (VERDICT r16 task 4 closed the last broadcast
    * dependence: `assigned` is bucketed by cluster and the corpus
    * vector rides THROUGH the cluster join into the verify, so no
    * corpus-sized side ever shuffles no matter how large the batch —
    * a 100×-scale delta just shuffles itself into the buckets). Each
    * tier hands [[refreshCascade]] its HITS only — no per-tier
    * delta ⟕ hits verdict frame is built — and one union + groupBy
    * keeps the first tier that fired. Pinned row-identical to the
    * in-query [[incrementalRefresh]] over the same corpus (LlmSpec on
    * the planted classes, PropertySpec on seeded random batches). */
  def incrementalRefreshServed(
      deltaDocs: DataFrame, deltaEmb: DataFrame, spark: SparkSession,
      hashTable: String, bandTable: String, ivfPath: String,
      evGrams: DataFrame, minTokens: Int = 5, tau: Double = 0.99): DataFrame = {
    val ex = Dedup.hashProbe(spark.table(hashTable), deltaDocs, "inner")
    val nr = Dedup.bandIndexHits(deltaDocs, spark, bandTable)
    val assigned = spark.table(Similarity.ivfPinnedTable(ivfPath))
    val seeds = Similarity.pinnedSeeds(spark, ivfPath)
    val pairs = deltaEmb
      .select(col("vec_id").as("delta_id"), col("v").as("dv"))
      .withColumn("cluster", Similarity.pinnedAssignExpr(seeds, col("dv")))
      .join(assigned.select(
        col("vec_id").as("corpus_id"), col("v").as("cv"), col("cluster")), "cluster")
      .select(col("delta_id"), col("dv"), col("corpus_id"), col("cv"))
    val sm = Similarity.semHits(pairs, tau)
    val contam = gramHashRows(deltaDocs, 8)
      .join(evGrams, Seq("gram_h"), "left_semi")
      .select(col("doc_id"))
    refreshCascade(deltaDocs, ex, nr, sm, contam, minTokens)
  }

  /** Close the ingest loop: append the refresh batch's ADMITTED docs
    * ('train' verdicts ONLY — dup verdicts are already represented in
    * the indexes by their victors, and contaminated / low-quality docs
    * must never enter the corpus) into every standing index the served
    * gate probes — PLUS any doc whose verdict is `exact_dup` of ITSELF
    * (`dup_of == doc_id`). Under the never-reused-id convention a
    * self-dup can only mean one thing: this doc's OWN admission already
    * reached the hash index (the hash tier's keep_id is the doc's id),
    * i.e. the batch is an at-least-once REPLAY of a run that crashed
    * somewhere inside the three sequential index appends below. Routing
    * the self-dup back through admission makes that partial-admit state
    * self-healing (ADVICE r16): each index's anti-join completes
    * whatever append the crash skipped (hash no-ops on the content
    * hash, band/IVF fill in their missing rows) and no-ops on a fully
    * committed replay — so the three appends compose to exactly-once
    * effect without needing to be atomic. An admitted doc with no row
    * in `deltaEmb` enters the text-keyed indexes only (the sem tier can
    * then never flag its future paraphrases — supply the embedding if
    * the semantic net matters for that doc); admitted vectors carry
    * `deltaEmb`'s `label` column when present, else label −1 (unknown
    * at ingest). Returns the number of docs routed through admission
    * (train verdicts + self-heal replays; a fully-replayed batch
    * therefore returns its former train count while appending
    * nothing). The count is a metric observed while the admitted ids
    * are materialized, so reading it launches no job. It is the named
    * `observe` read back from the materializing query, not an
    * `Observation` object: the first `Observation` creates the
    * session's `ObservationManager`, which does not serialize, and
    * every later task closure that captures the session (a trained
    * `LogisticRegressionModel` carries it in its training summary) then
    * fails with "Task not serializable". */
  def admitRefreshBatch(
      verdicts: DataFrame, deltaDocs: DataFrame, deltaEmb: DataFrame,
      spark: SparkSession, hashTable: String, bandTable: String,
      ivfPath: String): Long = {
    val routed = verdicts.filter(col("verdict") === "train" ||
        (col("verdict") === "exact_dup" && col("dup_of") === col("doc_id")))
      .select(col("doc_id"))
      .observe("graft_admitted", count(lit(1)).as("n"))
    val admitted = Materialize(routed)
    val docsAdm = deltaDocs.join(admitted, Seq("doc_id"), "left_semi")
    val labelCol =
      if (deltaEmb.columns.contains("label")) col("label").cast("int")
      else lit(-1).cast("int")
    Dedup.appendHashIndex(docsAdm, spark, hashTable)
    Dedup.appendBandIndex(docsAdm, spark, bandTable)
    Similarity.appendIvfIndexPinned(
      deltaEmb
        .join(admitted.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left_semi")
        .select(col("vec_id"), labelCol.as("label"), col("v").as("embedding")),
      spark, ivfPath)
    routed.queryExecution.observedMetrics("graft_admitted").getLong(0)
  }

  /** [[incrementalRefresh]]'s verdict CASCADE alone, over each tier's
    * HITS only — (delta_id, dup_of) frames for the exact, near and
    * semantic tiers, and the contaminated ids (doc_id, duplicates
    * allowed). A delta doc absent from a tier's hits is that tier not
    * firing, so the streaming gate hands in hit frames assembled from
    * sunk candidate hits. Every hit is tagged (rank, dup_of) by its
    * cascade position, and the batch itself enters the same union as
    * its lowest-ranked rows: stage 0 (rank 0), the token gate (5) and
    * the default 'train' (6). One groupBy(doc_id) with
    * min(struct(rank, dup_of)) then keeps the FIRST verdict that fires
    * — no per-tier verdict frame and no join back to the batch (which
    * cost a batch-sized exchange and a broadcast of the grouped hits
    * per call). Groups without a batch row (a hit on an id the batch
    * does not carry) are dropped. Shared verbatim by the in-query,
    * served and streaming forms, so stream ≡ batch is the same code
    * path from the hit frames down. */
  private[graft] def refreshCascade(
      deltaDocs: DataFrame, exact: DataFrame, near: DataFrame,
      sem: DataFrame, contamIds: DataFrame, minTokens: Int): DataFrame = {
    def hit(rank: Column, dupOf: Column, inBatch: Boolean) = Seq(
      struct(rank.as("rank"), dupOf.cast("long").as("dup_of")).as("hit"),
      lit(inBatch).as("in_batch"))
    def tier(hits: DataFrame, rank: Int) =
      hits.select(col("delta_id").as("doc_id") +: hit(lit(rank), col("dup_of"), false): _*)
    // stage 0 — BATCH-LOCAL exact dedup (VERDICT r16 task 5): two
    // copies arriving INSIDE one batch both probe the standing indexes
    // as new (neither is in any index yet), so without this stage both
    // would read 'train' and both would be admitted. A window-min over
    // the batch's own md5 groups picks a per-text victor; every
    // non-victor reads exact_dup OF THE VICTOR before any corpus tier
    // fires — so only the victor continues down the cascade (and into
    // admission, which then represents the whole group in the
    // indexes). A victor's dup_of is always ANOTHER batch id, never
    // its own, so the self-heal rule (exact_dup with dup_of == doc_id
    // ⇒ replayed admission) is untouched. Delta-bounded and
    // single-pass: the window rides the SAME scan that computes
    // n_tokens (one delta-sized shuffle, no join-back — a
    // groupBy+rejoin form re-derived the uncached 7-slice delta twice
    // more and cost ~0.9 s on the headline fixture).
    val byText = org.apache.spark.sql.expressions.Window
      .partitionBy(Dedup.contentKey(col("text"))) // 16-byte key (r21)
    val bMin = min(col("doc_id")).over(byText)
    val batch = deltaDocs.select(col("doc_id") +: hit(
      when(bMin < col("doc_id"), 0)
        .when(size(split(col("text"), " ")) < minTokens, 5).otherwise(6),
      when(bMin < col("doc_id"), bMin).otherwise(-1L), true): _*)
    val verdicts = Seq("exact_dup", "exact_dup", "near_dup", "sem_dup",
      "contaminated", "low_quality", "train")
    batch
      .unionByName(tier(exact, 1))
      .unionByName(tier(near, 2))
      .unionByName(tier(sem, 3))
      .unionByName(contamIds.select(col("doc_id") +: hit(lit(4), lit(-1L), false): _*))
      .groupBy(col("doc_id"))
      .agg(min(col("hit")).as("hit"), max(col("in_batch")).as("in_batch"))
      .filter(col("in_batch"))
      .select(col("doc_id"),
        element_at(typedLit(verdicts), col("hit.rank") + 1).as("verdict"),
        col("hit.dup_of").as("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** The refresh batch's DOCUMENT side — seven deterministic slices
    * covering every verdict class the cascade can emit, including the
    * intra-batch duplicate pair stage 0 exists for (each +offset keeps
    * the delta ids disjoint from the corpus and each other):
    *  - %5 → +1M: verbatim copies (exact tier fires);
    *  - %7 → +2M: " appended revision" suffix (near tier's fixture —
    *    long docs stay over the 0.9 Jaccard bar, short ones fall
    *    through, and the sem tier may still catch them because the
    *    revision keeps its source's EMBEDDING below);
    *  - %11 → +3M: wholly novel 6-token payloads (admitted → train);
    *  - %13 → +4M: paraphrases — novel WORDING with the SOURCE's
    *    embedding (only the semantic tier can catch these);
    *  - %17 → +5M: eval leaks — the first 8 tokens of an eval doc
    *    ((doc_id % 8) · 7 indexes the %7 eval slice at every SF) plus a
    *    disjoint tail (one shared 8-gram → contaminated);
    *  - %19 → +6M: 3-token stubs (low_quality at minTokens = 5). */
  private[graft] def refreshDeltaDocs(docs: DataFrame): DataFrame =
    refreshDeltaDocs(docs, docs)

  /** [[refreshDeltaDocs]] with the eval-leak slice's SOURCE frame
    * supplied separately: the streaming form derives the delta from the
    * docs STREAM but must take the leaked eval text from the static
    * table (a stream-stream self-join would otherwise appear). */
  private[graft] def refreshDeltaDocs(
      docs: DataFrame, evalFrom: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    // r20 (optimization round): the seven join-free slices are ONE
    // scan + explode instead of seven unioned scan legs — the old
    // union scheduled 8 × shuffle-partitions task legs per
    // materialization of a row set this small (measured 0.74 s of the
    // headline fixture's 1.9 s forced time was this derivation alone).
    // Identical rows out (same oracle SQL); stateless projections, so
    // the streaming form is unchanged. Only the eval-leak slice keeps
    // its own branch (it joins the eval text in).
    def payload(cond: Column, off: Long, t: Column) =
      when(cond, struct(lit(off).as("off"), t.as("t")))
    val idStr = col("doc_id").cast("string")
    val nonJoin = d.select(col("doc_id"), explode(filter(array(
        payload(col("doc_id") % 5 === 0, 1000000L, col("text")),
        payload(col("doc_id") % 7 === 0, 2000000L,
          concat(col("text"), lit(" appended revision"))),
        payload(col("doc_id") % 11 === 0, 3000000L,
          concat(lit("completely novel refresh payload item "), idStr)),
        payload(col("doc_id") % 13 === 0, 4000000L,
          concat(lit("paraphrase of document "), idStr,
            lit(" with wholly fresh wording"))),
        payload(col("doc_id") % 19 === 0, 6000000L,
          concat(lit("tiny doc "), idStr)),
        // %23 → +7M AND +8M: the SAME novel text under two batch ids —
        // the intra-batch duplicate slice (VERDICT r16 task 5). Neither
        // copy exists in any standing index, so only cascade stage 0
        // (batch-local exact dedup) can catch the pair: +7M is the
        // min-id victor (→ train, admitted), +8M reads exact_dup of it.
        payload(col("doc_id") % 23 === 0, 7000000L,
          concat(lit("intra batch duplicate payload "), idStr)),
        payload(col("doc_id") % 23 === 0, 8000000L,
          concat(lit("intra batch duplicate payload "), idStr))),
      v => v.isNotNull)).as("v"))
      .select((col("doc_id") + col("v.off")).as("doc_id"), col("v.t").as("text"))
    nonJoin.unionByName(d.as("dd").filter(col("dd.doc_id") % 17 === 0)
      .join(evalFrom.select(col("doc_id"), col("text")).as("ee"),
        col("ee.doc_id") === (col("dd.doc_id") % 8) * 7)
      .select((col("dd.doc_id") + 5000000L).as("doc_id"),
        concat(array_join(slice(split(col("ee.text"), " "), 1, 8), " "),
          lit(" wholly disjoint tail "),
          col("dd.doc_id").cast("string")).as("text")))
  }

  /** The refresh batch's EMBEDDING side, id-aligned with
    * [[refreshDeltaDocs]] (the corpus's shared doc_id/vec_id space):
    * copies, revisions and paraphrases carry their SOURCE vector
    * (cosine exactly 1 — the sem tier must fire on the paraphrase);
    * the novel/leak/stub slices carry the 7-rotation (the
    * `semDeDupDelta` convention for "not a semantic dup"). */
  private[graft] def refreshDeltaEmb(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def rot = transform(col("v"), (_, i) =>
      element_at(col("v"), ((i + lit(7)) % lit(Similarity.Dim)) + 1))
    // one scan + explode instead of eight unioned scan legs (r20 — the
    // refreshDeltaDocs rationale; rows identical, order-free)
    def slice(m: Int, off: Long, vcol: Column) =
      when(col("vec_id") % m === 0, struct(lit(off).as("off"), vcol.as("sv")))
    e.select(col("vec_id"), explode(filter(array(
        slice(5, 1000000L, col("v")),
        slice(7, 2000000L, col("v")),
        slice(11, 3000000L, rot),
        slice(13, 4000000L, col("v")),
        slice(17, 5000000L, rot),
        slice(19, 6000000L, rot),
        // the intra-batch twins carry rotations (not semantic dups of
        // any corpus vector — stage 0 must be the ONLY tier that fires)
        slice(23, 7000000L, rot),
        slice(23, 8000000L, rot)),
      x => x.isNotNull)).as("s"))
      .select((col("vec_id") + col("s.off")).as("vec_id"), col("s.sv").as("v"))
  }

  /** Oracle for [[incrementalRefresh]] over the declared fixtures —
    * every tier's machinery replayed in one SQL text: the exact tier's
    * hash index, the near tier's affine minhash + banding + exact
    * Jaccard (the `incrementalNearOracleSql` fragments), the semantic
    * tier's md5-seeded quantizer + rounded cosine (the
    * `incrementalSemOracleSql` fragments), the 8-gram/fp60
    * contamination probe (the `decontamOracleSql` convention), the
    * token-count gate, and the cascade itself. */
  private[graft] def incrementalRefreshOracleSql: String = {
    val deltaSql =
      """SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' appended revision' FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         'completely novel refresh payload item ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 4000000,
        |         'paraphrase of document ' || CAST(doc_id AS VARCHAR) || ' with wholly fresh wording'
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
  SELECT dd.doc_id + 5000000,
        |         array_to_string(string_split(ee.text, ' ')[1:8], ' ') ||
        |           ' wholly disjoint tail ' || CAST(dd.doc_id AS VARCHAR)
        |  FROM documents dd JOIN documents ee ON ee.doc_id = (dd.doc_id % 8) * 7
        |  WHERE dd.doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000, 'tiny doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id + 7000000,
        |         'intra batch duplicate payload ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id + 8000000,
        |         'intra batch duplicate payload ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 23 = 0""".stripMargin
    s"""WITH delta(doc_id, text) AS (
       |  $deltaSql),
       |bvict AS (SELECT md5(text) AS bh, MIN(doc_id) AS b_keep FROM delta GROUP BY 1),
       |bx AS (
       |  SELECT d.doc_id, v.b_keep FROM delta d
       |  JOIN bvict v ON md5(d.text) = v.bh
       |  WHERE d.doc_id > v.b_keep),
       |xidx AS (
       |  SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM documents GROUP BY 1),
       |xver AS (
       |  SELECT d.doc_id, i.keep_id FROM delta d JOIN xidx i ON md5(d.text) = i.h),
       |ctoks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
       |dtoks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM delta),
       |csig AS (${Dedup.affineSigSql("mh", Dedup.NumHashes, "mh",
        "SELECT doc_id, unnest(toks) AS e FROM ctoks")}),
       |dsig AS (${Dedup.affineSigSql("mh", Dedup.NumHashes, "mh",
        "SELECT doc_id, unnest(toks) AS e FROM dtoks")}),
       |cbands AS (${Dedup.bandedSqlFrom("csig")}),
       |dbands AS (${Dedup.bandedSqlFrom("dsig")}),
       |ncand AS (
       |  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
       |  FROM dbands d JOIN cbands c
       |    ON d.band_idx = c.band_idx AND d.band_hash = c.band_hash),
       |ndup AS (
       |  SELECT delta_id, MIN(corpus_id) AS dup_of
       |  FROM ncand
       |  JOIN dtoks dt ON dt.doc_id = delta_id
       |  JOIN ctoks ct ON ct.doc_id = corpus_id
       |  WHERE ROUND(len(list_intersect(dt.toks, ct.toks)) * 1.0 /
       |        (len(dt.toks) + len(ct.toks) - len(list_intersect(dt.toks, ct.toks))), 6)
       |        >= ${Dedup.JaccardThreshold}
       |  GROUP BY delta_id),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |edelta AS (
       |  SELECT vec_id + 1000000 AS vec_id, v FROM e WHERE vec_id % 5 = 0
       |  UNION ALL
       |  SELECT vec_id + 2000000, v FROM e WHERE vec_id % 7 = 0
       |  UNION ALL
       |  SELECT vec_id + 3000000,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |                        i -> v[1 + ((i - 1 + 7) % ${Similarity.Dim})])
       |  FROM e WHERE vec_id % 11 = 0
       |  UNION ALL
       |  SELECT vec_id + 4000000, v FROM e WHERE vec_id % 13 = 0
       |  UNION ALL
       |  SELECT vec_id + 5000000,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |                        i -> v[1 + ((i - 1 + 7) % ${Similarity.Dim})])
       |  FROM e WHERE vec_id % 17 = 0
       |  UNION ALL
       |  SELECT vec_id + 6000000,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |                        i -> v[1 + ((i - 1 + 7) % ${Similarity.Dim})])
       |  FROM e WHERE vec_id % 19 = 0
       |  UNION ALL
       |  SELECT vec_id + 7000000,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |                        i -> v[1 + ((i - 1 + 7) % ${Similarity.Dim})])
       |  FROM e WHERE vec_id % 23 = 0
       |  UNION ALL
       |  SELECT vec_id + 8000000,
       |         list_transform(range(1, ${Similarity.Dim + 1}),
       |                        i -> v[1 + ((i - 1 + 7) % ${Similarity.Dim})])
       |  FROM e WHERE vec_id % 23 = 0),
       |seeds AS (
       |  SELECT vec_id AS seed_id, v AS sv FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
       |asg_c AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, s.seed_id AS cluster,
       |           ROW_NUMBER() OVER (
       |             PARTITION BY e.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(e.v, s.sv), 6) + 0 DESC,
       |                      s.seed_id) AS rn
       |    FROM e CROSS JOIN seeds s) t WHERE rn = 1),
       |asg_d AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT d.vec_id, s.seed_id AS cluster,
       |           ROW_NUMBER() OVER (
       |             PARTITION BY d.vec_id
       |             ORDER BY ROUND(list_cosine_similarity(d.v, s.sv), 6) + 0 DESC,
       |                      s.seed_id) AS rn
       |    FROM edelta d CROSS JOIN seeds s) t WHERE rn = 1),
       |sdup AS (
       |  SELECT d.vec_id AS delta_id, MIN(c.vec_id) AS dup_of
       |  FROM asg_d d
       |  JOIN asg_c c ON c.cluster = d.cluster
       |  JOIN edelta ed ON ed.vec_id = d.vec_id
       |  JOIN e ec ON ec.vec_id = c.vec_id
       |  WHERE ROUND(list_cosine_similarity(ed.v, ec.v), 6) + 0 >= 0.99
       |  GROUP BY 1),
       |dl AS (SELECT doc_id, string_split(text, ' ') AS l FROM delta),
       |dgs AS (SELECT doc_id,
       |               unnest(list_transform(range(1, greatest(len(l) - 7, 0) + 1),
       |                                     i -> array_to_string(l[i:i+7], ' '))) AS gram
       |        FROM dl),
       |dg AS (SELECT DISTINCT doc_id, ${fp60Sql("gram")} AS gram_h FROM dgs),
       |el AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents WHERE doc_id % 7 = 0),
       |egs AS (SELECT unnest(list_transform(range(1, greatest(len(l) - 7, 0) + 1),
       |                                     i -> array_to_string(l[i:i+7], ' '))) AS gram
       |        FROM el),
       |eg AS (SELECT DISTINCT ${fp60Sql("gram")} AS gram_h FROM egs),
       |contam AS (SELECT DISTINCT dg.doc_id FROM dg JOIN eg USING (gram_h)),
       |ntok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM delta)
       |SELECT d.doc_id,
       |       CASE WHEN bx.b_keep IS NOT NULL THEN 'exact_dup'
       |            WHEN xver.keep_id IS NOT NULL THEN 'exact_dup'
       |            WHEN ndup.dup_of IS NOT NULL THEN 'near_dup'
       |            WHEN sdup.dup_of IS NOT NULL THEN 'sem_dup'
       |            WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
       |            WHEN ntok.n_tokens < 5 THEN 'low_quality'
       |            ELSE 'train' END AS verdict,
       |       CAST(CASE WHEN bx.b_keep IS NOT NULL THEN bx.b_keep
       |            WHEN xver.keep_id IS NOT NULL THEN xver.keep_id
       |            WHEN ndup.dup_of IS NOT NULL THEN ndup.dup_of
       |            WHEN sdup.dup_of IS NOT NULL THEN sdup.dup_of
       |            ELSE -1 END AS BIGINT) AS dup_of
       |FROM delta d
       |LEFT JOIN bx ON bx.doc_id = d.doc_id
       |LEFT JOIN xver ON xver.doc_id = d.doc_id
       |LEFT JOIN ndup ON ndup.delta_id = d.doc_id
       |LEFT JOIN sdup ON sdup.delta_id = d.doc_id
       |LEFT JOIN contam ON contam.doc_id = d.doc_id
       |LEFT JOIN ntok ON ntok.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ── Declared queries (pin the API to the test corpus) ────────────

  /** Shared oracle for both decontamination plans (exact-join and
    * bloom-prefiltered — same answer by construction). */
  private[graft] val decontamOracleSql: String =
    s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |gs AS (SELECT doc_id,
       |              unnest(list_transform(range(1, greatest(len(l) - 7, 0) + 1),
       |                                    i -> array_to_string(l[i:i+7], ' '))) AS gram
       |       FROM base),
       |g AS (SELECT doc_id, ${fp60Sql("gram")} AS gram_h FROM gs),
       |ev AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 7 = 0),
       |tr AS (SELECT DISTINCT doc_id, gram_h FROM g WHERE doc_id % 7 <> 0)
       |SELECT tr.doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN ev.gram_h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
       |FROM tr LEFT JOIN ev USING (gram_h)
       |GROUP BY tr.doc_id
       |HAVING SUM(CASE WHEN ev.gram_h IS NOT NULL THEN 1 ELSE 0 END) > 0
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[Q] = Seq(

    Q("text_repetition_signals",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
        |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |              CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |              CAST(MAX(c) AS BIGINT) AS top_c
        |       FROM tc GROUP BY doc_id),
        |base AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |bg AS (SELECT doc_id,
        |              unnest(list_transform(range(1, greatest(len(l) - 1, 0) + 1),
        |                                    i -> l[i] || ' ' || l[i + 1])) AS b
        |       FROM base),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
        |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |              CAST(MAX(c) AS BIGINT) AS top_bc
        |       FROM bc GROUP BY doc_id)
        |SELECT ts.doc_id, ts.n_tokens, ts.n_distinct,
        |       ROUND(1.0 - ts.n_distinct * 1.0 / ts.n_tokens, 6) + 0 AS dup_token_frac,
        |       ROUND(ts.top_c * 1.0 / ts.n_tokens, 6) + 0 AS top_token_frac,
        |       ROUND(COALESCE(bs.top_bc * 1.0 / bs.n_bigrams, 0), 6) + 0 AS top_bigram_frac
        |FROM ts LEFT JOIN bs USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      repetitionSignals(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    // The synthetic corpus carries no PII (verified: zero digits), so
    // the query PLANTS deterministic emails/phones per doc (same
    // construction both engines — the corpus_curated pattern) and then
    // scrubs them; count columns prove detection, the portable
    // fingerprint proves the redacted text is byte-identical.
    Q("text_pii_scrub", {
      s"""WITH p AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@' || source ||
         |         '.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, pii,
         |         regexp_replace(regexp_replace(pii, '$EmailRe', '<EMAIL>', 'g'),
         |                        '$PhoneRe', '<PHONE>', 'g') AS clean
         |  FROM p)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(pii, '$EmailRe')) AS BIGINT) AS n_emails,
         |       CAST(len(regexp_extract_all(pii, '$PhoneRe')) AS BIGINT) AS n_phones,
         |       length(clean) AS clean_len,
         |       CAST(concat('0x', substr(md5(clean), 1, 8)) AS BIGINT) AS clean_fp
         |FROM sc ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val pii = concat(
        col("text"), lit(" contact user"), col("doc_id"), lit("@"), col("source"),
        lit(".com or 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      scrubPii(Tables.documents(s, dir).select(col("doc_id"), pii.as("pii")), "pii")
        .select(
          col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("clean")).cast("long").as("clean_len"),
          fp(col("clean")).as("clean_fp"))
        .orderBy(col("doc_id"))
    },

    // URL extraction → domain normalization → per-domain stats, on
    // deterministically planted citations (the corpus has no URLs —
    // same planting discipline as text_pii_scrub). The oracle replays
    // extraction regex, www-stripping, and both counts.
    Q("text_url_domains", {
      s"""WITH p AS (
         |  SELECT doc_id,
         |         text || ' see https://cdn' || CAST(doc_id % 37 AS VARCHAR) ||
         |         '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
         |         ' and http://www.mirror' || CAST(doc_id % 11 AS VARCHAR) ||
         |         '.example.org/idx' AS cited
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, unnest(regexp_extract_all(cited, '$UrlRe')) AS url FROM p),
         |d AS (
         |  SELECT doc_id, lower(regexp_extract(url, '$DomainRe', 2)) AS domain FROM u)
         |SELECT domain,
         |       CAST(COUNT(*) AS BIGINT) AS n_urls,
         |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM d GROUP BY domain ORDER BY domain""".stripMargin
    }) { (s, dir) =>
      val cited = concat(
        col("text"), lit(" see https://cdn"), (col("doc_id") % 37).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit(" and http://www.mirror"), (col("doc_id") % 11).cast("string"),
        lit(".example.org/idx"))
      domainStats(
        Tables.documents(s, dir).select(col("doc_id"), cited.as("cited")), "cited")
        .orderBy(col("domain"))
    },

    Q("dedup_chunk_boilerplate",
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |tok AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, l FROM base),
         |tk AS (SELECT doc_id, pos, l[pos] AS t, (pos - 1) // 10 AS chunk FROM tok),
         |chunks AS (SELECT doc_id,
         |                  ${fp60Sql("string_agg(t, ' ' ORDER BY pos)")} AS chunk_h
         |           FROM tk GROUP BY doc_id, chunk),
         |cc AS (SELECT chunk_h, COUNT(DISTINCT doc_id) AS ndocs
         |       FROM chunks GROUP BY chunk_h)
         |SELECT c.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |       CAST(SUM(CASE WHEN cc.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
         |FROM chunks c JOIN cc USING (chunk_h)
         |GROUP BY c.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      boilerplateChunks(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    // Boilerplate removal under the oracle: the corpus is planted with
    // a shared 10-token header (every %3 doc gets the SAME prefix, so
    // its first chunk is cross-doc boilerplate by construction), then
    // stripped; the oracle rebuilds the identical kept text with
    // string_agg ORDER BY chunk, and the 32-bit fingerprint pins the
    // reassembled bytes, not just the counts.
    Q("corpus_strip_boilerplate", {
      val header = "shared legal header boilerplate line repeated across many documents verbatim"
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 3 = 0 THEN '$header ' || text ELSE text END AS text
         |  FROM documents),
         |base AS (SELECT doc_id, string_split(text, ' ') AS l FROM planted),
         |tok AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, l FROM base),
         |tk AS (SELECT doc_id, pos, l[pos] AS t, (pos - 1) // 10 AS chunk FROM tok),
         |chunks AS (SELECT doc_id, chunk, string_agg(t, ' ' ORDER BY pos) AS chunk_text
         |           FROM tk GROUP BY doc_id, chunk),
         |withh AS (SELECT doc_id, chunk, chunk_text,
         |                 ${fp60Sql("chunk_text")} AS chunk_h
         |          FROM chunks),
         |cc AS (SELECT chunk_h, COUNT(DISTINCT doc_id) AS ndocs FROM withh GROUP BY chunk_h),
         |kept AS (SELECT w.doc_id, w.chunk, w.chunk_text
         |         FROM withh w JOIN cc USING (chunk_h) WHERE cc.ndocs < 2)
         |SELECT doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       CAST(length(string_agg(chunk_text, ' ' ORDER BY chunk)) AS BIGINT) AS clean_len,
         |       CAST(concat('0x', substr(md5(string_agg(chunk_text, ' ' ORDER BY chunk)), 1, 8)) AS BIGINT) AS clean_fp
         |FROM kept GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val header = "shared legal header boilerplate line repeated across many documents verbatim"
      val planted = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(header + " "), col("text")))
          .otherwise(col("text")).as("text"))
      stripBoilerplate(planted)
        .select(
          col("doc_id"), col("n_kept"),
          length(col("clean_text")).cast("long").as("clean_len"),
          fp(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    },

    // doc_id % 7 == 0 plays the held-out eval slice. The gram is hashed
    // to its 60-bit key right at gram construction — the distincts and
    // the probe join run on the hash in BOTH engines.
    Q("decontam_overlap", decontamOracleSql) { (s, dir) =>
      decontaminate(Tables.documents(s, dir), col("doc_id") % 7 === 0)
        .orderBy(col("doc_id"))
    },

    // The bloom-prefiltered plan under the SAME oracle: the sketch only
    // prunes the shuffle — the exact hash join resolves its false
    // positives, so the answer is bit-identical to decontam_overlap.
    Q("decontam_overlap_bloom", decontamOracleSql) { (s, dir) =>
      decontaminateBloom(Tables.documents(s, dir), col("doc_id") % 7 === 0)
        .orderBy(col("doc_id"))
    },

    // The bloom tier's measured honesty (see bloomFprAudit's
    // scaladoc): realized FPR + the no-false-negative pin, made
    // driver-visible the way dedup_minhash_recall is.
    Q.noOracle("decontam_bloom_fpr") { (s, dir) =>
      bloomFprAudit(Tables.documents(s, dir), col("doc_id") % 7 === 0)
    },

    // The SAME audit with the bloom expressed relationally (r19): the
    // realized FPR, the hit counts, and the no-false-negative pin all
    // hash-check in DuckDB — the bloom MECHANICS are now oracle-
    // guaranteed, and only the production byte-array's internal bit
    // layout stays rows-only above.
    Q("decontam_bloom_fpr_pinned", bloomFprPinnedOracleSql()) { (s, dir) =>
      bloomFprPinned(Tables.documents(s, dir), col("doc_id") % 7 === 0)
    },

    // SEMANTIC decontamination (r18): the embedding tier of the
    // family — a paraphrased benchmark leak shares no 8-gram, but its
    // embedding still sits at cosine ≈ 1. Eval vectors are planted
    // in-query (the dedup_semantic_pinned convention: scaled twins of
    // corpus vecs < 40 at cos ≈ 0.9996 ≥ τ = 0.99 — the
    // near-orthogonal raw corpus would make the check vacuous), the
    // SRP hyperplane bucket blocks candidates, the exact rounded
    // cosine verifies, and the oracle replays bucket arithmetic +
    // cosine + rollup bit-for-bit.
    Q("decontam_semantic", {
      import Similarity.{srpBucketSql, Dim}
      s"""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ev AS (
         |  SELECT vec_id + 1000000 AS eval_id,
         |         list_transform(range(1, ${Dim + 1}),
         |                        i -> v[i] * (1.0 + 0.02 * (((i - 1) % 5) - 2))) AS v
         |  FROM base WHERE vec_id < 40),
         |cb AS (SELECT vec_id, v,
         |              CAST($srpBucketSql AS BIGINT) AS bucket FROM base),
         |eb AS (SELECT eval_id, v,
         |              CAST($srpBucketSql AS BIGINT) AS bucket FROM ev),
         |hits AS (
         |  SELECT c.vec_id, ROUND(list_cosine_similarity(c.v, e.v), 6) + 0 AS cs
         |  FROM cb c JOIN eb e ON c.bucket = e.bucket
         |  WHERE ROUND(list_cosine_similarity(c.v, e.v), 6) + 0 >= 0.99)
         |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits, MAX(cs) AS max_cos
         |FROM hits GROUP BY 1 ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
      val base = Tables.embeddings(s, dir)
      val planted = base.filter(col("vec_id") < 40).select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x * (lit(1.0) + lit(0.02) * ((i % 5) - lit(2)))).as("embedding"),
        col("label"))
      semanticDecontam(base, planted).orderBy("vec_id")
    },

    Q("corpus_training_ready", {
      val rateCase = "CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 1000 " +
        "WHEN 'de' THEN 250 WHEN 'fr' THEN 750 ELSE 100 END"
      s"""WITH surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |corpus AS (
         |  SELECT d.doc_id, d.lang, d.source, string_split(d.text, ' ') AS l
         |  FROM documents d JOIN surv USING (doc_id)),
         |gs AS (SELECT doc_id,
         |              unnest(list_transform(range(1, greatest(len(l) - 7, 0) + 1),
         |                                    i -> array_to_string(l[i:i+7], ' '))) AS gram
         |       FROM corpus),
         |g AS (SELECT doc_id, ${fp60Sql("gram")} AS gram_h FROM gs),
         |ev AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 7 = 0),
         |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram_h)
         |           WHERE g.doc_id % 7 <> 0),
         |clean AS (
         |  SELECT c.doc_id, c.lang, c.source, CAST(len(c.l) AS BIGINT) AS n_tokens
         |  FROM corpus c LEFT JOIN contam t ON c.doc_id = t.doc_id
         |  WHERE c.doc_id % 7 <> 0 AND t.doc_id IS NULL AND len(c.l) >= 40),
         |mixed AS (
         |  SELECT *, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket,
         |         $rateCase AS rate
         |  FROM clean),
         |kept AS (SELECT doc_id, lang, source, n_tokens FROM mixed WHERE bucket < rate),
         |packed AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM kept)
         |SELECT doc_id, lang, source, n_tokens, (cum - n_tokens) // 512 AS start_bin
         |FROM packed ORDER BY source, doc_id""".stripMargin
    }) { (s, dir) =>
      trainingReady(Tables.documents(s, dir), col("doc_id") % 7 === 0,
        minTokens = 40, rates = MixRates, defaultRate = 100, budget = 512)
        .orderBy(col("source"), col("doc_id"))
    },

    Q("sample_stratified_hash", {
      val rateCase = MixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString("CASE ", " ", " ELSE 100 END")
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket,
         |         $rateCase AS rate
         |  FROM documents)
         |SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
         |FROM d WHERE bucket < rate
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      stratifiedSample(Tables.documents(s, dir), MixRates, defaultRate = 100)
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    },

    // Epoch-weighted mixture under the oracle: whole copies + the
    // hash-fraction copy replay exactly in DuckDB, so the emitted
    // multiset (every (doc, epoch) row) is pinned, not just counts.
    Q("curation_mixture_epochs", {
      val rateCase = EpochRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString("CASE ", " ", " ELSE 1000 END")
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket,
         |         $rateCase AS rate
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang,
         |         rate // 1000 + CASE WHEN bucket < rate % 1000 THEN 1 ELSE 0 END AS n_copies
         |  FROM d)
         |SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS epoch
         |FROM c WHERE n_copies > 0
         |ORDER BY doc_id, epoch""".stripMargin
    }) { (s, dir) =>
      epochMixture(Tables.documents(s, dir), EpochRates, defaultRate = 1000)
        .orderBy(col("doc_id"), col("epoch"))
    },

    // Domain cap under the oracle: the md5 rank order replays exactly
    // in DuckDB, so the kept set (not just its size) is pinned.
    Q("curation_domain_cap", {
      val cap = 15
      s"""WITH d AS (
         |  SELECT doc_id, source, lang,
         |         CAST(concat('0x', substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS rk
         |  FROM documents),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS BIGINT) AS rn
         |      FROM d)
         |SELECT doc_id, source, lang, rk, rn FROM r
         |WHERE rn <= $cap ORDER BY source, rn""".stripMargin
    }) { (s, dir) =>
      domainCap(Tables.documents(s, dir).select(col("doc_id"), col("source"), col("lang")), cap = 15)
        .select(col("doc_id"), col("source"), col("lang"), col("rk"), col("rn"))
        .orderBy(col("source"), col("rn"))
    },

    Q("pack_token_bins", {
      val budget = 512
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |       (cum - n_tokens) // $budget AS start_bin,
         |       (cum - 1) // $budget AS end_bin,
         |       cum - n_tokens - ((cum - n_tokens) // $budget) * $budget AS bin_offset
         |FROM c ORDER BY source, doc_id""".stripMargin
    }) { (s, dir) =>
      packTokenBins(Tables.documents(s, dir), budget = 512)
        .orderBy(col("source"), col("doc_id"))
    },

    // Packing-efficiency readout (r10 s4) for the pack_token_bins
    // tiling: contiguous stream packing fills every bin to the 512
    // budget except each source's LAST, so the whole utilization
    // story is three integers per source — bins used, last-bin fill,
    // and the µ-rate utilization total/(n_bins·budget). All integer
    // arithmetic (the ceil is (total+511) div 512); the report a
    // training-data job reads before deciding whether cross-source
    // packing (filling tails with another source's docs) is worth
    // the provenance mixing.
    Q("pack_bin_utilization", {
      val budget = 512
      s"""WITH t AS (
         |  SELECT source,
         |         CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens
         |  FROM documents GROUP BY 1)
         |SELECT source, total_tokens,
         |       (total_tokens + ${budget - 1}) // $budget AS n_bins,
         |       total_tokens - ((total_tokens + ${budget - 1}) // $budget - 1) * $budget
         |         AS last_bin_fill,
         |       (total_tokens * 1000000) // (((total_tokens + ${budget - 1}) // $budget) * $budget)
         |         AS util_micro
         |FROM t ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val budget = 512
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
        .select(col("source"), col("total_tokens"),
          expr(s"(total_tokens + ${budget - 1}) div $budget").as("n_bins"),
          expr(s"total_tokens - ((total_tokens + ${budget - 1}) div $budget - 1) * $budget")
            .as("last_bin_fill"),
          expr(s"(total_tokens * 1000000) div (((total_tokens + ${budget - 1}) div $budget) * $budget)")
            .as("util_micro"))
        .orderBy(col("source"))
    },

    // The pipeline funnel: per-stage survivor counts under the same
    // stage semantics (and the same %7 eval slice, 40-token gate,
    // MixRates) as corpus_training_ready — the oracle replays every
    // stage's predicate chain and counts.
    Q("curation_funnel", {
      val rateCase = MixRates.map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", " ELSE 100 END")
      s"""WITH surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |corpus AS (
         |  SELECT d.doc_id, d.lang, d.source, d.text
         |  FROM documents d JOIN surv USING (doc_id)),
         |base AS (SELECT doc_id, string_split(text, ' ') AS l FROM corpus),
         |gs AS (SELECT doc_id,
         |              unnest(list_transform(range(1, greatest(len(l) - 7, 0) + 1),
         |                                    i -> array_to_string(l[i:i+7], ' '))) AS gram
         |       FROM base),
         |g AS (SELECT doc_id, ${fp60Sql("gram")} AS gram_h FROM gs),
         |ev AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 7 = 0),
         |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram_h)
         |           WHERE g.doc_id % 7 <> 0),
         |train AS (SELECT * FROM corpus WHERE doc_id % 7 <> 0),
         |decon AS (SELECT t.* FROM train t LEFT JOIN contam c USING (doc_id)
         |          WHERE c.doc_id IS NULL),
         |minlen AS (SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |           FROM decon WHERE len(string_split(text, ' ')) >= 40),
         |mixed AS (
         |  SELECT * FROM (
         |    SELECT *, CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS bucket,
         |           $rateCase AS rate
         |    FROM minlen)
         |  WHERE bucket < rate)
         |SELECT * FROM (
         |  SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n
         |  UNION ALL SELECT 1, 'exact_dedup', (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus)
         |  UNION ALL SELECT 2, 'train_slice', (SELECT CAST(COUNT(*) AS BIGINT) FROM train)
         |  UNION ALL SELECT 3, 'decontam', (SELECT CAST(COUNT(*) AS BIGINT) FROM decon)
         |  UNION ALL SELECT 4, 'min_tokens', (SELECT CAST(COUNT(*) AS BIGINT) FROM minlen)
         |  UNION ALL SELECT 5, 'mixed', (SELECT CAST(COUNT(*) AS BIGINT) FROM mixed))
         |ORDER BY stage_idx""".stripMargin
    }) { (s, dir) =>
      curationFunnel(Tables.documents(s, dir), col("doc_id") % 7 === 0,
        minTokens = 40, rates = MixRates, defaultRate = 100)
        .orderBy(col("stage_idx"))
    },

    // Surgical span-level decontamination: remove only the
    // eval-overlapping token ranges, keep the rest of each doc. The
    // oracle replays gram keys, island merge, covered-range
    // expansion, the anti join, and the order-restoring reassembly —
    // the cleaned text itself is fingerprint-pinned.
    Q("corpus_strip_contaminated", {
      val n = 8
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |gs AS (
         |  SELECT doc_id,
         |         unnest(range(1, greatest(len(l) - ${n - 1}, 0) + 1)) AS i,
         |         unnest(list_transform(range(1, greatest(len(l) - ${n - 1}, 0) + 1),
         |                               j -> array_to_string(l[j:j+${n - 1}], ' '))) AS gram
         |  FROM base),
         |g AS (SELECT doc_id, i - 1 AS pos, ${fp60Sql("gram")} AS gram_h FROM gs),
         |ev AS (SELECT DISTINCT gram_h FROM g WHERE doc_id % 7 = 0),
         |hits AS (SELECT g.doc_id, g.pos FROM g JOIN ev USING (gram_h)
         |         WHERE g.doc_id % 7 <> 0),
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
         |        FROM base WHERE doc_id % 7 <> 0),
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
      stripContaminated(Tables.documents(s, dir), col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("n_kept"),
          length(col("clean_text")).cast("long").as("clean_len"),
          fp(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    },

    // Deterministic hash split: per-(split, lang) doc and token
    // counts. The oracle replays the md5 bucket arithmetic, so the
    // ASSIGNMENT (not just the totals) is engine-pinned; the
    // stability property (a doc's split never changes) is exactly
    // what makes the rule SQL-replayable.
    Q("curation_hash_split",
      """WITH s AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS t,
        |         CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |  FROM documents),
        |sp AS (
        |  SELECT lang, t,
        |         CASE WHEN b < 90 THEN 'train'
        |              WHEN b < 95 THEN 'valid' ELSE 'test' END AS split
        |  FROM s)
        |SELECT split, lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(t) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin) { (s, dir) =>
      hashSplit(Tables.documents(s, dir))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .orderBy(col("split"), col("lang"))
    },

    // SPLIT-LEAKAGE AUDIT (r17): the eval-contamination class the
    // 8-gram decontamination can't see — a NEAR-DUPLICATE of a train
    // doc landing in valid/test leaks the training distribution into
    // evaluation even though no verbatim 8-gram crosses. Any near-dup
    // pair (the production banded minhash tier, J ≥ 0.9) whose two
    // sides fall in DIFFERENT hash-split buckets is a leak; the fix is
    // group-aware splitting (route the whole dup-group by its min-id's
    // hash), and this audit is the evidence that motivates it. Output
    // is the actionable pair list (ids, splits, exact Jaccard) — the
    // oracle replays the full band+verify+split pipeline in one text.
    // Scale: the pairs tier's banded cost + two broadcast-class split
    // joins (split is derived per id, never shuffled corpus-wide).
    Q("curation_split_leakage", {
      s"""WITH pairs AS (${Dedup.minhashPairsSql}),
         |sp AS (
         |  SELECT doc_id,
         |         CASE WHEN CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90 THEN 'train'
         |              WHEN CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95 THEN 'valid'
         |              ELSE 'test' END AS split
         |  FROM documents)
         |SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b, p.jaccard
         |FROM pairs p
         |JOIN sp sa ON sa.doc_id = p.id_a
         |JOIN sp sb ON sb.doc_id = p.id_b
         |WHERE sa.split <> sb.split
         |ORDER BY p.id_a, p.id_b""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val sp = hashSplit(docs).select(col("doc_id"), col("split"))
      Dedup.nearDupPairs(docs)
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },

    // Deterministic STRATIFIED sample with exact per-source quotas
    // (r10): keep exactly ⌈n_s/5⌉ docs per source, selected by
    // hash-RANK (smallest md5 first) rather than a hash-threshold or
    // rand() — threshold sampling only hits the quota in expectation,
    // rank sampling hits it exactly, and the hash ordering keeps the
    // selection resume/ingest-stable (the hashSplit rationale: a doc's
    // selection can only change if the stratum's membership changes).
    // Fully hash-pinned — the ONE sampler the driver can verify
    // row-for-row (the rand(seed) samplers are engine-private →
    // rows-only). Shape: one source-partitioned window (parallel per
    // stratum), no shuffle beyond it, quota arithmetic in exact
    // integer div.
    Q("curation_stratified_sample",
      """WITH r AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY source
        |           ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS BIGINT) AS rn, CAST(n AS BIGINT) AS n_source
        |FROM r WHERE rn <= (n + 4) // 5
        |ORDER BY source, rn""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val by = Window.partitionBy(col("source"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(
          by.orderBy(md5(concat(lit("strat:"), col("doc_id").cast("string"))),
            col("doc_id"))).cast("long"))
        .withColumn("n_source", count(lit(1)).over(by).cast("long"))
        .filter(col("rn") <= expr("(n_source + 4) div 5"))
        .select(col("doc_id"), col("source"), col("rn"), col("n_source"))
        .orderBy(col("source"), col("rn"))
    },

    // Contrastive negatives: 4 per anchor, hash-modular addressing.
    // The oracle replays the md5-mod arithmetic AND the attribute
    // join, so every (anchor, j) → negative assignment is hash-pinned
    // — the stability that makes resumed training see the same pairs.
    Q("curation_negative_pairs",
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |a AS (
        |  SELECT d.doc_id, d.source, n.n, j
        |  FROM documents d, n, unnest([1, 2, 3, 4]) AS t(j)),
        |r AS (
        |  SELECT doc_id, j, source, n,
        |         CAST(concat('0x', substr(md5('neg:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % n AS raw
        |  FROM a),
        |x AS (
        |  SELECT doc_id, j, source,
        |         CASE WHEN raw = doc_id THEN (raw + 1) % n ELSE raw END AS neg_id
        |  FROM r)
        |SELECT x.doc_id, CAST(x.j AS BIGINT) AS j, x.neg_id, x.source,
        |       d2.source AS neg_source,
        |       CAST(CASE WHEN d2.source <> x.source THEN 1 ELSE 0 END AS INTEGER) AS cross_source
        |FROM x JOIN documents d2 ON d2.doc_id = x.neg_id
        |ORDER BY x.doc_id, j""".stripMargin) { (s, dir) =>
      negativePairs(Tables.documents(s, dir), k = 4)
        .withColumn("j", col("j").cast("long"))
        .orderBy(col("doc_id"), col("j"))
    },

    // Temperature-0.5 mixture weights per source. sqrt is IEEE
    // correctly-rounded (unlike pow), so even the derived weights are
    // hash-pinned cross-engine.
    Q("curation_mixture_temperature",
      """WITH ps AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |m AS (SELECT MAX(n_tokens) AS max_tokens FROM ps)
        |SELECT source, n_docs, n_tokens,
        |       ROUND(sqrt(n_tokens * 1.0 / max_tokens), 6) + 0 AS w_rel,
        |       ROUND(sqrt(max_tokens * 1.0 / n_tokens), 6) + 0 AS boost
        |FROM ps, m
        |ORDER BY source""".stripMargin) { (s, dir) =>
      temperatureMixture(Tables.documents(s, dir)).orderBy(col("source"))
    },

    // Per-lang terciles, exact NTILE reporting form.
    Q("curation_lang_buckets",
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         ROUND(len(list_distinct(l)) * 1.0 / len(l), 6) + 0 AS score
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents)),
        |b AS (SELECT *, NTILE(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS t
        |      FROM s)
        |SELECT doc_id, lang, score, CAST(t AS BIGINT) AS tercile,
        |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      langQualityBuckets(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    // Per-lang gate, order-statistic-cutoff scale form (no global
    // window over docs). The oracle replays the same integer rank
    // arithmetic — cutoff = k-th smallest score, k = ceil(q·n) — so
    // the cutoff column and the kept SET are engine-exact with no
    // interpolated float anywhere (ADVICE r8).
    Q("curation_lang_gate",
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         ROUND(len(list_distinct(l)) * 1.0 / len(l), 6) + 0 AS score
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents)),
        |ps AS (SELECT lang, score, COUNT(*) AS c FROM s GROUP BY lang, score),
        |cum AS (SELECT lang, score,
        |               SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
        |               SUM(c) OVER (PARTITION BY lang) AS n
        |        FROM ps),
        |c AS (SELECT lang, MIN(score) AS cutoff FROM cum
        |      WHERE cum >= ceil(0.666667 * n) GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.score, c.cutoff
        |FROM s JOIN c USING (lang)
        |WHERE s.score >= c.cutoff
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      langQualityGate(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    // Exact pairwise vocabulary Jaccard between sources — intersection
    // via the token-keyed self-join, sizes via per-source counts; the
    // oracle replays the same 60-bit token keys so n_shared and the
    // Jaccard values hash-match exactly.
    Q("corpus_source_overlap",
      s"""WITH tok AS (
         |  SELECT DISTINCT source, ${fp60Sql("t")} AS tok_h
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)),
         |sizes AS (SELECT source, COUNT(*) AS v FROM tok GROUP BY source),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM tok a JOIN tok b ON a.tok_h = b.tok_h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, n_shared,
         |       ROUND(n_shared * 1.0 / (sa.v + sb.v - n_shared), 6) + 0 AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.source = src_a
         |JOIN sizes sb ON sb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      sourceOverlap(Tables.documents(s, dir)).orderBy(col("src_a"), col("src_b"))
    },

    // The k=64 minhash sketch of the same matrix — bounded per-source
    // state, (component, value)-equality pairing. Deterministic, so
    // the ESTIMATES are oracle-pinned too (the affine family constants
    // interpolate into the SQL as literals).
    Q("corpus_source_overlap_sketch", {
      val k = 64
      val fam = "so"
      val famRows = (0 until k)
        .map(i => s"($i, ${Dedup.mhA(fam, i)}, ${Dedup.mhB(fam, i)})").mkString(", ")
      s"""WITH toks AS (
         |  SELECT source, CAST(concat('0x', substr(md5('$fam:' || t), 1, 8)) AS BIGINT) AS h
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)),
         |fam(i, a, b) AS (VALUES $famRows),
         |sig AS (SELECT source, f.i, MIN((h * f.a + f.b) % ${Dedup.MinHashPrime}) AS mh
         |        FROM toks, fam f GROUP BY source, f.i),
         |m AS (SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_match
         |      FROM sig a JOIN sig b ON a.i = b.i AND a.mh = b.mh AND a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT src_a, src_b, n_match, ROUND(n_match * 1.0 / $k, 6) + 0 AS est_jaccard
         |FROM m ORDER BY src_a, src_b""".stripMargin
    }) { (s, dir) =>
      sourceOverlapSketch(Tables.documents(s, dir)).orderBy(col("src_a"), col("src_b"))
    },

    // The incremental capstone: one batch through EVERY delta-vs-corpus
    // tier — exact hash, banded minhash, semantic cell, 8-gram
    // decontamination, token gate — cascaded to the first verdict that
    // fires, all under ONE oracle (each tier's full machinery replays:
    // the affine minhash family, the md5-seeded quantizer, the fp60
    // gram keys, both thresholds, every min-id tiebreak).
    Q("corpus_incremental_refresh", incrementalRefreshOracleSql) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      // the batch is DATA by the time a gate sees it — materialize the
      // derived fixture once (it otherwise re-runs, self-join included,
      // inside every tier that references the delta; measured 8.2 →
      // 7.5 s forced at sf0.1 — the remaining cost is the near tier's
      // raw-corpus candidate density, which is why the HEADLINE entry
      // times the planted fixture instead, see Bench.fixtureQueries)
      incrementalRefresh(
        docs, emb,
        Materialize(refreshDeltaDocs(docs)),
        Materialize(refreshDeltaEmb(emb)),
        evalPred = col("doc_id") % 7 === 0)
    },

    // The gate's health readout (the curation_funnel discipline applied
    // to the incremental capstone): docs per verdict + distinct corpus
    // victors per dup tier — "where did my batch go?" as one bounded
    // frame an operator reads after every ingest window. Same cascade,
    // one extra hash aggregate; the oracle wraps the capstone's text.
    Q("corpus_refresh_funnel", {
      s"""WITH r AS (
         |${incrementalRefreshOracleSql}
         |)
         |SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT CASE WHEN dup_of >= 0 THEN dup_of END) AS BIGINT)
         |         AS n_victors
         |FROM r GROUP BY verdict ORDER BY verdict""".stripMargin
    }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      incrementalRefresh(
          docs, emb,
          Materialize(refreshDeltaDocs(docs)),
          Materialize(refreshDeltaEmb(emb)),
          evalPred = col("doc_id") % 7 === 0)
        .groupBy(col("verdict"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          countDistinct(when(col("dup_of") >= 0, col("dup_of"))).cast("long")
            .as("n_victors"))
        .orderBy(col("verdict"))
    })
}
