package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.{Curation, Dedup, Multimodal, QualityModel, Retrieval, Similarity, TextAnalysis}
import graft.ml.FailureModel
import graft.operators.{AsOfJoin, ChunkedWindow, RangeJoin, Salted, Sessionize}
import graft.pipeline.{Telemetry, TrainingData}
import graft.queries.{Audit, EventAnalytics, Graphs, Ingest, Linkage, Relational, Sketches, TimeSeries, Typed}
import graft.streaming.StreamingAlerts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All declared queries live in per-module `defs: Seq[Q]` lists; this
  * object is a pure aggregation so `queries` and `oracleSql` can never
  * drift from each other (VERDICT r1 "What's wrong" #1/#2).
  */
object SparkEntry {

  /** Every declared query, module by module. */
  def all: Seq[Q] =
    Telemetry.defs ++ TrainingData.defs ++ Relational.defs ++ Ingest.defs ++
      FailureModel.defs ++ Dedup.defs ++ Similarity.defs ++ TextAnalysis.defs ++ Curation.defs ++
      QualityModel.defs ++ Retrieval.defs ++
      Multimodal.defs ++ Salted.defs ++ AsOfJoin.defs ++ ChunkedWindow.defs ++
      Sessionize.defs ++ RangeJoin.defs ++ StreamingAlerts.defs ++ Typed.defs ++ Audit.defs ++
      EventAnalytics.defs ++ Linkage.defs ++ TimeSeries.defs ++ Graphs.defs ++ Sketches.defs

  /** Flagship: the reference's semantic heart — label → rolling features
    * → threshold alert → per-day rollup — on sf0.001 (driver smoke-checks
    * rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    Telemetry.daily(Telemetry.scored(Tables.events(spark, "/root/testdata/sf0.001")))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (seeded sampling, LSH, ML) → driver records a rows-only check and
    * a ScalaTest invariant covers semantics. */
  def oracleSql: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap

  /** Headline subset timed by Bench (kept representative but bounded so
    * BENCH_r{N}.json measures engine shape, not query count). */
  def headline: Seq[String] = Seq(
    "telemetry_features",
    "telemetry_scored",
    "telemetry_daily",
    "telemetry_confusion",
    "agg_pricing_summary",
    "join_broadcast_dim",
    "join_fact_fact",
    "dedup_exact",
    "dedup_simhash",
    "embed_cosine_topk",
    "text_quality",
    // LLM tier (round 7, VERDICT r6 task 1): the differentiating
    // surface is measured round-over-round too. The three candidate-pair
    // LSH queries run on Bench's planted fixture (~5% dup rate) — on
    // the raw vocabulary-dense corpus their cost would be the all-similar
    // data pathology (nearly every pair shares J≥0.85 vocabulary, so
    // candidates ≈ all pairs), not the plan. dedup_minhash_pairs joined
    // in round 8 (VERDICT r7 task 2) now that the fixture exists.
    "corpus_training_ready",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "embed_ann_join",
    // Round 8: the exact substring-span detector and the source-overlap
    // matrix join the headline on the RAW corpus — exact 8-gram repeats
    // are rare there (no all-similar pathology; the planted header
    // supplies known structure), and the overlap matrix's cost is the
    // token-keyed join, which the raw corpus exercises fully.
    "dedup_substring_spans",
    "corpus_source_overlap",
    // Round 9: the familiarity scorer joins on the RAW corpus — its
    // cost is the gram-keyed frequency join + doc rollup, the same
    // class as the overlap matrix, fully exercised without planting.
    "text_familiarity",
    // Round 9: keyword retrieval on the RAW corpus — scan-level term
    // filter + posting aggregate + broadcast idf + TakeOrdered, the
    // search shape none of the other headline queries exercise.
    "search_keyword_topk",
    // Round 10: the count-min build+probe on the RAW corpus — a
    // fixed-size-summary aggregate (key space d·w) plus a
    // vocabulary-bounded broadcast probe join, the sketch shape.
    "sketch_cms_topk",
    // Round 9 (session 3): the interval×interval overlap join on the
    // RAW events — bucket-explode + responsibility dedup + exact
    // predicate, the one headline join whose OUTPUT is quadratic in
    // per-day concurrency (the operator's semantics; candidate/true
    // ratio is the plan-quality number, measured scale-stable ~2.3×).
    "join_interval_overlap",
    // Round 10: the Q8-shaped multi-join composite — the one headline
    // query exercising join ORDER + partial-agg placement across four
    // tables (filtered fact-fact keyed join → per-customer rollup →
    // dim chain → share window → top-k).
    "analytics_market_share",
    // Round 10 (session 2): content-defined chunking on the RAW
    // corpus — the integer-position window + sorted-span-array
    // collapse + map-side slice/fingerprint shape no other headline
    // query exercises (text crosses its one doc-keyed join once).
    "dedup_cdc_chunks",
    // Round 10 (session 4): BM25 on the RAW corpus — the one-pass
    // retrieval shape with the length-normalization join folded into
    // the explode (keyword_topk measures the flat-idf skeleton; this
    // measures the full scorer).
    "search_bm25_topk",
    // Round 10 (session 4): OHLC bars on the RAW events — the
    // double-direction window + grouped-aggregate downsampling shape
    // (the other window headlines are single-direction frames).
    "events_ohlc_bars",
    // Round 12: hybrid retrieval — BOTH retriever passes (BM25 corpus
    // pass + brute-force cosine) plus the n-bounded rank/fusion tail
    // in one number; the fusion overhead over the two standalone
    // retrievers is the quantity worth watching round-over-round.
    "search_rrf_fusion",
    // Round 14 (VERDICT r13 task 6): the 5-round synchronous label
    // propagation — the repo's only fixed-iteration-loop dataflow
    // (per-round join + argmax agg + coalesce, checkpoint per
    // iteration) joins the headline so the iterative-graph shape is
    // under the per-round drift/sr gates like every other tier.
    "graph_label_prop",
    // Round 16: the incremental capstone — one arriving batch through
    // every delta-vs-corpus tier (hash probe, band join + Jaccard
    // verify, quantizer-cell cosine, gram contamination, token gate)
    // cascaded in ONE plan: the multi-tier delta-join composition no
    // other headline query exercises, and the shape a standing ingest
    // gate pays per batch at 100 TB.
    "corpus_incremental_refresh",
  )
}
