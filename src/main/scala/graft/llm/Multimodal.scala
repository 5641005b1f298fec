package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Q, Tables}

/** Multimodal column plumbing (builder-prompt component): media as an
  * opaque `binary` payload column + typed metadata, with
  * decode/feature-extract as a partition-batched typed transform.
  *
  * The container has no image/audio codecs, so `decodeStub` is a
  * DETERMINISTIC FAKE decoder (clearly marked) — the Spark-side
  * contract is real and tested: schema (binary payload + metadata
  * struct), per-partition batching via `mapPartitions` (the shape a
  * vectorized decode UDF needs: amortize codec init per batch, stream
  * rows, never materialize a partition), and a typed output row. At
  * 100 TB payloads stay columnar at rest (parquet binary), the decode
  * stage is map-only, and feature rows are narrow — the expensive
  * bytes never shuffle.
  */
object Multimodal {

  /** Typed decoded-feature row (what a real image/audio decoder would
    * emit: dimensions + a small feature summary, never the raw bytes). */
  final case class MediaFeature(
      doc_id: Long,
      n_bytes: Long,
      mean_byte: Double,
      head_hex: String)

  /** Attach the opaque payload + typed metadata (UTF-8 text bytes stand
    * in for an image/audio blob). */
  def withPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        col("source").as("origin")).as("media_meta"))

  /** STUB decoder — deterministic fake standing in for a codec
    * (image decode / audio resample / frame sample). Real per-batch
    * shape: one iterator pass, codec state initialized once per
    * partition, constant memory. */
  def decodeStub(spark: SparkSession, withBlob: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    withBlob.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // (a real decoder would open its codec context here, once)
        rows.map { case (id, bytes) =>
          MediaFeature(
            doc_id = id,
            n_bytes = bytes.length.toLong,
            mean_byte = if (bytes.isEmpty) 0.0
            // Long accumulator: an Int sum wraps negative past ~8 MB of
            // 0xFF bytes, and real media payloads exceed that
            else math.rint(bytes.foldLeft(0L)((s, b) => s + (b & 0xff)).toDouble /
              bytes.length * 1e6) / 1e6,
            head_hex = bytes.take(4).map(b => f"${b & 0xff}%02x").mkString)
        }
      }
  }

  /** Difference-hash (dHash) perceptual fingerprint over the opaque
    * payload + LSH band join — image/media near-dup detection re-
    * expressed on the binary-column plumbing (the multimodal analog of
    * `dedup_simhash_pairs`): sample 65 payload bytes on a FIXED
    * RESOLUTION-INDEPENDENT grid (p_i = 1 + ⌊i·(L−1)/64⌋ — the
    * 9×8-resize step of the published dHash, so payloads of different
    * lengths stay comparable), take the 64 adjacent-sample comparisons
    * as bits, split into 4×16-bit bands. Candidates = pairs sharing
    * ANY band cell (LSH — quadratic only within identical 16-bit
    * cells); verification = exact Hamming distance via
    * bit_count(xor) over the 4 band words, keep ≤ `maxHam`.
    * A REAL image pipeline swaps the byte-sampling stage for the
    * decode→grayscale→9×8-resize of `decodeStub`'s slot; everything
    * from the bit extraction down — bands, join, Hamming verify — is
    * the production shape unchanged. All integer arithmetic; bands
    * and distances hash-pin cross-engine.
    *
    * Shape for scale: fingerprints are map-side scan work (the
    * payload bytes never shuffle — 4 BIGINT words per doc do); the
    * band join shuffles on (band_idx, value); Hamming verify joins
    * the 4-word vectors back by id. */
  def phashPairs(docs: DataFrame, maxHam: Int): DataFrame = {
    // greatest(·, 0): for an EMPTY text, length−1 = −1 and Spark's div
    // truncates toward zero while DuckDB's // floors — positions 1 vs 0
    // would diverge cross-engine (ADVICE r12). Clamping pins both
    // engines to position 1 (ascii of '' = 0 in both, so empty payloads
    // get the all-zero fingerprint on each side).
    val bt = "transform(sequence(0, 64), i -> " +
      "ascii(substring(text, cast(1 + (i * greatest(length(text) - 1, 0)) div 64 as int), 1)))"
    def band(k: Int): String =
      s"aggregate(sequence(0, 15), cast(0 as bigint), (acc, j) -> " +
        s"acc + if(element_at(bt, 16 * $k + j + 1) > element_at(bt, 16 * $k + j + 2), " +
        s"shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"
    // feeds the band explode AND both verify sides
    val fp = Materialize(docs
      .withColumn("bt", expr(bt))
      .select((col("doc_id") +: (0 until 4).map(k => expr(band(k)).as(s"b$k"))): _*))
    val bands = fp.select(col("doc_id"),
      explode(map_from_arrays(
        expr("array(0, 1, 2, 3)"), expr("array(b0, b1, b2, b3)")))
        .as(Seq("k", "band")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
    val fa = fp.select(col("doc_id").as("da"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val fb = fp.select(col("doc_id").as("db"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    cand
      .join(fa, col("doc_a") === col("da"))
      .join(fb, col("doc_b") === col("db"))
      .withColumn("hamming", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)")
        .cast("long"))
      .filter(col("hamming") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Column-expression replay of `decodeStub`'s byte features — the
    * `multimodal_decode_features_pinned` body (ASCII precondition:
    * ascii(char_i) = byte_i; LlmSpec asserts it corpus-wide). Exact
    * integers only: BIGINT byte sum, floor-div micro-mean, lowercased
    * 4-byte head hex. The empty-text guard matters: sequence(1, 0)
    * would DESCEND ([1, 0]) in Spark, and 0-length division needs the
    * sentinel on both engines. */
  def decodeFeaturesPinned(docs: DataFrame): DataFrame =
    docs
      .withColumn("byte_sum",
        when(length(col("text")) === 0 || col("text").isNull, lit(0L)).otherwise(
          expr("aggregate(sequence(1, length(text)), cast(0 as bigint)," +
            " (acc, i) -> acc + ascii(substring(text, i, 1)))")))
      .select(
        col("doc_id"),
        coalesce(length(col("text").cast("binary")), lit(0)).cast("long").as("n_bytes"),
        col("byte_sum"),
        when(length(col("text")) === 0 || col("text").isNull, lit(0L))
          .otherwise(expr("(byte_sum * 1000000) div length(cast(text as binary))"))
          .as("mean_byte_micro"),
        coalesce(lower(hex(substring(col("text").cast("binary"), 1, 4))), lit(""))
          .as("head_hex"))
      .orderBy("doc_id")

  val defs: Seq[Q] = Seq(

    // dHash near-dup pairs over the binary payload (see phashPairs):
    // the image-dedup shape with the decode stage stood in by the
    // deterministic byte grid — bands, LSH join, and Hamming verify
    // all replay exactly in DuckDB. The corpus' planted "dups" are
    // token-order SHUFFLES (set-identical, sequence-different), which
    // an order-sensitive spatial hash rightly does NOT match — so, per
    // the dedup_embed_cosine_planted precedent, 25 length-preserving
    // byte-perturbed twins (translate e→f, the re-encode/pixel-noise
    // analog) are planted in-query to keep the ≤ maxHam rule
    // non-vacuous: twins land at Hamming 0–1, shuffles at ≥ 15.
    Q("multimodal_phash_pairs",
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, translate(text, 'e', 'f')
        |  FROM documents WHERE doc_id < 25),
        |fp AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 65), i -> ascii(substr(text,
        |           CAST(1 + (i * greatest(length(text) - 1, 0)) // 64 AS INTEGER), 1))) AS bt
        |  FROM base),
        |bw AS (
        |  SELECT doc_id, k,
        |         CAST(list_sum(list_transform(range(0, 16), j ->
        |           CASE WHEN bt[16 * k + j + 1] > bt[16 * k + j + 2]
        |                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS band
        |  FROM fp, (SELECT unnest(range(0, 4)) AS k)),
        |vec AS (
        |  SELECT doc_id,
        |         MAX(CASE WHEN k = 0 THEN band END) AS b0,
        |         MAX(CASE WHEN k = 1 THEN band END) AS b1,
        |         MAX(CASE WHEN k = 2 THEN band END) AS b2,
        |         MAX(CASE WHEN k = 3 THEN band END) AS b3
        |  FROM bw GROUP BY 1),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS n_shared_bands
        |  FROM bw a JOIN bw b ON a.k = b.k AND a.band = b.band
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b, c.n_shared_bands,
        |       CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        |          + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT)
        |         AS hamming
        |FROM cand c JOIN vec x ON x.doc_id = c.doc_a JOIN vec y ON y.doc_id = c.doc_b
        |WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        |    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 6
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val twins = d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"), "e", "f").as("text"))
      phashPairs(d.unionByName(twins), maxHam = 6)
    },

    // Binary-column plumbing stats — oracle-checked (DuckDB encode()
    // gives the same UTF-8 bytes).
    Q("multimodal_blob_stats",
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       ascii(substr(text, 1, 1)) AS first_byte,
        |       'application/octet-stream' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      withPayload(Tables.documents(s, dir)).select(
        col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        ascii(col("payload").cast("string")).as("first_byte"),
        col("media_meta.mime").as("mime"))
        .orderBy("doc_id")
    },

    // Typed mapPartitions decode path (stubbed codec) — no oracle;
    // MultimodalSpec cross-checks mean_byte/head_hex against
    // independently computed values.
    Q.noOracle("multimodal_decode_features") { (s, dir) =>
      decodeStub(s, withPayload(Tables.documents(s, dir))).toDF().orderBy("doc_id")
    },

    // Hash-pinned counterpart (VERDICT r12 task 3, the
    // dedup_semantic_pinned pattern): the stub's decode output is
    // deterministic, so its byte-level features replay in DuckDB —
    // only the MEAN leaves the oracle (math.rint is half-even, SQL
    // ROUND is half-away), so the pin carries the exact BIGINT byte
    // sum and its floor-div micro-mean instead; LlmSpec asserts the
    // pinned frame is row-identical to what decodeStub emits
    // (n_bytes/head_hex equal, |mean − sum/n| ≤ 1e−6). The corpus is
    // ASCII (n_bytes = length — asserted by the same test), so
    // ascii(char_i) IS byte_i in both engines; the payload's 4-byte
    // head replays as lowercased hex. NULL/empty text → all-zero
    // features with an empty head on BOTH engines (the COALESCE/CASE
    // guards here mirror decodeFeaturesPinned's — r13 review: the
    // guards existed Spark-side only). Scale shape: map-only scan
    // work over the payload column, one pass, nothing shuffles but
    // the output sort.
    Q("multimodal_decode_features_pinned",
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT) AS n_bytes,
        |         CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
        |                i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0) AS BIGINT)
        |           AS byte_sum,
        |         COALESCE(lower(substr(hex(encode(text)), 1, 8)), '') AS head_hex
        |  FROM documents)
        |SELECT doc_id, n_bytes, byte_sum,
        |       CASE WHEN n_bytes = 0 THEN CAST(0 AS BIGINT)
        |            ELSE (byte_sum * 1000000) // n_bytes END AS mean_byte_micro,
        |       head_hex
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      decodeFeaturesPinned(Tables.documents(s, dir))
    },

    // Resize + frame-sample plumbing (the remaining two media
    // transforms of the builder-prompt quartet). The payload domain is
    // text bytes, so the stubs are honest byte/token arithmetic with
    // the REAL pipeline shape: "resize" = 2× downsample by keeping
    // odd-position chars (one regexp pass — `(.).`→`$1` has identical
    // semantics in Java regex and RE2, including the kept trailing odd
    // char); "frame sample" = every 4th token. Both are scan-fused
    // map work; outputs are fingerprints + sizes, never the media
    // bytes — at 100 TB sampled frames ship as narrow feature rows.
    Q("multimodal_resize_sample",
      """WITH r AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '(.).', '\1', 'g') AS resized,
        |         string_split(text, ' ') AS l
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text, resized,
        |         array_to_string(list_transform(range(1, len(l) + 1, 4), i -> l[i]), ' ') AS frames,
        |         CAST(len(range(1, len(l) + 1, 4)) AS BIGINT) AS n_frames
        |  FROM r)
        |SELECT doc_id,
        |       length(text) AS orig_chars,
        |       length(resized) AS resized_chars,
        |       CAST(concat('0x', substr(md5(resized), 1, 8)) AS BIGINT) AS resized_fp,
        |       n_frames,
        |       CAST(concat('0x', substr(md5(frames), 1, 8)) AS BIGINT) AS frames_fp
        |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      def fp(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
      val toks = split(col("text"), " ")
      val frameIdx = sequence(lit(1), size(toks), lit(4))
      Tables.documents(s, dir)
        .withColumn("resized", regexp_replace(col("text"), "(.).", "$1"))
        .withColumn("frames",
          array_join(transform(frameIdx, i => element_at(toks, i)), " "))
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("orig_chars"),
          length(col("resized")).cast("long").as("resized_chars"),
          fp(col("resized")).as("resized_fp"),
          size(frameIdx).cast("long").as("n_frames"),
          fp(col("frames")).as("frames_fp"))
        .orderBy("doc_id")
    },
  )
}
