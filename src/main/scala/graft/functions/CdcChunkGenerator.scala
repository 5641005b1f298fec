package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Generator: content-defined chunks of a space-tokenized
  * string as (chunk_idx, start_pos, n_tokens, chunk_fp) rows — the
  * rolling-hash cut rule of `Dedup.contentChunks` (cut before token q
  * when the `w`-gram ending at q−1 hashes ≡ 0 mod `divisor`) fused
  * into one scan-side pass. Both hashes are the repo-standard 60-bit
  * md5-hex prefix, byte-identical to `ngram_hashes(…, w, 15)` for the
  * cut decision and to `conv(substring(md5(chunk_text),1,15),16,10)`
  * for the fingerprint, so this emits EXACTLY the rows of the
  * composed window pipeline and the row-local HOF form (LlmSpec pins
  * the three-way equality).
  *
  * Why fuse: the composed pipeline explodes gram rows, windows over
  * integer positions (one doc-keyed exchange), collapses spans to a
  * sorted array, and joins the text back (a second pass over the
  * corpus bytes); the HOF form re-reads token slices through
  * interpreted md5 per position. Here tokens are UTF-8-encoded once,
  * the cut digest streams over the token bytes, each chunk's digest
  * streams over the same slices, and chunk rows leave the scan
  * directly — zero shuffles before the sharing aggregate, one pass
  * over the text. The head-to-head timings are in PLANS.md
  * "Round-10 session 2: the native CDC generator".
  *
  * Semantics (matching both existing forms): null input → no rows;
  * any non-null text yields ≥ 1 chunk (split("", -1) = [""], one
  * empty chunk); a cut at position len is suppressed (no empty tail
  * chunk). CodegenFallback like the explode family.
  */
case class CdcChunkGenerator(child: Expression, w: Int, divisor: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(w >= 1, s"cdc_chunks: w must be >= 1, got $w")
  require(divisor >= 1, s"cdc_chunks: divisor must be >= 1, got $divisor")

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("start_pos", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("chunk_fp", LongType, nullable = false)))

  override def prettyName: String = "cdc_chunks"

  private val space = Array[Byte](' ')

  private def hex15(digest: Array[Byte]): Long = {
    var h = 0L
    var c = 0
    while (c < 15) {
      val nibble =
        if (c % 2 == 0) (digest(c / 2) >> 4) & 0xf else digest(c / 2) & 0xf
      h = (h << 4) | nibble
      c += 1
    }
    h
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else {
      val toks = raw.asInstanceOf[UTF8String].toString.split(" ", -1)
      val len = toks.length
      val tokBytes = new Array[Array[Byte]](len)
      var t = 0
      while (t < len) {
        tokBytes(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        t += 1
      }
      val md = MessageDigest.getInstance("MD5")
      // cut positions: q = s + w for each gram start s with
      // md5h(gram) % divisor == 0 and q < len
      val starts = scala.collection.mutable.ArrayBuffer(0)
      var s0 = 0
      while (s0 <= len - w) {
        val q = s0 + w
        if (q < len) {
          md.reset()
          var j = 0
          while (j < w) {
            if (j > 0) md.update(space)
            md.update(tokBytes(s0 + j))
            j += 1
          }
          if (hex15(md.digest()) % divisor == 0) starts += q
        }
        s0 += 1
      }
      val out = new Array[InternalRow](starts.length)
      var c = 0
      while (c < starts.length) {
        val b = starts(c)
        val e = if (c + 1 < starts.length) starts(c + 1) else len
        md.reset()
        var j = b
        while (j < e) {
          if (j > b) md.update(space)
          md.update(tokBytes(j))
          j += 1
        }
        out(c) = InternalRow(c, b, e - b, hex15(md.digest()))
        c += 1
      }
      out
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunkGenerator =
    copy(child = newChild)
}
