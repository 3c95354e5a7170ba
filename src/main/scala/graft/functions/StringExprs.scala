package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/* String-accessor expressions Spark lacks natively.
  *
  * pandas `Series.str.normalize` (core/strings/accessor.py:3236 →
  * unicodedata.normalize) has no Spark SQL builtin; this is the
  * preferred extension shape from SURVEY §2.11 — a codegen'd unary
  * Catalyst expression, so it stays inside whole-stage codegen rather
  * than dropping to a UDF. DuckDB's nfc_normalize is the oracle peer.
  */

/** Single-pass stride-16 sample-fingerprint kernel shared by
  * interpreted eval and the generated code of [[SampledFp]].
  */
object FrameSampleScan {
  final val Stride = 16

  /** fp == aggregate(transform(sequence(1, length(text), 16),
    * i -> ascii(substr(text, i, 1)).cast(long)), 0L,
    * (acc, x) -> (acc * 31 + x) % P), P = [[PortableHash.P]] — i.e. the
    * polynomial rolling hash of every 16th CHARACTER (code point, like
    * UTF8String.numChars; ascii() yields the code point — pinned
    * against the HOF on multi-byte docs by FrameSampleKernelSpec).
    * acc < P < 2^30 so acc*31 + cp stays far inside int64, exactly as
    * in the HOF fold. Empty text folds over an empty sequence -> 0,
    * same as here. The HOF form materialized a sampled-char array per
    * row and ran the fold interpreted (HigherOrderFunction has no
    * codegen); this is one walk over the document's UTF-8 bytes inside
    * whole-stage codegen. */
  def sampledFp(s: UTF8String): Long = {
    var acc = 0L
    var b = 0 // byte offset of character c
    var c = 0
    while (b < s.numBytes) {
      if (c % Stride == 0) acc = (acc * 31 + Utf8.codePointAt(s, b)) % PortableHash.P
      b += Utf8.charBytes(s, b)
      c += 1
    }
    acc
  }
}

/** Code points decoded straight from a UTF8String's bytes, with no
  * String or code-point array per row. Characters are stepped as
  * `UTF8String.numChars`/`substring` step them (the lead byte gives
  * the length), so the c-th character here is `substr(text, c + 1, 1)`;
  * a malformed or truncated sequence decodes to U+FFFD, as the JDK
  * decoder behind `ascii()` does.
  */
private[functions] object Utf8 {
  def charBytes(s: UTF8String, b: Int): Int = UTF8String.numBytesForFirstByte(s.getByte(b))

  def codePointAt(s: UTF8String, b: Int): Int = {
    val b0 = s.getByte(b) & 0xff
    val len = charBytes(s, b)
    if (len == 1) return if (b0 < 0x80) b0 else 0xfffd
    if (len > 4 || b + len > s.numBytes) return 0xfffd
    var cp = b0 & (0x7f >> len)
    var i = 1
    while (i < len) {
      val bi = s.getByte(b + i) & 0xff
      if ((bi & 0xc0) != 0x80) return 0xfffd
      cp = (cp << 6) | (bi & 0x3f)
      i += 1
    }
    cp
  }
}

/** Single-pass audio-frame energy kernel shared by interpreted eval
  * and the generated code of [[AudioFrameEnergies]] (round-15).
  */
object AudioFrameScan {
  final val FrameLen = 32
  final val Hop = 16

  /** All frame energies of one document in one scan:
    * energies[k] == Σ_{i=k·16+1}^{k·16+32} ascii(substr(text, i, 1))
    * for k in 0 until floor((length(text) − 32) / 16) + 1, where
    * substr indexes CHARACTERS (code points, like UTF8String.numChars)
    * and ascii() yields the character's code point. The HOF form this
    * replaces evaluated an interpreted sequence→transform→aggregate
    * chain of 32 substr+ascii calls PER EXPLODED FRAME (~35 µs/frame
    * measured at sf0.1); this is one walk over the doc's UTF-8 bytes,
    * one add per character and one per frame. Documents shorter than
    * FrameLen characters yield an empty array (the query's length
    * filter removes them before the explode either way). */
  def energies(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = s.numChars
    if (n < FrameLen)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val nf = (n - FrameLen) / Hop + 1
    // FrameLen == 2·Hop: frame k is hop-blocks k and k+1, so one walk
    // sums each block and each frame adds two blocks
    val blocks = new Array[Long](nf + 1)
    var b = 0
    var c = 0
    while (c < blocks.length * Hop) {
      blocks(c / Hop) += Utf8.codePointAt(s, b)
      b += Utf8.charBytes(s, b)
      c += 1
    }
    val out = new Array[Long](nf)
    var k = 0
    while (k < nf) { out(k) = blocks(k) + blocks(k + 1); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Single-pass word-count + language-marker-count kernel shared by
  * interpreted eval and the generated code of [[MarkerScores]].
  */
object MarkerScan {
  /** One byte scan over the raw UTF-8 text computing the struct
    * (n_words, score_en, score_es, score_de, score_fr) where
    * n_words == size(split(text, " ")) (split with limit -1: segments
    * = spaces + 1, trailing empties kept) and each score ==
    * aggregate(split(text, " "), 0L, (a, w) -> a + (w IN markers)) for
    * the four marker lists of TextQueries/CurationQueries:
    * en={the,a,of} es={el,la,de} de={der,die,und} fr={le,les,et}.
    *
    * The HOF form it replaces re-split the text per score and ran
    * interpreted (HigherOrderFunction has no codegen), and a filter
    * referencing the scores re-evaluated each aggregate per
    * comparison — measured 8 split+fold passes per row in the
    * pipe_curation quality gate. Marker words are ASCII, so multibyte
    * segments simply never match; the space byte 0x20 cannot occur
    * inside a multibyte code point.
    */
  def scores(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val n = s.numBytes
    var en = 0L; var es = 0L; var de = 0L; var fr = 0L
    var words = 1
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == ' ') {
        val len = i - start
        if (len == 1) {
          if (s.getByte(start) == 'a') en += 1
        } else if (len == 2) {
          val b0 = s.getByte(start); val b1 = s.getByte(start + 1)
          if (b0 == 'o' && b1 == 'f') en += 1
          else if (b0 == 'e' && b1 == 'l') es += 1
          else if (b0 == 'l' && b1 == 'a') es += 1
          else if (b0 == 'd' && b1 == 'e') es += 1
          else if (b0 == 'l' && b1 == 'e') fr += 1
          else if (b0 == 'e' && b1 == 't') fr += 1
        } else if (len == 3) {
          val b0 = s.getByte(start); val b1 = s.getByte(start + 1)
          val b2 = s.getByte(start + 2)
          if (b0 == 't' && b1 == 'h' && b2 == 'e') en += 1
          else if (b0 == 'd' && b1 == 'e' && b2 == 'r') de += 1
          else if (b0 == 'd' && b1 == 'i' && b2 == 'e') de += 1
          else if (b0 == 'u' && b1 == 'n' && b2 == 'd') de += 1
          else if (b0 == 'l' && b1 == 'e' && b2 == 's') fr += 1
        }
        if (i < n) words += 1
        start = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](words, en, es, de, fr))
  }
}

/** Single-pass canonicalization kernel shared by interpreted eval and
  * the generated code of [[CanonText]].
  */
object CanonScan {
  /** Equivalent of
    * `trim(regexp_replace(regexp_replace(lower(nfc(s)), "[^a-z0-9 ]", ""), " +", " "))`
    * in ONE pass: lowercase, keep [a-z0-9], collapse space runs, trim.
    * ASCII inputs (the common case for a web corpus after langid)
    * take a byte-level path with no decode, no regex engine, and one
    * output allocation; anything with a multibyte code point falls
    * back to NFC + String.toLowerCase + the same char scan, matching
    * the oracle's lower(nfc_normalize(..)) operation order.
    */
  def canon(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var ascii = true
    var i = 0
    while (i < n && ascii) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (!ascii) return canonSlow(s.toString)
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    i = 0
    while (i < n) {
      var b = s.getByte(i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = b
        o += 1
      } else if (b == ' ') {
        pendingSpace = true
      }
      // every other byte is stripped and does not break the space run
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  private def canonSlow(raw: String): UTF8String = {
    val lowered = java.text.Normalizer
      .normalize(raw, java.text.Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lowered.length)
    var pendingSpace = false
    var i = 0
    while (i < lowered.length) {
      val c = lowered.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      } else if (c == ' ') pendingSpace = true
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** The C4/RefinedWeb canonicalization (graft_canon) as a codegen'd
  * single-pass kernel. The two-regex chain it replaces paid the regex
  * engine twice per document plus two intermediate strings — at sf10
  * that was 22 s of the dedup_normalized scan stage (the same lesson
  * as [[TokenCount]]). The DuckDB oracle keeps the independent
  * regex-chain formulation, so the kernel's equivalence is
  * hash-checked per run rather than assumed.
  */
case class CanonText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    CanonScan.canon(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CanonScan.canon($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass tokenizer-count kernel shared by interpreted eval and
  * the generated code of [[TokenCount]].
  */
object TokenScan {
  /** Number of matches of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]` — i.e.
    * letter runs + digit runs + one per other non-space code point —
    * counted in one pass over the raw UTF-8 bytes. Multibyte code
    * points are recognized by their lead byte (continuations are
    * 0b10xxxxxx), so no decode and no allocation.
    */
  def count(s: UTF8String): Int = {
    val n = s.numBytes
    var i = 0
    var cnt = 0
    var run = 0 // 0 = at boundary, 1 = inside letter run, 2 = inside digit run
    while (i < n) {
      val b = s.getByte(i) & 0xFF
      if ((b & 0xC0) == 0x80) {
        // continuation byte of the code point counted at its lead byte
      } else if (b < 0x80) {
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
          if (run != 1) { cnt += 1; run = 1 }
        } else if (b >= '0' && b <= '9') {
          if (run != 2) { cnt += 1; run = 2 }
        } else if (b == ' ') {
          run = 0
        } else { cnt += 1; run = 0 }
      } else {
        // lead byte of a multibyte code point: single-char token
        cnt += 1; run = 0
      }
      i += 1
    }
    cnt
  }
}

/** regexp_count('[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') as a codegen'd
  * character-class scan (graft_token_count): the BPE-ish token count
  * is a hot map-side pass over every document at corpus scale, and the
  * alternation regex is a state machine with three states — running it
  * through the regex engine pays NFA overhead per char. One branchy
  * byte loop, no decode, no allocation, stays inside whole-stage
  * codegen. Oracle peer remains DuckDB's regexp_extract_all length
  * over the same pattern.
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(input: Any): Any =
    TokenScan.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenScan.count($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word count + the four language-marker counts as ONE codegen'd
  * single-pass struct expression (graft_marker_scores) — see
  * [[MarkerScan.scores]] for the exact HOF chain it replaces and the
  * equivalence argument. Consumers take struct fields; whole-stage
  * codegen's subexpression elimination evaluates the scan once per
  * row however many fields a predicate references.
  */
case class MarkerScores(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("score_en", LongType, nullable = false),
    StructField("score_es", LongType, nullable = false),
    StructField("score_de", LongType, nullable = false),
    StructField("score_fr", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    MarkerScan.scores(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MarkerScan.scores($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document audio-frame energy array (graft_audio_energies) — see
  * [[AudioFrameScan.energies]] for the exact HOF chain it replaces and
  * the equivalence argument. `posexplode` over the result reproduces
  * the (frame_id, frame_energy) rows of the old per-frame explode.
  */
case class AudioFrameEnergies(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    AudioFrameScan.energies(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AudioFrameScan.energies($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document stride-16 sample fingerprint (graft_sampled_fp) — see
  * [[FrameSampleScan.sampledFp]] for the exact HOF chain it replaces
  * and the equivalence argument.
  */
case class SampledFp(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    FrameSampleScan.sampledFp(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FrameSampleScan.sampledFp($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization (graft_nfc), java.text.Normalizer-backed. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
