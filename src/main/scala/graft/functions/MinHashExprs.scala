package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import PortableHash._

/** Custom Catalyst expressions for the MinHash pipeline.
  *
  * The higher-order-function formulation (transform/aggregate lambdas)
  * is oracle-friendly but interpreted per element — profiling showed
  * it dominating `dedup_minhash_pairs` (SCALE.md round-2 target #1).
  * These expressions compute the same values in tight JVM loops:
  *
  *   - [[PolyHash]]: the portable polynomial string hash, with full
  *     codegen (`doGenCode`) so it stays inside whole-stage codegen;
  *   - [[ShingleHash64s]]: text -> distinct word-3-gram 64-bit shingle
  *     hash array in one pass (split, shingle, double-hash, dedupe);
  *     h64 = h31 * 2^31 + h37 so the high bits recover the 30-bit
  *     minhash input while the full value is collision-safe for the
  *     verify-join set intersection;
  *   - [[MinHashBandKeys]]: 64-bit shingle-hash array -> the NumBands
  *     LSH band keys (all NumPerms permutations of the high 30 bits in
  *     one loop, fused per band with the injective-then-mod fold of
  *     PortableHash.bandFuse). NULL for shingle-less docs so empty
  *     documents never bucket together.
  *
  * Unlike the HOF `wordHash` (UTF-16 code units via split), these
  * loops iterate CODE POINTS, matching DuckDB `string_split`/`ascii`
  * semantics on all of Unicode, not just ASCII.
  */
object MinHashExprs {

  private[functions] def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** h64 = h31 * 2^31 + h37 over code points. */
  private[functions] def hash64(str: String): Long = {
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h1 = (h1 * 31 + cp) % P
      h2 = (h2 * 37 + cp) % P2
      i += Character.charCount(cp)
    }
    h1 * Shift + h2
  }

  /** [[ShingleHash64s]] kernel body, hoisted to a static method so the
    * expression's doGenCode can call it from generated code (round-15:
    * the CodegenFallback wrapper boxed every row into an InternalRow
    * and kicked the whole projection out of whole-stage codegen — the
    * same pathology VERDICT r14 flagged for SimHash24). The generated
    * call pays one static dispatch per row; the loop itself was always
    * JVM code. Bit-identical by construction: it IS the old body. */
  def shingleHash64Java(input: UTF8String): ArrayData = {
    val words = input.toString.split(" ", -1)
    if (words.length < 3) return new GenericArrayData(Array.empty[Long])
    val seenShingle = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < words.length) {
      seenShingle.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
      i += 1
    }
    val out = new Array[Long](seenShingle.size)
    val it = seenShingle.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = hash64(it.next())
      j += 1
    }
    new GenericArrayData(out)
  }

  /** [[MinHashBandKeys]] kernel body, static for the same reason as
    * [[shingleHash64Java]]; returns null for an empty shingle set
    * (shingle-less docs must never share a bucket). */
  def bandKeysJava(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val mins = Array.fill(NumPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i) / Shift // recover h31
      var k = 0
      while (k < NumPerms) {
        val v = (permA(k) * h + permB(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    val bands = new Array[Long](NumBands)
    var b = 0
    while (b < NumBands) {
      var acc = 0L
      var pos = 0
      while (pos < BandSize) {
        acc = (acc * P + mins(b * BandSize + pos)) % Q
        pos += 1
      }
      bands(b) = acc
      b += 1
    }
    new GenericArrayData(bands)
  }
}

/** Codegen'd portable polynomial hash of a string (graft_poly_hash);
  * code-point iteration matches DuckDB ascii() on all of Unicode. */
case class PolyHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    MinHashExprs.polyHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |String $s = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % ${P}L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text -> distinct word-3-gram 64-bit shingle hashes
  * (graft_shingle_hash64). One JVM pass; set semantics follow
  * array_distinct over the shingle strings. */
case class ShingleHash64s(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashExprs.shingleHash64Java(input.asInstanceOf[UTF8String])

  /** Round-15 (VERDICT r14 next-#5 follow-through): was
    * `CodegenFallback`, which boxed every row and kicked the whole
    * dedup projection out of whole-stage codegen. The generated code
    * calls the same static kernel the interpreted path runs. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashExprs.shingleHash64Java($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit shingle-hash array -> 24-bit SimHash (graft_simhash24),
  * round-14. Replaces the 24 per-bit interpreted `aggregate` HOF folds
  * of the original formulation (measured ~6 s/run at sf0.1 for 5000
  * docs) with one JVM pass. Bit semantics are EXACTLY the HOF chain's:
  * h31 = h64 div 2^31 recovers the 30-bit polynomial word hash (< 2^30,
  * so the old form's double division by 2^j was exact and equals the
  * shift), each element contributes ((h31 >> j) & 1) * 2 - 1 to bit
  * j's counter, bit j is set iff its counter >= 0. Edge semantics
  * preserved: EMPTY shingle array -> all 24 counters are 0 >= 0 -> all
  * bits set (16777215); NULL input behaves like empty (the old HOF
  * chain's `when(size(..) >= 3, ..).otherwise(array())` turned a NULL
  * text into the empty shingle array, never a NULL), hence eval
  * overridden instead of nullSafeEval and nullable=false —
  * SimHashKernelSpec pins both edges.
  */
case class SimHash24(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return 16777215L // ≡ empty shingle set: all bits set
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sums = new Array[Long](24)
    var i = 0
    while (i < n) {
      val h31 = hs.getLong(i) / Shift
      var j = 0
      while (j < 24) {
        sums(j) += ((h31 >> j) & 1L) * 2 - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 24) {
      if (sums(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Round-15 (VERDICT r14 next-#5): real generated code — the r14
    * version was `CodegenFallback`, i.e. a per-row boxed interpreted
    * eval embedded in an otherwise codegen'd dedup stage. The loop
    * below is the literal Java transcription of [[eval]]; hand-rolled
    * (not nullSafeCodeGen) because a NULL input must yield 16777215,
    * not NULL — same pattern as [[LshBucket]]. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val c = childGen.value
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val h31 = ctx.freshName("h31")
    val sums = ctx.freshName("sums")
    val body =
      s"""
         |${childGen.code}
         |long ${ev.value} = 16777215L;
         |if (!(${childGen.isNull})) {
         |  int $n = $c.numElements();
         |  long[] $sums = new long[24];
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $h31 = $c.getLong($i) / ${Shift}L;
         |    for (int $j = 0; $j < 24; $j++) {
         |      $sums[$j] += (($h31 >> $j) & 1L) * 2 - 1;
         |    }
         |  }
         |  ${ev.value} = 0L;
         |  for (int $j = 0; $j < 24; $j++) {
         |    if ($sums[$j] >= 0) ${ev.value} |= (1L << $j);
         |  }
         |}
       """.stripMargin
    ev.copy(code = code"$body", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit shingle-hash array -> LSH band keys (graft_minhash_bands):
  * permutes the high 30 bits (h64 div 2^31 = h31) with all NumPerms
  * permutations in one loop, then fuses each band's mins with the
  * collision-resistant (acc * P + m) mod Q fold. Returns NULL for an
  * empty shingle set so shingle-less docs never share a bucket
  * (mirrors list_min(empty) = NULL in the oracle).
  */
case class MinHashBandKeys(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** The empty shingle set maps to NULL regardless of input
    * nullability (that return was always there; the CodegenFallback
    * path just never declared it). */
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashExprs.bandKeysJava(input.asInstanceOf[ArrayData])

  /** Round-15: real codegen replacing `CodegenFallback` (see
    * [[ShingleHash64s.doGenCode]]). Hand-rolled because a NON-null
    * empty input yields a NULL result, which `nullSafeCodeGen`
    * cannot express. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    val body =
      s"""
         |${childGen.code}
         |boolean ${ev.isNull} = true;
         |$arrCls ${ev.value} = null;
         |if (!(${childGen.isNull})) {
         |  ${ev.value} = graft.functions.MinHashExprs.bandKeysJava(${childGen.value});
         |  ${ev.isNull} = ${ev.value} == null;
         |}
       """.stripMargin
    ev.copy(code = code"$body")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
