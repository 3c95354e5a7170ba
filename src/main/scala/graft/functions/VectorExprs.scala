package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/* Codegen'd vector kernels for the similarity family.
  *
  * The higher-order-function dot product
  * (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is semantically right
  * and oracle-friendly, but HOF lambdas evaluate interpreted per
  * element AND materialize the zipped products array per pair — on
  * `sim_cosine_topk` that's Dim allocations × candidates × queries.
  * [[DotProduct]] runs the identical left-to-right fused
  * multiply-accumulate in generated Java: same float→double widening,
  * same product rounding, same summation order, so results are
  * bit-identical to the HOF form and the DuckDB `list_reduce` oracle —
  * just without the intermediate array or lambda dispatch.
  *
  * (reference analogue: pandas delegates `Series.dot` to numpy BLAS —
  * `frame.py:1458`; the Spark-native equivalent of "drop to the fast
  * kernel" is a custom Expression inside whole-stage codegen.)
  */

/** Johnson–Lindenstrauss sign projection of a float-array embedding to
  * `outDim` doubles in ONE pass over the vector: out[j] = Σ_i emb[i] ·
  * s(i, j) over 1-based dims, where the deterministic ±1 sign comes
  * from an avalanche-style integer hash of (i, j):
  *
  *   k0 = i·131071 + j·524287
  *   k1 = (k0 · 2654435761) mod 2^32        (Knuth multiplicative)
  *   k2 = k1 xor (k1 >> 16)
  *   k3 = (k2 · 999999937) mod 2^32
  *   s  = +1 iff k3 < 2^31
  *
  * A LINEAR mix (the LshBucket plane formula) is not good enough here:
  * sign columns of s(a·i + b·j mod m) are phase shifts of ONE base
  * sequence, so the 16 projections are correlated and JL distortion
  * collapses (measured p05 distance ratio 0.20). The xor-mix breaks
  * the shift structure; every multiplier keeps intermediates < 2^63 so
  * Java long and DuckDB BIGINT agree exactly. Accumulation is
  * left-to-right per output dim, bit-identical to the DuckDB
  * `list_reduce` mirror in SimilarityQueries. Like the simhash lesson
  * (SCALE.md round-6): 16 independent HOF folds would re-walk the
  * array through 16 interpreted lambdas; this kernel is one generated
  * loop nest with no intermediate arrays.
  *
  * Null contract mirrors the HOF form: null array or any null element
  * -> NULL row value. */
case class RandProject(child: Expression, outDim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // NULL reachable from a non-null input (null element poisons the fold)
  override def nullable: Boolean = true

  // lazy val: the interpreted-eval fallback reads this per element per
  // output dim — re-pattern-matching the child type there is O(n*outDim)
  // redundant work (ADVICE r7)
  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_rand_project expects array<float|double>, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    val n = emb.numElements()
    var i0 = 0
    while (i0 < n) {
      if (emb.isNullAt(i0)) return null
      i0 += 1
    }
    val out = new Array[Double](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var i = 1
      while (i <= n) {
        val k1 = ((i * 131071L + j * 524287L) * 2654435761L) % 4294967296L
        val k3 = ((k1 ^ (k1 >>> 16)) * 999999937L) % 4294967296L
        val s = if (k3 < 2147483648L) 1.0 else -1.0
        val v = if (isFloat) emb.getFloat(i - 1).toDouble else emb.getDouble(i - 1)
        acc += v * s
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      val i0 = ctx.freshName("i0")
      val anyNull = ctx.freshName("anyNull")
      val get = if (isFloat) s"(double)$c.getFloat($i - 1)" else s"$c.getDouble($i - 1)"
      val k1 = ctx.freshName("k1")
      val k3 = ctx.freshName("k3")
      s"""
         |int $n = $c.numElements();
         |boolean $anyNull = false;
         |for (int $i0 = 0; $i0 < $n; $i0++) {
         |  if ($c.isNullAt($i0)) { $anyNull = true; break; }
         |}
         |if ($anyNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[$outDim];
         |  for (int $j = 0; $j < $outDim; $j++) {
         |    double $acc = 0.0;
         |    for (int $i = 1; $i <= $n; $i++) {
         |      long $k1 = (($i * 131071L + $j * 524287L) * 2654435761L) % 4294967296L;
         |      long $k3 = (($k1 ^ ($k1 >>> 16)) * 999999937L) % 4294967296L;
         |      $acc += $get * ($k3 < 2147483648L ? 1.0 : -1.0);
         |    }
         |    $out[$j] = $acc;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused multiply-accumulate over two float/double array columns,
  * returning double. Mirrors the HOF contract exactly: null array,
  * length mismatch (zip_with null-pads), or any null element (poisons
  * the fold) all yield NULL. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Can produce NULL from non-null inputs (length mismatch, null
  // element). Without this, non-nullable children would make
  // nullSafeCodeGen emit `false = true;` (Janino failure) and the
  // optimizer could prune IsNotNull filters it must not.
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_dot expects array<float|double>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // HOF contract: zip_with null-pads a length mismatch and a null
    // element poisons the fold — both yield NULL, so we must too
    if (x.numElements() != y.numElements()) return null
    val lf = isFloat(left); val rf = isFloat(right)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val gx = if (isFloat(left)) s"(double)$a.getFloat($i)" else s"$a.getDouble($i)"
      val gy = if (isFloat(right)) s"(double)$b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $acc += $gx * $gy;
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `bits`-bit hyperplane LSH bucket of a float-array embedding: bit j
  * is the sign of the projection onto deterministic plane base+j with
  * weight w(i, p) = ((i * 48271 + p * 28657) % 101) - 50 over 1-based
  * dims — integer arithmetic identical to the SQL-visible formula, and
  * the projection accumulates left-to-right exactly like the HOF
  * `aggregate(sequence(...))` form it replaces, so buckets are
  * bit-identical. All bits compute in one pass over the vector. */
case class LshBucket(child: Expression, base: Int, bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  // HOF contract: a NULL embedding nulled every projection, and
  // when(null >= 0, bit).otherwise(0) zeroed every bit — bucket 0,
  // never SQL NULL. eval/doGenCode below preserve that for null input.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val emb = input.asInstanceOf[ArrayData]
    val n = emb.numElements()
    // HOF contract: a null element made every projection null, and
    // when(null >= 0, bit).otherwise(0) zeroed every bit -> bucket 0
    var i0 = 0
    while (i0 < n) {
      if (emb.isNullAt(i0)) return 0L
      i0 += 1
    }
    var bucket = 0L
    var j = 0
    while (j < bits) {
      var acc = 0.0
      var i = 1
      while (i <= n) {
        val w = ((i * 48271 + (base + j) * 28657) % 101) - 50
        acc += emb.getFloat(i - 1).toDouble * w.toDouble
        i += 1
      }
      if (acc >= 0) bucket |= (1L << j)
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // hand-rolled (not nullSafeCodeGen): output is non-nullable but a
    // null input must yield bucket 0, so guard the child's isNull here
    val childGen = child.genCode(ctx)
    val c = childGen.value
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val n = ctx.freshName("n")
    val acc = ctx.freshName("acc")
    val w = ctx.freshName("w")
    val i0 = ctx.freshName("i0")
    val anyNull = ctx.freshName("anyNull")
    val body =
      s"""
         |${childGen.code}
         |long ${ev.value} = 0L;
         |if (!(${childGen.isNull})) {
         |  int $n = $c.numElements();
         |  boolean $anyNull = false;
         |  for (int $i0 = 0; $i0 < $n; $i0++) {
         |    if ($c.isNullAt($i0)) { $anyNull = true; break; }
         |  }
         |  if (!$anyNull) for (int $j = 0; $j < $bits; $j++) {
         |    double $acc = 0.0;
         |    for (int $i = 1; $i <= $n; $i++) {
         |      int $w = (($i * 48271 + ($base + $j) * 28657) % 101) - 50;
         |      $acc += (double)$c.getFloat($i - 1) * (double)$w;
         |    }
         |    if ($acc >= 0) ${ev.value} |= (1L << $j);
         |  }
         |}
       """.stripMargin
    ev.copy(code = code"$body", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Squared L2 distance over two float/double array columns — the same
  * fused loop as [[DotProduct]] with the HOF's exact operation order
  * per element: widen, subtract (round), square (round), accumulate. */
case class L2Sq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL reachable from non-null inputs — same rationale as DotProduct.
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_l2sq expects array<float|double>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lf = isFloat(left); val rf = isFloat(right)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val dd = xv - yv
      acc += dd * dd
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val bad = ctx.freshName("bad")
      val gx = if (isFloat(left)) s"(double)$a.getFloat($i)" else s"$a.getDouble($i)"
      val gy = if (isFloat(right)) s"(double)$b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $dd = $gx - $gy;
         |    $acc += $dd * $dd;
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
