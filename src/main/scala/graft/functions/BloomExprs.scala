package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership probe for join pruning.
  *
  * The 100 TB pattern: a semi join whose build side is too large to
  * broadcast as a hash relation often still fits as a Bloom filter
  * (~1.2 MB per million keys at 1% fpp). Build the filter with one
  * distributed pass (`DataFrameStatFunctions.bloomFilter`, a
  * treeAggregate), ship the bytes to every task as a literal, and
  * pre-filter the probe side *inside its scan stage* — the shuffle
  * feeding the exact join then carries only true matches plus the fpp
  * tail, instead of the whole probe table. The exact semi join on the
  * survivors removes false positives, so results are exactly the plain
  * semi join's (which is what the oracle runs).
  *
  * This is the hand-rollable form of what Spark's own
  * InjectRuntimeFilter does for shuffle joins when stats justify it —
  * here it is explicit, so the pruning survives any plan shape.
  *
  * (reference analogue: pandas `isin` against a large key set,
  * `core/algorithms.py:716` — single-machine hashing; the distributed
  * rewrite needs the sketch to keep the probe map-side.)
  */
object BloomExprs {

  /** foldable-binary argument guard for `graft_bloom_contains(bytes,
    * key)` (same contract as the intArg guard in GraftExtensions): the
    * serialized filter is a plan-time parameter, and a non-literal
    * argument must fail with a named error, not an opaque
    * eval/ClassCast deep in planning. */
  private[graft] def bytesArg(es: Seq[Expression], i: Int): Array[Byte] = {
    require(i < es.length && es(i).foldable,
      s"graft_bloom_contains: argument ${i + 1} must be a literal binary " +
        "(the serialized Bloom filter)")
    es(i).eval() match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"graft_bloom_contains: argument ${i + 1} must be a literal binary, " +
          s"got $other")
    }
  }

  /** Serialized Bloom filter over a long key column, built distributed. */
  def buildBytes(keys: org.apache.spark.sql.DataFrame, col: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bf = keys.stat.bloomFilter(col, math.max(expectedItems, 1L), fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}

/** `mightContainLong` probe against a serialized
  * [[org.apache.spark.util.sketch.BloomFilter]]. No false negatives;
  * false-positive rate is the build-time fpp. NULL key yields NULL
  * (same as `key IN (build side)` with a non-null build side). The
  * filter deserializes once per task (lazily / in codegen init), not
  * per row. */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains expects a BIGINT key, got ${child.dataType}")

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bytesRef = ctx.addReferenceObj("graftBloomBytes", bloomBytes, "byte[]")
    val cls = classOf[BloomFilter].getName
    val bloomVar = ctx.addMutableState(cls, "graftBloom",
      v => s"""try {
              |  $v = $cls.readFrom(new java.io.ByteArrayInputStream($bytesRef));
              |} catch (java.io.IOException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $bloomVar.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
