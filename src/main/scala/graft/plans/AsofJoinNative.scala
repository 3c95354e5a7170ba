package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Native as-of join operator: LogicalPlan + Strategy + SparkPlan
  * (SURVEY §4 "custom Catalyst work"; SCALE.md round-2 target #3) —
  * graft's one as-of join, behind `PFrame.mergeAsof` and every
  * `join_asof_*` query. It is the physical form of the reference's
  * sorted pointer walk (`_libs/join.pyx:725`
  * asof_join_backward_on_X_by_Y), distributed:
  *
  *   - `requiredChildDistribution` co-partitions both sides on the
  *     `by` keys (EnsureRequirements inserts the exchanges, exactly as
  *     for a sort-merge join);
  *   - `requiredChildOrdering` sorts each side by (by, ts) within
  *     partitions;
  *   - `doExecute` zips partitions and walks both sorted iterators
  *     once, carrying the latest right row per key — O(n+m) per
  *     partition, no window buffers, no union blow-up.
  *
  * Semantics (pandas `merge_asof`, checked against the DuckDB ASOF
  * JOIN oracle): unmatched left rows are null-padded;
  *
  *   - direction=backward: latest right row with rts <= lts
  *     (rts < lts when allowExactMatches=false);
  *   - direction=forward: earliest right row with rts >= lts
  *     (rts > lts when strict) — the `join.pyx:812`
  *     asof_join_forward_on_X_by_Y kernel;
  *   - direction=nearest: closer of the two, backward wins ties —
  *     the `join.pyx:900` asof_join_nearest_on_X_by_Y kernel;
  *   - toleranceUs: a match farther than the tolerance (in the match
  *     direction) is nulled.
  *
  * All variants remain ONE forward pointer walk per partition: the
  * backward candidate is carried, the forward candidate is simply the
  * unconsumed right head — no lookahead buffer, because left rows
  * arrive in ascending ts order so a right row is either already
  * consumed (behind every future left ts) or still ahead.
  */
case class AsofJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightValues: Seq[Attribute],
    direction: String = "backward",
    toleranceUs: Option[Long] = None,
    allowExactMatches: Boolean = true)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lb, rb, lts, rts, vals, dir, tol, exact) =>
      AsofJoinExec(planLater(l), planLater(r), lb, rb, lts, rts, vals,
        dir, tol, exact) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftBy: Seq[Attribute],
    rightBy: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightValues: Seq[Attribute],
    direction: String = "backward",
    toleranceUs: Option[Long] = None,
    allowExactMatches: Boolean = true)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightValues.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(leftBy, requireAllClusterKeys = true, None),
    ClusteredDistribution(rightBy, requireAllClusterKeys = true, None))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftBy :+ leftTs).map(a => SortOrder(a, Ascending)),
    (rightBy :+ rightTs).map(a => SortOrder(a, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lByIdx = leftBy.map(a => leftOut.indexWhere(_.exprId == a.exprId)).toArray
    val rByIdx = rightBy.map(a => rightOut.indexWhere(_.exprId == a.exprId)).toArray
    val lTsIdx = leftOut.indexWhere(_.exprId == leftTs.exprId)
    val rTsIdx = rightOut.indexWhere(_.exprId == rightTs.exprId)
    val byTypes = leftBy.map(_.dataType).toArray
    val nVals = rightValues.size
    val valueExprs: Seq[Expression] = rightValues
    val outAttrs = output
    val dir = direction
    val tol = toleranceUs.getOrElse(Long.MaxValue)
    val exact = allowExactMatches
    val needBack = dir != "forward"
    val needFwd = dir != "backward"

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val valueProj = UnsafeProjection.create(valueExprs, rightOut)
      // bind against nullable copies: the null-padded row must survive
      // projection even when the right schema declared non-null
      val resultProj = UnsafeProjection.create(outAttrs,
        leftOut ++ rightValues.map(_.withNullability(true)))
      val orderings = byTypes.map(dt =>
        TypeUtils.getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]])
      val nullValues = new GenericInternalRow(nVals)
      val joined = new JoinedRow

      def cmpBy(l: InternalRow, r: InternalRow): Int = {
        var i = 0
        while (i < byTypes.length) {
          val c = orderings(i).compare(
            l.get(lByIdx(i), byTypes(i)), r.get(rByIdx(i), byTypes(i)))
          if (c != 0) return c
          i += 1
        }
        0
      }

      def cmpByRR(a: InternalRow, b: InternalRow): Int = {
        var i = 0
        while (i < byTypes.length) {
          val c = orderings(i).compare(
            a.get(rByIdx(i), byTypes(i)), b.get(rByIdx(i), byTypes(i)))
          if (c != 0) return c
          i += 1
        }
        0
      }

      new Iterator[InternalRow] {
        private var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
        // latest consumed right row (key compare at use time)...
        private var candVals: UnsafeRow = _
        private var candRow: InternalRow = _
        private var candTs: Long = _
        // ...plus the latest consumed row with a STRICTLY EARLIER ts:
        // in strict mode an exact-ts row is consumed (it will be the
        // best match of later left rows) but must not erase the match
        // of the CURRENT left row
        private var prevVals: UnsafeRow = _
        private var prevRow: InternalRow = _
        private var prevTs: Long = _

        // pandas merge_asof raises on null merge keys
        // (reshape/merge.py _AsOfMerge: "Merge keys contain null
        // values"); the pointer walk assumes total order, so guard here
        private def checkKeys(row: InternalRow, byIdx: Array[Int],
            tsIdx: Int, side: String): Unit = {
          var i = 0
          while (i < byIdx.length) {
            if (row.isNullAt(byIdx(i))) throw new IllegalArgumentException(
              s"as-of join: null 'by' key on $side side — merge keys must be non-null")
            i += 1
          }
          if (row.isNullAt(tsIdx)) throw new IllegalArgumentException(
            s"as-of join: null 'on' timestamp on $side side — merge keys must be non-null")
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          checkKeys(l, lByIdx, lTsIdx, "left")
          val lts = l.getLong(lTsIdx)
          var continue = rHead != null
          while (continue) {
            checkKeys(rHead, rByIdx, rTsIdx, "right")
            val c = cmpBy(l, rHead)
            // a right row behind the walk front is CONSUMED; with a
            // backward need every consumed same-key row is recorded as
            // the carried candidate (admissibility vs a given left ts
            // is checked per left row below, so a strict-mode exact-ts
            // row can be consumed now yet only match LATER left rows).
            // An exact-ts row stays unconsumed only when it is the
            // forward candidate of a forward-only exact walk.
            val rts = if (c == 0) rHead.getLong(rTsIdx) else 0L
            val behind = c > 0 ||
              (c == 0 && (rts < lts || (rts == lts && (!exact || needBack))))
            if (behind) {
              if (c == 0 && needBack) {
                if (candRow == null || cmpByRR(rHead, candRow) != 0) {
                  prevRow = null // new right key: older candidates are dead
                } else if (rts > candTs) {
                  prevVals = candVals; prevRow = candRow; prevTs = candTs
                } // equal ts: replace cand in place, prev unchanged
                candVals = valueProj(rHead).copy()
                candRow = rHead.copy()
                candTs = rts
              }
              rHead = if (rIter.hasNext) rIter.next() else null
              continue = rHead != null
            } else {
              continue = false
            }
          }
          // backward candidate: carried row, still this key, on the
          // admissible side of lts, within tol; in strict mode fall
          // back to the strictly-earlier slot when the carried row is
          // the exact-ts match
          var backVals: UnsafeRow = null
          var backTs = 0L
          if (needBack && candRow != null && cmpBy(l, candRow) == 0) {
            if ((candTs < lts || (candTs == lts && exact)) && lts - candTs <= tol) {
              backVals = candVals; backTs = candTs
            } else if (!exact && candTs == lts && prevRow != null &&
                cmpBy(l, prevRow) == 0 && lts - prevTs <= tol) {
              backVals = prevVals; backTs = prevTs
            }
          }
          val backOk = backVals != null
          // forward candidate: the unconsumed right head, this key,
          // admissible side of lts, within tol
          var fwdTs = 0L
          val fwdOk = needFwd && rHead != null && cmpBy(l, rHead) == 0 && {
            fwdTs = rHead.getLong(rTsIdx)
            (fwdTs > lts || (fwdTs == lts && exact)) && fwdTs - lts <= tol
          }
          val useBack =
            if (!backOk) false
            else if (!fwdOk) true
            else if (dir == "backward") true
            // nearest: backward wins ties (join.pyx:900)
            else lts - backTs <= fwdTs - lts
          if (useBack) resultProj(joined(l, backVals))
          else if (fwdOk) resultProj(joined(l, valueProj(rHead)))
          else resultProj(joined(l, nullValues))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsofJoinNative {

  /** Keyless (global) as-of join through the SAME native merge-walk
    * (VERDICT r7 next-#8; reference kernels `_libs/join.pyx:725-900`
    * with `by=None`). The keyed operator co-partitions on the `by`
    * keys — with no keys that would degenerate to one partition — so
    * the global form manufactures a `by` key that IS a range
    * partitioning of time:
    *
    *   1. bounds = left-ts quantiles (deterministic Greenwald–Khanna
    *      sketch, one column-pruned pass — the same sampling cost a
    *      global sort's RangePartitioner pays);
    *   2. both sides get `__pid` = range-bucket(ts) as a map-side
    *      codegen'd expression, so the hash exchange AsofJoinExec
    *      requires co-locates time ranges — a range partitioning in
    *      disguise, with per-partition memory O(rows/bucket);
    *   3. boundary handoff: per bucket, the LAST right row (backward
    *      carry) and FIRST right row (forward carry) — ≤2·buckets tiny
    *      rows — are collected, prefix/suffix-scanned on the driver,
    *      and re-injected as ordinary right rows of the neighboring
    *      buckets. The walk needs no special cases: a backward carry
    *      sorts first in its bucket and is consumed as the initial
    *      candidate; a forward carry sorts last and stays the
    *      unconsumed head. Cross-bucket rows are strictly ordered
    *      versus every left ts in the bucket (lts < bound ≤ rts), so
    *      strict-mode exact-ts handling stays intra-bucket and one
    *      carry per direction per bucket is sufficient.
    *
    * Scales exactly like the keyed walk over a balanced synthetic key:
    * one exchange per side, O(n+m) walk per partition, driver state
    * O(buckets) — the same footprint as broadcasting range bounds.
    */
  def global(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      direction: String = "backward",
      toleranceUs: Option[Long] = None,
      allowExactMatches: Boolean = true): DataFrame = {
    import org.apache.spark.sql.{Column, Row}
    // selective import: functions.left/right would shadow the params
    import org.apache.spark.sql.functions.{col, lit, max_by, min_by, struct, unix_micros, when}

    checkArgs(left, right, Nil, leftTs, rightTs, direction)
    val spark = left.sparkSession
    def micros(df: DataFrame, c: String): Column =
      if (df.schema(c).dataType == LongType) col(c) else unix_micros(col(c))

    val n = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // epoch micros < 2^53 are exact in double, so the quantile sketch
    // loses nothing; bounds only steer bucket balance, never results.
    // One sketch job over the codegen'd scan (operators/QuantileSketch);
    // an empty left side sketches nothing and gets no bounds
    val bounds: Array[Long] =
      if (n == 1) Array.empty
      else graft.operators.QuantileSketch(
          left.select(micros(left, leftTs).cast("double")).queryExecution.toRdd, 0.001)
        ._1.query((1 until n).map(_.toDouble / n)).getOrElse(Nil)
        .map(_.toLong).distinct.sorted.toArray

    // bucket id = #bounds ≤ ts via generated binary search
    // (functions/SearchSorted) — the literal when-chain fold this
    // replaces was a 255-node expression at 256 partitions, off the
    // fast codegen path (measured 125 s on the sf100 keyless as-of;
    // same pathology as GlobalOrder's qcut at 31 min)
    def withPid(df: DataFrame, c: String): DataFrame = df
      .withColumn("__pid", graft.functions.SearchSorted.bucketOf(
        micros(df, c).cast("double"), bounds.map(_.toDouble),
        inclusive = true))

    val leftP = withPid(left, leftTs)
    val rightCols = (rightTs +: valueCols).distinct
    val rightPid = withPid(right.select(rightCols.map(col): _*), rightTs)

    // per-bucket first/last right rows -> driver (≤ buckets tiny rows)
    val perBucket = rightPid.groupBy(col("__pid")).agg(
      max_by(struct(rightCols.map(col): _*), col(rightTs)).as("__last"),
      min_by(struct(rightCols.map(col): _*), col(rightTs)).as("__first"))
      .collect()
      .map(r => r.getInt(0) -> (r.getStruct(1), r.getStruct(2))).toMap
    val numBuckets = bounds.length + 1
    val carry = scala.collection.mutable.ArrayBuffer.empty[Row]
    if (direction != "forward") {
      var lastSoFar: Row = null
      var p = 0
      while (p < numBuckets) {
        if (lastSoFar != null) carry += Row.fromSeq(lastSoFar.toSeq :+ p)
        perBucket.get(p).foreach { case (l, _) => lastSoFar = l }
        p += 1
      }
    }
    if (direction != "backward") {
      var firstAfter: Row = null
      var p = numBuckets - 1
      while (p >= 0) {
        if (firstAfter != null) carry += Row.fromSeq(firstAfter.toSeq :+ p)
        perBucket.get(p).foreach { case (_, f) => firstAfter = f }
        p -= 1
      }
    }
    val carryDf = spark.createDataFrame(
      spark.sparkContext.parallelize(carry.toSeq, 1), rightPid.schema)

    join(leftP, rightPid.unionByName(carryDf), Seq("__pid"),
      leftTs, rightTs, valueCols, direction, toleranceUs, allowExactMatches)
      .drop("__pid")
  }

  /** As-of join on the `by` keys through the native operator.
    * `left`/`right` may share lineage: the right side is re-aliased
    * with fresh expression ids before plan construction.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      by: Seq[String],
      leftTs: String,
      rightTs: String,
      valueCols: Seq[String],
      direction: String = "backward",
      toleranceUs: Option[Long] = None,
      allowExactMatches: Boolean = true): DataFrame = {
    require(by.nonEmpty,
      "as-of join: no 'by' keys; use AsofJoinNative.global for a keyless as-of join")
    checkArgs(left, right, by, leftTs, rightTs, direction)
    val lPlan = GraftSqlBridge.analyzed(left)
    val rAnalyzed = GraftSqlBridge.analyzed(right)
    // the custom node gets no column pruning, so the right side is
    // projected here to the columns the walk reads; the aliases give
    // them fresh exprIds so self-joins stay unambiguous
    val rKeep = ((by :+ rightTs) ++ valueCols).distinct
    val rAliases = rKeep.map(c => Alias(attrOf(rAnalyzed.output, c), c)())
    val rPlan = Project(rAliases, rAnalyzed)
    val rOut: Seq[Attribute] = rAliases.map(_.toAttribute)

    val node = AsofJoinPlan(
      lPlan, rPlan,
      by.map(attrOf(lPlan.output, _)),
      by.map(attrOf(rOut, _)),
      attrOf(lPlan.output, leftTs),
      attrOf(rOut, rightTs),
      valueCols.map(attrOf(rOut, _)),
      direction, toleranceUs, allowExactMatches)
    GraftSqlBridge.ofRows(left.sparkSession, node)
  }

  private def attrOf(out: Seq[Attribute], name: String): Attribute =
    out.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"column $name not found"))

  private def checkArgs(left: DataFrame, right: DataFrame, by: Seq[String],
      leftTs: String, rightTs: String, direction: String): Unit = {
    require(Set("backward", "forward", "nearest")(direction),
      s"as-of join: unknown direction '$direction'")
    def typeOf(df: DataFrame, name: String): DataType =
      df.schema.find(_.name == name).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    // the merge walk reads timestamps via getLong — admit only
    // long-backed ordered types (DateType is int-backed; reject it
    // rather than misread)
    val lTsType = typeOf(left, leftTs)
    val rTsType = typeOf(right, rightTs)
    Seq(leftTs -> lTsType, rightTs -> rTsType).foreach {
      case (_, TimestampType | TimestampNTZType | LongType) => ()
      case (name, dt) => throw new IllegalArgumentException(
        s"as-of join: 'on' column $name has type ${dt.simpleString}; " +
          "expected timestamp, timestamp_ntz or long")
    }
    // each exchange hashes its side by that side's own key type and
    // the walk reads both sides with the left type's ordering, so
    // mismatched types would silently drop matches; pandas raises
    // "incompatible merge keys ... must be the same type"
    def sameType(role: String, l: String, lt: DataType, r: String, rt: DataType): Unit =
      if (!DataTypeUtils.sameType(lt, rt)) throw new IllegalArgumentException(
        s"as-of join: incompatible $role keys: left $l is ${lt.simpleString}, " +
          s"right $r is ${rt.simpleString}; merge keys must be the same type")
    sameType("'on'", leftTs, lTsType, rightTs, rTsType)
    by.foreach(k => sameType("'by'", k, typeOf(left, k), k, typeOf(right, k)))
  }
}
