package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalable global ordinals (the `__order__` discipline of SURVEY §7.1
  * for operations that need a *total* order: iloc slices, factorize
  * codes, qcut bucket boundaries).
  *
  * A plain `row_number() over (orderBy ...)` collapses to a single
  * partition (WindowExec warns, and at 100 TB it simply doesn't run).
  * The distributed equivalent is the classic two-pass zip, expressed
  * here ENTIRELY in the DataFrame algebra (the round-2 version dropped
  * to `df.rdd.zipWithIndex`, leaving Tungsten and paying an
  * InternalRow→Row deserialization of every row — SCALE.md round-3
  * target):
  *
  *   1. a bounds pass collects ≤ n-1 approximate quantiles of the
  *      leading sort key (bounded driver state — the same footprint as
  *      RangePartitioner's sampled bounds, which this replaces);
  *   2. bucket id = a DETERMINISTIC literal-fold expression over those
  *      bounds. Determinism is the load-bearing property:
  *      `repartitionByRange` samples its bounds with an
  *      execution-seeded RNG, so two plan branches over the same input
  *      can land rows in DIFFERENT partitions — an offsets branch
  *      computed against one layout silently misaligns with a data
  *      branch computed against another (caught by GlobalOrderSpec's
  *      nested-call test; exchange reuse does NOT save you, because
  *      column pruning canonicalizes the two exchange subtrees
  *      differently). Literal bounds make every branch agree by
  *      construction;
  *   3. ONE hash exchange on the bucket id; an exclusive running
  *      count `over (partition by bucket order by sortCols rows
  *      between unbounded preceding and 1 preceding)` — the exchange
  *      satisfies the window's distribution, so no second shuffle and
  *      no partition-less window;
  *   4. bucket row counts = a tiny aggregate; bucket start offsets = a
  *      triangular self-join prefix sum over those ≤ n rows
  *      (no partition-less window — PlanHygieneSpec forbids those);
  *   5. ordinal = joined bucket offset + in-bucket counter. Without
  *      group keys the offsets are ≤ n rows and are broadcast; with
  *      group keys they carry one row per (group, bucket) and grow with
  *      the group count, so they get no hint and AQE broadcasts them
  *      only when their runtime size is under the threshold.
  *
  * [[prefixSum]] is the same body with a weight column in place of
  * the count and optional group keys in front of the bucket id.
  *
  * Everything stays whole-stage-codegen except the exchanges. Ties on
  * the leading key all land in one bucket (exactly RangePartitioner's
  * behavior for a single-key sort), so heavy skew on ONE value
  * degrades to that bucket's window — the same degradation a range
  * exchange has. Non-numeric leading keys (no percentile_approx
  * support) fall back to the rdd zip, which shares lineage between its
  * count job and data job and is therefore also consistent.
  *
  * With a total order (sort keys + tiebreaks unique) the assigned
  * ordinal is exactly `row_number() - 1`, so correctness oracles are
  * unchanged — only the physical plan differs.
  */
object GlobalOrder {

  private def quantileSupported(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Round-15 (guide §2, partitioning-follows-data): input rows at or
    * below which the whole input is ONE bucket. The bounds
    * probe returns the row count in the same action, so a tiny input
    * (e.g. a 150-row group histogram from
    * DistributedPercentile.exactGroupedStacked) does not fan every
    * stage of the ordinal machinery into `spark.sql.shuffle.partitions`
    * near-empty tasks — at a cluster's thousands of partitions that is
    * thousands of no-op tasks per query. Bucket layout never affects
    * the computed values (bounds only balance buckets —
    * GlobalOrderSpec pins the ordinals on both sides of this cut-off). */
  private val OneBucketRows = 16384L

  /** df + `ordinalCol` (0-based long) following `sortCols` order. */
  def zipOrdinal(df: DataFrame, sortCols: Seq[Column], ordinalCol: String = "__ord"): DataFrame = {
    val leadType = df.select(sortCols.head.as("__go_k")).schema.head.dataType
    if (!quantileSupported(leadType)) zipOrdinalRdd(df, sortCols, ordinalCol)
    // an exclusive running count over a total order is row_number() - 1
    else bucketedPrefixSum(df, Nil, sortCols, lit(1L), ordinalCol)
  }

  /** Scalable weighted EXCLUSIVE prefix sum (round-15): adds `outCol`
    * = Σ weight over rows whose `key` sorts strictly below this row's,
    * optionally within `partKeys` groups. The building block for
    * rank-from-histogram statistics (agg_spearman*): given a DISTINCT
    * (key → weight=count) histogram, `outCol` is the count of original
    * rows below the key, from which pandas' average rank is
    * `below + (cnt+1)/2` with no row-level global window.
    *
    * Requires key values DISTINCT within each partKeys group (it is a
    * histogram operator — ties would double-count); callers own that
    * invariant. Unlike a single-partition window, heavy skew on one
    * key value cannot concentrate rows: distinct keys spread over
    * buckets by value.
    */
  def prefixSum(df: DataFrame, partKeys: Seq[String], keyCol: String,
                weightCol: String, outCol: String): DataFrame =
    bucketedPrefixSum(df, partKeys, Seq(col(keyCol)), col(weightCol), outCol)

  /** The one body behind [[zipOrdinal]] and [[prefixSum]]: `outCol` =
    * Σ `weight` over the rows before this one in `sortCols` order,
    * within `partKeys` groups (the steps are listed in the object
    * scaladoc). The leading sort key must be numeric or temporal. */
  private def bucketedPrefixSum(df: DataFrame, partKeys: Seq[String],
      sortCols: Seq[Column], weight: Column, outCol: String): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val lead = sortCols.head.cast("double")
    // pass 1: ≤ n-1 bucket bounds (approximate is fine — bounds only
    // balance buckets, never affect the values) + the row count in
    // the SAME action for the one-bucket collapse
    val probs = array((1 until n).map(i => lit(i.toDouble / n)): _*)
    val row1 = df
      .select(percentile_approx(lead, probs, lit(10000)).as("q"),
        count(lit(1)).as("__go_n"))
      .head()
    val bounds: Seq[Double] =
      if (row1.getLong(1) <= OneBucketRows) Seq.empty
      else row1.getSeq[Any](0) match {
        case null => Seq.empty
        case qs => qs.distinct.filter(_ != null).map(_.asInstanceOf[Double])
      }

    // deterministic bucket id: count of bounds strictly below the key;
    // NULL keys bucket to 0 = Spark's nulls-first ascending order.
    // Binary search over the literal bounds (functions/SearchSorted),
    // NOT a when-chain fold: at 256 partitions the 255-node fold fell
    // off the fast codegen path and cost 60 s on a 15M-row ordinal
    // (31 min on the sf100 qcut) — the generated Arrays.binarySearch
    // call is O(log n) per row and stays inside whole-stage codegen
    val pidExpr = graft.functions.SearchSorted.bucketOf(lead, bounds,
      inclusive = false)

    // empty bounds = constant pid: shrink the exchange to 1 partition
    // so the other n−1 tasks don't exist at all
    val nPart = if (bounds.isEmpty) 1 else n
    val bucketKeys = partKeys.map(col) :+ col("__go_pid")
    val base = df.withColumn("__go_pid", pidExpr)
      .repartition(nPart, bucketKeys: _*)
    // the exchange satisfies the window's distribution: no second
    // shuffle and no partition-less window
    val w = Window.partitionBy(bucketKeys: _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCtr = base.withColumn("__go_ctr",
      coalesce(sum(weight).over(w), lit(0L)))
    // per-(group, bucket) totals; triangular prefix over ≤ n tiny rows
    // per group (empty buckets contribute nothing to either side, so
    // offsets stay contiguous)
    val counts = base.groupBy(bucketKeys: _*).agg(sum(weight).as("__go_cnt"))
    val cond = partKeys.map(k => col(s"a.$k") <=> col(s"b.$k"))
      .foldLeft(col("b.__go_pid") < col("a.__go_pid"))(_ && _)
    // offsets carry their group keys renamed so the join back can be
    // null-safe (`<=>`): a NULL group key is a group like any other
    val offKeys = partKeys.indices.map(i => s"__go_g$i")
    val offsets = counts.as("a")
      .join(counts.as("b"), cond, "left")
      .groupBy(partKeys.map(k => col(s"a.$k")) :+ col("a.__go_pid"): _*)
      .agg(coalesce(sum(col("b.__go_cnt")), lit(0L)).as("__go_off"))
      .toDF(offKeys ++ Seq("__go_opid", "__go_off"): _*)
    val onKeys = partKeys.zip(offKeys).map { case (k, o) => col(k) <=> col(o) }
      .foldLeft(col("__go_pid") === col("__go_opid"))(_ && _)
    // ≤ n offset rows without groups; with groups the side grows with
    // the group count, and AQE picks the join by runtime size
    withCtr.join(if (partKeys.isEmpty) broadcast(offsets) else offsets, onKeys)
      .withColumn(outCol, col("__go_off") + col("__go_ctr"))
      .drop(offKeys ++ Seq("__go_pid", "__go_opid", "__go_ctr", "__go_off"): _*)
  }

  /** Lineage-shared rdd zip: the zipWithIndex count job and the data
    * job run over the SAME shuffled RDD, so the layout is consistent
    * by construction. Non-columnar — kept as the fallback for sort
    * keys percentile_approx can't bucket. */
  private def zipOrdinalRdd(df: DataFrame, sortCols: Seq[Column], ordinalCol: String): DataFrame = {
    val spark = df.sparkSession
    val arranged = df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
    val schema = StructType(arranged.schema.fields :+ StructField(ordinalCol, LongType, nullable = false))
    val zipped = arranged.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ idx)
    }
    spark.createDataFrame(zipped, schema)
  }
}
