package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles by DISTRIBUTED two-pass bracket
  * selection — the scale-safe replacement for Spark's exact
  * `percentile` aggregate, whose final merge concentrates a
  * value→count map of EVERY distinct value on one reducer (517 s of
  * the sf100 differential was that single merge for
  * `agg_approx_stats`'s verification half; reference semantics:
  * pandas `quantile`, interpolation='linear' — core/nanops.py).
  *
  * Passes (all map-side partial aggregates; nothing single-reducer
  * ever sees more than O(windows) state):
  *   1. one scan: non-null count + `approx_percentile` at accuracy
  *      1/eps around each target, giving value windows guaranteed
  *      (GK sketch rank-error bound ≤ N·eps) to cover the needed
  *      order statistics;
  *   2. one scan: count of rows strictly below each window's low
  *      bound (k conditional sums in a single agg);
  *   3. one scan: (value, count) histogram of rows INSIDE the union
  *      of windows — O(N·eps) rows collapsing to distinct values,
  *      collected to the driver (bounded by the window width, not by
  *      the column's distinct count) and sorted there.
  * The exact order statistics are then read off the histogram with
  * the pass-2 offsets and interpolated exactly like Spark/pandas
  * (pos = p·(n−1), linear between adjacent order stats). If a window
  * failed to cover its ranks (cannot happen within the sketch's
  * documented bound; kept as a loud safety net), the window widens
  * 8× and the selection re-runs.
  */
object DistributedPercentile {

  /** Exact percentiles of `col` in `df` (nulls ignored), Spark
    * `percentile` / pandas linear-interpolation semantics. */
  def exact(df: DataFrame, colName: String, ps: Seq[Double]): Seq[Double] = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"percentiles out of [0,1]: $ps")
    val v = df.select(col(colName).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))

    val accuracy = 10000
    var delta = 3.0 / accuracy // 3× the sketch's 1/accuracy rank bound
    var attempt = 0
    while (true) {
      attempt += 1
      val res = tryExact(v, ps, accuracy, delta)
      if (res.isDefined) return res.get
      require(attempt < 4,
        s"DistributedPercentile: windows failed to converge at delta=$delta")
      delta = math.min(0.5, delta * 8)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Exact per-GROUP interpolated percentiles — the grouped sibling of
    * [[exact]] (round-15, VERDICT r14 next-#2). Replaces
    * `groupBy(keys).agg(percentile(col, p))`, whose final merge
    * concentrates a value→count map of every distinct value PER GROUP
    * on one reducer. Rank-from-histogram, fully distributed:
    *
    *   1. ONE partial-aggregating scan builds the per-(group, value)
    *      count histogram — ties collapse map-side, so the shuffle
    *      carries distinct values, never rows (cached: the prefix-sum
    *      bounds probe and the final plan both read it);
    *   2. [[GlobalOrder.prefixSum]] attaches the exclusive running
    *      count of smaller values within each group — bucketed range
    *      partitioning + a PARTITIONED window, so no task ever holds a
    *      group's whole distinct-value set (the failure mode of both
    *      Spark's `percentile` merge and a naive per-group window);
    *   3. one conditional-max aggregate selects, per group and target,
    *      the values whose rank interval [below, below+cnt) covers the
    *      order statistics floor(p·(n−1)) and that +1.
    *
    * Interpolation is the same (1−f)·lo + f·hi convex combination with
    * the equal-brackets short-circuit as [[exact]] (bit-parity with
    * Spark's Percentile pinned by PFrame.quantile / the DuckDB
    * oracle); unlike the sketch-bracket global form there is no
    * coverage window to miss — the full histogram always covers, so
    * the selection's raise_error is a pure can't-happen invariant net.
    *
    * Contract notes: nulls and NaNs are ignored (as [[exact]]); a
    * group whose every value is null/NaN is ABSENT from the output
    * (callers needing such groups must outer-join them back). Output
    * columns: keys ++ outNames, one row per surviving group. This is
    * the one-column case of [[exactGroupedStacked]], which holds the
    * only selection and interpolation body.
    */
  def exactGrouped(df: DataFrame, keys: Seq[String], colName: String,
                   ps: Seq[Double], outNames: Seq[String]): DataFrame =
    exactGroupedStacked(
      df.select(keys.map(col) :+ lit("").as("__dp_tag") :+ col(colName).as("__dp_v"): _*),
      keys, "__dp_tag", "__dp_v", Seq(("", ps, outNames)))

  /** Multi-column sibling of [[exactGrouped]] (round-15, guide §1.2):
    * callers that want exact percentiles of SEVERAL columns over the
    * same input (agg_median_quantile: l_quantity AND l_discount) used
    * to run one full pipeline per column — one corpus scan, one
    * histogram shuffle, and one prefix-sum probe EACH. `stacked` is
    * the unpivoted frame (keys, tagCol, valCol — built map-side with
    * `stack`, no extra shuffle); the histogram, the bounds probe, and
    * the prefix sum then run ONCE over the union, with `tagCol`
    * appended to the group keys so every per-(group, column) rank is
    * computed exactly as the single-column form computes it (bucket
    * BOUNDS differ — they span both columns' values — but bounds only
    * balance buckets and never affect values). Per-column selection
    * aggregates read the shared cached histogram; results join back
    * on `keys`, one row per group. Groups where a column is all
    * null/NaN drop that column's row and, through the inner join, the
    * group — identical to joining two exactGrouped outputs. */
  def exactGroupedStacked(stacked: DataFrame, keys: Seq[String],
                          tagCol: String, valCol: String,
                          specs: Seq[(String, Seq[Double], Seq[String])]): DataFrame = {
    require(specs.nonEmpty && specs.forall { case (_, ps, names) =>
      ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0) && names.size == ps.size },
      s"bad percentile specs: $specs")
    val kcols = keys.map(col)
    val gk = kcols :+ col(tagCol)
    val v = stacked
      .select(gk :+ col(valCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull && !isnan(col("__v")))

    // 1. ONE per-(group, column, value) histogram for every column
    val hist = v.groupBy(gk :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .cache()
    // 2. ONE prefix-sum pass, ranks partitioned per (group, column)
    val ranked = GlobalOrder.prefixSum(hist, keys :+ tagCol, "__v", "__c", "__below")
    // one row per (group, column): no broadcast hint, AQE broadcasts
    // it only when its runtime size is under the threshold
    val ns = hist.groupBy(gk: _*).agg(sum(col("__c")).as("__n"))
    val withN = ranked.join(ns, keys :+ tagCol)

    // 3. per-column order-statistic selection over the shared ranked
    // frame: pos = p·(n−1), k = floor(pos); the value whose absolute
    // rank interval covers k (and k+1 when interpolating) is picked by
    // one conditional-max aggregate
    val perCol = specs.map { case (tag, ps, outNames) =>
      def pos(i: Int): Column = lit(ps(i)) * (col("__n") - 1)
      def kOf(i: Int): Column = floor(pos(i))
      val selAggs = ps.indices.flatMap { i =>
        val lo = col("__below")
        val hi = col("__below") + col("__c")
        Seq(
          max(when(lo <= kOf(i) && kOf(i) < hi, col("__v"))).as(s"__lo$i"),
          max(when(lo <= kOf(i) + 1 && kOf(i) + 1 < hi, col("__v"))).as(s"__hi$i"))
      }
      val selected = withN.filter(col(tagCol) === lit(tag))
        .groupBy(kcols: _*)
        .agg(selAggs.head, (selAggs.tail :+ max(col("__n")).as("__n")): _*)
      val outCols = ps.indices.map { i =>
        val frac = pos(i) - kOf(i)
        val lo = col(s"__lo$i"); val hi = col(s"__hi$i")
        when(lo.isNull || (frac > 0.0 && hi.isNull), raise_error(lit(
          s"DistributedPercentile.exactGroupedStacked: rank not covered " +
          s"for p=${ps(i)} ($tag) — histogram/prefix-sum invariant violated")))
          .when(frac === 0.0 || hi <=> lo, lo)
          .otherwise(lo * (lit(1.0) - frac) + hi * frac)
          .as(outNames(i))
      }
      selected.select(kcols ++ outCols: _*)
    }
    perCol.reduce(_.join(_, keys))
  }

  private def tryExact(v: DataFrame, ps: Seq[Double], accuracy: Int,
                       delta: Double): Option[Seq[Double]] = {
    // pass 1: count + bracket windows in ONE scan
    val probes = ps.flatMap(p =>
      Seq(math.max(0.0, p - delta), math.min(1.0, p + delta)))
    val row1 = v.agg(
      count(lit(1)).as("n"),
      expr(s"approx_percentile(v, array(${probes.mkString(",")}), $accuracy)")
        .as("w")).head()
    val n = row1.getLong(0)
    if (n == 0) return Some(ps.map(_ => Double.NaN))
    val w = row1.getSeq[Double](1)
    val windows = ps.indices.map(j => (w(2 * j), w(2 * j + 1)))

    // pass 2: rows strictly below each window's low bound
    val belowCols: Seq[Column] = windows.map { case (lo, _) =>
      sum(when(col("v") < lo, 1L).otherwise(0L)) }
    val row2 = v.agg(belowCols.head, belowCols.tail: _*).head()
    val belows = ps.indices.map(j => row2.getLong(j))

    // pass 3: distinct-value histogram inside the union of windows,
    // sorted on the driver: it is collected anyway, and a distributed
    // orderBy would add a range-bounds sampling job and a sort
    // exchange. Values are distinct, non-NaN and zero-normalized by
    // the groupBy, so the total order matches Spark's ascending sort.
    val inAny = windows.map { case (lo, hi) =>
      col("v") >= lo && col("v") <= hi }.reduce(_ || _)
    val hist = v.filter(inAny).groupBy(col("v")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(_._1)(Ordering.Double.TotalOrdering)

    val out: Seq[Option[Double]] = ps.indices.map { j =>
      val (lo, hi) = windows(j)
      val pos = ps(j) * (n - 1)
      val k = pos.toLong
      val frac = pos - k
      val entries = hist.filter(e => e._1 >= lo && e._1 <= hi)
      val inWin = entries.map(_._2).sum
      // coverage: order stats k and (k+1 when interpolating) must lie
      // inside [belows(j), belows(j) + inWin)
      val need = if (frac > 0) k + 1 else k
      if (belows(j) > k || belows(j) + inWin <= need) None
      else {
        def orderStat(idx: Long): Double = {
          var cum = belows(j)
          var res = Double.NaN
          val it = entries.iterator
          var found = false
          while (!found && it.hasNext) {
            val (value, cnt) = it.next()
            if (idx < cum + cnt) { res = value; found = true } else cum += cnt
          }
          res
        }
        val lo1 = orderStat(k)
        // convex combination, NOT lo + f*(hi−lo): Spark's Percentile
        // aggregate interpolates (1−f)·lo + f·hi and the two forms
        // differ by an ulp — this operator must be bit-equal to the
        // aggregate it replaces (PFrame.quantile pins that). Spark
        // additionally short-circuits equal bracketing order stats
        // (lowerKey == higherKey returns lowerKey verbatim); inside a
        // tie run (1−f)·lo + f·lo can differ from lo by 1 ulp, so the
        // same short-circuit is required for bit equality.
        val hi1 = if (frac == 0) lo1 else orderStat(k + 1)
        Some(if (frac == 0 || hi1 == lo1) lo1
             else lo1 * (1.0 - frac) + hi1 * frac)
      }
    }
    if (out.exists(_.isEmpty)) None else Some(out.map(_.get))
  }
}
