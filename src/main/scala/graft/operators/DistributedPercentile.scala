package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.QuantileSummaries
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles by DISTRIBUTED bracket selection —
  * the scale-safe replacement for Spark's exact `percentile`
  * aggregate, whose final merge concentrates a value→count map of
  * EVERY distinct value on one reducer (517 s of the sf100
  * differential was that single merge for `agg_approx_stats`'s
  * verification half; reference semantics: pandas `quantile`,
  * interpolation='linear' — core/nanops.py).
  *
  * [[exact]] is two scans of ONE Spark job each, over the column's
  * `queryExecution.toRdd` (whole-stage codegen, no `Row`), with
  * partials combined by `treeAggregate`:
  *   1. a Greenwald–Khanna sketch ([[QuantileSketch]]) gives n and,
  *      around each target, a value window guaranteed (rank error
  *      ≤ n/10000) to cover the needed order statistics;
  *   2. per window, the rows strictly below it and a value → count map
  *      of the rows inside it (−0.0 folded into 0.0), sorted on the
  *      driver, where the order statistics are read off and
  *      interpolated exactly like Spark/pandas (pos = p·(n−1)).
  * A window holds about 2·delta·n rows. When the windows could exceed
  * [[RowBudget]] rows, one more one-job pass re-sketches only the rows
  * inside them, at the accuracy that makes them fit: the driver
  * collect is bounded by the budget, not by n. If a window failed to
  * cover its ranks (cannot happen within the sketch's bound; a loud
  * safety net), the windows widen 8× and the selection re-runs. The
  * jobs run while the caller builds its query: the result is driver
  * scalars that the query embeds as literals.
  */
object DistributedPercentile {

  /** The pass-1 sketch's relative rank error is 1/Accuracy
    * (`approx_percentile`'s default accuracy). */
  private val Accuracy = 10000

  /** Rows all windows together may hold before pass 2 collects them;
    * above it the windows are narrowed first, so the driver's map has
    * at most this many entries. */
  private val RowBudget: Long = 1L << 20

  /** Exact percentiles of `col` in `df` (nulls and NaNs ignored),
    * Spark `percentile` / pandas linear-interpolation semantics. */
  def exact(df: DataFrame, colName: String, ps: Seq[Double]): Seq[Double] =
    select(df, colName, ps)._1

  /** The body of [[exact]], which also returns how many distinct values
    * pass 2 collected to the driver. `rowBudget` and the first window
    * half-width `delta` (in quantile units, 3× the sketch's error) are
    * parameters so that specs reach the narrowing and the retry at
    * fixture scale. */
  private[graft] def select(df: DataFrame, colName: String, ps: Seq[Double],
      rowBudget: Long = RowBudget, delta: Double = 3.0 / Accuracy): (Seq[Double], Int) = {
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"percentiles out of [0,1]: $ps")
    val rows = df.select(col(colName).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
      .queryExecution.toRdd
    // pass 1 (one job): the sketch, whose count is n
    val (sketch, n) = QuantileSketch(rows, 1.0 / Accuracy)
    if (n == 0) return (ps.map(_ => Double.NaN), 0)
    // at most 4 attempts, each with windows 8× wider than the last
    Iterator.iterate(delta)(d => math.min(0.5, d * 8)).take(4)
      .flatMap(tryExact(rows, sketch, n, ps, _, rowBudget)).nextOption()
      .getOrElse(throw new IllegalStateException(
        s"DistributedPercentile: windows failed to converge from delta=$delta"))
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
    val hist = graft.Cached(v.groupBy(gk :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c")))
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

  private def tryExact(rows: RDD[InternalRow], sketch: QuantileSummaries, n: Long,
                       ps: Seq[Double], delta: Double,
                       rowBudget: Long): Option[(Seq[Double], Int)] = {
    // order statistic k = floor(p·(n−1)); interpolating also needs k+1
    val ks = ps.map(p => (p * (n - 1)).toLong)
    val needs = ps.indices.map(j => if (ps(j) * (n - 1) > ks(j)) ks(j) + 1 else ks(j))
    val probes = ps.flatMap(p =>
      Seq(math.max(0.0, p - delta), math.min(1.0, p + delta)))
    val w = sketch.query(probes).get
    val wide = ps.indices.map(j => (w(2 * j), w(2 * j + 1)))
    // the GK bound: one window holds ≤ (2·delta + 2/Accuracy)·n rows
    val perWindow = (2 * delta + 2.0 / Accuracy) * n
    val fitted = if (perWindow * ps.size <= rowBudget) Some(wide)
      else narrow(rows, wide, ks, needs, perWindow, delta * Accuracy, rowBudget)
    if (fitted.isEmpty) return None
    val windows = fitted.get

    // pass 2 (one job): per window, the rows strictly below it and a
    // value → count map of the rows inside it. Keys are non-NaN and
    // zero-normalized, so the driver's total-order sort matches
    // Spark's ascending sort.
    val scanned = scan(rows, windows, () => mutable.HashMap.empty[Double, Long])(
      (m, x) => { m(x + 0.0) = m.getOrElse(x + 0.0, 0L) + 1; m },
      (a, b) => { b.foreach { case (x, c) => a(x) = a.getOrElse(x, 0L) + c }; a })

    val out: Seq[Option[Double]] = ps.indices.map { j =>
      val (below, counts) = scanned(j)
      val entries = counts.toArray.sortBy(_._1)(Ordering.Double.TotalOrdering)
      // ends(i): rows of the column up to and including entries(i)
      val ends = entries.map(_._2).scanLeft(below)(_ + _).tail
      def orderStat(idx: Long): Double = entries(ends.indexWhere(idx < _))._1
      val k = ks(j)
      val frac = ps(j) * (n - 1) - k
      // coverage: order stats k and (k+1 when interpolating) must lie
      // inside [below, below + rows in the window)
      if (below > k || ends.lastOption.getOrElse(below) <= needs(j)) None
      else {
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
    if (out.exists(_.isEmpty)) None
    else Some((out.map(_.get), scanned.map(_._2.size).sum))
  }

  /** The row-budget step: ONE more one-job pass re-sketches only the
    * rows inside each window, at the relative error that fits the
    * narrowed windows into `rowBudget` by the same GK bound, and
    * counts the rows below each window, so that order statistic k is
    * in-window rank k − below. None when a needed rank lies outside
    * its window (the retry widens the windows). */
  private def narrow(rows: RDD[InternalRow], windows: Seq[(Double, Double)],
                     ks: Seq[Long], needs: Seq[Long], perWindow: Double,
                     ratio: Double, rowBudget: Long): Option[Seq[(Double, Double)]] = {
    val eps = rowBudget / ((2 * ratio + 2) * perWindow * windows.size)
    val scanned = scan(rows, windows, () => QuantileSketch.empty(eps))(
      (s, x) => s.insert(x), (a, b) => a.compress().merge(b.compress()))
    val narrowed = windows.indices.map { j =>
      val (below, sketch) = scanned(j)
      val s = sketch.compress()
      val m = s.count
      // query(q) answers 1-based rank ⌈q·m⌉: 0-based rank r is (r + 1)/m
      if (ks(j) < below || needs(j) >= below + m) None
      else Some((
        s.query(math.max(0.0, (ks(j) - below + 1.0) / m - ratio * eps)).get,
        s.query(math.min(1.0, (needs(j) - below + 1.0) / m + ratio * eps)).get))
    }
    if (narrowed.exists(_.isEmpty)) None else Some(narrowed.map(_.get))
  }

  /** ONE job over `rows`: per window, the count of rows strictly below
    * it and `add` folded over the rows inside it, per partition and
    * then across partitions by `merge`. */
  private def scan[A: ClassTag](rows: RDD[InternalRow], windows: Seq[(Double, Double)],
      zero: () => A)(add: (A, Double) => A, merge: (A, A) => A): Seq[(Long, A)] = {
    val los = windows.map(_._1).toArray
    val his = windows.map(_._2).toArray
    val combine = (a: (Array[Long], Array[A]), b: (Array[Long], Array[A])) =>
      (a._1.zip(b._1).map(t => t._1 + t._2), a._2.zip(b._2).map(t => merge(t._1, t._2)))
    val (belows, accs) = rows.mapPartitions { it =>
      val below = new Array[Long](los.length)
      val acc = Array.fill(los.length)(zero())
      while (it.hasNext) {
        val x = it.next().getDouble(0)
        var j = 0
        while (j < los.length) {
          if (x < los(j)) below(j) += 1 else if (x <= his(j)) acc(j) = add(acc(j), x)
          j += 1
        }
      }
      Iterator((below, acc))
    }.treeAggregate((new Array[Long](los.length), Array.fill(los.length)(zero())))(
      combine, combine)
    belows.toSeq.zip(accs)
  }
}
