package graft.functions

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Exponentially weighted moving aggregates (pandas
  * `window/ewm.py:127` ExponentialMovingWindow; kernels
  * `_libs/window/aggregations.pyx:2044` ewm / `:2143` ewmcov).
  *
  * EWM is a linear recursion (y_t depends on y_{t-1}) — the one pandas
  * window family with no Spark window-function equivalent. It runs as
  * one kernel under two drivers:
  *
  *   - the kernel, [[Moments]], is pandas' `ewmcov` state over a pair
  *     series (x, y) plus the `ewm` kernel's adjust=False mean. Every
  *     statistic reads it: mean and variance are the x = y case (the
  *     adjust=True mean is num/den, the adjust=False mean is `ewm`'s
  *     recursion), sum is the unnormalized numerator, cov and corr
  *     read the cross moments (`ewmcov`), and the `times=` mean feeds
  *     the same update a per-step decay 2^(-Δt/halflife);
  *   - the shuffle driver: `groupByKey(key)` co-partitions each
  *     entity's rows (one shuffle, the same exchange any per-key window
  *     needs), then each group is sorted in memory and folded. It
  *     serves `ewmMean`, `ewmSum`, `ewmCov` and `ewmMeanTimes`;
  *   - the sorted-run driver: over a layout already clustered by key
  *     and sorted by (key, order), one streaming pass per partition
  *     with no shuffle and no sort (`ewmMeanSortedRuns`).
  *
  * At 100 TB this scales with group count; a single group's rows must
  * fit an executor (same constraint pandas-on-a-node has for the whole
  * series). For unbounded single streams, `stream_stateful_ewm` carries
  * the adjust=False mean across micro-batches through [[noAdjStep]]
  * (see graft.streaming).
  *
  * Null semantics (pandas ewm docstring, aggregations.pyx ewm kernel):
  * a missing value emits the carried-forward statistic; with
  * ignore_na=false (default) it still decays the accumulated weights by
  * one step (absolute-position weighting), with ignore_na=true it
  * leaves state untouched (relative-position weighting). Missing keys
  * or order values are rejected with a clear error, matching pandas
  * which disallows NaN in the grouping/ordering of a window op.
  */
object Ewm {

  /** alpha from the pandas smoothing parameterizations (ewm.py:127):
    * span >= 1, com >= 0, halflife > 0. */
  def alphaFromSpan(span: Double): Double = 2.0 / (span + 1.0)
  def alphaFromCom(com: Double): Double = 1.0 / (1.0 + com)
  def alphaFromHalflife(halflife: Double): Double =
    1.0 - math.exp(-math.log(2.0) / halflife)

  /** pandas' adjust=False mean update (aggregations.pyx:2044 with new
    * weight alpha): `wd` is the carried weight after this step's
    * decay; a NaN mean (no observation yet) starts at `x`. */
  private[graft] def noAdjStep(y: Double, wd: Double, alpha: Double, x: Double): Double =
    if (y.isNaN) x else (wd * y + alpha * x) / (wd + alpha)

  /** The one EWM kernel: pandas' `ewmcov` moments (aggregations.pyx:2143)
    * of a pair series plus the adjust=False mean of x. `step` folds one
    * observation after a decay of `decay`; the new weight is 1 with
    * `adjust`, else `alpha` (the first observation always weighs 1),
    * and without `adjust` the weights are rescaled to sum 1 after it.
    * `observe` applies pandas' null rule: a row missing either value
    * decays the state one step unless `ignoreNa`. */
  private final class Moments(alpha: Double, adjust: Boolean, ignoreNa: Boolean) {
    private var nobs = 0L
    private var numx = 0.0; private var numy = 0.0; private var numxy = 0.0
    private var numx2 = 0.0; private var numy2 = 0.0
    private var den = 0.0; private var sw2 = 0.0   // Σw, Σw²
    private var yNoAdj = Double.NaN                // adjust=false mean
    private var wNoAdj = 1.0                       // carried weight across gaps

    def step(decay: Double, x: Double, y: Double): Unit = {
      val nw = if (adjust || nobs == 0) 1.0 else alpha
      numx = decay * numx + nw * x
      numy = decay * numy + nw * y
      numxy = decay * numxy + nw * (x * y)
      numx2 = decay * numx2 + nw * (x * x)
      numy2 = decay * numy2 + nw * (y * y)
      den = decay * den + nw
      sw2 = (decay * decay) * sw2 + nw * nw
      if (!adjust) {
        // pandas rescales the adjust=False weights to sum 1 after each
        // observation, so a gap decays the history against weight 1
        numx /= den; numy /= den; numxy /= den; numx2 /= den; numy2 /= den
        sw2 /= den * den; den = 1.0
      }
      yNoAdj = noAdjStep(yNoAdj, wNoAdj * decay, alpha, x)
      wNoAdj = 1.0
      nobs += 1
    }

    def observe(decay: Double, x: Option[Double], y: Option[Double]): Unit =
      (x, y) match {
        case (Some(a), Some(b)) => step(decay, a, b)
        case _ if !ignoreNa =>
          // absolute-position weighting: one decay step, no value
          numx = decay * numx; numy = decay * numy; numxy = decay * numxy
          numx2 = decay * numx2; numy2 = decay * numy2
          den = decay * den; sw2 = (decay * decay) * sw2
          wNoAdj = wNoAdj * decay
        case _ => ()
      }

    def sum: Option[Double] = if (nobs > 0) Some(numx) else None
    def mean: Option[Double] = if (den > 0) Some(numx / den) else None
    def meanNoAdj: Option[Double] = if (yNoAdj.isNaN) None else Some(yNoAdj)

    /** bias=False covariance; the variance when x = y. Both it and
      * `corr` need two observations, as in pandas: one observation
      * decayed across null rows leaves den² - sw2 and the centred
      * moments at rounding residue, not 0. */
    def cov: Option[Double] =
      if (nobs > 1 && den * den - sw2 > 0)
        Some((numxy / den - (numx / den) * (numy / den)) *
          ((den * den) / (den * den - sw2)))
      else None

    def corr: Option[Double] =
      if (nobs > 1 && den > 0) {
        val m2x = numx2 / den - (numx / den) * (numx / den)
        val m2y = numy2 / den - (numy / den) * (numy / den)
        if (m2x > 0 && m2y > 0)
          Some((numxy / den - (numx / den) * (numy / den)) / math.sqrt(m2x * m2y))
        else None
      } else None
  }

  /** One input row: key, order micros, value payload. */
  private type In[V] = (Option[Long], Option[Long], V)

  private def input[V: TypeTag](spark: SparkSession, df: DataFrame,
      keyCol: String, orderCol: String, value: Column): Dataset[In[V]] = {
    import spark.implicits._
    df.select(col(keyCol).cast("long"), unix_micros(col(orderCol)), value).as[In[V]]
  }

  private def keyOf(keyCol: String)(r: In[_]): Long = r._1.getOrElse(
    throw new IllegalArgumentException(
      s"Ewm: null key in '$keyCol' — pandas rejects NaN group keys"))

  private def orderOf(orderCol: String)(r: In[_]): Long = r._2.getOrElse(
    throw new IllegalArgumentException(s"Ewm: null/invalid order in '$orderCol'"))

  /** The shuffle driver: one `groupByKey` per key, the group sorted by
    * order, then folded row by row through a fresh `perKey()` function.
    * Null checks live in the key function / sort key: no extra
    * Serialize/Deserialize object stage before the groupByKey. */
  private def shuffled[V: TypeTag, O <: Product: TypeTag](spark: SparkSession,
      df: DataFrame, keyCol: String, orderCol: String, value: Column)(
      perKey: () => In[V] => O): Dataset[O] = {
    import spark.implicits._
    input[V](spark, df, keyCol, orderCol, value)
      .groupByKey(keyOf(keyCol))
      .flatMapGroups((_, it) => it.toArray.sortBy(orderOf(orderCol)).iterator.map(perKey()))
  }

  /** The sorted-run driver: the input is ALREADY clustered by key and
    * sorted by (key, order) within each partition. Group boundaries
    * are key changes, and the lexicographic (key, order) layout is
    * asserted per row, so a regression in either column fails loudly
    * instead of folding rows into the wrong group's recursion. */
  private def sortedRuns[V: TypeTag, O <: Product: TypeTag](spark: SparkSession,
      df: DataFrame, keyCol: String, orderCol: String, value: Column)(
      perKey: () => In[V] => O): Dataset[O] = {
    import spark.implicits._
    input[V](spark, df, keyCol, orderCol, value).mapPartitions { it =>
      var fold: In[V] => O = null
      var curKey = 0L
      var lastOrd = 0L
      it.map { r =>
        val k = keyOf(keyCol)(r)
        val o = orderOf(orderCol)(r)
        if (fold == null) { fold = perKey(); curKey = k }
        else if (k == curKey) {
          require(o >= lastOrd,
            s"Ewm sorted-run: order regression within key $k — " +
              "input is not (key, order)-sorted; use ewmMean")
        } else {
          require(k > curKey,
            s"Ewm sorted-run: key regression $curKey -> $k — " +
              "input is not clustered-sorted by key; use ewmMean")
          fold = perKey(); curKey = k
        }
        lastOrd = o
        fold(r)
      }
    }
  }

  /** Name a driver's (key, order micros, ...) output and turn the
    * micros back into the order column. */
  private def named(out: Dataset[_], keyCol: String, orderCol: String,
      cols: String*): DataFrame =
    out.toDF(keyCol +: "ord_micros" +: cols: _*)
      .select(col(keyCol) +: timestamp_micros(col("ord_micros")).as(orderCol) +:
        cols.map(col): _*)

  /** ewmMean's per-key fold (both drivers). */
  private def meanFold(alpha: Double, ignoreNa: Boolean): () => In[Option[Double]] => (
      Long, Long, Option[Double], Option[Double], Option[Double], Option[Double]) = {
    val decay = 1 - alpha
    () => {
      val st = new Moments(alpha, adjust = true, ignoreNa)
      r => {
        st.observe(decay, r._3, r._3)
        (r._1.get, r._2.get, r._3, st.mean, st.meanNoAdj, st.cov)
      }
    }
  }

  /** EWM mean + unbiased variance of `valueCol` per `keyCol`, ordered
    * by `orderCol` (must be non-null and unique within key; null keys/
    * order values fail fast). Null values follow pandas semantics for
    * the given `ignoreNa`. Returns (key, order, value, ewm_adj,
    * ewm_noadj, ewm_var) rows — one per input row, carried-forward on
    * missing input.
    */
  def ewmMean(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      alpha: Double,
      ignoreNa: Boolean = false): DataFrame =
    named(shuffled(spark, df, keyCol, orderCol, col(valueCol).cast("double"))(
        meanFold(alpha, ignoreNa)),
      keyCol, orderCol, valueCol, "ewm_adj", "ewm_noadj", "ewm_var")

  /** [[ewmMean]] over a frame ALREADY clustered by key and sorted by
    * (key, order) within each partition — a `BucketedLayout` read.
    * Zero shuffle, zero sort: the sorted-run driver with the same fold
    * as `ewmMean`, so the two paths are numerically identical.
    */
  def ewmMeanSortedRuns(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      alpha: Double,
      ignoreNa: Boolean = false): DataFrame =
    named(sortedRuns(spark, df, keyCol, orderCol, col(valueCol).cast("double"))(
        meanFold(alpha, ignoreNa)),
      keyCol, orderCol, valueCol, "ewm_adj", "ewm_noadj", "ewm_var")

  /** EWM sum (pandas 1.4+ `ExponentialMovingWindow.sum`): the kernel's
    * unnormalized numerator, s_t = (1-alpha)*s_{t-1} + x_t. pandas
    * only defines sum for adjust=True — with adjust=False the
    * normalized recursion has no sum analogue — so no adjust knob here.
    * Missing values follow the same ignore_na split as ewmMean: a gap
    * decays the sum one step (ignore_na=false) or leaves it untouched.
    * Leading nulls emit null (no state yet).
    */
  def ewmSum(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      valueCol: String,
      alpha: Double,
      ignoreNa: Boolean = false): DataFrame = {
    val decay = 1 - alpha
    named(shuffled(spark, df, keyCol, orderCol, col(valueCol).cast("double")) { () =>
        val st = new Moments(alpha, adjust = true, ignoreNa)
        (r: In[Option[Double]]) => {
          st.observe(decay, r._3, r._3)
          (r._1.get, r._2.get, r._3, st.sum)
        }
      },
      keyCol, orderCol, valueCol, "ewm_sum")
  }

  /** EWM covariance (bias=False) + correlation of (`xCol`, `yCol`) per
    * `keyCol` (ewmcov aggregations.pyx:2143; cov/corr ewm.py:127).
    * A pair is an observation only when BOTH values are present.
    * `adjust` selects the pandas weight scheme: true → new weight 1,
    * false → new weight alpha with the first observation keeping
    * weight 1. Returns (key, order, x, y, ewm_cov, ewm_corr).
    */
  def ewmCov(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      orderCol: String,
      xCol: String,
      yCol: String,
      alpha: Double,
      adjust: Boolean = true,
      ignoreNa: Boolean = false): DataFrame = {
    val decay = 1 - alpha
    val xy = struct(col(xCol).cast("double").as("_1"), col(yCol).cast("double").as("_2"))
    named(shuffled(spark, df, keyCol, orderCol, xy) { () =>
        val st = new Moments(alpha, adjust, ignoreNa)
        (r: In[(Option[Double], Option[Double])]) => {
          val (x, y) = r._3
          st.observe(decay, x, y)
          (r._1.get, r._2.get, x, y, st.cov, st.corr)
        }
      },
      keyCol, orderCol, xCol, yCol, "ewm_cov", "ewm_corr")
  }

  /** EWM mean over IRREGULARLY-SPACED observations (pandas ewm.py:127
    * `times=` parameter with `halflife` given as a timedelta; pandas
    * restricts this form to `mean()` with adjust=True). The decay
    * applied between consecutive observations is 2^(-Δt/halflife), so
    * an observation's weight depends on wall-clock age rather than row
    * position — the financially common time-decay form.
    *
    * Null values contribute no weight and leave the state untouched;
    * because time-decay is multiplicative over Δt, skipping a null row
    * and decaying across the combined gap at the next observation is
    * exact, so pandas' ignore_na distinction collapses for this form.
    *
    * Same kernel and shuffle driver as [[ewmMean]]; the only extra
    * per-key state is the time of the last observation.
    */
  def ewmMeanTimes(
      spark: SparkSession,
      df: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      halflifeSeconds: Double): DataFrame =
    named(shuffled(spark, df, keyCol, timeCol, col(valueCol).cast("double")) { () =>
        // adjust=True only, so alpha (the adjust=False weight) is unused
        val st = new Moments(alpha = 0.0, adjust = true, ignoreNa = true)
        var lastObs = Long.MinValue
        (r: In[Option[Double]]) => {
          val t = r._2.get
          r._3.foreach { x =>
            val d =
              if (lastObs == Long.MinValue) 1.0
              else math.pow(2.0, -((t - lastObs) / 1e6) / halflifeSeconds)
            st.step(d, x, x)
            lastObs = t
          }
          (r._1.get, t, r._3, st.mean)
        }
      },
      keyCol, timeCol, valueCol, "ewm_tmean")
}
