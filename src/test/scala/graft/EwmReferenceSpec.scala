package graft

import graft.functions.Ewm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every public `Ewm` statistic against a direct O(n²) weighted sum
  * built from pandas' weights (window/ewm.py docstring, aggregations.pyx
  * `ewm`/`ewmcov`). Each observation's lag to the one before counts
  * rows with ignore_na=False and observations with ignore_na=True.
  * With adjust=True an observation Δ lags back weighs (1-α)^Δ. With
  * adjust=False the new observation weighs α against the history's
  * decayed weight (1-α)^Δ, and the weights are rescaled to sum 1 after
  * each observation (the docstring's [x0, None, x2] example is its
  * two-observation case). Under `times=` an observation weighs
  * 0.5^(Δt/halflife). Variance and covariance are pandas' bias=False
  * forms over those weights. The kernel folds a recursion instead, so
  * the two agree to rounding, not bit for bit.
  */
class EwmReferenceSpec extends SparkSpec {

  private type Row4 = (Long, Long, Option[Double], Option[Double])

  /** (key, order micros, x, y): five seeded random keys with ~20% nulls
    * per column and irregular 1 s – 2 h gaps, plus key 99, one
    * observation decayed across eight null rows before the next. */
  private val rows: Seq[Row4] = {
    val r = new scala.util.Random(20261020)
    def v(): Option[Double] =
      if (r.nextDouble() < 0.2) None
      else Some(math.round(r.nextDouble() * 1000 - 500) / 100.0)
    val random = for (k <- 0L until 5L) yield {
      var t = 0L
      (0 until 40).map { _ =>
        t += 1000000L * (1 + r.nextInt(7200))
        (k, t, v(), v())
      }
    }
    val lone = (Seq(None, None, Some(3.7)) ++ Seq.fill(8)(None) ++
      Seq(Some(1.2), Some(-0.4), None, Some(2.9))).zipWithIndex.map {
      case (x, i) => (99L, 1000000L * (i + 1), x, x.map(_ * 0.5 - 1))
    }
    random.flatten ++ lone
  }

  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "tsm", "x", "y")
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")
  }

  private def byKey: Seq[IndexedSeq[Row4]] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.sortBy(_._2).toIndexedSeq)

  /** (row index, weight) of the observations at rows <= i */
  private def weights(obs: IndexedSeq[Boolean], i: Int, alpha: Double,
      adjust: Boolean, ignoreNa: Boolean): Seq[(Int, Double)] = {
    val js = (0 to i).filter(obs)
    // decay across the lag before observation n
    def decay(n: Int) = math.pow(1 - alpha, if (ignoreNa) 1 else js(n) - js(n - 1))
    js.indices.map { m =>
      if (adjust) js(m) -> math.pow(1 - alpha, if (ignoreNa) js.length - 1 - m else i - js(m))
      else {
        val own = if (m == 0) 1.0 else alpha / (decay(m) + alpha)
        js(m) -> (m + 1 until js.length).map(k => decay(k) / (decay(k) + alpha)).product * own
      }
    }
  }

  private def mean(w: Seq[(Int, Double)], x: Int => Double): Double =
    w.map { case (j, wj) => wj * x(j) }.sum / w.map(_._2).sum

  /** bias=False weighted covariance, None below two observations */
  private def cov(w: Seq[(Int, Double)], x: Int => Double, y: Int => Double): Option[Double] =
    if (w.length < 2) None
    else {
      val (mx, my) = (mean(w, x), mean(w, y))
      val sw = w.map(_._2).sum
      val sw2 = w.map(p => p._2 * p._2).sum
      Some(w.map { case (j, wj) => wj * (x(j) - mx) * (y(j) - my) }.sum / sw *
        (sw * sw / (sw * sw - sw2)))
    }

  private def corr(w: Seq[(Int, Double)], x: Int => Double, y: Int => Double): Option[Double] =
    if (w.length < 2) None
    else {
      val (mx, my) = (mean(w, x), mean(w, y))
      def m(f: Int => Double, g: Int => Double, mf: Double, mg: Double) =
        w.map { case (j, wj) => wj * (f(j) - mf) * (g(j) - mg) }.sum
      val (vx, vy) = (m(x, x, mx, mx), m(y, y, my, my))
      if (vx > 0 && vy > 0) Some(m(x, y, mx, my) / math.sqrt(vx * vy)) else None
    }

  private def assertClose(got: Seq[Option[Double]], want: Seq[Option[Double]], what: String): Unit = {
    assert(got.length == want.length, s"$what: row count")
    got.zip(want).zipWithIndex.foreach {
      case ((None, None), _) => ()
      case ((Some(g), Some(w)), i) =>
        assert(math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w)), s"$what row $i: $g vs $w")
      case ((g, w), i) => fail(s"$what row $i: $g vs $w")
    }
  }

  /** one statistic column of `out`, in (key, order) order */
  private def column(out: DataFrame, keyCol: String, c: String): Seq[Option[Double]] =
    out.orderBy(col(keyCol), col("ts")).select(col(c)).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq

  /** the reference statistic of every row, key by key */
  private def reference(f: (IndexedSeq[Row4], Int) => Option[Double]): Seq[Option[Double]] =
    byKey.flatMap(g => g.indices.map(f(g, _)))

  for (alpha <- Seq(0.1, 0.35); ignoreNa <- Seq(false, true)) {
    test(s"ewmMean matches pandas' weighted sums (alpha=$alpha, ignore_na=$ignoreNa)") {
      val out = Ewm.ewmMean(spark, frame, "k", "ts", "x", alpha, ignoreNa)
      def stat(adjust: Boolean)(g: IndexedSeq[Row4], i: Int) = {
        val w = weights(g.map(_._3.isDefined), i, alpha, adjust, ignoreNa)
        if (w.isEmpty) None else Some(mean(w, g(_)._3.get))
      }
      assertClose(column(out, "k", "ewm_adj"), reference(stat(adjust = true)), "ewm_adj")
      assertClose(column(out, "k", "ewm_noadj"), reference(stat(adjust = false)), "ewm_noadj")
      assertClose(column(out, "k", "ewm_var"), reference { (g, i) =>
        val x = (j: Int) => g(j)._3.get
        cov(weights(g.map(_._3.isDefined), i, alpha, adjust = true, ignoreNa), x, x)
      }, "ewm_var")
    }
  }

  for (ignoreNa <- Seq(false, true)) {
    test(s"ewmSum matches pandas' unnormalized weighted sum (ignore_na=$ignoreNa)") {
      val alpha = 0.35
      val out = Ewm.ewmSum(spark, frame, "k", "ts", "x", alpha, ignoreNa)
      assertClose(column(out, "k", "ewm_sum"), reference { (g, i) =>
        val w = weights(g.map(_._3.isDefined), i, alpha, adjust = true, ignoreNa)
        if (w.isEmpty) None else Some(w.map { case (j, wj) => wj * g(j)._3.get }.sum)
      }, "ewm_sum")
    }
  }

  for (adjust <- Seq(true, false); ignoreNa <- Seq(false, true)) {
    test(s"ewmCov matches pandas' weighted cov and corr (adjust=$adjust, ignore_na=$ignoreNa)") {
      val alpha = Ewm.alphaFromSpan(4)
      val out = Ewm.ewmCov(spark, frame, "k", "ts", "x", "y", alpha, adjust, ignoreNa)
      def stat(f: (Seq[(Int, Double)], Int => Double, Int => Double) => Option[Double])(
          g: IndexedSeq[Row4], i: Int) = {
        val w = weights(g.map(r => r._3.isDefined && r._4.isDefined), i, alpha, adjust, ignoreNa)
        f(w, g(_)._3.get, g(_)._4.get)
      }
      assertClose(column(out, "k", "ewm_cov"), reference(stat(cov)), "ewm_cov")
      assertClose(column(out, "k", "ewm_corr"), reference(stat(corr)), "ewm_corr")
    }
  }

  test("ewmMeanTimes matches pandas' halflife-weighted mean over irregular times") {
    val hl = 3600.0
    val out = Ewm.ewmMeanTimes(spark, frame, "k", "ts", "x", hl)
    assertClose(column(out, "k", "ewm_tmean"), reference { (g, i) =>
      val js = (0 to i).filter(g(_)._3.isDefined)
      if (js.isEmpty) None
      else {
        val w = js.map(j => j -> math.pow(0.5, (g(i)._2 - g(j)._2) / 1e6 / hl))
        Some(mean(w, g(_)._3.get))
      }
    }, "ewm_tmean")
  }

  test("one observation decayed across null rows has no variance, covariance or correlation") {
    val lone = frame.filter(col("k") === 99 && col("ts") < timestamp_micros(lit(12000000L)))
    val single = Ewm.ewmMean(spark, lone, "k", "ts", "x", alpha = 0.1)
    val pair = Ewm.ewmCov(spark, lone, "k", "ts", "x", "y", alpha = 0.1)
    assert(column(single, "k", "ewm_adj").flatten.length == 9, "the lone value is carried")
    assert(column(single, "k", "ewm_var").flatten.isEmpty)
    assert(column(pair, "k", "ewm_cov").flatten.isEmpty)
    assert(column(pair, "k", "ewm_corr").flatten.isEmpty)
  }

  test("the adjust=False mean is pandas' double: the win_ewm_mean 6th-decimal miss is a rounding tie") {
    // one user's series from perfbench/gen.py's seed-1 events at sf0.01:
    // the exact mean is the tie 67.6404815; the kernel, pandas 2.2.2
    // and DuckDB's recursive CTE all compute the double just below it,
    // which Spark's round(_, 6) takes down and DuckDB's ROUND up
    val s = spark
    import s.implicits._
    val xs = Seq(42.53, 169.68, 4.13, 133.96, 29.06, 176.27)
    val df = xs.zipWithIndex.map { case (x, i) => (1L, i.toLong, x) }.toDF("k", "tsm", "x")
      .withColumn("ts", timestamp_micros($"tsm"))
    val out = Ewm.ewmMean(spark, df, "k", "ts", "x", alpha = 0.1)
      .orderBy($"ts").select($"ewm_noadj", round($"ewm_noadj", 6)).as[(Double, Double)].collect()
    assert(out.last == ((67.64048149999999, 67.640481)))
  }

  test("stream_stateful_ewm gives the rows of StreamWatermarkEwmSpec's fold on the 1-batch drive") {
    val s = spark
    import s.implicits._
    val got = SparkEntry.queries("stream_stateful_ewm")(spark, sf())
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val events = Tables(spark, sf(), "events")
      .select($"user_id", unix_micros($"ts"), $"value").as[(Long, Long, Double)].collect()
    val want = events.groupBy(_._1).toSeq.map { case (u, evs) =>
      var n = 0L; var y = 0.0
      evs.sortBy(_._2).foreach { case (_, _, x) =>
        y = if (n == 0) x else 0.9 * y + 0.1 * x; n += 1
      }
      (u, n, BigDecimal(y).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got == want)
  }
}
