package graft

import graft.functions.Ewm
import org.apache.spark.sql.functions._

/** EWM semantics against hand-computed pandas values
  * (window/ewm.py docstring formulas).
  */
class EwmSpec extends SparkSpec {

  test("ewm mean matches pandas adjust=True and adjust=False") {
    import spark.implicits._
    val df = Seq(
      (1L, 1000L, 1.0), (1L, 2000L, 2.0), (1L, 3000L, 3.0),
      (2L, 1000L, 10.0))
      .toDF("k", "tsm", "x")
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")

    val out = Ewm.ewmMean(spark, df, "k", "ts", "x", alpha = 0.5)
      .orderBy($"k", $"ts")
      .select($"k", $"ewm_adj", $"ewm_noadj")
      .as[(Long, Double, Double)]
      .collect()

    // alpha=0.5, x=[1,2,3]:
    // adjust=True:  1, (2+0.5)/1.5=1.666..., (3+1+0.25)/1.75=2.428571...
    // adjust=False: 1, 1.5, 2.25
    val eps = 1e-9
    assert(math.abs(out(0)._2 - 1.0) < eps)
    assert(math.abs(out(1)._2 - 5.0 / 3.0) < eps)
    assert(math.abs(out(2)._2 - 4.25 / 1.75) < eps)
    assert(math.abs(out(0)._3 - 1.0) < eps)
    assert(math.abs(out(1)._3 - 1.5) < eps)
    assert(math.abs(out(2)._3 - 2.25) < eps)
    // single-element group
    assert(out(3)._1 == 2L && math.abs(out(3)._2 - 10.0) < eps)
  }

  test("ewm mean null semantics match pandas for both ignore_na modes") {
    import spark.implicits._
    val df = Seq(
      (1L, 1000L, Some(1.0)), (1L, 2000L, None: Option[Double]), (1L, 3000L, Some(3.0)))
      .toDF("k", "tsm", "x")
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")

    val eps = 1e-9
    // pandas Series([1, nan, 3]).ewm(alpha=.5, ignore_na=False):
    //   adjust=True  mean -> [1, 1, 2.6]
    //   adjust=False mean -> [1, 1, 7/3]
    val keep = Ewm.ewmMean(spark, df, "k", "ts", "x", alpha = 0.5, ignoreNa = false)
      .orderBy($"ts").select($"ewm_adj", $"ewm_noadj")
      .as[(Double, Double)].collect()
    assert(math.abs(keep(1)._1 - 1.0) < eps) // carried forward on the gap
    assert(math.abs(keep(2)._1 - 2.6) < eps)
    assert(math.abs(keep(2)._2 - 7.0 / 3.0) < eps)
    // ignore_na=True: adjust=True -> 7/3, adjust=False -> 2.0
    val ign = Ewm.ewmMean(spark, df, "k", "ts", "x", alpha = 0.5, ignoreNa = true)
      .orderBy($"ts").select($"ewm_adj", $"ewm_noadj")
      .as[(Double, Double)].collect()
    assert(math.abs(ign(2)._1 - 7.0 / 3.0) < eps)
    assert(math.abs(ign(2)._2 - 2.0) < eps)
  }

  test("ewm cov equals unbiased ewm var when x == y, corr is 1") {
    import spark.implicits._
    val df = Seq((1L, 1000L, 1.0), (1L, 2000L, 2.0), (1L, 3000L, 3.0))
      .toDF("k", "tsm", "x")
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")
      .withColumn("y", $"x")

    val out = Ewm.ewmCov(spark, df, "k", "ts", "x", "y", alpha = 0.5)
      .orderBy($"ts").select($"ewm_cov", $"ewm_corr")
      .as[(Option[Double], Option[Double])].collect()
    val eps = 1e-9
    assert(out(0)._1.isEmpty) // single obs: unbiased cov undefined
    assert(math.abs(out(1)._1.get - 0.5) < eps) // pandas ewm(alpha=.5).var()[1]
    assert(math.abs(out(1)._2.get - 1.0) < eps)
  }

  test("ewm rejects null group keys with a clear error") {
    import spark.implicits._
    val df = Seq((Some(1L), 1000L, 1.0), (None: Option[Long], 2000L, 2.0))
      .toDF("k", "tsm", "x")
      .withColumn("ts", timestamp_micros(col("tsm"))).drop("tsm")
    val ex = intercept[Exception] {
      Ewm.ewmMean(spark, df, "k", "ts", "x", alpha = 0.5).collect()
    }
    assert(ex.getMessage != null)
  }

  test("sorted-run ewm matches the shuffle path on layout-ordered data") {
    import spark.implicits._
    // two keys as contiguous ascending runs in ONE partition — the
    // shape a bucketed+sorted read delivers
    val rows = Seq(
      (1L, 1000L, 1.0), (1L, 2000L, 2.0), (1L, 3000L, 3.0),
      (2L, 1500L, 5.0), (2L, 2500L, 7.0))
    val df = rows.toDF("k", "tsm", "x").coalesce(1)
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")
    def collectOut(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"k", $"ts")
        .select($"k", $"ewm_adj", $"ewm_noadj", $"ewm_var")
        .collect().map(_.toSeq).toSeq
    val run = collectOut(Ewm.ewmMeanSortedRuns(spark, df, "k", "ts", "x", alpha = 0.3))
    val shf = collectOut(Ewm.ewmMean(spark, df, "k", "ts", "x", alpha = 0.3))
    assert(run === shf, "sorted-run and shuffle paths must agree bit-for-bit")
  }

  test("sorted-run ewm matches the shuffle path bit-for-bit on a series with nulls") {
    import spark.implicits._
    // contiguous ascending key runs in ONE partition; key 1 opens with
    // a null and carries one value across three null rows
    val v = Seq(None, Some(1.0), None, None, None, Some(2.5), Some(-1.0), None, Some(4.0))
    val rows = v.zipWithIndex.map { case (x, i) => (1L, 1000L * (i + 1), x) } ++
      Seq((2L, 1500L, Some(5.0)), (2L, 2500L, None), (2L, 3500L, Some(7.0)))
    val df = rows.toDF("k", "tsm", "x").coalesce(1)
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")
    def collectOut(d: org.apache.spark.sql.DataFrame) =
      d.orderBy($"k", $"ts")
        .select($"k", $"x", $"ewm_adj", $"ewm_noadj", $"ewm_var")
        .collect().map(_.toSeq).toSeq
    for (ignoreNa <- Seq(false, true)) {
      val run = collectOut(Ewm.ewmMeanSortedRuns(spark, df, "k", "ts", "x", 0.3, ignoreNa))
      val shf = collectOut(Ewm.ewmMean(spark, df, "k", "ts", "x", 0.3, ignoreNa))
      assert(run === shf, s"sorted-run and shuffle paths must agree bit-for-bit (ignore_na=$ignoreNa)")
    }
  }

  test("sorted-run ewm fails loudly when the input is not layout-sorted") {
    import spark.implicits._
    // key regression within one partition: 1, 2, then 1 again
    val bad = Seq((1L, 1000L, 1.0), (2L, 1500L, 5.0), (1L, 2000L, 2.0))
      .toDF("k", "tsm", "x").coalesce(1)
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")
    val ex = intercept[Exception] {
      Ewm.ewmMeanSortedRuns(spark, bad, "k", "ts", "x", alpha = 0.3).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("key regression")),
      s"expected the layout guard to fire, got: $ex")
    // order regression within a key must also fail
    val bad2 = Seq((1L, 2000L, 1.0), (1L, 1000L, 2.0))
      .toDF("k", "tsm", "x").coalesce(1)
      .withColumn("ts", timestamp_micros($"tsm")).drop("tsm")
    val ex2 = intercept[Exception] {
      Ewm.ewmMeanSortedRuns(spark, bad2, "k", "ts", "x", alpha = 0.3).collect()
    }
    assert(msgs(ex2).exists(_.contains("order regression")),
      s"expected the order guard to fire, got: $ex2")
  }
}
