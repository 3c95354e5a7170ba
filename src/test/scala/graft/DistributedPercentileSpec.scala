package graft

import graft.operators.DistributedPercentile
import org.apache.spark.sql.functions._

/** DistributedPercentile must be value-for-value exact against Spark's
  * own exact `percentile` aggregate (pandas linear interpolation,
  * core/nanops.py nanpercentile semantics) — the operator exists so the
  * exact path survives scale (Spark's aggregate merges every distinct
  * value on one reducer; the sf100 differential priced that at 517 s,
  * SCALE.md r8), not to approximate.
  */
class DistributedPercentileSpec extends SparkSpec {

  private def sparkExact(df: org.apache.spark.sql.DataFrame, c: String,
                         ps: Seq[Double]): Seq[Double] =
    df.select(expr(
        s"percentile($c, array(${ps.mkString(",")}))").as("p"))
      .head().getSeq[Double](0)

  test("matches Spark's exact percentile on a real column") {
    val li = Tables(spark, sf(), "lineitem")
    val ps = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    val got = DistributedPercentile.exact(li, "l_extendedprice", ps)
    val want = sparkExact(
      li.select(col("l_extendedprice").cast("double").as("v")), "v", ps)
    got.zip(want).zip(ps).foreach { case ((g, w), p) =>
      assert(math.abs(g - w) <= math.abs(w) * 1e-12,
        s"p=$p: got $g want $w")
    }
  }

  test("heavy ties: interpolation across a run of equal values") {
    import spark.implicits._
    // 1000 rows, only 3 distinct values — every window lands inside
    // a tie run, exercising the order-statistic walk across counts
    val df = (Seq.fill(500)(1.0) ++ Seq.fill(499)(2.0) ++ Seq(3.0)).toDF("v")
    val ps = Seq(0.1, 0.4995, 0.5, 0.999, 1.0)
    val got = DistributedPercentile.exact(df, "v", ps)
    val want = sparkExact(df, "v", ps)
    got.zip(want).zip(ps).foreach { case ((g, w), p) =>
      assert(g == w, s"p=$p: got $g want $w")
    }
  }

  test("single row, empty, and null-only inputs") {
    import spark.implicits._
    val one = Seq(42.0).toDF("v")
    assert(DistributedPercentile.exact(one, "v", Seq(0.0, 0.5, 1.0)) ==
      Seq(42.0, 42.0, 42.0))
    val empty = Seq.empty[Double].toDF("v")
    assert(DistributedPercentile.exact(empty, "v", Seq(0.5))
      .forall(_.isNaN))
    val nulls = Seq[Option[Double]](None, None).toDF("v")
    assert(DistributedPercentile.exact(nulls, "v", Seq(0.5))
      .forall(_.isNaN))
  }

  test("nulls are ignored, matching Spark/pandas") {
    import spark.implicits._
    val df = Seq[Option[Double]](Some(1.0), None, Some(2.0), Some(3.0),
      None, Some(4.0)).toDF("v")
    val got = DistributedPercentile.exact(df, "v", Seq(0.5))
    assert(got == Seq(2.5))
  }

  test("rejects out-of-range percentiles") {
    val li = Tables(spark, sf(), "lineitem")
    intercept[IllegalArgumentException] {
      DistributedPercentile.exact(li, "l_extendedprice", Seq(1.5))
    }
  }

  test("stacked multi-column form == per-column exactGrouped join") {
    // the round-15 scan-sharing variant must be row-identical to
    // running one exactGrouped pipeline per column and joining, and
    // both must equal Spark's exact `percentile` aggregate per group —
    // including a group where one column is all-null (dropped by the
    // inner join in both forms), heavy ties, and an input whose
    // histogram exceeds the prefix sum's one-bucket cut-off
    import spark.implicits._
    val small = Seq(
      ("a", Some(1.0), Some(10.0)), ("a", Some(2.0), Some(10.0)),
      ("a", Some(2.0), Some(30.0)), ("a", Some(9.0), None),
      ("b", Some(5.0), None), ("b", Some(5.0), None),
      ("b", Some(7.0), None), ("c", None, Some(1.0))).toDF("g", "x", "y")
    // 40,000 rows, ~30,000 distinct x values with ties, in two groups
    val large = (0 until 40000).map(i =>
        (s"g${i % 2}", Some(((i * 7919L) % 30000) / 4.0), Some((i % 500).toDouble)))
      .toDF("g", "x", "y")
    val ps1 = Seq(0.5, 0.25, 0.75); val ps2 = Seq(0.9)
    val names1 = Seq("m", "q25", "q75"); val names2 = Seq("q90")
    for (df <- Seq(small, large)) {
      val sep = DistributedPercentile.exactGrouped(
          df.select($"g", $"x"), Seq("g"), "x", ps1, names1)
        .join(DistributedPercentile.exactGrouped(
          df.select($"g", $"y"), Seq("g"), "y", ps2, names2), Seq("g"))
      val stacked = DistributedPercentile.exactGroupedStacked(
        df.selectExpr("g", "stack(2, 'x', x, 'y', y) as (cn, v)"),
        Seq("g"), "cn", "v", Seq(("x", ps1, names1), ("y", ps2, names2)))
      val aggs = (ps1.zip(names1).map { case (p, n) => expr(s"percentile(x, $p)").as(n) } ++
        ps2.zip(names2).map { case (p, n) => expr(s"percentile(y, $p)").as(n) })
      val ref = df.groupBy($"g").agg(aggs.head, aggs.tail: _*).na.drop()
      def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(same(sep, stacked),
        s"stacked=${stacked.collect().toSeq} separate=${sep.collect().toSeq}")
      assert(same(stacked, ref),
        s"stacked=${stacked.collect().toSeq} percentile=${ref.collect().toSeq}")
    }
  }

  test("a global selection is two scans of one Spark job each") {
    val li = Tables(spark, sf(), "lineitem")
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val (got, jobs) = jobsDuring(2)(DistributedPercentile.exact(li, "l_extendedprice", ps))
    assert(jobs == 2, s"$jobs Spark jobs for one exact call")
    assert(got == sparkExact(
      li.select(col("l_extendedprice").cast("double").as("v")), "v", ps))
  }

  test("ties across partitions, mixed signed zeros, NaN and nulls match Spark") {
    import spark.implicits._
    // 50 distinct values with ~50 copies each, round-robined over 7
    // partitions, so every tie run straddles partitions; a fifth of
    // the rows are ±0.0 in the middle of the order. NaN is ignored
    // (pandas skips it), so Spark's reference runs without it.
    val vals = (0 until 3000).map { i =>
      i % 10 match {
        case 0 => None
        case 1 => Some(Double.NaN)
        case 2 => Some(-0.0)
        case 3 => Some(0.0)
        case _ => Some(((i * 37) % 50 - 25) / 4.0)
      }
    }
    val df = vals.toDF("v").repartition(7)
    val ps = Seq(0.0, 0.1, 0.25, 0.4, 0.45, 0.5, 0.55, 0.75, 0.9, 1.0)
    val got = DistributedPercentile.exact(df, "v", ps)
    val want = sparkExact(df.filter(!isnan($"v")), "v", ps)
    got.zip(want).zip(ps).foreach { case ((g, w), p) =>
      assert(g == w, s"p=$p: got $g want $w")
    }
  }

  test("a window too narrow to cover its ranks widens until it is exact") {
    // 100,000 distinct values and interpolating targets: a first window
    // of ±1e-6 holds a single value and cannot cover two order stats,
    // so the coverage check fails and the windows widen 8× per retry,
    // each retry one more pass-2 job
    val df = spark.range(100000).select(((col("id") * 7919) % 100000 / 8.0).as("v"))
    val ps = Seq(0.5, 0.9)
    val ((got, _), jobs) = jobsDuring(3)(DistributedPercentile.select(df, "v", ps, delta = 1e-6))
    assert(jobs > 2, s"$jobs jobs: the first window covered its ranks")
    assert(got == sparkExact(df, "v", ps))
  }

  test("the driver collect stays within the row budget") {
    // 200,000 distinct values: the first windows hold about 160 rows
    // each, so a budget of 100 forces the narrowing pass
    val df = spark.range(200000).select(((col("id") * 7919) % 200000 / 4.0).as("v"))
    val ps = Seq(0.1, 0.5, 0.99)
    val want = sparkExact(df, "v", ps)
    val (fullValues, fullCollected) = DistributedPercentile.select(df, "v", ps)
    val (values, collected) = DistributedPercentile.select(df, "v", ps, rowBudget = 100)
    assert(fullValues == want && values == want, s"full=$fullValues budget=$values want=$want")
    assert(collected <= 100 && collected < fullCollected,
      s"collected $collected values under a budget of 100 ($fullCollected without)")
  }
}
