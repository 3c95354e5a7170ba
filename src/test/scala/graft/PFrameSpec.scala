package graft

import graft.api.PFrame
import org.apache.spark.sql.functions._

/** The pandas-shaped API compiles to the same results as the direct
  * Spark formulation.
  */
class PFrameSpec extends SparkSpec {

  private def li = PFrame(Tables(spark, sf(), "lineitem"))
  private def orders = PFrame(Tables(spark, sf(), "orders"))

  test("query + select + assign mirror pandas chains") {
    import spark.implicits._
    val got = li
      .query("l_quantity >= 45 AND l_returnflag = 'R'")
      .assign("net" -> ($"l_extendedprice" * (lit(1.0) - $"l_discount")))
      .apply("l_orderkey", "net")
      .count()
    val want = Tables(spark, sf(), "lineitem")
      .filter($"l_quantity" >= 45 && $"l_returnflag" === "R")
      .count()
    assert(got == want && got > 0)
  }

  test("groupby agg with pandas func names") {
    val out = li.groupby("l_returnflag")
      .agg("l_quantity" -> "sum", "l_quantity" -> "mean",
        "l_partkey" -> "nunique", "l_extendedprice" -> "max")
      .toDF.collect()
    assert(out.length == 3)
    assert(out.head.schema.fieldNames.contains("l_quantity_sum"))
  }

  test("astype, clip, between, replace, pipe compose") {
    import spark.implicits._
    val out = li
      .pipe(_.between("l_quantity", 1, 10))
      .astype("l_quantity" -> "int")
      .clip("l_quantity", 2.0, 8.0)
      .replaceVals("l_returnflag", Map("R" -> "RET", "A" -> "ACC"))
    val rows = out.toDF.select($"l_quantity", $"l_returnflag").collect()
    assert(rows.nonEmpty)
    // clip's double bounds promote the int column back to double
    assert(rows.forall { r =>
      val q = r.getDouble(0); q >= 2.0 && q <= 8.0
    })
    val flags = rows.map(_.getString(1)).toSet
    assert(flags.subsetOf(Set("RET", "ACC", "N")) && flags.contains("RET"))
  }

  test("valueCounts matches groupBy count and normalizes to 1") {
    import spark.implicits._
    val vc = orders.valueCounts("o_orderstatus").toDF.collect()
    val direct = Tables(spark, sf(), "orders")
      .groupBy($"o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vc.map(r => r.getString(0) -> r.getLong(1)).toMap == direct)
    // counts descending
    assert(vc.map(_.getLong(1)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    val norm = orders.valueCounts("o_orderstatus", normalize = true).toDF
      .agg(sum($"proportion")).head().getDouble(0)
    assert(math.abs(norm - 1.0) < 1e-9)
  }

  test("ffill and bfill are mirrored windows") {
    import spark.implicits._
    val base = Seq((1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, None),
      (1L, 4L, Some(40.0)), (2L, 1L, None), (2L, 2L, Some(5.0)))
      .toDF("k", "t", "v")
    val f = PFrame(base).ffill("v", Seq("k"), "t").toDF
      .orderBy($"k", $"t").collect().map(r => if (r.isNullAt(2)) null else r.getDouble(2))
    assert(f.toSeq == Seq(10.0, 10.0, 10.0, 40.0, null, 5.0))
    val b = PFrame(base).bfill("v", Seq("k"), "t").toDF
      .orderBy($"k", $"t").collect().map(r => if (r.isNullAt(2)) null else r.getDouble(2))
    assert(b.toSeq == Seq(10.0, 40.0, 40.0, 40.0, 5.0, 5.0))
  }

  test("merge applies suffixes to colliding columns") {
    val a = orders.apply("o_orderkey", "o_custkey", "o_totalprice")
    val b = orders.apply("o_orderkey", "o_totalprice")
    val m = a.merge(b, on = Seq("o_orderkey"))
    assert(m.columns.contains("o_totalprice_x"))
    assert(m.columns.contains("o_totalprice_y"))
    assert(m.count() == orders.count())
  }

  test("isinFrame is a semi join") {
    import spark.implicits._
    val big = orders.query("o_totalprice > 300000")
      .toDF.select($"o_custkey").distinct()
    val c = PFrame(Tables(spark, sf(), "customer"))
    val got = c.isinFrame("c_custkey", PFrame(big), "o_custkey").count()
    assert(got == big.count())
  }

  test("dropDuplicates keep=first picks min order") {
    import spark.implicits._
    val df = Seq((1, "a", 10), (1, "b", 20), (2, "c", 30))
      .toDF("k", "v", "ord")
    val out = PFrame(df).dropDuplicates(Seq("k"), Seq("ord"))
      .toDF.orderBy($"k").as[(Int, String, Int)].collect()
    assert(out.toSeq == Seq((1, "a", 10), (2, "c", 30)))
  }

  test("rolling sum honors min_periods") {
    import spark.implicits._
    val df = Seq((1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0)).toDF("k", "o", "x")
    val out = PFrame(df).rolling(2, order = "o", partition = Seq("k"), minPeriods = 2)
      .sum("x", "rsum")
      .toDF.orderBy($"o").select($"rsum").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None, Some(3.0), Some(5.0)))
  }

  test("concat unions by name with missing columns") {
    import spark.implicits._
    val a = PFrame(Seq((1, "x")).toDF("id", "s"))
    val b = PFrame(Seq((2, 9.5)).toDF("id", "extra"))
    val out = PFrame.concat(Seq(a, b)).toDF
    assert(out.count() == 2 && out.columns.toSet == Set("id", "s", "extra"))
  }

  test("melt produces long form") {
    import spark.implicits._
    val df = Seq((1, 2.0, 3.0)).toDF("id", "a", "b")
    val out = PFrame(df).melt(Seq("id"), Seq("a", "b")).toDF
    assert(out.count() == 2)
    assert(out.columns.toSeq == Seq("id", "variable", "value"))
  }

  test("groupby rank average matches pandas method=average") {
    import spark.implicits._
    val df = Seq((1, 10.0), (1, 10.0), (1, 20.0)).toDF("k", "x")
    val out = PFrame(df).groupby("k").rank("x", method = "average", as = "r")
      .toDF.select($"x", $"r").as[(Double, Double)].collect().sortBy(_._1)
    // pandas: [1.5, 1.5, 3.0]
    assert(out.map(_._2).toSeq == Seq(1.5, 1.5, 3.0))
  }

  test("groupby rank method=max and na_option placement") {
    import spark.implicits._
    val df = Seq((1, Some(10.0)), (1, Some(10.0)), (1, Some(20.0)), (1, None))
      .toDF("k", "x")
    // method='max': ties get the max rank among peers; NULL keeps NULL
    val mx = PFrame(df).groupby("k").rank("x", method = "max", as = "r")
      .toDF.select($"x", $"r").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(mx.contains((Some(10.0), Some(2L))) && mx.contains((Some(20.0), Some(3L))))
    assert(mx.contains((None, None)))
    // na_option='top': NULL ranks first
    val top = PFrame(df).groupby("k").rank("x", method = "min", naOption = "top", as = "r")
      .toDF.filter($"x".isNull).select($"r").as[Long].collect()
    assert(top.toSeq == Seq(1L))
  }

  test("nlargestAll keeps boundary ties") {
    import spark.implicits._
    val df = Seq((1, 5.0), (2, 5.0), (3, 4.0), (4, 3.0)).toDF("id", "x")
    // n=1 but two rows tie at the max
    val out = PFrame(df).nlargestAll(1, "x").toDF.select($"id").as[Int].collect()
    assert(out.toSet == Set(1, 2))
  }

  test("sampleWithReplacement replicates deterministically") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("k")
    val out = PFrame(df).sampleWithReplacement("k").toDF
    val n = out.count()
    // Poisson(1)-ish: ~63% of keys kept, ~1 copy per input row overall
    assert(n > 1500 && n < 2500)
    val again = PFrame(df).sampleWithReplacement("k").toDF.count()
    assert(n == again)
  }

  test("wideToLong composes suffix rows without a join") {
    import spark.implicits._
    val wide = Seq((1, 10.0, 11.0, 100L, 101L))
      .toDF("id", "rev_2024", "rev_2025", "cnt_2024", "cnt_2025")
    val out = PFrame(wide)
      .wideToLong(Seq("rev", "cnt"), Seq("2024", "2025"), Seq("id"), "year")
      .toDF.orderBy($"year").as[(Int, String, Double, Long)].collect()
    assert(out.toSeq == Seq((1, "2024", 10.0, 100L), (1, "2025", 11.0, 101L)))
  }

  test("mergeAsof allowExactMatches=false skips the equal-ts row") {
    import spark.implicits._
    val left = Seq((1L, 100L, "q")).toDF("k", "ts", "tag")
      .select($"k", timestamp_seconds($"ts").as("ts"), $"tag")
    val right = Seq((1L, 50L, 5.0), (1L, 100L, 9.0)).toDF("k", "ts", "v")
      .select($"k", timestamp_seconds($"ts").as("ts"), $"v")
    val strict = PFrame(left).mergeAsof(PFrame(right), by = Seq("k"), on = "ts",
      valueCols = Seq("v"), allowExactMatches = false)
      .toDF.select($"v").as[Double].collect()
    assert(strict.toSeq == Seq(5.0))
    val loose = PFrame(left).mergeAsof(PFrame(right), by = Seq("k"), on = "ts",
      valueCols = Seq("v"))
      .toDF.select($"v").as[Double].collect()
    assert(loose.toSeq == Seq(9.0))
  }

  test("mergeAsof raises on a null 'by' key, like pandas") {
    import spark.implicits._
    val left = Seq((Some(1L), 100L), (None: Option[Long], 100L)).toDF("k", "ts")
      .select($"k", timestamp_seconds($"ts").as("ts"))
    val right = Seq((Some(1L), 50L, 1.0), (None: Option[Long], 60L, 2.0))
      .toDF("k", "ts", "v")
      .select($"k", timestamp_seconds($"ts").as("ts"), $"v")
    val ex = intercept[Exception] {
      PFrame(left).mergeAsof(PFrame(right), by = Seq("k"), on = "ts",
        valueCols = Seq("v")).toDF.collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("null 'by' key")), msgs(ex).mkString("\n"))
  }

  test("keyless mergeAsof nearest plans the merge-walk, not a partition-less window") {
    import spark.implicits._
    val left = Seq((1L, 10L), (2L, 20L), (3L, 31L)).toDF("id", "ts")
      .select($"id", timestamp_seconds($"ts").as("ts"))
    val right = Seq((12L, 1.0), (29L, 2.0)).toDF("ts", "v")
      .select(timestamp_seconds($"ts").as("ts"), $"v")
    val out = PFrame(left).mergeAsof(PFrame(right), by = Nil, on = "ts",
      valueCols = Seq("v"), direction = "nearest").toDF
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect { case j: graft.plans.AsofJoinPlan => j }.nonEmpty,
      s"expected the native as-of node:\n$plan")
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.isEmpty, s"partition-less window planned:\n$plan")
    val got = out.select($"id", $"v").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 2.0))
  }

  test("at/iat scalar access and update alignment") {
    import spark.implicits._
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    val pf = PFrame(df).setIndex("id")
    assert(pf.at(2L, "name") == "b")
    assert(pf.iat(0, 2, order = "id") == 10.0)
    intercept[IllegalArgumentException] { pf.iat(5, 0, order = "id") }
    // update: non-null overwrite, extra rows in other ignored, no new rows
    val other = Seq((2L, null.asInstanceOf[java.lang.Double], "B"),
      (3L, java.lang.Double.valueOf(99.0), "C"),
      (9L, java.lang.Double.valueOf(1.0), "Z"))
      .toDF("id", "v", "name")
    val upd = PFrame(df).update(PFrame(other), on = "id")
      .df.orderBy($"id").collect()
    assert(upd.length == 3)
    assert(upd.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 99.0)) // null in other keeps 20.0
    assert(upd.map(_.getString(1)).toSeq == Seq("a", "B", "C"))
  }

  test("update rejects duplicate keys in other instead of multiplying rows") {
    import spark.implicits._
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val dup = Seq((2L, 1.0), (2L, 2.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      PFrame(df).update(PFrame(dup), on = "id")
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("transposeSmall rejects duplicate labels instead of dropping data") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "x")
    val e = intercept[IllegalArgumentException] {
      PFrame(df).transposeSmall("k")
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("getDummies rejects colliding sanitized category names") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a-b")).toDF("id", "cat")
    val e = intercept[IllegalArgumentException] {
      PFrame(df).getDummies("cat", "cat")
    }
    assert(e.getMessage.contains("collide"))
  }

  test("transposeSmall guards row count and round-trips values") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 10.0), ("b", 2.0, 20.0)).toDF("k", "x", "y")
    val t = PFrame(df).transposeSmall("k").df.orderBy($"metric").collect()
    assert(t.map(_.getString(0)).toSeq == Seq("x", "y"))
    assert(t(0).getDouble(1) == 1.0 && t(0).getDouble(2) == 2.0)
    assert(t(1).getDouble(1) == 10.0 && t(1).getDouble(2) == 20.0)
    intercept[IllegalArgumentException] {
      PFrame(Tables(spark, sf(), "lineitem")).transposeSmall("l_orderkey", maxRows = 10)
    }
  }

  test("dot computes the matrix product against hand arithmetic") {
    import spark.implicits._
    val a = Seq(("r1", 1.0, 2.0), ("r2", 3.0, 4.0)).toDF("i", "c1", "c2")
    val b = Seq(("c1", 1.0, 0.5), ("c2", 2.0, 0.25)).toDF("j", "w1", "w2")
    val got = PFrame(a).dot(PFrame(b), "i", "j").df
      .orderBy($"i").collect()
    // r1: w1 = 1*1 + 2*2 = 5, w2 = 1*0.5 + 2*0.25 = 1.0
    assert(got(0).getDouble(1) == 5.0 && got(0).getDouble(2) == 1.0)
    // r2: w1 = 3*1 + 4*2 = 11, w2 = 3*0.5 + 4*0.25 = 2.5
    assert(got(1).getDouble(1) == 11.0 && got(1).getDouble(2) == 2.5)
  }

  test("MultiIndex level utilities: swaplevel/droplevel/reorderLevels/sortIndex") {
    import spark.implicits._
    val pf = PFrame(Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("k1", "k2", "v"))
      .setIndex("k1", "k2")
    assert(pf.swaplevel().index == Seq("k2", "k1"))
    assert(pf.swaplevel(0, 1).index == Seq("k2", "k1"))
    assert(pf.droplevel("k1").index == Seq("k2"))
    assert(pf.droplevel("k1").columns.contains("k1")) // column survives
    assert(pf.reorderLevels(Seq("k2", "k1")).index == Seq("k2", "k1"))
    intercept[IllegalArgumentException] { pf.droplevel("nope") }
    intercept[IllegalArgumentException] { pf.reorderLevels(Seq("k2", "k2")) }
    intercept[IllegalArgumentException] { pf.setIndex("k1").swaplevel() }
    // sort_index(level="k2") leads with k2, tie-breaks with k1
    val sorted = PFrame(Seq((2, "a", 1.0), (1, "a", 2.0), (1, "b", 3.0))
        .toDF("k1", "k2", "v"))
      .setIndex("k1", "k2")
      .sortIndex(level = Seq("k2"))
      .df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(sorted == Seq((1, "a"), (2, "a"), (1, "b")))
  }

  test("getDummies fails loudly above the category cap") {
    import spark.implicits._
    val df = (1 to 20).map(i => (i.toLong, s"cat$i")).toDF("id", "cat")
    val e = intercept[IllegalArgumentException] {
      PFrame(df).getDummies("cat", "cat", maxCategories = 10)
    }
    assert(e.getMessage.contains("distinct values"))
    // at-or-below the cap still works
    assert(PFrame(df).getDummies("cat", "cat", maxCategories = 20)
      .df.columns.length == 21)
  }

  test("getDummies drop_first + dummy_na over sorted categories") {
    import spark.implicits._
    val df = Seq((1L, "b"), (2L, "a"), (3L, null.asInstanceOf[String]), (4L, "c"))
      .toDF("id", "cat")
    val out = PFrame(df).getDummies("cat", "cat", dropFirst = true, dummyNa = true).df
    assert(out.columns.toSeq == Seq("id", "cat_b", "cat_c", "cat_nan"))
    val r = out.orderBy($"id").collect()
    assert(r(0).getInt(1) == 1 && r(0).getInt(2) == 0 && r(0).getInt(3) == 0)
    assert(r(1).getInt(1) == 0 && r(1).getInt(2) == 0 && r(1).getInt(3) == 0) // 'a' dropped
    assert(r(2).getInt(3) == 1)
    assert(r(3).getInt(2) == 1)
  }

  test("rolling cov/corr match the bivariate formulas") {
    import spark.implicits._
    val df = Seq((1, 1, 1.0, 2.0), (1, 2, 2.0, 4.0), (1, 3, 3.0, 6.0))
      .toDF("k", "o", "x", "y")
    val out = PFrame(df).rolling(3, order = "o", partition = Seq("k"), minPeriods = 3)
      .corr("x", "y", "r")
      .toDF.orderBy($"o").select($"r").as[Option[Double]].collect()
    assert(out.take(2).forall(_.isEmpty))
    assert(math.abs(out.last.get - 1.0) < 1e-9) // y = 2x exactly
  }

  test("quantile matches Spark's exact percentile, pandas orientation") {
    val li = Tables(spark, sf(), "lineitem")
    val qs = Seq(0.25, 0.5, 0.9)
    val out = PFrame(li).quantile(Seq("l_quantity", "l_extendedprice"), qs)
      .orderBy("q").collect()
    val want = li.selectExpr(
      s"percentile(cast(l_quantity as double), array(${qs.mkString(",")})) as a",
      s"percentile(cast(l_extendedprice as double), array(${qs.mkString(",")})) as b")
      .head()
    val (wa, wb) = (want.getSeq[Double](0), want.getSeq[Double](1))
    assert(out.map(_.getDouble(0)).toSeq == qs)
    qs.indices.foreach { i =>
      assert(out(i).getDouble(1) == wa(i) && out(i).getDouble(2) == wb(i),
        s"q=${qs(i)}: got (${out(i).getDouble(1)}, ${out(i).getDouble(2)}) " +
          s"want (${wa(i)}, ${wb(i)})")
    }
  }
}
