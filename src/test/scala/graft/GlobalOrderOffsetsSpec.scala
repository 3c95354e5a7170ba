package graft

import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.functions._
import graft.operators.GlobalOrder

/** The grouped bucket offsets of `GlobalOrder.prefixSum` are a window
  * sum per group over the per-(group, bucket) counts. A self-join of
  * those counts (the earlier shape) grew with the group count times
  * the square of the bucket count. */
class GlobalOrderOffsetsSpec extends SparkSpec {

  /** The subtrees of `plan` rooted at a node that defines `__go_off`. */
  private def offsetSubtrees(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collect {
      case p if p.expressions.exists(_.exists {
        case a: Alias => a.name == "__go_off"
        case _ => false
      }) => p
    }

  test("grouped multi-bucket offsets hold no join and window by the group keys") {
    import spark.implicits._
    // 3 groups x 10,000 distinct keys: above the one-bucket cut-off
    val hist = (0 until 30000).map(i => (s"g${i % 3}", (i / 3).toDouble, 1L))
      .toDF("g", "k", "w")
    val out = GlobalOrder.prefixSum(hist, Seq("g"), "k", "w", "below")
    val offs = offsetSubtrees(out.queryExecution.optimizedPlan)
    assert(offs.nonEmpty, "no node defines the bucket offsets")
    offs.foreach { o =>
      assert(o.collect { case j: Join => j }.isEmpty, s"the offsets join:\n$o")
    }
    val windows = offs.flatMap(_.collect { case w: LWindow => w })
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"expected a window partitioned by the group keys:\n${offs.head}")
    // each group's 10,000 unit weights run 0 until 10,000 in key order
    val got = out.groupBy("g").agg(min("below"), max("below"), count(lit(1)))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq("g0", "g1", "g2").map(g => (g, 0L, 9999L, 10000L)))
  }
}
