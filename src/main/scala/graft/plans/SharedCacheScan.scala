package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Lets AQE reuse every exchange and broadcast that sits above a
  * cached frame.
  *
  * AQE gives each `InMemoryTableScanExec` its own
  * `TableCacheQueryStageExec`, and on Spark 4.1 that stage class does
  * not override `doCanonicalize`: its canonical form keeps its stage id
  * and raw exprIds. Two scans of one cache are canonically equal, but
  * their stages never are, so an exchange above a cache scan never
  * matches another in AQE's stage cache. A self-join over a `.cache()`d
  * frame then runs two shuffles where the same join over parquet runs
  * one and a `ReusedExchange`, and a builder that caches an
  * intermediate and reads it twice (the dedup and curation pipeline)
  * runs the whole subtree above the cache once per consumer.
  *
  * This query-stage prep rule (installed by [[graft.GraftExtensions]])
  * wraps each cache scan in a [[SharedCacheScanExec]]. The wrapper is
  * not an `InMemoryTableScanLike`, so AQE plans it as a plain leaf, and
  * it canonicalizes as the scan does: equal exchanges above it are
  * equal to AQE, which reuses the first. The cache is still built once,
  * by the first task that reads each partition. AQE re-applies prep
  * rules after every re-plan; the rule is idempotent because a wrapped
  * scan is no longer a child in the tree.
  */
object ShareCacheScans extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: InMemoryTableScanExec => SharedCacheScanExec(s)
  }
}

/** A cache scan that AQE plans as an ordinary leaf: it runs `scan` and
  * reports `scan`'s output, physical properties and metrics. */
case class SharedCacheScanExec(scan: InMemoryTableScanExec) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override def outputPartitioning: Partitioning = scan.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = scan.outputOrdering
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def supportsRowBased: Boolean = scan.supportsRowBased
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override def metrics: Map[String, SQLMetric] = scan.metrics
  override def innerChildren: Seq[QueryPlan[_]] = Seq(scan)

  override protected def doExecute(): RDD[InternalRow] = scan.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = scan.executeColumnar()
  override protected def doCanonicalize(): SparkPlan = scan.canonicalized
}
