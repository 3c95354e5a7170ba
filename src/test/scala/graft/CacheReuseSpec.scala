package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.plans.{ShareCacheScans, SharedCacheScanExec}

/** Consumers of one `.cache()`d frame share the exchanges above it:
  * AQE reuses a shuffle over a cache scan exactly as it reuses one over
  * a file scan (plans/SharedCacheScan.scala). */
class CacheReuseSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Run `df` with both broadcast thresholds off (so every join
    * shuffles) and return its final plan's shuffle stages, split into
    * (executed, reused). */
  private def shuffleStages(df: => DataFrame)
      : (Seq[ShuffleExchangeLike], Seq[ReusedExchangeExec], DataFrame) = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      val out = df
      out.collect()
      val stages = collectWithSubqueries(out.queryExecution.executedPlan) {
        case s: ShuffleQueryStageExec => s.plan
      }
      (stages.collect { case e: ShuffleExchangeLike => e },
        stages.collect { case r: ReusedExchangeExec => r }, out)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def frame: DataFrame =
    spark.range(0, 3000).select((col("id") % 97).as("k"), col("id").as("v"))

  test("a self-join over a cached frame shuffles it once and reuses the exchange") {
    val c = frame.cache()
    try {
      c.count()
      val (run, reused, out) = shuffleStages(
        c.as("a").join(c.as("b"), col("a.v") === col("b.v")))
      assert(run.size == 1, s"expected one executed shuffle, got ${run.size}")
      assert(reused.size == 1, "the second side must read the first side's shuffle")
      assert(PlanHygieneSpec.duplicatedExchanges(out.queryExecution.executedPlan).isEmpty)
      assert(out.count() == 3000)
    } finally c.unpersist()
  }

  test("a groupBy over a cached frame joined back twice aggregates once") {
    val c = frame.cache()
    try {
      c.count()
      val g = c.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      val (run, reused, out) = shuffleStages(
        c.join(g, "k").join(g.select(col("k"), col("n").as("n2"), col("s").as("s2")), "k"))
      // the scan side and ONE aggregate side shuffle; the second
      // aggregate side is the first one's exchange, reused
      assert(run.size == 2, s"expected two executed shuffles, got ${run.size}")
      assert(reused.size == 1, "the repeated aggregate must reuse its exchange")
      assert(PlanHygieneSpec.duplicatedExchanges(out.queryExecution.executedPlan).isEmpty)
      val expected = frame.join(frame.groupBy("k").agg(sum("v").as("s")), "k")
      assert(out.select("k", "v", "s").collect().toSet == expected.collect().toSet)
      assert(out.filter(col("n") =!= col("n2") || col("s") =!= col("s2")).isEmpty)
    } finally c.unpersist()
  }

  test("the rule wraps each cache scan once and keeps its canonical form") {
    val c = frame.cache()
    try {
      c.count()
      val scan = c.queryExecution.sparkPlan.collectFirst {
        case s: InMemoryTableScanExec => s
      }.get
      val once = ShareCacheScans(scan)
      assert(once.isInstanceOf[SharedCacheScanExec])
      assert(ShareCacheScans(once) == once, "a wrapped scan must not be wrapped again")
      assert(once.canonicalized == scan.canonicalized)
      assert(once.output == scan.output && once.outputPartitioning == scan.outputPartitioning)
    } finally c.unpersist()
  }

  test("pipe_curation runs at most 11 jobs per warm execution") {
    // the near-dup subtree above the cached deduped frame feeds two
    // consumers; run once per consumer it took 21 jobs
    val q = SparkEntry.queries("pipe_curation")
    q(spark, sf()).collect()
    val (_, jobs) = jobsDuring(atLeast = 1)(q(spark, sf()).collect())
    assert(jobs <= 11, s"pipe_curation started $jobs jobs")
  }
}
