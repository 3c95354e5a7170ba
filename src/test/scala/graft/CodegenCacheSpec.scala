package graft

import org.apache.spark.sql.execution.SQLExecution

/** Warm queries compile nothing: Spark's codegen cache must hold the
  * generated classes of a repeated query set. With Spark's default of
  * 100 entries, an LRU over a cyclic working set above 100 classes
  * misses on every class, every round; `EngineConf.perfSettings` sizes
  * the cache above graft's working sets. The set here is both perfbench
  * op lists at sf0.001. Run alone in a fresh JVM, its first round
  * compiles 217 classes; at the default size the first round compiles
  * 236 and the second recompiles 228.
  *
  * The cache is sized once per JVM, from the conf active when Spark's
  * `CodeGenerator` is first used, and every spec shares one JVM: a spec
  * that ran codegen before `SparkSpec.session` existed would size it
  * at the default and fail this spec. */
class CodegenCacheSpec extends SparkSpec {
  private val ops = Seq(
    "q1_groupby_agg", "join_inner", "join_asof_native", "win_rolling_sum",
    "rs_pivot", "ts_resample_day", "set_dropdup_first", "agg_quantile_global",
    "dedup_minhash_pairs", "dedup_substring_spans", "sim_cosine_topk",
    "txt_tokens", "pipe_curation")

  /** Classes compiled while every op is built and drained once. The
    * builders' caches are dropped first, so each round runs the same
    * plans. */
  private def round(): Long = {
    spark.catalog.clearCache()
    val c0 = Bench.compiles()
    ops.foreach { op =>
      val qe = SparkEntry.queries(op)(spark, sf()).queryExecution
      SQLExecution.withNewExecutionId(qe, Some(op))(qe.toRdd.foreach(_ => ()))
    }
    Bench.compiles() - c0
  }

  test("the session carries the engine's codegen cache size") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(spark.conf.get(key) == EngineConf.perfSettings(key))
  }

  test("a second round of both perfbench op lists compiles no class") {
    val first = round()
    val second = round()
    info(s"classes compiled: first round $first, second round $second")
    assert(second == 0, s"the second round recompiled $second classes " +
      s"(first round: $first): the codegen cache is smaller than the working set")
  }
}
