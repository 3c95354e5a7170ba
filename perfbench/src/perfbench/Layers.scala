package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Ewm
import graft.operators._

/** The traced run's per-layer record. */
object Layers {

  /** Repetitions of each direct call; the fastest is reported. */
  val Reps = 2

  /** Direct calls into single modules on the workload's own inputs.
    * Each returns once its result is fully computed. */
  def calls(s: SparkSession, d: String): Seq[(String, () => Unit)] = {
    def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    lazy val li = Tables(s, d, "lineitem")
    lazy val ev = Tables(s, d, "events")
    lazy val docs = Tables(s, d, "documents")
    lazy val emb = Tables(s, d, "embeddings")
    Seq(
      "operators.percentile" -> (() =>
        DistributedPercentile.exact(li, "l_extendedprice", Seq(0.1, 0.5, 0.9))),
      "operators.rank" -> (() =>
        drain(AdaptiveRank.rank(li, Seq("l_returnflag"), "l_extendedprice"))),
      "operators.distinct" -> (() =>
        drain(AdaptiveDistinct.nuniques(li, Seq("l_returnflag"),
          Seq("nu_part" -> Seq("l_partkey"), "nu_sp" -> Seq("l_suppkey", "l_partkey"))))),
      "operators.asof" -> (() =>
        drain(AsofJoin.backward(
          ev.filter(col("event_type") === "click").select("user_id", "event_id", "ts"),
          ev.filter(col("event_type") === "view").select("user_id", "ts", "value"),
          by = Seq("user_id"), leftTs = "ts", rightTs = "ts", valueCols = Seq("value")))),
      "operators.global_order" -> (() =>
        drain(GlobalOrder.zipOrdinal(li, Seq(col("l_extendedprice"), col("l_orderkey"))))),
      // chains of ten consecutive doc ids: a fixed number of label rounds
      "operators.cc" -> (() =>
        drain(ConnectedComponents.labels(docs.select(col("doc_id").as("id")),
          docs.filter(col("doc_id") % 10 =!= 9)
            .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))))),
      "operators.kmeans" -> (() => drain(KMeans.fit(emb, 8, 3))),
      "functions.shingle" -> (() =>
        drain(docs.select(expr("graft_shingle_hash64(text)").as("h")))),
      "functions.minhash" -> (() =>
        drain(docs.select(expr("graft_minhash_bands(graft_shingle_hash64(text))").as("b")))),
      "functions.vector" -> (() =>
        drain(emb.select(expr("graft_dot(embedding, embedding)"),
          expr("graft_l2sq(embedding, embedding)"), expr("graft_rand_project(embedding, 16)")))),
      "functions.text" -> (() =>
        drain(docs.select(expr("graft_token_count(text)"), expr("graft_canon(text)"),
          expr("graft_nfc(text)")))),
      "functions.ewm" -> (() =>
        drain(Ewm.ewmMean(s, ev, "user_id", "ts", "value", alpha = 0.1))))
  }

  val opFamilies: Seq[(String, String => Boolean)] = Seq(
    "ops.agg_s" -> (n => n.startsWith("agg_") || n.matches("q[0-9]+_.*|q[0-9]+")),
    "ops.join_s" -> (_.startsWith("join_")),
    "ops.window_s" -> (_.startsWith("win_")),
    "ops.reshape_s" -> (_.startsWith("rs_")),
    "ops.time_s" -> (_.startsWith("ts_")),
    "ops.set_s" -> (_.startsWith("set_")),
    "pipeline.dedup_s" -> (_.startsWith("dedup_")),
    "pipeline.similarity_s" -> (_.startsWith("sim_")),
    "pipeline.text_s" -> (_.startsWith("txt_")),
    "pipeline.curation_s" -> (_.startsWith("pipe_")))

  /** How far the traced layer self times account for op latency:
    * the sum over ops of each op's fastest build + plan + execute on
    * traced passes, divided by the sum over ops of each op's fastest
    * wall time on untraced passes. The two sides come from different
    * executions of the same ops in the same run, so a gap shows time
    * the spans miss or time the tracing adds. The fastest execution is
    * the one least disturbed by JIT warm-up and by the host. */
  def coverage(traced: Seq[Harness.Sample], untraced: Seq[Harness.Sample]): Double = {
    def perOp(v: Seq[Harness.Sample], f: Harness.Sample => Double) =
      v.filter(_.ok).groupBy(_.op).map { case (op, ss) => op -> ss.map(f).min }
    val spans = perOp(traced, s => s.build + s.plan + s.exec)
    val walls = perOp(untraced, _.wall)
    val both = spans.keySet.intersect(walls.keySet).toSeq
    val w = both.map(walls).sum
    if (w > 0) both.map(spans).sum / w else 0.0
  }

  /** Per-layer metrics. Every value from the timed phase is a per-pass
    * figure (total over traced passes / traced passes), so runs that fit
    * a different number of passes stay comparable. */
  def report(traced: Seq[Harness.Sample], passWall: Seq[(Boolean, Double)],
      passCpu: Seq[(Boolean, Double)], counts: Map[String, Counts],
      direct: Seq[(String, Double)], sessionS: Double, coverage: Double,
      resultRows: Map[String, Long], cpus: Int): Seq[(String, Double)] = {
    val n = math.max(1, traced.map(_.pass).distinct.size).toDouble
    val ops = traced.map(_.op).toSet
    val c = new Counts
    counts.foreach { case (tag, v) => if (ops.contains(tag)) c += v }
    val mb = 1024.0 * 1024.0
    val execWall = traced.map(_.exec).sum
    // plan shape: taken from each op's first traced execution
    val firstStats = traced.groupBy(_.op).values.flatMap(_.flatMap(_.stats).headOption)
    val simOps = traced.filter(_.op.startsWith("sim_")).map(_.op).distinct
    val simCand = simOps.flatMap(o => traced.find(_.op == o).flatMap(_.stats))
      .map(_.largestJoinRows).sum.toDouble
    val simResult = simOps.map(o => resultRows.getOrElse(o, 0L)).sum.toDouble
    val untraced = passWall.filterNot(_._1).map(_._2)
    val tracedPasses = passWall.filter(_._1).map(_._2)
    def directC(k: String) = counts.get(s"layer:$k")
    Seq(
      "graft.session_s" -> sessionS,
      "graft.build_s" -> traced.map(_.build).sum / n,
      "graft.build_jobs" -> c.buildJobs / n,
      "plans.plan_s" -> traced.map(_.plan).sum / n,
      "plans.exchanges" -> firstStats.map(_.exchanges).sum.toDouble,
      "plans.broadcasts" -> firstStats.map(_.broadcasts).sum.toDouble,
      "plans.non_codegen_ops" -> firstStats.map(_.nonCodegenOps).sum.toDouble,
      "spark.execute_s" -> execWall / n,
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.task_wait_s" -> c.taskWaitMs / 1e3 / n,
      "spark.task_busy_s" -> c.busyMs / 1e3 / n,
      "spark.task_cpu_s" -> c.cpuNs / 1e9 / n,
      "spark.slot_util" -> (if (execWall > 0) c.busyMs / 1e3 / (cpus * execWall) else 0.0),
      "spark.shuffle_read_mb" -> c.shuffleRead / mb / n,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb / n,
      "spark.spill_mb" -> c.spill / mb / n,
      "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.result_mb" -> c.result / mb / n,
      "spark.failed_tasks" -> c.failedTasks / n,
      "sources.scan_mb" -> c.scanBytes / mb / n,
      "sources.scan_rows" -> c.scanRows / n) ++
    opFamilies.map { case (k, f) => k -> traced.filter(s => f(s.op)).map(_.wall).sum / n } ++
    Seq(
      "pipeline.sim_candidate_rows" -> simCand,
      "pipeline.sim_rows_per_result" -> (if (simResult > 0) simCand / simResult else 0.0)) ++
    direct.map { case (k, v) => s"${k}_s" -> v } ++
    Seq(
      "operators.cc_jobs" -> directC("operators.cc").map(_.jobs.toDouble / Reps).getOrElse(0.0),
      "trace.run_s" -> Harness.median(tracedPasses),
      "trace.overhead_s" -> (Harness.median(tracedPasses) - Harness.median(untraced)),
      "trace.coverage_gap" -> math.abs(coverage - 1),
      "trace.cpu_s" -> Harness.median(passCpu.filter(_._1).map(_._2)))
  }
}
