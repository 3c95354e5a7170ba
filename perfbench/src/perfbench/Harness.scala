package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.{EngineConf, SparkEntry}

/** Closed-loop benchmark harness: one client thread, one op in flight.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <passes> <trace 0|1> <seed> <cpus>
  *
  * Phases of one run:
  *  1. set-up: build a session (EngineConf, which installs
  *     GraftExtensions), then run two untimed passes over the
  *     workload's ops. The first pass is the output check: it writes
  *     every op's result to `<workDir>/out/<op>` for the DuckDB compare.
  *     The second drains each op the way the timed phase does, so JIT
  *     and Spark's codegen cache are warm when timing starts. `setup_s`
  *     runs from the JVM's start to the end of this phase;
  *  2. timed phase: a fixed number of whole passes over the ops, each
  *     in a seed-shuffled order. With trace=1, that many untraced and
  *     as many traced passes alternate; traced passes carry spans and
  *     the listener;
  *  3. trace=1 only: direct calls into the operator and function
  *     layers on the workload's inputs.
  * Results go to `<workDir>/result.json`; `run.py` turns them into the
  * report line.
  */
object Harness {

  /** One timed op execution. build/plan/exec are zero on untraced passes. */
  final case class Sample(op: String, pass: Int, traced: Boolean, ok: Boolean,
      wall: Double, build: Double, plan: Double, exec: Double, stats: Option[PlanStats])

  def main(argv: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, passesS, traceS, seedS, cpusS) = argv
    val (passes, trace, seed, cpus) =
      (passesS.toInt, traceS == "1", seedS.toLong, cpusS.toInt)
    val all = SparkEntry.queries
    val ops = Workloads.ops(workload, all.keySet)
    val work = new File(workDir)
    val outDir = new File(work, "out")
    work.mkdirs()
    val failedOps = ArrayBuffer[String]()
    var attempted = 0

    // ---- 1. set-up: session, output-check pass, warm pass -------------------
    val resultRows = scala.collection.mutable.LinkedHashMap[String, Long]()
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = secs(t0)
    val setupPass = Seq("check", "warm").map { kind =>
      val tp = System.nanoTime()
      ops.foreach { op =>
        val t1 = System.nanoTime()
        val ok =
          if (kind == "check") writeOutput(spark, all(op), dataDir, op, outDir, resultRows)
          else runOp(spark, all(op), dataDir, op, traced = false).ok
        attempted += 1
        if (!ok) failedOps += op
        log(f"setup $kind $op ${secs(t1)}%.3f s")
      }
      kind -> secs(tp)
    }
    val setupS = jvmStartToMainS + secs(mainEnteredNs)
    log(f"setup done in $setupS%.3f s (session $sessionS%.3f s)")
    Files.writeString(Paths.get(outDir.getPath, "oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.filter(kv => ops.contains(kv._1)).toSeq
        .sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    // ---- 2. timed phase ---------------------------------------------------
    val tracer = new Tracer
    val samples = ArrayBuffer[Sample]()
    val passWall = ArrayBuffer[(Boolean, Double)]()
    val passCpu = ArrayBuffer[(Boolean, Double)]()
    val rssBefore = vmHwmMb()
    val hostBefore = HostCpu.read()
    val tStart = System.nanoTime()
    // a fixed count, not a time limit: op latency keeps falling pass
    // after pass as the JIT works, so only runs that make the same
    // passes measure the same thing
    for (pass <- 0 until (if (trace) 2 * passes else passes)) {
      // traced runs pair the passes untraced-traced, then traced-untraced,
      // so that the JIT warm-up favours neither kind
      val traced = trace && (pass % 2 == 1) != (pass / 2 % 2 == 1)
      if (traced) spark.sparkContext.addSparkListener(tracer)
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
      val c0 = appCpuNs()
      val p0 = System.nanoTime()
      order.foreach { op =>
        val s = runOp(spark, all(op), dataDir, op, traced)
        samples += s.copy(pass = pass)
        attempted += 1
        if (!s.ok) failedOps += op
      }
      passWall += traced -> secs(p0)
      passCpu += traced -> (appCpuNs() - c0) / 1e9
      log(f"pass $pass traced=$traced ${passWall.last._2}%.3f s")
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
    }
    val timedS = secs(tStart)
    val host = HostCpu.read().since(hostBefore)
    val peakRss = vmHwmMb()
    val (heapMb, nonHeapMb) = retainedMb()
    val retained = heapMb + nonHeapMb

    // ---- 3. direct layer calls (traced only) --------------------------------
    val direct = if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      val d = Layers.calls(spark, dataDir).map { case (name, f) =>
        tag(spark, s"layer:$name", "execute")
        val t = (1 to Layers.Reps).map { _ => val t0 = System.nanoTime(); f(); secs(t0) }.min
        log(f"layer $name $t%.3f s")
        name -> t
      }
      tag(spark, null, null)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      d
    } else Nil
    spark.stop()

    // ---- report ---------------------------------------------------------------
    val traced = samples.filter(_.traced).toSeq
    val untracedOk = samples.filter(s => !s.traced && s.ok).toSeq
    val coverage = Layers.coverage(traced, untracedOk)
    val untracedPasses = passWall.filterNot(_._1).map(_._2).toSeq
    val lat = untracedOk.map(_.wall)
    val opMedians = untracedOk.groupBy(_.op).toSeq.sortBy(_._1)
      .map { case (op, v) => op -> median(v.map(_.wall)) }
    val e2e = Seq(
      "setup_s" -> setupS,
      "run_s" -> median(untracedPasses),
      "query_p50_s" -> quantile(opMedians.map(_._2), 0.5),
      "query_p90_s" -> quantile(opMedians.map(_._2), 0.9),
      "cpu_s" -> median(passCpu.filterNot(_._1).map(_._2).toSeq))
    val diag = Seq(
      "ops" -> Json.arr(ops.map(Json.str)),
      "passes" -> Json.num(untracedPasses.size),
      "latency_samples" -> Json.num(lat.size),
      "sample_p50_s" -> Json.num(quantile(lat, 0.5)),
      "sample_p90_s" -> Json.num(quantile(lat, 0.9)),
      "timed_s" -> Json.num(timedS),
      "op_p50_s" -> Json.obj(opMedians.map { case (k, v) => k -> Json.num(v) }),
      "setup_session_s" -> Json.num(sessionS),
      "setup_pass_s" -> Json.obj(setupPass.map { case (k, v) => k -> Json.num(v) }),
      "pass_s" -> Json.arr(untracedPasses.map(Json.num)),
      "traced_pass_s" -> Json.arr(passWall.filter(_._1).map(_._2).toSeq.map(Json.num)),
      "jvm_start_to_main_s" -> Json.num(jvmStartToMainS),
      "trace_coverage" -> Json.num(coverage),
      "failed_ops" -> Json.arr(failedOps.distinct.toSeq.map(Json.str)),
      "rss_before_timed_mb" -> Json.num(rssBefore),
      "io_read_bytes" -> Json.num(ioReadBytes()),
      "canary_st_s" -> Json.num(canarySt()),
      "host_others_cpu_share" -> Json.num(host.othersShare),
      "host_steal_share" -> Json.num(host.stealShare),
      "peak_rss_mb" -> Json.num(peakRss),
      "retained_heap_mb" -> Json.num(heapMb),
      "retained_nonheap_mb" -> Json.num(nonHeapMb),
      "result_rows" -> Json.obj(resultRows.toSeq.map { case (k, v) => k -> Json.num(v) }))
    val layers =
      if (trace) Layers.report(traced, passWall.toSeq, passCpu.toSeq,
        tracer.snapshot(), direct, sessionS, coverage, resultRows.toMap, cpus) ++
        Seq("spark.retained_mb" -> retained, "spark.peak_rss_mb" -> peakRss)
      else Nil
    val json = Json.obj(Seq(
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failedOps.size),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "diag" -> Json.obj(diag)))
    Files.writeString(Paths.get(work.getPath, "result.json"), json)
  }

  /** Writes one op's result as parquet for the DuckDB compare; the row
    * count is kept for the `sim_*` ops, whose per-result ratio needs it. */
  def writeOutput(spark: SparkSession, q: (SparkSession, String) => DataFrame, dataDir: String,
      op: String, outDir: File, rows: scala.collection.mutable.Map[String, Long]): Boolean =
    try {
      val path = new File(outDir, op).getPath
      q(spark, dataDir).write.mode("overwrite").parquet(path)
      if (op.startsWith("sim_")) rows(op) = spark.read.parquet(path).count()
      true
    } catch { case e: Throwable =>
      log(s"$op failed in the output check: ${e.getMessage}")
      false
    }

  def session(cpus: Int, work: File): SparkSession = {
    val s = EngineConf.configure(SparkSession.builder().master(s"local[$cpus]"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    s
  }

  def tag(spark: SparkSession, t: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(Tracer.TagKey, t)
    spark.sparkContext.setLocalProperty(Tracer.PhaseKey, phase)
  }

  /** Build, plan and execute one op. Execution drains the op's full
    * result through the same QueryExecution the plan was forced on, so
    * a traced op does exactly the work of an untraced one. */
  def runOp(spark: SparkSession, q: (SparkSession, String) => DataFrame, dataDir: String,
      op: String, traced: Boolean): Sample = {
    val t0 = System.nanoTime()
    var (tb, tp) = (t0, t0)
    try {
      if (traced) tag(spark, op, "build")
      val df = q(spark, dataDir)
      tb = System.nanoTime()
      val qe = df.queryExecution
      if (traced) { tag(spark, op, "plan"); qe.executedPlan }
      tp = System.nanoTime()
      if (traced) tag(spark, op, "execute")
      SQLExecution.withNewExecutionId(qe, Some(s"perfbench $op")) {
        qe.toRdd.foreach(_ => ())
      }
      val te = System.nanoTime()
      val stats = if (traced) Some(PlanStats.of(qe.executedPlan)) else None
      Sample(op, 0, traced, ok = true, (te - t0) / 1e9,
        (tb - t0) / 1e9, (tp - tb) / 1e9, (te - tp) / 1e9, stats)
    } catch { case e: Throwable =>
      log(s"$op failed: ${e.getMessage}")
      Sample(op, 0, traced, ok = false, secs(t0), 0, 0, 0, None)
    } finally if (traced) tag(spark, null, null)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(v: Seq[Double], p: Double): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Fixed-work host-speed probe: single-thread sort of 3M
    * constant-seed longs, fastest of three. IO-free and Spark-free, so a
    * slow reading marks a slow host, not slow code. */
  def canarySt(): Double = (1 to 3).map { _ =>
    val rnd = new java.util.Random(42)
    val a = Array.fill(3000000)(rnd.nextLong())
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    secs(t0)
  }.min

  /** CPU time of the JVM's application threads: the driver, task and
    * scheduler threads, without the JIT compiler and GC threads, whose
    * share depends on how far compilation has got rather than on the
    * work. A thread that ends between two readings drops out. */
  def appCpuNs(): Long = {
    val mx = ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(mx.getThreadCpuTime).filter(_ > 0).sum
  }

  /** Memory the JVM still holds after a full GC: live heap (the
    * engine's caches, broadcast and catalog state) plus non-heap
    * (metaspace, code cache), in MB. Spark's ContextCleaner frees
    * broadcast and shuffle blocks asynchronously once a GC has collected
    * their owners, so the reading waits for it and collects again;
    * without the pause a run could read a half-cleaned heap. */
  def retainedMb(): (Double, Double) = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed / 1048576.0, mem.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** Bytes this JVM read from the block device (`/proc/self/io`). */
  def ioReadBytes(): Double = procField("/proc/self/io", "read_bytes:")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  private def procField(path: String, key: String): Double =
    scala.util.Using(scala.io.Source.fromFile(path)) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith(key) => l.split("\\s+")(1).toDouble
      }.getOrElse(0.0)
    }.getOrElse(0.0)

  private val mainEntered = System.currentTimeMillis()
  private val mainEnteredNs = System.nanoTime()
  private def jvmStartToMainS: Double =
    (mainEntered - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** CPU time of the whole machine and of this process, in clock ticks,
  * from `/proc/stat` and `/proc/self/stat`. Between two readings it
  * gives the share of all CPU time that other processes used (other
  * tenants of a shared host included) and the share the hypervisor
  * stole: a slow run with a high share was slowed from outside. */
final case class HostCpu(total: Long, busy: Long, steal: Long, own: Long) {
  def since(o: HostCpu): HostCpu = HostCpu(total - o.total, busy - o.busy, steal - o.steal, own - o.own)
  def othersShare: Double = if (total > 0) math.max(0L, busy - own).toDouble / total else 0.0
  def stealShare: Double = if (total > 0) steal.toDouble / total else 0.0
}

object HostCpu {
  def read(): HostCpu = try {
    val cpu = scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
      .split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    val self = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/stat"))(_.mkString)
    // fields after the parenthesised command name; utime and stime are fields 14 and 15
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    HostCpu(cpu.take(8).sum, busy, cpu(7), f(11).toLong + f(12).toLong)
  } catch { case _: Exception => HostCpu(0, 0, 0, 0) }
}

/** Op lists of the workloads. */
object Workloads {
  /** The pandas-surface families over the largest inputs: groupby-agg,
    * fact and as-of joins, a rolling window, pivot, resample,
    * keep-first dedup and a global quantile. */
  val frameAnalytics: Seq[String] = Seq(
    "q1_groupby_agg", "join_inner", "join_asof_native", "win_rolling_sum",
    "rs_pivot", "ts_resample_day", "set_dropdup_first", "agg_quantile_global")

  /** MinHash and substring dedup, cosine top-k, tokens and the curation
    * composite: codegen text/vector kernels and cached intermediates. */
  val llmPipeline: Seq[String] = Seq(
    "dedup_minhash_pairs", "dedup_substring_spans", "sim_cosine_topk",
    "txt_tokens", "pipe_curation")

  def ops(workload: String, names: Set[String]): Seq[String] = {
    val ops = workload match {
      case "frame_analytics" => frameAnalytics
      case "llm_pipeline" => llmPipeline
      case other => sys.error(s"unknown workload: $other")
    }
    val missing = ops.filterNot(names)
    require(missing.isEmpty, s"ops not in SparkEntry.queries: ${missing.mkString(", ")}")
    ops
  }
}

/** Minimal JSON emitter for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def arr(v: Seq[String]): String = v.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
