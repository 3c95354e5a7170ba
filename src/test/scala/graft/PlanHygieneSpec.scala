package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Enforces the plan-hygiene claims in SCALE.md instead of just
  * documenting them: filters reach the parquet scan, projections prune
  * the read schema, star joins broadcast their dims, and no query in
  * the window family plans a partition-less (single-partition) window.
  */
class PlanHygieneSpec extends SparkSpec {

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  private def optimized(name: String): LogicalPlan =
    SparkEntry.queries(name)(spark, sf()).queryExecution.optimizedPlan

  test("q1 scan pushes the shipdate filter and prunes columns") {
    val p = executed("q1_groupby_agg")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "expected the shipdate predicate in PushedFilters")
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"),
      "untouched wide columns must not appear in the read schema")
  }

  test("keyless as-of queries run the native merge-walk") {
    // every join_asof_* query, keyed or keyless (AsofJoinNative.global:
    // range-bucketed time as a synthetic `by` key), plans the one
    // AsofJoinExec pointer walk — never a window
    val asof = SparkEntry.queries.keys.filter(_.startsWith("join_asof_")).toSeq.sorted
    assert(asof.nonEmpty)
    asof.foreach { q =>
      val p = executed(q)
      // SparkPlan.nodeName strips the Exec suffix: the node prints as
      // "AsofJoin [user_id#...]"
      assert(p.contains("AsofJoin"), s"$q must plan the native walk")
      assert(!p.contains("Window"), s"$q must not fall back to a window")
    }
  }

  test("star join broadcasts the dimension tables") {
    val p = executed("join_star_broadcast")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "dims should broadcast, not shuffle the fact table")
  }

  test("bucketed join reads the bucket layout with no exchange") {
    // force the SMJ path (broadcast would also avoid the shuffle but
    // hides the bucket co-location this test pins)
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val p = executed("src_bucketed_join")
      assert(p.contains("SortMergeJoin"), "expected sort-merge join")
      assert(!p.contains("hashpartitioning(o_custkey") &&
        !p.contains("hashpartitioning(c_custkey"),
        "bucketed sides must not be re-shuffled on the join key")
      assert(p.contains("SelectedBucketsCount"),
        "scan should report the bucketed layout")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("map-side pipeline ops plan zero shuffles") {
    // chunking and the scalar text family must run inside the scan
    // stage: any Exchange here would shuffle the full corpus at 100 TB
    for (n <- Seq("pipe_chunk_overlap", "txt_tokens", "txt_quality",
        "txt_redact", "txt_repetition", "txt_fingerprint", "str_right_ops")) {
      val p = executed(n)
      assert(!p.contains("Exchange"), s"$n plans a shuffle but must be map-side")
    }
  }

  test("segment dedup shuffles by segment and doc only — never pairwise") {
    val p = executed("dedup_segments")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, // seg-text window + doc regroup (+ AQE read variance)
      s"dedup_segments plans $exchanges hash exchanges; expected <= 3")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "segment dedup must not plan any pairwise join")
  }

  test("binned range join plans an equi-join on the bin key, not a nested loop") {
    val p = executed("join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the binned form exists to avoid the theta/nested-loop shape")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "expected a hash/merge EQUI-join on the bin key")
    assert(p.contains("bin"), "join should key on the computed bin column")
  }

  test("bloom semi join probes map-side: the filter sits below the join") {
    // inspect the optimized LOGICAL plan: the AQE wrapper around the
    // physical plan has no children, so physical collect can't descend
    val p = optimized("join_bloom_semi")
    val filters = p.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.exists(_.isInstanceOf[graft.functions.BloomMightContain]) => f
    }
    assert(filters.nonEmpty, "expected a Filter carrying the bloom probe")
    // the probe must pre-filter the scan: no Join below that Filter
    val joinBelow = filters.head.child.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joinBelow.isEmpty,
      "bloom probe must pre-filter the scan, not run above the join")
  }

  test("TPC-H composites: dims broadcast, fact shuffles only fact-fact") {
    val q3 = executed("q3_shipping_priority")
    assert(q3.contains("BroadcastHashJoin"),
      "q3: filtered customer keys must broadcast")
    val q5 = executed("q5_local_volume")
    assert(q5.contains("BroadcastHashJoin"), "q5: dims must broadcast")
    assert(!q5.contains("CartesianProduct") &&
      !q5.contains("BroadcastNestedLoopJoin"),
      "q5: the local-supplier condition must ride an equi-join, not a theta join")
  }

  test("skew pair: plain stays declarative SMJ, salted carries the salt key") {
    val plain = executed("join_skew_plain")
    assert(plain.contains("SortMergeJoin") || plain.contains("ShuffledHashJoin"),
      "merge hint must force a shuffle join (broadcast would hide the skew)")
    val salted = executed("join_skew_salted")
    assert(salted.contains("salt"), "salted variant must join on the salt column")
  }

  test("no partition-less window in the window/rank family") {
    // these builders are pure (no eager actions), so optimizing the
    // plan is cheap; a Window with an empty partitionSpec means the
    // whole table funnels through one partition — the r1 spearman bug
    val names = Seq(
      "win_rolling_sum", "win_rolling_median", "win_rolling_quantile",
      "win_rolling_rank", "win_rolling_nunique", "win_rolling_apply",
      "win_rolling_cov", "win_rolling_kurt", "win_expanding",
      "win_weighted", "win_rank_average", "win_rank_options",
      "agg_rank_group", "agg_cumsum", "agg_shift_diff", "agg_spearman",
      "agg_group_head", "na_ffill_limit", "ts_timedelta_stats")
    for (n <- names) {
      val bad = optimized(n).collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$n plans a partition-less window")
    }
  }

  test("bucketed-layout windows plan no Exchange and no Sort") {
    // VERDICT r8 next-#2: the window family's sf100 cost was the
    // per-key sort spilling; over the bucketed+sorted events layout
    // the window must consume the on-disk run — the plan may contain
    // neither an Exchange nor a Sort (the write paid both, once)
    for (q <- Seq("win_bkt_rolling_sum", "win_bkt_rank")) {
      val p = executed(q)
      assert(p.contains("Window"), s"$q must still be a window plan")
      assert(!p.contains("Exchange"),
        s"$q must read the bucket layout co-located, not shuffle:\n$p")
      assert(!p.contains("Sort"),
        s"$q must consume the on-disk sort order, not re-sort:\n$p")
    }
  }

  test("co-bucketed fact-fact join plans no Exchange and no Sort") {
    // round 10: join_inner's layout twin. lineitem and orders are
    // co-bucketed + sorted on the order key (same bucket count), so
    // the SMJ must consume both scans in place — no shuffle of either
    // fact table, no re-sort. The only Exchange allowed is the one
    // ABOVE the join for the small groupBy(o_orderpriority) partials.
    // At the sf0.001 fixture scale the planner would (correctly)
    // broadcast the tiny orders side, which hides the property under
    // test — disable auto-broadcast so the plan shows the decision
    // the 600M-row regime faces: shuffle both facts, or read the
    // co-located buckets.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = executed("join_bkt_inner")
      assert(p.contains("SortMergeJoin"),
        s"join_bkt_inner must be a sort-merge join over the sorted runs:\n$p")
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"),
        s"join_bkt_inner must not shuffle either fact table below the join:\n$p")
      assert(!joinPart.contains("Sort ") && !joinPart.contains("Sort\n"),
        s"join_bkt_inner must consume the on-disk sort order, not re-sort:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("bucketed exact-distinct dedups with no data-sized Exchange") {
    // VERDICT r9 next-#5: agg_bkt_nunique's grouping sets all contain
    // l_partkey, so HashPartitioning(l_partkey) from the bucketed scan
    // must satisfy the dedup aggregates' distribution — every
    // Exchange left in the plan sits ABOVE an aggregate (count
    // partials / the 3-row flag join), never between a scan and the
    // wide distinct. Structural check: no Exchange node may have a
    // FileScan in its subtree without an intervening Aggregate.
    // The size gate routes fixture-scale inputs to SPLIT, so build the
    // BUCKETED plan the query takes at data scale directly, with the
    // query's own sets and extra aggregates.
    import org.apache.spark.sql.functions.{col, count, max, min}
    val li = graft.sources.BucketedLayout.lineitemByPart(spark, sf())
    val plan = graft.operators.AdaptiveDistinct.bucketed((li, "l_partkey"),
      Seq("l_returnflag"),
      Seq("nunique_part" -> Seq("l_partkey"),
        "nunique_sp" -> Seq("l_suppkey", "l_partkey")),
      Seq(min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        count(col("l_partkey")).as("n")))
      .queryExecution.executedPlan
    def offending(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
      def scanBelowNoAgg(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
        n match {
          case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
          case s if s.nodeName.contains("Scan") => true
          case other => other.children.exists(scanBelowNoAgg)
        }
      p match {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
          e.children.exists(scanBelowNoAgg)
        case other => other.children.exists(offending)
      }
    }
    assert(!offending(plan),
      s"agg_bkt_nunique shuffles raw scan rows — the bucket layout should dedup locally:\n$plan")
  }

  test("sorted-run ewm is one zero-shuffle streaming pass over the layout") {
    // ewm has no window-function form (linear recursion); over the
    // layout it must be a bare mapPartitions on the bucketed scan —
    // no Exchange (groupByKey would add one), no Sort
    val p = executed("win_bkt_ewm_mean")
    assert(p.contains("MapPartitions"), s"expected the sorted-run pass:\n$p")
    assert(!p.contains("Exchange"),
      s"sorted-run ewm must not shuffle — the layout already clusters:\n$p")
    assert(!p.contains("Sort"),
      s"sorted-run ewm must not re-sort the on-disk run:\n$p")
  }

  test("substring-span dedup joins on the span key — never pairwise, windows per doc") {
    val p = executed("dedup_substring_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "span dedup must stay an equi-join on the span hash")
    val bad = optimized("dedup_substring_spans").collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "the interval-merge window must partition by doc_id")
  }

  test("shuffle-split computes positions via range partition, not a 3-value window") {
    // a row_number window partitioned by the train/val/test column
    // would funnel 80% of the corpus through one task; positions must
    // come from GlobalOrder (range partition on the fused sort key)
    // with the split offsets broadcast back
    val p = executed("pipe_shuffle_split")
    assert(p.contains("__go_pid"),
      "expected GlobalOrder's bucketed-ordinal machinery in the plan")
    val bad = optimized("pipe_shuffle_split").collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "no partition-less window allowed")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "the 3-row per-split offset table must broadcast")
  }

  test("curation gates run in the scan stage and the balancing join broadcasts") {
    // the scaladoc promises: quality + langid predicates are map-side
    // scan expressions (below the first shuffle — they cut the corpus
    // before anything shuffles), and per-source balancing joins a tiny
    // broadcast aggregate, never a per-group window
    val lp = optimized("pipe_curation")
    val p = executed("pipe_curation")
    // round-14: the gate is the single-pass MarkerScores kernel
    // (n_words/score_* struct), no longer a size(split(..)) HOF — and
    // the deduped frame is cached, so the gate lives inside the
    // InMemoryRelation's child plan. The executed string proves both
    // properties at once: the kernel predicate appears in the
    // FileScan's DataFilters, i.e. the gate filters the raw scan
    // (below every join/aggregate/window), map-side.
    assert(p.toLowerCase.contains("markerscores"),
      "expected the MarkerScores quality gate in the plan")
    // regex, not the exact leading-bracket string: the assertion must
    // survive an inferred isnotnull filter ordering first or a Spark
    // minor-version parenthesization change (ADVICE r14)
    assert("DataFilters:.*markerscores\\(".r.findFirstIn(p).isDefined,
      "quality/langid gate must filter the raw scan, not post-shuffle data")
    assert(!p.contains("lambdafunction"),
      "the gate must be the codegen kernel, not interpreted split+fold HOFs")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "per-source rate table must broadcast back, not shuffle the corpus")
    assert(!p.contains("CartesianProduct"),
      "no stage of the curation chain may plan a cartesian product")
    val bad = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty, "no partition-less window in the curation chain")
    // r8 (VERDICT r7 #3): the exact-dedup keep-first is a digest-keyed
    // min_by hash AGGREGATE — it must partial-aggregate map-side (one
    // candidate row per digest crosses the exchange), not shuffle full
    // rows through a window over md5(text)
    assert(p.contains("partial_min_by"),
      "exact dedup must be a partial-aggregating min_by, not a window")
    val md5Win = lp.collect {
      case w: LWindow if w.partitionSpec.exists(_.toString.contains("md5")) => w
    }
    assert(md5Win.isEmpty,
      "no window keyed by the md5 digest — keep-first is an aggregate now")
  }

  test("domain mix broadcasts its rate tables; the corpus never shuffles") {
    // the scaladoc promises: the only aggregate is the ~|domains|-row
    // count table; its result broadcasts back (twice) and the keep
    // predicate evaluates in the corpus scan stage — so no Exchange
    // may sit on the documents-scan side of either join
    val p = executed("pipe_domain_mix")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "per-domain weight table must broadcast, not shuffle the corpus")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row Σw total must ride a broadcast")
    // exactly the two declared joins (weights, Σw) and no window —
    // nothing may repartition the raw documents scan
    val lp = optimized("pipe_domain_mix")
    val joins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size == 2, s"expected exactly 2 joins, got ${joins.size}")
    val bad = lp.collect { case w: LWindow => w }
    assert(bad.isEmpty, "domain mix must not plan any window")
  }

  test("bm25 takes top-k distributed, never a global window over the corpus") {
    val p = executed("txt_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must plan as TakeOrderedAndProject (per-partition heaps), not sort-all")
    // the only Window allowed is the rank over the <=20 survivors,
    // which must sit ABOVE the TakeOrderedAndProject in the plan text
    val winIdx = p.indexOf("Window")
    val topIdx = p.indexOf("TakeOrderedAndProject")
    assert(winIdx < topIdx,
      "the rank window must apply to the top-k result, not the corpus-sized frame")
  }

  test("retrieval model statistics broadcast; no unbroadcast pairwise joins") {
    // the 1-row stat frames (n_docs, avgdl, vocab size) legitimately
    // plan as broadcast nested-loop cross joins; what must never
    // appear is an UNbroadcast cartesian of distributed frames
    for (n <- Seq("txt_tfidf", "txt_bm25", "txt_bigram_lm")) {
      val p = executed(n)
      assert(!p.contains("CartesianProduct"),
        s"$n must not plan an unbroadcast cartesian product")
    }
    // df in tfidf and the corpus stats in bm25 are explicit broadcasts
    assert(executed("txt_tfidf").contains("BroadcastExchange"),
      "tfidf's df table must broadcast, not shuffle the (doc,term) frame")
  }

  test("normalized dedup runs its canonicalization map-side: keyed shuffles only") {
    // NFC + casefold + regex strip must live in the scan stage. The
    // two Exchanges are the standard two-level distinct-aggregate
    // shape (COUNT(DISTINCT raw_digest) per normalized digest: first
    // keyed on (digest, raw), then on digest) — both partial-combined
    // keyed shuffles, never pairwise, so the canonicalization itself
    // is free at 100 TB
    val p = executed("dedup_normalized")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"dedup_normalized plans $exchanges hash exchanges; expected the " +
        "2-level distinct-aggregate shape (exactly 2)")
    assert(p.contains("partial"),
      "digest aggregate should map-side combine before the shuffle")
  }

  test("histogram rank windows over the aggregate, never the corpus") {
    // win_rank_hist exists because a window partitioned by an 8-value
    // key runs one task per key at any parallelism; the restructuring
    // is only real if the Window consumes the (key, value) HISTOGRAM
    // (an Aggregate below it) and the corpus side reaches the join
    // un-windowed and un-sorted
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val plan = SparkEntry.queries("win_rank_hist")(spark, sf())
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected the rank window")
    windows.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "every Window must sit above the histogram Aggregate — a " +
          "window over the raw corpus defeats the restructuring")
    }
    val p = executed("win_rank_hist")
    assert(p.contains("BroadcastHashJoin"),
      "per-pair ranks must broadcast back to the corpus")
    assert("partial_count".r.findAllIn(p).nonEmpty,
      "the histogram groupBy must map-side combine")
  }

  test("z-order read-back pushes the 2-d box predicate into the parquet scan") {
    // correctness comes from the oracle; this pins that the box
    // filters actually reach the scan (PushedFilters), which is what
    // lets the z-localized row-group stats skip IO at scale
    val p = executed("src_zorder_box")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("o_custkey") && pushed.contains("o_days"),
      s"both box dimensions must appear in PushedFilters; got: $pushed")
  }

  test("grouped prefix sum and percentiles broadcast nothing when the thresholds forbid it") {
    // the per-group sides (GlobalOrder's (group, bucket) offsets and
    // exactGrouped's per-group counts) grow with the group count, so
    // they carry no broadcast hint: with both thresholds at -1 the
    // final adaptive plan may hold no BroadcastExchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.functions.{col, lit}
    val helper = new AdaptiveSparkPlanHelper {}
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "-1"))
      // 3,000 groups of 10 rows: above GlobalOrder's one-bucket limit,
      // so the multi-bucket offsets path is the one planned
      val df = spark.range(0, 30000).select((col("id") % 3000).as("g"),
        (col("id") * 7 % 101).as("v"), lit(1L).as("w"))
      for ((name, out) <- Seq(
          "prefixSum" -> graft.operators.GlobalOrder.prefixSum(df, Seq("g"), "v", "w", "below"),
          "exactGrouped" -> graft.operators.DistributedPercentile.exactGrouped(
            df, Seq("g"), "v", Seq(0.5), Seq("med")))) {
        out.collect()
        val plan = out.queryExecution.executedPlan
        val bcasts = helper.collect(plan) { case b: BroadcastExchangeLike => b }
        assert(bcasts.isEmpty, s"$name broadcasts a per-group side:\n$plan")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("no exchange over a cached frame executes twice in one query") {
    // every query whose build reaches a `.cache()` call: an exchange or
    // broadcast that two consumers of the cached frame share must run
    // once and be reused, not executed once per consumer
    val names = Seq(
      "agg_median_quantile", "agg_outlier_iqr", "agg_spearman",
      "agg_spearman_grouped", "dedup_clusters", "dedup_minhash_pairs",
      "dedup_semantic_clusters", "dedup_simhash_pairs",
      "dedup_simhash_pairs_sample", "pipe_curation", "pipe_ppl_sample",
      "pipe_split_safe", "sim_knn_graph", "txt_bigram_lm",
      "txt_contamination", "txt_lr_train")
    val twice = names.flatMap { n =>
      val df = SparkEntry.queries(n)(spark, sf())
      df.collect()
      PlanHygieneSpec.duplicatedExchanges(df.queryExecution.executedPlan)
        .map(e => s"$n: $e")
    }
    assert(twice.isEmpty, s"exchanges executed twice:\n${twice.mkString("\n")}")
  }
}

object PlanHygieneSpec extends AdaptiveSparkPlanHelper {

  /** Exchanges or broadcasts that ran as more than one stage of a final
    * adaptive plan although they compute the same thing: their
    * canonical forms are equal, so AQE could have reused the first. A
    * cache-read stage is unwrapped to its scan before canonicalizing,
    * because that stage class keeps its stage id in its canonical form
    * and would hide the duplicate. */
  def duplicatedExchanges(plan: SparkPlan): Seq[String] = {
    val executed = collectWithSubqueries(plan) {
      case q: QueryStageExec if q.plan.isInstanceOf[Exchange] => q.plan
    }
    executed.groupBy(_.transformUp { case t: TableCacheQueryStageExec => t.plan }.canonicalized)
      .values.filter(_.size > 1).map(_.head.simpleString(200)).toSeq
  }
}
