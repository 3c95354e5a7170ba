package graft.ops

import graft.{Cached, OracleNum, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import OracleNum._

/** GroupBy/aggregation surface (SURVEY.md §2.4).
  *
  * Reference: pandas `core/groupby/` (groupby.py:198, generic.py) +
  * `_libs/groupby.pyx` kernels — single-node, single-pass over
  * factorized group codes. Here every aggregate is a Catalyst
  * HashAggregate: map-side partial aggregation, shuffle on the group
  * keys, final merge — the scale-out replacement for the reference's
  * code-based kernels. Nothing below collects to the driver; every
  * query is a single declarative plan AQE can re-partition at 100 TB.
  *
  * Determinism policy for the DuckDB oracle: see OracleNum. Formulas
  * for var/std/skew/kurt/corr are written from exact decimal moment
  * sums with the *same* arithmetic on both sides (pandas' kernels are
  * at _libs/groupby.pyx:964 group_var, :1069 group_skew, :1139
  * group_kurt — bias-corrected sample statistics, which is what the
  * explicit formulas reproduce).
  */
object AggQueries extends QueryModule {

  def queries: Map[String, Q] = Map(
    // pandas: df.query(...).groupby([...]).agg(sum/mean/count) — TPC-H Q1 shape.
    // groupby/generic.py:2091 aggregate; kernels groupby.pyx:720 (sum), :1209 (mean)
    "q1_groupby_agg" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          // price*(1-disc) distributed as sum(p) - sum(p*d): 2-decimal
          // inputs keep every product at scale 4, so the scaled sum
          // stays below 2^53 and the final decimal->double cast is
          // exact on both engines (scale-8 sums are not: the cast can
          // differ by 1 ulp between engines at ~1e9 magnitudes).
          // Round-14: scaled-long per-row arithmetic (same rationale
          // and equivalence argument as OracleNum.dsum — the decimal
          // casts were the stage's hot path); the per-GROUP decimal
          // divisions and the subtract are exact, so the final double
          // is unchanged.
          ((sum(rint($"l_extendedprice" * 100).cast("long")
              .cast("decimal(18,0)")) / lit(100).cast("decimal(3,0)")) -
            (sum((rint($"l_extendedprice" * 100).cast("long") *
                rint($"l_discount" * 100).cast("long")).cast("decimal(20,0)")) /
              lit(10000).cast("decimal(5,0)")))
            .cast("double").as("sum_disc_price"),
          dmean($"l_quantity").as("avg_qty"),
          dmean($"l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // groupby min/max/count/count_distinct (groupby.pyx:2257/:2229;
    // nunique generic.py:890). The exact distincts route through the
    // probe-switched operators/AdaptiveDistinct (round-10 verdict
    // next-#1): a sketch probe picks EXPAND (map-side-collapsible
    // combos), CLUSTERED (one anchor-column exchange serving every
    // dedup — at sf100 this replaces the old split plan's second
    // full shuffle), or SPLIT; and when the l_partkey bucket layout
    // is ALREADY materialized in this session its sunk exchange is
    // ridden instead (BUCKETED — same values, zero data shuffles).
    "agg_minmax_nunique" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      // the plain aggregates ride nuniques' extraAggs: on the gated/
      // expand path that is ONE aggregate over one scan (no base+nu
      // join at all); the dedup paths aggregate them separately and
      // join inside the operator
      graft.operators.AdaptiveDistinct.nuniques(
        li, Seq("l_returnflag"),
        Seq("nunique_part" -> Seq("l_partkey"),
            "nunique_sp" -> Seq("l_suppkey", "l_partkey")),
        layout = graft.sources.BucketedLayout.existingLineitemByPart(s, d)
          .map(f => (f, "l_partkey")),
        extraAggs = Seq(
          min($"l_extendedprice").as("min_price"),
          max($"l_extendedprice").as("max_price"),
          min($"l_shipdate").as("min_ship"),
          max($"l_shipdate").as("max_ship"),
          count($"l_partkey").as("n")))
    },

    // the LAYOUT twin of agg_minmax_nunique: same AdaptiveDistinct
    // entry point, BUCKETED path pinned by construction — lineitem
    // bucketed by l_partkey (BucketedLayout.lineitemByPart) anchors
    // every grouping set, so HashPartitioning(l_partkey) satisfies the
    // dedup aggregates' clustered distribution and both exact
    // distincts dedup bucket-locally with NO data-sized Exchange
    // (pinned in PlanHygieneSpec); the only shuffles left are the
    // O(3 × partitions)-row count partials. The full-column exchange
    // the unbucketed form pays per query is paid ONCE at layout-write
    // time and amortized across every distinct-flavored query.
    "agg_bkt_nunique" -> { (s, d) =>
      import s.implicits._
      val li = graft.sources.BucketedLayout.lineitemByPart(s, d)
      graft.operators.AdaptiveDistinct.nuniques(
        li, Seq("l_returnflag"),
        Seq("nunique_part" -> Seq("l_partkey"),
            "nunique_sp" -> Seq("l_suppkey", "l_partkey")),
        layout = Some((li, "l_partkey")),
        extraAggs = Seq(
          min($"l_extendedprice").as("min_price"),
          max($"l_extendedprice").as("max_price"),
          min($"l_shipdate").as("min_ship"),
          max($"l_shipdate").as("max_ship"),
          count($"l_partkey").as("n")))
    },

    // groupby median/quantile, exact with linear interpolation
    // (group_median_float64 groupby.pyx:196, group_quantile :1424).
    // Round-15 (VERDICT r14 next-#2): routed through the distributed
    // exact-percentile operator instead of Spark's `percentile`
    // aggregate, whose final merge holds a per-group value→count map
    // of EVERY distinct value on one reducer. Values are identical
    // (exact selection + the same interpolation — oracle-pinned); the
    // two source columns each get their own three-pass selection over
    // a pruned two-column scan.
    "agg_median_quantile" -> { (s, d) =>
      import s.implicits._
      import graft.operators.DistributedPercentile.exactGroupedStacked
      // round-15 follow-up: both columns share ONE scan, ONE histogram
      // shuffle and ONE prefix-sum pass via the stacked (unpivoted)
      // variant — the earlier form ran a full exactGrouped pipeline
      // per column. Values identical (ranks stay partitioned per
      // (group, column); selection/interpolation unchanged).
      val stacked = Tables(s, d, "lineitem").selectExpr("l_returnflag",
        "stack(2, 'q', cast(l_quantity as double), " +
          "'d', cast(l_discount as double)) as (cn, v)")
      exactGroupedStacked(stacked, Seq("l_returnflag"), "cn", "v",
        Seq(("q", Seq(0.5, 0.25, 0.75), Seq("mq", "q25", "q75")),
            ("d", Seq(0.9), Seq("q90"))))
        .select($"l_returnflag",
          round($"mq", 6).as("median_qty"),
          round($"q25", 6).as("q25_qty"),
          round($"q75", 6).as("q75_qty"),
          round($"q90", 6).as("q90_disc"))
    },

    // var/std/sem from exact decimal moments (group_var groupby.pyx:964;
    // sem = std/sqrt(n), ops.py:165)
    "agg_var_std" -> { (s, d) =>
      import s.implicits._
      val m = Tables(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count($"l_quantity").cast("double").as("n"),
          dsum($"l_quantity").as("s1"),
          dsum8(dec($"l_quantity") * dec($"l_quantity")).as("s2"))
      m.select($"l_returnflag",
        round(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1), 6).as("var_qty"),
        round(sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)), 6).as("std_qty"),
        round(sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)) / sqrt($"n"), 6).as("sem_qty"))
    },

    // bias-corrected sample skew G1 / excess kurtosis G2, pandas semantics
    // (group_skew groupby.pyx:1069, group_kurt :1139)
    "agg_skew_kurt" -> { (s, d) =>
      import s.implicits._
      // powers in LONG, sums in DECIMAL: 100·q is an exact integer for
      // the ≤2-decimal quantity domain, so each power is an exact long
      // (long-safe up to q = 215.44; TPC-H quantity is 1..50, and a
      // violation would wrap and hash-mismatch the oracle loudly at
      // every sf). The previous form multiplied DECIMALs per row —
      // three BigDecimal multiplies per row made this the costliest
      // non-deliberate sf100 differential entry (182 s). The oracle
      // mirrors the same integer sums (BIGINT → HUGEINT in DuckDB),
      // cast to double and descaled by the same power-of-ten literals,
      // so s1..s4 stay bit-identical cross-engine.
      val q100 = ($"l_quantity".cast(DecimalType(7, 2)) * 100).cast("long")
      def sdec(c: Column) = sum(c.cast(DecimalType(38, 0))).cast("double")
      val m = Tables(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count($"l_quantity").cast("double").as("n"),
          (sdec(q100) / 1e2).as("s1"),
          (sdec(q100 * q100) / 1e4).as("s2"),
          (sdec(q100 * q100 * q100) / 1e6).as("s3"),
          (sdec(q100 * q100 * q100 * q100) / 1e8).as("s4"))
      val mean = $"s1" / $"n"
      val m2 = $"s2" / $"n" - mean * mean
      val m3 = $"s3" / $"n" - lit(3) * mean * ($"s2" / $"n") + lit(2) * mean * mean * mean
      val m4 = $"s4" / $"n" - lit(4) * mean * ($"s3" / $"n") + lit(6) * mean * mean * ($"s2" / $"n") - lit(3) * mean * mean * mean * mean
      val g1 = m3 / pow(m2, 1.5)
      val skew = sqrt($"n" * ($"n" - 1)) / ($"n" - 2) * g1
      val g2 = m4 / (m2 * m2) - lit(3)
      val kurt = (($"n" - 1) / (($"n" - 2) * ($"n" - 3))) * (($"n" + 1) * g2 + lit(6))
      m.select($"l_returnflag", round(skew, 6).as("skew_qty"), round(kurt, 6).as("kurt_qty"))
    },

    // first/last in row order (group_nth groupby.pyx:1778, group_last :1713):
    // min_by/max_by keyed on a TOTAL order: ts alone assumed globally-
    // unique timestamps, which held in the sf0.x fixtures but not in
    // the sf1 replication (and not in real data) — the sf1 differential
    // caught Spark and DuckDB picking different rows among ts ties.
    // The composite (ts, event_id) is encoded as one exact integer
    // (micros * 1e10 + id, < 1e26 so DECIMAL(38,0)/HUGEINT-exact both
    // engines) because DuckDB's arg_min has no struct-key overload.
    "agg_first_last" -> { (s, d) =>
      import s.implicits._
      val key = unix_micros($"ts").cast(DecimalType(38, 0)) *
        lit(10000000000L) + $"event_id"
      Tables(s, d, "events")
        .groupBy($"event_type")
        .agg(
          min_by($"value", key).as("first_value"),
          max_by($"value", key).as("last_value"),
          min_by($"user_id", key).as("first_user"),
          max_by($"user_id", key).as("last_user"))
    },

    // nth row per group (nth selector groupby/groupby.py:4297):
    // row_number over in-group order, filter == 3. lineitem's logical key
    // has duplicate rows, so the order adds every output column as a
    // tiebreak — fully-identical rows then permute freely without
    // changing the result set
    "agg_nth" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_quantity")
      Tables(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 3)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
    },

    // gb.head(n)/tail(n) (groupby.py:5232/:5297): first/last n rows of
    // each group in table order — one hash partition on the key, two
    // row_number orderings inside it (no extra shuffle for the second)
    "agg_group_head" -> { (s, d) =>
      import s.implicits._
      val fwd = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      val bwd = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      Tables(s, d, "orders")
        .withColumn("rn_head", row_number().over(fwd))
        .withColumn("rn_tail", row_number().over(bwd))
        .filter($"rn_head" <= 2 || $"rn_tail" <= 2)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate",
          ($"rn_head" <= 2).as("in_head"), ($"rn_tail" <= 2).as("in_tail"))
    },

    // any/all -> Kleene bool_or/bool_and (group_any_all groupby.pyx:613)
    "agg_any_all" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          expr("bool_or(o_totalprice > 400000)").as("any_big"),
          expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
          expr("bool_or(o_orderstatus = 'F')").as("any_f"))
    },

    // idxmin/idxmax (group_idxmin_idxmax groupby.pyx:2108) ->
    // deterministic arg-min/max with explicit tiebreak on the unique key
    // idxmax/idxmin as a HASH AGGREGATE: max_by/min_by with the full
    // tie-break (price, orderkey, linenumber) encoded in the ordering
    // struct (negated keys turn "then smallest id" into a max). The
    // earlier row_number form partitioned by l_returnflag — THREE
    // distinct values — so at sf10 it funneled 60M rows into 3 tasks
    // and sorted each twice (144 s); the aggregate partial-aggregates
    // map-side and took it to ~3 s, the plan that holds at any group
    // cardinality.
    "agg_idxminmax" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          max_by($"l_orderkey",
            struct($"l_extendedprice", (-$"l_orderkey").as("nk"),
              (-$"l_linenumber").as("nl"))).as("idxmax_order"),
          min_by($"l_orderkey",
            struct($"l_extendedprice", $"l_orderkey", $"l_linenumber"))
            .as("idxmin_order"))
    },

    // value_counts with normalize (algorithms.py:994, groupby
    // generic.py:1017). The denominator is a broadcast one-row total,
    // not a partition-less window: the counts table has one row per
    // distinct value, which at corpus scale is itself large — a
    // single-partition WindowExec there would serialize the query.
    "agg_value_counts" -> { (s, d) =>
      import s.implicits._
      val counts = Tables(s, d, "orders")
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum($"cnt").as("total"))
      counts.crossJoin(broadcast(total))
        .withColumn("proportion", $"cnt".cast("double") / $"total".cast("double"))
        .drop("total")
    },

    // Series.value_counts(normalize=True) through the PFrame surface
    // itself (base.py:961): one-column counts with a broadcast one-row
    // total as the normalize denominator — never a global window
    "agg_value_counts_series" -> { (s, d) =>
      import s.implicits._
      graft.api.PFrame(Tables(s, d, "orders").select($"o_orderpriority"))
        .valueCounts("o_orderpriority", normalize = true).df
    },

    // DataFrameGroupBy.nunique (generic.py:890): one exact distinct
    // count per column, through the PFrame surface and the adaptive
    // operator — the per-column singleton sets share NO anchor, so
    // this row exercises AdaptiveDistinct's anchorless probe branch
    // (SPLIT here: the custkey column keeps the combo superset
    // data-sized; an all-low-cardinality mix would take EXPAND)
    "agg_nunique_frame" -> { (s, d) =>
      graft.api.PFrame(Tables(s, d, "orders"))
        .groupby("o_orderpriority")
        .nunique(Seq("o_custkey", "o_orderstatus", "o_orderdate")).df
    },

    // value_counts(bins=5) (base.py:961 value_counts with bins -> cut
    // + count): equal-width bins over [min, max]; the global min/max
    // is one tiny broadcast aggregate, binning is then map-side
    "agg_value_counts_bins" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      val mm = li.agg(min($"l_quantity").as("lo"), max($"l_quantity").as("hi"))
      li.crossJoin(broadcast(mm))
        .withColumn("bin",
          least(floor(($"l_quantity" - $"lo") * 5 / ($"hi" - $"lo")), lit(4)).cast("int"))
        .groupBy($"bin", round($"lo" + $"bin" * ($"hi" - $"lo") / 5, 6).as("bin_lo"))
        .agg(count(lit(1)).as("cnt"))
    },

    // mode: most frequent value, smallest-value tiebreak (algorithms.py:1149)
    "agg_mode" -> { (s, d) =>
      import s.implicits._
      val counts = Tables(s, d, "lineitem")
        .groupBy($"l_returnflag", $"l_quantity")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"cnt".desc, $"l_quantity".asc)
      counts.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"l_returnflag", $"l_quantity".as("mode_qty"), $"cnt")
    },

    // groupby(dropna=) with NULL group keys (groupby.py dropna param;
    // FIXTURES null matrix): pandas DEFAULT drops NaN keys, SQL/Spark
    // keep the NULL group — the mapping is dropna=True == pre-filter
    // key IS NOT NULL, dropna=False == plain groupBy. Both modes in
    // one result, keyed by a mode column; sentinel nulls derived
    // deterministically.
    "agg_group_dropna" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
        .select(when(pmod($"event_id", lit(13)) === 0, lit(null))
          .otherwise($"event_type").as("k"), $"value")
      def agg(df: org.apache.spark.sql.DataFrame, mode: String) =
        df.groupBy($"k")
          .agg(count(lit(1)).as("n"), dsum($"value").as("sum_val"))
          .withColumn("mode", lit(mode))
      agg(ev.filter($"k".isNotNull), "dropna_true")
        .unionByName(agg(ev, "dropna_false"))
    },

    // the 100TB-mode approx switches (SURVEY §7.3: exact by default,
    // explicit approx= for scale): HyperLogLog++ count-distinct and
    // t-digest-style percentile — one pass, O(1) state per partition,
    // no exact-sort/Expand cost. Sketch VALUES are engine-specific,
    // so the dump carries the documented error contracts as booleans
    // instead: HLL++ within rsd 0.05 of the exact distinct count, and
    // each approx_percentile value holding a RANK within ±2/accuracy
    // of its target (documented bound ±1/accuracy plus one rank step).
    // The oracle emits literal TRUE for each, so the driver's hash
    // gate machine-checks |approx − exact| ≤ bound (VERDICT r7
    // next-#6); exact_cd is compared value-for-value. The rank check
    // is ONE conditional-count scan: the value's rank interval
    // [below+1, upto] must intersect [(p−ε)n, (p+ε)n] — no exact
    // percentile selection at all (the r8 exact-bracket verification
    // spent 372 s at sf100 re-deriving brackets the rank counts give
    // directly). The verification half exists only to close the loop —
    // the production 100 TB path is the sketch subtree alone, and
    // ApproxSpec pins that it partial-aggregates map-side.
    "agg_approx_stats" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      val sketch = li.agg(
        approx_count_distinct($"l_partkey").as("acd"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 1000)")
          .as("pcts"))
        .select($"acd",
          element_at($"pcts", 1).as("p50a"),
          element_at($"pcts", 2).as("p90a"))
      // grouping on the broadcast scalar columns carries the sketch
      // values through the rank scan without a second sketch pass;
      // the single group partial-aggregates map-side like any agg
      val ranks = li.crossJoin(broadcast(sketch))
        .groupBy($"acd", $"p50a", $"p90a")
        .agg(
          count($"l_extendedprice").cast("double").as("n"),
          sum(when($"l_extendedprice" < $"p50a", 1L).otherwise(0L))
            .cast("double").as("p50_below"),
          sum(when($"l_extendedprice" <= $"p50a", 1L).otherwise(0L))
            .cast("double").as("p50_upto"),
          sum(when($"l_extendedprice" < $"p90a", 1L).otherwise(0L))
            .cast("double").as("p90_below"),
          sum(when($"l_extendedprice" <= $"p90a", 1L).otherwise(0L))
            .cast("double").as("p90_upto"))
      val eps = 2.0 / 1000
      def rankOk(p: Double, below: Column, upto: Column): Column =
        (below + 1 <= (lit(p) + eps) * $"n") && (upto >= (lit(p) - eps) * $"n")
      val exact = li.agg(countDistinct($"l_partkey").as("exact_cd"))
      ranks.crossJoin(exact).select(
        $"exact_cd",
        (abs($"acd" - $"exact_cd").cast("double") / $"exact_cd" <= 0.05)
          .as("acd_ok"),
        rankOk(0.5, $"p50_below", $"p50_upto").as("p50_ok"),
        rankOk(0.9, $"p90_below", $"p90_upto").as("p90_ok"))
    },

    // exact GLOBAL quantiles at scale (reference: quantile with
    // interpolation='linear', core/series.py quantile → nanops):
    // Spark's exact `percentile` aggregate merges a value→count map of
    // EVERY distinct value on one reducer — that single merge cost
    // 517 s of the sf100 differential (SCALE.md r8). The scale-safe
    // exact path is operators/DistributedPercentile: two scans of one
    // job each (a GK sketch brackets each target; one more scan counts
    // the rows below each bracket and the values inside it), partials
    // tree-merged, the driver collect bounded by a fixed row budget.
    // The oracle compares the VALUES against DuckDB's exact
    // quantile_cont — proving exactness, not just plausibility.
    "agg_quantile_global" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      val qs = graft.operators.DistributedPercentile.exact(
        li.toDF(), "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.9))
      s.range(1).select(
        round(lit(qs(0)), 6).as("q25"),
        round(lit(qs(1)), 6).as("q50"),
        round(lit(qs(2)), 6).as("q75"),
        round(lit(qs(3)), 6).as("q90"))
    },

    // df.mode() frame-wide (frame.py mode: per-column most-frequent
    // value; pandas returns modes sorted — we pin the FIRST, i.e.
    // smallest, mode). Each column is one tiny count agg reduced to a
    // single broadcastable row; the cross join of two 1-row frames is
    // free at any scale.
    "agg_mode_frame" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      def modeOf(c: String) = li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, col(c).asc).limit(1).select(col(c))
      modeOf("l_quantity").withColumnRenamed("l_quantity", "mode_qty")
        .crossJoin(modeOf("l_returnflag")
          .withColumnRenamed("l_returnflag", "mode_flag"))
    },

    // ohlc over event time (groupby.pyx:1354): first/last via min_by/max_by
    // on the globally-unique ts
    "agg_ohlc" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .groupBy($"event_type")
        .agg(
          min_by($"value", $"ts").as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max_by($"value", $"ts").as("close"))
    },

    // count(col) vs size=count(*) with nulls (groupby.py:1894/:2672)
    "agg_count_size" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "lineitem")
        .withColumn("disc_nullable", when($"l_discount" > 0, $"l_discount"))
        .groupBy($"l_returnflag")
        .agg(
          count($"disc_nullable").as("count_nonnull"),
          count(lit(1)).as("size"),
          dsum($"disc_nullable").as("sum_nonnull"))
    },

    // corr/cov from exact moments (nancorr _libs/algos.pyx:355;
    // frame.py:15791 corr, :15912 cov) — sample covariance/correlation
    "agg_corr_cov" -> { (s, d) =>
      import s.implicits._
      val m = Tables(s, d, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          dsum($"l_quantity").as("sx"),
          dsum($"l_discount").as("sy"),
          dsum8(dec($"l_quantity") * dec($"l_quantity")).as("sxx"),
          dsum8(dec($"l_discount") * dec($"l_discount")).as("syy"),
          dsum8(dec($"l_quantity") * dec($"l_discount")).as("sxy"))
      val cov = ($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1)
      val corr = ($"n" * $"sxy" - $"sx" * $"sy") /
        (sqrt($"n" * $"sxx" - $"sx" * $"sx") * sqrt($"n" * $"syy" - $"sy" * $"sy"))
      m.select($"l_returnflag", round(cov, 6).as("cov_qd"), round(corr, 6).as("corr_qd"))
    },

    // corrwith / full pairwise corr matrix (frame.py:15791 corr,
    // :16047 corrwith): all pairwise Pearson r over 4 columns from ONE
    // scan — k sums, k sum-of-squares, k(k-1)/2 cross-products in a
    // single aggregate, then the long (pair, r) matrix form via
    // unpivot. corrwith(target) is the subset of rows whose pair
    // starts with the target column; no per-pair rescans at any scale.
    // df.corrwith(other) (frame.py:16047): per-column Pearson r
    // between row-aligned frames sharing column names. Alignment is
    // the index equi-join; the correlations then come from ONE moment
    // aggregate over the joined frame (no per-column passes) — same
    // exact-decimal moment machinery as agg_corr_matrix.
    "agg_corrwith" -> { (s, d) =>
      import s.implicits._
      // frame A: per-order lineitem totals; frame B: orders — aligned
      // on the unique order key, correlating the columns they share
      val a = Tables(s, d, "lineitem").groupBy($"l_orderkey")
        .agg(dsum($"l_quantity").as("qty"), dsum($"l_extendedprice").as("price"))
      val b = Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey".cast("double").as("qty"),
          $"o_totalprice".as("price"))
      val j = a.as("a").join(b.as("b"), $"l_orderkey" === $"o_orderkey")
        .select($"a.qty".as("qa"), $"b.qty".as("qb"),
          $"a.price".as("pa"), $"b.price".as("pb"))
      val m = j.agg(
        count(lit(1)).cast("double").as("n"),
        dsum($"qa").as("s_qa"), dsum($"qb").as("s_qb"),
        dsum($"pa").as("s_pa"), dsum($"pb").as("s_pb"),
        dsum8(dec($"qa") * dec($"qa")).as("ss_qa"),
        dsum8(dec($"qb") * dec($"qb")).as("ss_qb"),
        dsum8(dec($"pa") * dec($"pa")).as("ss_pa"),
        dsum8(dec($"pb") * dec($"pb")).as("ss_pb"),
        dsum8(dec($"qa") * dec($"qb")).as("x_q"),
        dsum8(dec($"pa") * dec($"pb")).as("x_p"))
      def r(sx: Column, sy: Column, sxx: Column, syy: Column, sxy: Column) =
        round(($"n" * sxy - sx * sy) /
          (sqrt($"n" * sxx - sx * sx) * sqrt($"n" * syy - sy * sy)), 6)
      val wide = m.select(
        r($"s_qa", $"s_qb", $"ss_qa", $"ss_qb", $"x_q").as("qty"),
        r($"s_pa", $"s_pb", $"ss_pa", $"ss_pb", $"x_p").as("price"))
      wide.unpivot(Array.empty, wide.columns.map(col), "column", "r")
    },

    "agg_corr_matrix" -> { (s, d) =>
      import s.implicits._
      val m = Tables(s, d, "lineitem").agg(
        count(lit(1)).cast("double").as("n"),
        dsum($"l_quantity").as("s_q"), dsum($"l_extendedprice").as("s_e"),
        dsum($"l_discount").as("s_d"), dsum($"l_tax").as("s_t"),
        dsum8(dec($"l_quantity") * dec($"l_quantity")).as("ss_q"),
        dsum8(dec($"l_extendedprice") * dec($"l_extendedprice")).as("ss_e"),
        dsum8(dec($"l_discount") * dec($"l_discount")).as("ss_d"),
        dsum8(dec($"l_tax") * dec($"l_tax")).as("ss_t"),
        dsum8(dec($"l_quantity") * dec($"l_extendedprice")).as("x_qe"),
        dsum8(dec($"l_quantity") * dec($"l_discount")).as("x_qd"),
        dsum8(dec($"l_quantity") * dec($"l_tax")).as("x_qt"),
        dsum8(dec($"l_extendedprice") * dec($"l_discount")).as("x_ed"),
        dsum8(dec($"l_extendedprice") * dec($"l_tax")).as("x_et"),
        dsum8(dec($"l_discount") * dec($"l_tax")).as("x_dt"))
      def r(sx: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
          sxx: org.apache.spark.sql.Column, syy: org.apache.spark.sql.Column,
          sxy: org.apache.spark.sql.Column) =
        round(($"n" * sxy - sx * sy) /
          (sqrt($"n" * sxx - sx * sx) * sqrt($"n" * syy - sy * sy)), 6)
      val wide = m.select(
        r($"s_q", $"s_e", $"ss_q", $"ss_e", $"x_qe").as("qty_price"),
        r($"s_q", $"s_d", $"ss_q", $"ss_d", $"x_qd").as("qty_disc"),
        r($"s_q", $"s_t", $"ss_q", $"ss_t", $"x_qt").as("qty_tax"),
        r($"s_e", $"s_d", $"ss_e", $"ss_d", $"x_ed").as("price_disc"),
        r($"s_e", $"s_t", $"ss_e", $"ss_t", $"x_et").as("price_tax"),
        r($"s_d", $"s_t", $"ss_d", $"ss_t", $"x_dt").as("disc_tax"))
      wide.unpivot(Array.empty, wide.columns.map(col), "pair", "r")
    },

    // cumulative transforms: cumsum/cummax/cumcount over in-group row order
    // (groupby.pyx:368 cumsum, :2402 cummax; order = __order__ discipline)
    "agg_cumsum" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 1000)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
          sum(dec($"l_quantity")).over(w).cast("double").as("cum_qty"),
          max($"l_quantity").over(w).as("cummax_qty"),
          (count(lit(1)).over(w) - 1).as("cumcount"))
    },

    // cumprod (group_cumprod groupby.pyx:270): exact per-group running
    // product via a window-frame array fold — multiplication stays
    // exact (signs and zeros included), unlike the exp(sum(log(abs)))
    // rewrite which loses the sign and precision. The frame array is
    // bounded by group size (<= 7 lines per order), so memory is O(1)
    // per row at any scale; groups partition-distribute as usual.
    "agg_cumprod" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"l_orderkey")
        .orderBy($"l_linenumber", $"l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val q = $"l_quantity".cast("double")
      Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          aggregate(collect_list(q).over(w), lit(1.0),
            (acc, x) => acc * x).as("cumprod_qty"),
          // centered variant exercises sign flips and exact zeros
          aggregate(collect_list(q - 25.0).over(w), lit(1.0),
            (acc, x) => acc * x).as("cumprod_ctr"))
    },

    // rank family inside groups (group_rank groupby.pyx:1910): rank=min,
    // dense, first=row_number, pandas pct = rank/group_size
    "agg_rank_group" -> { (s, d) =>
      import s.implicits._
      val ord = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
      val grp = Window.partitionBy($"l_returnflag")
      Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 1000)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity",
          rank().over(ord).as("rank_min"),
          dense_rank().over(ord).as("rank_dense"),
          (rank().over(ord).cast("double") / count(lit(1)).over(grp)).as("rank_pct"))
    },

    // shift/diff/pct_change from lag over in-group order
    // (groupby.pyx:489 shift; frame.py:14113 diff)
    "agg_shift_diff" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      Tables(s, d, "events")
        .select($"user_id", $"event_id", $"value",
          lag($"value", 1).over(w).as("prev_value"),
          ($"value" - lag($"value", 1).over(w)).as("diff_value"),
          // pandas pct_change with a 0 base is inf; the engine policy
          // (SURVEY §7.4.2) is NULL for undefined ratios on both sides
          (($"value" - lag($"value", 1).over(w)) /
            nullif(lag($"value", 1).over(w), lit(0.0))).as("pct_change"),
          lead($"value", 1).over(w).as("next_value"))
    },

    // transform: broadcast group aggregate back to rows
    // (generic.py:622 transform; window with unbounded frame)
    "agg_transform" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"l_returnflag")
      Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 1000)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity",
          (sum(dec($"l_quantity")).over(w).cast("double") / count(lit(1)).over(w)).as("group_mean"),
          ($"l_quantity" - sum(dec($"l_quantity")).over(w).cast("double") / count(lit(1)).over(w)).as("demeaned"))
    },

    // groupby.filter(group predicate) (generic.py:817): keep rows of
    // customers having >= 15 orders
    "agg_group_filter" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
      Tables(s, d, "orders")
        .withColumn("n_orders", count(lit(1)).over(w))
        .filter($"n_orders" >= 15)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"n_orders")
    },

    // describe: composed agg (core/methods/describe.py). Round-15
    // (VERDICT r14 next-#2): the quartiles come from the distributed
    // exact-percentile operator (o_totalprice is ~unique per row, so
    // the old `percentile` aggregate merged a value→count map of the
    // whole column on one reducer — the agg_quantile_global pathology,
    // 517 s at sf100): two one-job scans at build time, the quartiles
    // embedded as literals; the moment/min/max aggregate is untouched.
    "agg_describe" -> { (s, d) =>
      import s.implicits._
      val p = $"o_totalprice".cast("decimal(12,2)")
      val orders = Tables(s, d, "orders")
      val qs = graft.operators.DistributedPercentile.exact(
        orders.select($"o_totalprice").toDF(), "o_totalprice",
        Seq(0.25, 0.5, 0.75))
      val m = orders
        .agg(
          count($"o_totalprice").cast("double").as("n"),
          dsum($"o_totalprice").as("s1"),
          dsum8(p * p).as("s2"),
          min($"o_totalprice").as("min_v"),
          max($"o_totalprice").as("max_v"))
      m.select($"n", round($"s1" / $"n", 6).as("mean_v"),
        round(sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)), 6).as("std_v"),
        $"min_v",
        round(lit(qs(0)), 6).as("p25"),
        round(lit(qs(1)), 6).as("p50"),
        round(lit(qs(2)), 6).as("p75"),
        $"max_v")
    },

    // named multi-agg across columns (generic.py:324 named agg)
    "agg_named_multi" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "orders")
        .join(Tables(s, d, "customer").select($"c_custkey", $"c_mktsegment"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("total_rev"),
          dmean($"o_totalprice").as("avg_rev"),
          countDistinct($"o_custkey").as("n_customers"),
          max($"o_orderdate").as("last_order"))
    },

    // groupby.apply (groupby.py:1250) -> flatMapGroups: top-2 orders per
    // customer by price, arbitrary per-group logic through a sorted iterator
    "agg_apply_topn" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "orders")
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (key, it) =>
          it.toSeq
            .sortBy(r => (-r._3, r._2))
            .take(2)
        }
        .toDF("o_custkey", "o_orderkey", "o_totalprice")
    },

    // spearman correlation (nancorr spearman algos.pyx:434): rank both
    // columns (ties -> average rank, exactly pandas' default), then
    // pearson over the ranks from exact moment sums. Ranks are
    // half-integers, so the decimal moments are exact on both engines.
    "agg_spearman" -> { (s, d) =>
      import s.implicits._
      spearman(Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 5000)
        .select($"l_quantity".as("xv"), $"l_discount".as("yv")), Nil)
    },

    // Tukey-fence outlier detection per group (the describe() +
    // boolean-mask workflow pandas users run for data cleaning): exact
    // per-group quartiles -> 1.5*IQR fences broadcast back -> map-side
    // outlier count. Fences derive from the same exact interpolated
    // percentiles both engines compute, so boundary comparisons agree
    // bit-for-bit; two scans, the second joined to a tiny broadcast.
    // Round-15 (VERDICT r14 next-#2): exact quartiles via the
    // distributed three-pass operator — l_extendedprice is
    // high-cardinality, so Spark's `percentile` aggregate merged a
    // per-group map of ~every distinct price on one reducer (the
    // clearest remaining single-task state at 100 TB). Values
    // identical, oracle-pinned.
    "agg_outlier_iqr" -> { (s, d) =>
      import s.implicits._
      val q = graft.operators.DistributedPercentile.exactGrouped(
        Tables(s, d, "lineitem").select($"l_returnflag", $"l_extendedprice"),
        Seq("l_returnflag"), "l_extendedprice", Seq(0.25, 0.75),
        Seq("q1", "q3"))
        .withColumn("lo", $"q1" - lit(1.5) * ($"q3" - $"q1"))
        .withColumn("hi", $"q3" + lit(1.5) * ($"q3" - $"q1"))
      Tables(s, d, "lineitem")
        .join(broadcast(q), Seq("l_returnflag"))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"l_extendedprice" < $"lo" || $"l_extendedprice" > $"hi",
            1L).otherwise(0L)).as("n_outliers"),
          round(min($"lo"), 6).as("fence_lo"),
          round(max($"hi"), 6).as("fence_hi"))
    },

    // per-group OLS trend (the groupby().apply(np.polyfit) workflow):
    // y = value over x = days-since-epoch-base per user. x and y are
    // rounded onto exact narrow decimals first, so all moment sums are
    // order-free and bit-equal; slope/intercept then recompute from
    // identical doubles with the same closed form on both engines
    // (normal equations — same discipline as agg_spearman_grouped).
    "agg_group_ols" -> { (s, d) =>
      import s.implicits._
      val baseUs = 1704067200000000L // 2024-01-01 UTC
      val ev = Tables(s, d, "events").select($"user_id",
        round((unix_micros($"ts") - baseUs) / 86400e6, 4)
          .cast("decimal(10,4)").as("x"),
        $"value".cast("decimal(10,4)").as("y"))
      val m = ev.groupBy($"user_id").agg(
        count(lit(1)).cast("double").as("n"),
        sum($"x").cast("double").as("sx"),
        sum($"y").cast("double").as("sy"),
        sum($"x" * $"y").cast("double").as("sxy"),
        sum($"x" * $"x").cast("double").as("sxx"))
        .filter($"n" >= 10)
        .withColumn("slope_raw",
          ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"))
      m.select($"user_id", $"n".cast("long").as("n_events"),
        round($"slope_raw", 6).as("slope"),
        round(($"sy" - $"slope_raw" * $"sx") / $"n", 6).as("intercept"))
    },

    // weighted group stats (np.average's weights= / sample-weighted
    // pipelines): wmean = S(w*x)/S(w), wvar = S(w*x^2)/S(w) - wmean^2.
    // The second moment's terms reach ~1e13 with 8 true decimals —
    // beyond double's 16 significant digits — so products are computed
    // in NARROW exact decimals ((11,4)^2 -> scale 8, x integral (2,0)
    // weight) that stay inside both engines' exact 38-digit range; the
    // sums are then order-free and bit-equal, and the derived stats
    // recompute identically from them on both sides.
    "agg_weighted_stats" -> { (s, d) =>
      import s.implicits._
      val w = $"l_quantity".cast("decimal(2,0)")  // integral 1..50
      val x = $"l_extendedprice".cast("decimal(11,4)")
      val t = Tables(s, d, "lineitem").groupBy($"l_returnflag").agg(
        sum(w).cast("double").as("sw"),
        sum(w * x).cast("double").as("swx"),
        sum((x * x) * w).cast("double").as("swx2"))
      t.select($"l_returnflag",
        round($"swx" / $"sw", 6).as("wmean"),
        round($"swx2" / $"sw" - ($"swx" / $"sw") * ($"swx" / $"sw"), 4)
          .as("wvar"))
    },

    // custom typed Aggregator via udaf (§2.11 agg-with-UDF surface):
    // geometric mean; log-sum reassociation error << rounding grain
    "agg_geomean" -> { (s, d) =>
      import s.implicits._
      val gm = udaf(graft.functions.GeoMean)
      Tables(s, d, "orders")
        .groupBy($"o_orderstatus")
        .agg(round(gm($"o_totalprice"), 4).as("geomean_price"),
          count(lit(1)).as("n"))
    },

    // per-group Spearman (method='average' ranks): agg_spearman's
    // rank-from-histogram form with the prefix sum partitioned by
    // group — the base shuffles once into the joint histogram and
    // everything after runs on distinct (group, value) rows.
    "agg_spearman_grouped" -> { (s, d) =>
      import s.implicits._
      spearman(Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 5000)
        .select($"l_returnflag", $"l_quantity".as("xv"),
          $"l_discount".as("yv")), Seq("l_returnflag"))
    },

    // Kendall tau-b on the FULL orders table via Knight's O(n log n)
    // merge-sort Aggregator (graft.functions.KendallTau; ref
    // algos.pyx:1988 nancorr_kendall is the O(n^2) pandas kernel).
    // The O(n^2) pair self-join survives only as the DuckDB oracle.
    "agg_kendall" -> { (s, d) =>
      import s.implicits._
      val ds = Tables(s, d, "orders")
        .select($"o_totalprice".cast("double").as("x"),
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
            .cast("double").as("y"))
        .as[(Double, Double)]
      ds.select(graft.functions.KendallTau.toColumn.name("tau"))
        .select(round($"tau", 6).as("kendall_tau"))
    },

    // per-group Kendall tau-b — the partition-parallel form the
    // KendallTau scale guard points to: each status group's
    // O(n log n) finish runs in its own task
    "agg_kendall_grouped" -> { (s, d) =>
      import s.implicits._
      graft.functions.KendallTau.grouped(s, Tables(s, d, "orders"),
          "o_orderstatus", $"o_totalprice",
          expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000"))
        .select($"o_orderstatus", round($"tau", 6).as("kendall_tau"))
    },

    // product aggregate (groupby.pyx:892): tiny per-order groups keep fp
    // reassociation error << the 1e-6 rounding grain
    "agg_prod" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "lineitem")
        .groupBy($"l_orderkey")
        .agg(round(product(lit(1) + $"l_discount"), 6).as("prod_disc"),
          count(lit(1)).as("n_lines"))
    },

    // groupby().ngroup() (groupby.py ngroup: 0-based group number in
    // key sort order). Scale shape: the dense numbering is computed on
    // the DISTINCT key frame — provably tiny after the distinct agg —
    // so the unpartitioned window touches K rows, not N, and the
    // numbered keys broadcast back onto the fact rows.
    "agg_ngroup" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_linestatus")
      val keys = li.select($"l_returnflag", $"l_linestatus").distinct()
      val numbered = keys.withColumn("ngroup",
        (dense_rank().over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"l_returnflag", $"l_linestatus")) - 1).cast("long"))
      li.join(broadcast(numbered), Seq("l_returnflag", "l_linestatus"))
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
          $"l_linestatus", $"ngroup")
    }
  )

  /** Spearman's rho of `xv` and `yv` within `keys` groups (Nil: one
    * global row), method='average' ranks, as `keys ++ spearman_qd`.
    * The average rank of a value v is exactly below(v) + (cnt(v)+1)/2,
    * so the ranks come from the (keys, xv, yv) JOINT histogram: one
    * partial-aggregating shuffle of the base (collapsing ties BEFORE
    * anything else), two tiny per-column rollups ranked by a
    * scale-safe bucketed prefix sum (GlobalOrder.prefixSum — no
    * row-level window, no second scan of the base), and moment sums
    * weighted by the joint counts. All rank/moment arithmetic is exact
    * (half-integer ranks, decimal sums; c·Σ == Σ over copies in exact
    * decimal, products bounded well inside the chosen precisions), so
    * the emitted double equals the per-row decimal form bit for bit —
    * oracle-pinned. */
  private def spearman(base: DataFrame, keys: Seq[String]): DataFrame = {
    val kcols = keys.map(col)
    val joint = Cached(base.groupBy(kcols :+ col("xv") :+ col("yv"): _*)
      .agg(count(lit(1)).as("c")))
    def ranksOf(k: String, cName: String, rName: String) = {
      val h = joint.groupBy(kcols :+ col(k): _*).agg(sum(col("c")).as(cName))
      graft.operators.GlobalOrder.prefixSum(h, keys, k, cName, "__below")
        .withColumn(rName, col("__below") + (col(cName) + 1) / lit(2.0))
        .select(kcols :+ col(k) :+ col(rName): _*)
    }
    val r = joint
      .join(ranksOf("xv", "cx", "rx"), keys :+ "xv")
      .join(ranksOf("yv", "cy", "ry"), keys :+ "yv")
    def d1(c: Column) = c.cast("decimal(12,1)")
    val cw = col("c").cast("decimal(12,0)")
    val (rx, ry) = (d1(col("rx")), d1(col("ry")))
    val m = r.groupBy(kcols: _*).agg(
      sum(col("c")).cast("double").as("n"),
      sum(rx * cw).cast("double").as("sx"),
      sum(ry * cw).cast("double").as("sy"),
      sum(rx * rx * cw).cast("double").as("sxx"),
      sum(ry * ry * cw).cast("double").as("syy"),
      sum(rx * ry * cw).cast("double").as("sxy"))
    val (n, sx, sy) = (col("n"), col("sx"), col("sy"))
    m.select(kcols :+ round((n * col("sxy") - sx * sy) /
      (sqrt(n * col("sxx") - sx * sx) * sqrt(n * col("syy") - sy * sy)), 6)
      .as("spearman_qd"): _*)
  }

  def oracle: Map[String, String] = baseOracle +
    // the bucketed twin is a pure layout restructuring: same result,
    // same oracle as the shuffling form
    ("agg_bkt_nunique" -> baseOracle("agg_minmax_nunique"))

  private def baseOracle: Map[String, String] = Map(
    "q1_groupby_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,4))
              - SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    // SHARDED distinct-then-count (round 13, supersedes the round-12
    // staged form): one DISTINCT hash-aggregate over all ~600M
    // distinct (flag, supp, part) triples at sf100 exceeds this
    // host's memory_limit PLUS all free disk even with spill
    // (measured: >62 GB scratch at 55 GB memory_limit, three
    // attempts). Partitioning the DISTINCT by l_partkey shard —
    // UNION ALL of 8 pk-disjoint branches, per-flag counts summed —
    // is exactly equivalent (pk shards are disjoint, so no triple is
    // counted twice; verified 0-diff vs the one-shot form at sf0.1),
    // and DuckDB executes UNION ALL branches as sequential pipelines,
    // so the peak hash table is 1/8th. NULL-pk triples ride shard 0
    // in dsp (dp excludes NULL pk to match COUNT(DISTINCT x)'s NULL
    // skipping); a row-tuple (a, b) is non-NULL even with NULL
    // fields, so dsp takes every combo, matching COUNT(DISTINCT
    // (a, b)). LEFT JOIN + COALESCE keeps groups whose distinct
    // input is all-NULL (count = 0).
    "agg_minmax_nunique" -> {
      val dpShards = (0 until 8).map(k =>
        s"""SELECT l_returnflag, COUNT(*) AS c FROM (
              SELECT DISTINCT l_returnflag, l_partkey FROM lineitem
              WHERE l_partkey IS NOT NULL AND abs(l_partkey) % 8 = $k)
            GROUP BY l_returnflag""").mkString("\nUNION ALL\n")
      val dspShards = (0 until 8).map(k =>
        s"""SELECT l_returnflag, COUNT(*) AS c FROM (
              SELECT DISTINCT l_returnflag, l_suppkey, l_partkey FROM lineitem
              WHERE ${if (k == 0) "l_partkey IS NULL OR " else ""}abs(l_partkey) % 8 = $k)
            GROUP BY l_returnflag""").mkString("\nUNION ALL\n")
      s"""WITH base AS (
           SELECT l_returnflag,
             MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
             MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
             COUNT(l_partkey) AS n
           FROM lineitem GROUP BY l_returnflag),
         dp AS (
           SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS nunique_part
           FROM ($dpShards) GROUP BY l_returnflag),
         dsp AS (
           SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS nunique_sp
           FROM ($dspShards) GROUP BY l_returnflag)
         SELECT base.l_returnflag, min_price, max_price, min_ship, max_ship, n,
           COALESCE(nunique_part, 0) AS nunique_part,
           COALESCE(nunique_sp, 0) AS nunique_sp
         FROM base
         LEFT JOIN dp ON base.l_returnflag IS NOT DISTINCT FROM dp.l_returnflag
         LEFT JOIN dsp ON base.l_returnflag IS NOT DISTINCT FROM dsp.l_returnflag"""
    },

    "agg_median_quantile" ->
      """SELECT l_returnflag,
         ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
         ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25_qty,
         ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75_qty,
         ROUND(quantile_cont(l_discount, 0.9), 6) AS q90_disc
         FROM lineitem GROUP BY l_returnflag""",

    "agg_var_std" ->
      """WITH m AS (
           SELECT l_returnflag,
             CAST(COUNT(l_quantity) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS s2
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
           ROUND((s2 - s1 * s1 / n) / (n - 1), 6) AS var_qty,
           ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) AS std_qty,
           ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)) / SQRT(n), 6) AS sem_qty
         FROM m""",

    "agg_skew_kurt" ->
      """WITH q AS (
           SELECT l_returnflag, l_quantity,
             CAST(CAST(l_quantity AS DECIMAL(7,2)) * 100 AS BIGINT) AS q100
           FROM lineitem),
         m AS (
           SELECT l_returnflag,
             CAST(COUNT(l_quantity) AS DOUBLE) AS n,
             CAST(SUM(q100) AS DOUBLE) / 1e2 AS s1,
             CAST(SUM(q100 * q100) AS DOUBLE) / 1e4 AS s2,
             CAST(SUM(q100 * q100 * q100) AS DOUBLE) / 1e6 AS s3,
             CAST(SUM(q100 * q100 * q100 * q100) AS DOUBLE) / 1e8 AS s4
           FROM q GROUP BY l_returnflag),
         f AS (
           SELECT l_returnflag, n,
             s1 / n AS mean,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n) - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
           FROM m)
         SELECT l_returnflag,
           ROUND(SQRT(n * (n - 1)) / (n - 2) * (m3 / POW(m2, 1.5)), 6) AS skew_qty,
           ROUND(((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * (m4 / (m2 * m2) - 3) + 6), 6) AS kurt_qty
         FROM f""",

    "agg_first_last" ->
      """WITH e AS (
           SELECT event_type, "value", user_id,
             CAST(epoch_us(ts) AS HUGEINT) * 10000000000 + event_id AS k
           FROM events)
         SELECT event_type,
         arg_min("value", k) AS first_value,
         arg_max("value", k) AS last_value,
         arg_min(user_id, k) AS first_user,
         arg_max(user_id, k) AS last_user
         FROM e GROUP BY event_type""",

    "agg_nth" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity) AS rn
           FROM lineitem) t WHERE rn = 3""",

    "agg_group_head" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
           (rn_head <= 2) AS in_head, (rn_tail <= 2) AS in_tail
         FROM (
           SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn_head,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_tail
           FROM orders) t
         WHERE rn_head <= 2 OR rn_tail <= 2""",

    "agg_any_all" ->
      """SELECT o_orderpriority,
         bool_or(o_totalprice > 400000) AS any_big,
         bool_and(o_totalprice > 1000) AS all_over_1k,
         bool_or(o_orderstatus = 'F') AS any_f
         FROM orders GROUP BY o_orderpriority""",

    "agg_idxminmax" ->
      """WITH r AS (
           SELECT l_returnflag, l_orderkey,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rmax,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC) AS rmin
           FROM lineitem)
         SELECT l_returnflag,
           MAX(CASE WHEN rmax = 1 THEN l_orderkey END) AS idxmax_order,
           MAX(CASE WHEN rmin = 1 THEN l_orderkey END) AS idxmin_order
         FROM r WHERE rmax = 1 OR rmin = 1 GROUP BY l_returnflag""",

    "agg_value_counts_bins" ->
      """WITH mm AS (SELECT MIN(l_quantity) AS lo, MAX(l_quantity) AS hi FROM lineitem),
         b AS (
           SELECT CAST(LEAST(FLOOR((l_quantity - lo) * 5 / (hi - lo)), 4) AS INT) AS bin,
             lo, hi
           FROM lineitem, mm)
         SELECT bin, ROUND(lo + bin * (hi - lo) / 5, 6) AS bin_lo, COUNT(*) AS cnt
         FROM b GROUP BY 1, 2""",

    "agg_value_counts" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
         CAST(COUNT(*) AS DOUBLE) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS proportion
         FROM orders GROUP BY o_orderstatus, o_orderpriority""",

    "agg_value_counts_series" ->
      """SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) /
             (SELECT COUNT(*) FROM orders) AS proportion
         FROM orders GROUP BY o_orderpriority""",

    "agg_nunique_frame" ->
      """SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS o_custkey_nunique,
           COUNT(DISTINCT o_orderstatus) AS o_orderstatus_nunique,
           COUNT(DISTINCT o_orderdate) AS o_orderdate_nunique
         FROM orders GROUP BY o_orderpriority""",

    "agg_mode" ->
      """SELECT l_returnflag, l_quantity AS mode_qty, cnt FROM (
           SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
           FROM lineitem GROUP BY l_returnflag, l_quantity) t
         WHERE rn = 1""",

    "agg_group_dropna" ->
      """WITH ev AS (
           SELECT CASE WHEN event_id % 13 = 0 THEN NULL
                       ELSE event_type END AS k,
                  "value"
           FROM events)
         SELECT k, COUNT(*) AS n,
           CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
           'dropna_true' AS mode
         FROM ev WHERE k IS NOT NULL GROUP BY k
         UNION ALL
         SELECT k, COUNT(*) AS n,
           CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
           'dropna_false' AS mode
         FROM ev GROUP BY k""",

    // the sketch columns are error-bound BOOLEANS on the Spark side;
    // the oracle asserts them literally TRUE, so an out-of-contract
    // sketch fails the driver's hash gate — a machine-checked
    // |approx − exact| ≤ bound without comparing engine-specific
    // sketch values. exact_cd is compared exactly.
    "agg_approx_stats" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_cd,
           TRUE AS acd_ok, TRUE AS p50_ok, TRUE AS p90_ok
         FROM lineitem""",

    // quantile_cont = linear interpolation at pos = p*(n-1), the same
    // definition DistributedPercentile interpolates — value-for-value
    "agg_quantile_global" ->
      """SELECT
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 6) AS q25,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS q50,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75), 6) AS q75,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS q90
         FROM lineitem""",

    "agg_mode_frame" ->
      """SELECT
           (SELECT l_quantity FROM lineitem GROUP BY l_quantity
            ORDER BY COUNT(*) DESC, l_quantity ASC LIMIT 1) AS mode_qty,
           (SELECT l_returnflag FROM lineitem GROUP BY l_returnflag
            ORDER BY COUNT(*) DESC, l_returnflag ASC LIMIT 1) AS mode_flag""",

    "agg_ohlc" ->
      """SELECT event_type,
         arg_min("value", ts) AS open, MAX("value") AS high,
         MIN("value") AS low, arg_max("value", ts) AS close
         FROM events GROUP BY event_type""",

    "agg_count_size" ->
      """SELECT l_returnflag,
         COUNT(CASE WHEN l_discount > 0 THEN l_discount END) AS count_nonnull,
         COUNT(*) AS size,
         CAST(SUM(CAST(CASE WHEN l_discount > 0 THEN l_discount END AS DECIMAL(18,4))) AS DOUBLE) AS sum_nonnull
         FROM lineitem GROUP BY l_returnflag""",

    "agg_corr_cov" ->
      """WITH m AS (
           SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(l_discount AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag,
           ROUND((sxy - sx * sy / n) / (n - 1), 6) AS cov_qd,
           ROUND((n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qd
         FROM m""",

    "agg_corrwith" ->
      """WITH a AS (
           SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price
           FROM lineitem GROUP BY 1),
         b AS (
           SELECT o_orderkey, CAST(o_custkey AS DOUBLE) AS qty,
             o_totalprice AS price
           FROM orders),
         j AS (
           SELECT a.qty AS qa, b.qty AS qb, a.price AS pa, b.price AS pb
           FROM a JOIN b ON a.l_orderkey = b.o_orderkey),
         m AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(qa AS DECIMAL(18,4))) AS DOUBLE) AS s_qa,
             CAST(SUM(CAST(qb AS DECIMAL(18,4))) AS DOUBLE) AS s_qb,
             CAST(SUM(CAST(pa AS DECIMAL(18,4))) AS DOUBLE) AS s_pa,
             CAST(SUM(CAST(pb AS DECIMAL(18,4))) AS DOUBLE) AS s_pb,
             CAST(SUM(CAST(CAST(qa AS DECIMAL(19,4)) * CAST(qa AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_qa,
             CAST(SUM(CAST(CAST(qb AS DECIMAL(19,4)) * CAST(qb AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_qb,
             CAST(SUM(CAST(CAST(pa AS DECIMAL(19,4)) * CAST(pa AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_pa,
             CAST(SUM(CAST(CAST(pb AS DECIMAL(19,4)) * CAST(pb AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_pb,
             CAST(SUM(CAST(CAST(qa AS DECIMAL(19,4)) * CAST(qb AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_q,
             CAST(SUM(CAST(CAST(pa AS DECIMAL(19,4)) * CAST(pb AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_p
           FROM j),
         wide AS (
           SELECT
             ROUND((n * x_q - s_qa * s_qb) / (SQRT(n * ss_qa - s_qa * s_qa) * SQRT(n * ss_qb - s_qb * s_qb)), 6) AS qty,
             ROUND((n * x_p - s_pa * s_pb) / (SQRT(n * ss_pa - s_pa * s_pa) * SQRT(n * ss_pb - s_pb * s_pb)), 6) AS price
           FROM m)
         SELECT 'qty' AS "column", qty AS r FROM wide
         UNION ALL SELECT 'price', price FROM wide""",

    "agg_corr_matrix" ->
      """WITH m AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s_q,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS s_e,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS s_d,
             CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS s_t,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_q,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_e,
             CAST(SUM(CAST(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_d,
             CAST(SUM(CAST(CAST(l_tax AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS ss_t,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_qe,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_qd,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_qt,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_ed,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_et,
             CAST(SUM(CAST(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_tax AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS x_dt
           FROM lineitem)
         SELECT 'qty_price' AS pair, ROUND((n * x_qe - s_q * s_e) / (SQRT(n * ss_q - s_q * s_q) * SQRT(n * ss_e - s_e * s_e)), 6) AS r FROM m
         UNION ALL
         SELECT 'qty_disc', ROUND((n * x_qd - s_q * s_d) / (SQRT(n * ss_q - s_q * s_q) * SQRT(n * ss_d - s_d * s_d)), 6) FROM m
         UNION ALL
         SELECT 'qty_tax', ROUND((n * x_qt - s_q * s_t) / (SQRT(n * ss_q - s_q * s_q) * SQRT(n * ss_t - s_t * s_t)), 6) FROM m
         UNION ALL
         SELECT 'price_disc', ROUND((n * x_ed - s_e * s_d) / (SQRT(n * ss_e - s_e * s_e) * SQRT(n * ss_d - s_d * s_d)), 6) FROM m
         UNION ALL
         SELECT 'price_tax', ROUND((n * x_et - s_e * s_t) / (SQRT(n * ss_e - s_e * s_e) * SQRT(n * ss_t - s_t * s_t)), 6) FROM m
         UNION ALL
         SELECT 'disc_tax', ROUND((n * x_dt - s_d * s_t) / (SQRT(n * ss_d - s_d * s_d) * SQRT(n * ss_t - s_t * s_t)), 6) FROM m""",

    "agg_cumsum" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) AS cum_qty,
         MAX(l_quantity) OVER w AS cummax_qty,
         COUNT(*) OVER w - 1 AS cumcount
         FROM lineitem WHERE l_orderkey < 1000
         WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "agg_cumprod" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           list(CAST(l_quantity AS DOUBLE)) OVER w), (a, b) -> a * b) AS cumprod_qty,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           list(CAST(l_quantity AS DOUBLE) - 25.0) OVER w), (a, b) -> a * b) AS cumprod_ctr
         FROM lineitem
         WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "agg_rank_group" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rank_min,
         DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rank_dense,
         CAST(RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY l_returnflag) AS rank_pct
         FROM lineitem WHERE l_orderkey < 1000""",

    "agg_shift_diff" ->
      """SELECT user_id, event_id, "value",
         LAG("value", 1) OVER w AS prev_value,
         "value" - LAG("value", 1) OVER w AS diff_value,
         ("value" - LAG("value", 1) OVER w) / nullif(LAG("value", 1) OVER w, 0.0) AS pct_change,
         LEAD("value", 1) OVER w AS next_value
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)""",

    "agg_transform" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS group_mean,
         l_quantity - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT(*) OVER w AS demeaned
         FROM lineitem WHERE l_orderkey < 1000
         WINDOW w AS (PARTITION BY l_returnflag)""",

    "agg_group_filter" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, n_orders FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
           FROM orders) t WHERE n_orders >= 15""",

    "agg_describe" ->
      """WITH m AS (
           SELECT CAST(COUNT(o_totalprice) AS DOUBLE) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(38,8))) AS DOUBLE) AS s2,
             MIN(o_totalprice) AS min_v,
             ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
             ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75,
             MAX(o_totalprice) AS max_v
           FROM orders)
         SELECT n, ROUND(s1 / n, 6) AS mean_v,
           ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) AS std_v,
           min_v, p25, p50, p75, max_v
         FROM m""",

    "agg_named_multi" ->
      """SELECT c_mktsegment,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_rev,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(o_totalprice) AS avg_rev,
         COUNT(DISTINCT o_custkey) AS n_customers,
         MAX(o_orderdate) AS last_order
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    "agg_apply_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t WHERE rn <= 2""",

    "agg_spearman" ->
      """WITH ranked AS (
           SELECT
             RANK() OVER (ORDER BY l_quantity)
               + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rx,
             RANK() OVER (ORDER BY l_discount)
               + (COUNT(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS ry
           FROM lineitem WHERE l_orderkey < 5000),
         m AS (
           SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(rx AS DECIMAL(18,1))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS DECIMAL(18,1))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(rx AS DECIMAL(18,1)) * CAST(rx AS DECIMAL(18,1)) AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(ry AS DECIMAL(18,1)) * CAST(ry AS DECIMAL(18,1)) AS DECIMAL(38,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(rx AS DECIMAL(18,1)) * CAST(ry AS DECIMAL(18,1)) AS DECIMAL(38,2))) AS DOUBLE) AS sxy
           FROM ranked)
         SELECT ROUND((n * sxy - sx * sy)
           / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS spearman_qd
         FROM m""",

    "agg_geomean" ->
      """SELECT o_orderstatus,
         ROUND(EXP(SUM(LN(o_totalprice)) / COUNT(o_totalprice)), 4) AS geomean_price,
         COUNT(*) AS n
         FROM orders GROUP BY o_orderstatus""",

    "agg_group_ols" ->
      """WITH b AS (
           SELECT user_id,
             CAST(ROUND((epoch_us(ts) - 1704067200000000) / 86400000000.0, 4)
               AS DECIMAL(10,4)) AS x,
             CAST("value" AS DECIMAL(10,4)) AS y
           FROM events),
         m AS (
           SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
           FROM b GROUP BY 1 HAVING COUNT(*) >= 10),
         sl AS (
           SELECT *, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw
           FROM m)
         SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ROUND(slope_raw, 6) AS slope,
           ROUND((sy - slope_raw * sx) / n, 6) AS intercept
         FROM sl""",

    "agg_outlier_iqr" ->
      """WITH q AS (
           SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
           FROM lineitem GROUP BY 1),
         f AS (
           SELECT l_returnflag,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
           FROM q)
         SELECT l.l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MIN(lo), 6) AS fence_lo,
           ROUND(MAX(hi), 6) AS fence_hi
         FROM lineitem l JOIN f USING (l_returnflag)
         GROUP BY 1""",

    "agg_weighted_stats" ->
      """WITH b AS (
           SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(2,0)) AS w,
             -- 19,4 (not 11,4): below width 19 DuckDB keeps the int64
             -- multiply path and x*x overflows DECIMAL(18); at 19 the
             -- product is exact hugeint DECIMAL(38,8) = Spark's (23,8)
             CAST(l_extendedprice AS DECIMAL(19,4)) AS x
           FROM lineitem),
         m AS (
           SELECT l_returnflag,
             CAST(SUM(w) AS DOUBLE) AS sw,
             CAST(SUM(w * x) AS DOUBLE) AS swx,
             CAST(SUM((x * x) * w) AS DOUBLE) AS swx2
           FROM b GROUP BY l_returnflag)
         SELECT l_returnflag,
           ROUND(swx / sw, 6) AS wmean,
           ROUND(swx2 / sw - (swx / sw) * (swx / sw), 4) AS wvar
         FROM m""",

    "agg_spearman_grouped" ->
      """WITH base AS (
           SELECT l_returnflag AS g, l_quantity AS xv, l_discount AS yv
           FROM lineitem WHERE l_orderkey < 5000),
         r AS (
           SELECT g,
             RANK() OVER (PARTITION BY g ORDER BY xv)
               + (COUNT(*) OVER (PARTITION BY g, xv) - 1) / 2.0 AS rx,
             RANK() OVER (PARTITION BY g ORDER BY yv)
               + (COUNT(*) OVER (PARTITION BY g, yv) - 1) / 2.0 AS ry
           FROM base),
         m AS (
           SELECT g,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(rx AS DECIMAL(18,1))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS DECIMAL(18,1))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(rx AS DECIMAL(18,1)) * CAST(rx AS DECIMAL(18,1)) AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(ry AS DECIMAL(18,1)) * CAST(ry AS DECIMAL(18,1)) AS DECIMAL(38,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(rx AS DECIMAL(18,1)) * CAST(ry AS DECIMAL(18,1)) AS DECIMAL(38,2))) AS DOUBLE) AS sxy
           FROM r GROUP BY g)
         SELECT g AS l_returnflag,
           ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS spearman_qd
         FROM m""",

    "agg_kendall" ->
      """WITH o AS (
           SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS x,
             CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS DOUBLE) AS y
           FROM orders),
         m AS (
           SELECT
             CAST(COUNT(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 END) AS DOUBLE) AS c,
             CAST(COUNT(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 END) AS DOUBLE) AS dd,
             CAST(COUNT(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 END) AS DOUBLE) AS tx,
             CAST(COUNT(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 END) AS DOUBLE) AS ty
           FROM o a JOIN o b ON a.k < b.k)
         SELECT ROUND((c - dd) / (SQRT(c + dd + tx) * SQRT(c + dd + ty)), 6) AS kendall_tau
         FROM m""",

    "agg_kendall_grouped" ->
      """WITH o AS (
           SELECT o_orderstatus AS g, o_orderkey AS k,
             CAST(o_totalprice AS DOUBLE) AS x,
             CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS DOUBLE) AS y
           FROM orders),
         m AS (
           SELECT a.g,
             CAST(COUNT(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 END) AS DOUBLE) AS c,
             CAST(COUNT(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 END) AS DOUBLE) AS dd,
             CAST(COUNT(CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 END) AS DOUBLE) AS tx,
             CAST(COUNT(CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 END) AS DOUBLE) AS ty
           FROM o a JOIN o b ON a.g = b.g AND a.k < b.k
           GROUP BY a.g)
         SELECT g AS o_orderstatus,
           ROUND((c - dd) / (SQRT(c + dd + tx) * SQRT(c + dd + ty)), 6) AS kendall_tau
         FROM m""",

    "agg_prod" ->
      """SELECT l_orderkey,
         ROUND(product(1 + l_discount), 6) AS prod_disc,
         COUNT(*) AS n_lines
         FROM lineitem GROUP BY l_orderkey""",

    "agg_ngroup" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
         DENSE_RANK() OVER (ORDER BY l_returnflag, l_linestatus) - 1 AS ngroup
         FROM lineitem"""
  )
}
