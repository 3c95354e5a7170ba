package graft.ops

import graft.{QueryModule, Tables}
import graft.OracleNum._
import graft.plans.AsofJoinNative
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2.3).
  *
  * Reference: pandas `core/reshape/merge.py` (3.4k LoC of hash-join
  * orchestration over khash factorizers + `_libs/join.pyx` kernels).
  * All of that machinery collapses into Catalyst join strategies: AQE
  * picks broadcast-hash vs sort-merge vs shuffled-hash at runtime, so
  * no query below chooses an algorithm — only `broadcast()` hints on
  * genuinely tiny dimensions (nation/region/supplier), which at 100 TB
  * is exactly the hint a planner cannot infer when stats are missing.
  * Semi/anti joins are exposed natively (pandas only gets them via
  * `isin`/indicator filtering — Spark is richer here, SURVEY §2.3).
  */
object JoinQueries extends QueryModule {

  /** join_asof_backward and join_asof_native: one builder, one oracle. */
  private val asofBackward: Q = { (s, d) =>
    import s.implicits._
    val ev = Tables(s, d, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
    AsofJoinNative.join(clicks, purchases,
      by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
      valueCols = Seq("value"))
      .withColumnRenamed("value", "asof_val")
  }

  private val asofBackwardSql =
    """SELECT a.user_id, a.event_id, a.ts, b."value" AS asof_val
       FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') a
       ASOF LEFT JOIN (SELECT user_id, ts, "value" FROM events WHERE event_type = 'purchase') b
       ON a.user_id = b.user_id AND a.ts >= b.ts"""

  def queries: Map[String, Q] = Map(
    // merge how='inner' on one key (merge.py:149), fact-to-fact: AQE
    // picks SMJ/shuffled-hash; aggregated result keeps output bounded
    "join_inner" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "lineitem")
        .join(Tables(s, d, "orders"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          dsum($"l_extendedprice").as("sum_price"))
    },

    // join_inner's bucketed-layout twin: lineitem and orders
    // co-bucketed + sorted on the order key, so the sort-merge join
    // plans no Exchange on either side and no Sort (PlanHygieneSpec
    // pins all three). Same rows as join_inner — one oracle serves
    // both. The fact-fact shuffle is THE scale cost of the plain
    // form; a warehouse that buckets its fact tables at write time
    // never pays it at read.
    "join_bkt_inner" -> { (s, d) =>
      import s.implicits._
      graft.sources.BucketedLayout.lineitemByOrder(s, d)
        .join(graft.sources.BucketedLayout.ordersByKey(s, d),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          dsum($"l_extendedprice").as("sum_price"))
    },

    // merge how='left' (join.pyx:112 left_outer_join): unmatched left
    // rows survive with NULLs
    "join_left" -> { (s, d) =>
      import s.implicits._
      val big = Tables(s, d, "lineitem")
        .filter($"l_quantity" >= 49)
        .select($"l_orderkey").distinct()
      Tables(s, d, "orders")
        .join(big, $"o_orderkey" === big("l_orderkey"), "left")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          count($"l_orderkey").as("n_with_big_line"))
    },

    // merge how='right': every customer kept, orders optional
    "join_right" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "orders")
        .join(Tables(s, d, "customer"), $"o_custkey" === $"c_custkey", "right")
        .groupBy($"c_mktsegment")
        .agg(count($"o_orderkey").as("n_orders"),
          countDistinct($"c_custkey").as("n_customers"))
    },

    // merge how='outer' + indicator='both/left_only/right_only'
    // (merge.py:149 indicator param; join.pyx:211 full_outer_join)
    "join_outer_indicator" -> { (s, d) =>
      import s.implicits._
      val c = Tables(s, d, "customer").select($"c_custkey")
      val o = Tables(s, d, "orders").filter($"o_totalprice" > 350000)
        .select($"o_custkey").distinct()
      c.join(o, $"c_custkey" === $"o_custkey", "full")
        .withColumn("_merge",
          when($"o_custkey".isNull, "left_only")
            .when($"c_custkey".isNull, "right_only")
            .otherwise("both"))
        .groupBy($"_merge")
        .agg(count(lit(1)).as("n"))
    },

    // semi join (pandas isin-on-keys; Spark native left_semi)
    "join_semi" -> { (s, d) =>
      import s.implicits._
      val o = Tables(s, d, "orders").filter($"o_totalprice" > 400000)
      Tables(s, d, "customer")
        .join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
    },

    // anti join (pandas indicator + filter; Spark native left_anti)
    "join_anti" -> { (s, d) =>
      import s.implicits._
      val o = Tables(s, d, "orders").filter($"o_totalprice" > 450000)
      Tables(s, d, "customer")
        .join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name", $"c_acctbal")
    },

    // cross join (_cross_merge merge.py:405) — tiny dims only
    "join_cross" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "region").crossJoin(Tables(s, d, "nation"))
        .select($"r_name", $"n_name", $"r_regionkey", $"n_regionkey")
    },

    // multi-key m:n self-join (merge.py:3140 _get_join_keys key fusing):
    // line pairs within an order; Spark fuses the key into the shuffle
    "join_multikey_self" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_extendedprice")
      val a = li.as("a")
      val b = li.as("b")
      a.join(b, $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_linenumber" < $"b.l_linenumber")
        .groupBy($"a.l_returnflag".as("flag_a"), $"b.l_returnflag".as("flag_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // star join through broadcast dims: lineitem |><| supplier |><| nation
    // |><| region — dims broadcast, no shuffle of the fact side for them
    "join_star_broadcast" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "lineitem")
        .join(broadcast(Tables(s, d, "supplier")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables(s, d, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables(s, d, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(dsum($"l_extendedprice").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // interval/range join (IntervalIndex.get_indexer, intervaltree.pxi):
    // point-in-band theta join against a broadcast band table
    "join_range_bands" -> { (s, d) =>
      import s.implicits._
      val bands = s.createDataFrame(Seq(
        ("p00", 900.0, 925.0), ("p25", 925.0, 950.0),
        ("p50", 950.0, 975.0), ("p75", 975.0, 1000.0)))
        .toDF("band", "lo", "hi")
      Tables(s, d, "part")
        .join(broadcast(bands), $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
        .groupBy($"band")
        .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("sum_price"))
    },

    // binned range join — the at-scale form of join_range_bands for a
    // LARGE interval table (indexes/interval.py:164 analogue). The
    // broadcast theta join above degenerates to nested-loop when the
    // band table outgrows the broadcast threshold; here each point maps
    // to its bin (floor(x/W)) and each band explodes into the bins it
    // covers, turning the containment predicate into an EQUI-join on
    // the bin key (shuffle-partitionable, AQE-skew-splittable) plus an
    // exact residual filter. Each (point, band) pair meets in exactly
    // one bin — the point's own — so no post-join dedup is needed.
    "join_range_binned" -> { (s, d) =>
      import s.implicits._
      val W = 25.0
      val bands = s.createDataFrame(Seq(
        ("p00", 900.0, 925.0), ("p25", 925.0, 950.0),
        ("p50", 950.0, 975.0), ("p75", 975.0, 1000.0)))
        .toDF("band", "lo", "hi")
        // cover floor(lo/W)..floor(hi/W); an aligned-exclusive hi adds
        // one empty bin that the residual filter eliminates
        .withColumn("bin", explode(sequence(
          floor($"lo" / W).cast("long"), floor($"hi" / W).cast("long"))))
      Tables(s, d, "part")
        .withColumn("bin", floor($"p_retailprice" / W).cast("long"))
        .join(bands, Seq("bin"))
        .filter($"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
        .groupBy($"band")
        .agg(count(lit(1)).as("n_parts"), dsum($"p_retailprice").as("sum_price"))
    },

    // skew-salted join: l_returnflag has only 3 heavy keys, the
    // pathological-skew shape. Salt the fact key with a hash bucket and
    // explode the dim side by the salt range so each heavy key spreads
    // over 8 reducers; results identical to the plain join (oracle).
    // (AQE skew-join handles moderate skew; explicit salting is the
    // deterministic fallback for known-degenerate keys.)
    "join_salted_skew" -> { (s, d) =>
      import s.implicits._
      val salts = 8
      val dim = s.createDataFrame(Seq(
        ("A", "returned"), ("N", "kept"), ("R", "refunded")))
        .toDF("flag", "label")
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      val fact = Tables(s, d, "lineitem")
        .withColumn("salt", pmod($"l_orderkey", lit(salts)).cast("int"))
      fact.join(dim, $"l_returnflag" === $"flag" && fact("salt") === dim("salt"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty"))
    },

    // pandas merge matches NaN keys to each other (merge.py key
    // semantics — NaN is a joinable value there), while SQL/Spark
    // equality never matches NULL. The pandas behavior maps to
    // null-safe equality (`<=>` / IS NOT DISTINCT FROM) — pinned here
    // with a dim that carries an explicit NULL-key row.
    "join_null_keys" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
        .filter($"event_id" < 2000)
        .select($"event_id",
          when(pmod($"event_id", lit(13)) === 0, lit(null))
            .otherwise($"event_type").as("k"))
      val dim = Seq(("click", 1), ("view", 2), (null, 0)).toDF("k", "code")
      ev.join(broadcast(dim), ev("k") <=> dim("k"))
        .select($"event_id", dim("code"))
    },

    // skew-stress pair: a derived key where ~90% of lineitem rows land
    // on key 0, joined to a 1001-key dim. The merge hint forces a
    // shuffle join (the dim would otherwise broadcast and hide the
    // skew); AQE's skew-join split is the only mitigation. Compare
    // with join_skew_salted below — the two must agree (same oracle).
    "join_skew_plain" -> { (s, d) =>
      import s.implicits._
      val dim = s.range(1001)
        .select($"id".as("k"), concat(lit("g"), $"id" % 7).as("grp"))
      val fact = Tables(s, d, "lineitem")
        .select(when(pmod($"l_orderkey", lit(10)) < 9, lit(0L))
          .otherwise(pmod($"l_orderkey", lit(1000)) + 1).as("k"),
          $"l_quantity")
      fact.join(dim.hint("merge"), "k")
        .groupBy($"grp")
        .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty"))
    },

    // explicit salting of the same degenerate join: the hot fact side
    // carries a uniform salt, the dim replicates xS, so no reducer
    // sees the whole hot key even without AQE. Deterministic fallback
    // when skew is known ahead of time. The salt count must scale
    // with the SHUFFLE PARALLELISM, not stay a constant: S spreads
    // the hot key over exactly S reducers regardless of the partition
    // setting, so a fixed x16 leaves 240 of 256 data-sized partitions
    // nearly empty while 16 straggler tasks sort ~34M rows each —
    // measured at sf100: S=16 cost 141 s at p256 vs 67 s at p32
    // (SCALE.md round 9). S = partitions/4 (floor 16) keeps the
    // per-reducer hot slice shrinking as parallelism grows; the value
    // is a scalar in two literals, so the expression tree stays
    // partition-count-independent (PlanScalingSpec).
    "join_skew_salted" -> { (s, d) =>
      import s.implicits._
      val salts = math.max(16,
        s.conf.get("spark.sql.shuffle.partitions").toInt / 4)
      val dim = s.range(1001)
        .select($"id".as("k"), concat(lit("g"), $"id" % 7).as("grp"))
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      val fact = Tables(s, d, "lineitem")
        .select(when(pmod($"l_orderkey", lit(10)) < 9, lit(0L))
          .otherwise(pmod($"l_orderkey", lit(1000)) + 1).as("k"),
          pmod($"l_orderkey" + $"l_linenumber", lit(salts)).cast("int").as("salt"),
          $"l_quantity")
      // round-14: shuffle_hash instead of merge — the mitigated variant
      // still shuffles the fact by (k, salt) (the skew demo the pair
      // exists for), but builds a hash from the replicated dim (1001 ×
      // salts rows, a few hundred per partition) instead of SORTING
      // both sides: the fact-side sort was pure overhead at every
      // scale (guide §3.1 — SHJ beats SMJ when one side is small per
      // partition; no OOM risk at this build size).
      fact.join(dim.hint("shuffle_hash"), Seq("k", "salt"))
        .groupBy($"grp")
        .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty"))
    },

    // merge(validate='m:1') (merge.py:149 validate param): the check is
    // a key-multiplicity histogram on the right side — all-1 proves the
    // join is m:1; pandas raises, we surface the evidence
    "join_validate_m1" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "customer")
        .groupBy($"c_custkey")
        .agg(count(lit(1)).as("key_multiplicity"))
        .groupBy($"key_multiplicity")
        .agg(count(lit(1)).as("n_keys"))
    },

    // merge suffixes= through the API layer (merge.py:2757
    // _items_overlap_with_suffix): overlapping non-key columns are
    // renamed val_x/val_y — this runs graft.api.PFrame.merge itself
    // through the oracle gate, not a hand-aliased join
    "join_suffixes" -> { (s, d) =>
      import s.implicits._
      import graft.api.PFrame
      val l = PFrame(Tables(s, d, "customer")
        .select($"c_custkey".as("key"), $"c_acctbal".as("val")))
      val r = PFrame(Tables(s, d, "orders")
        .groupBy($"o_custkey".as("key"))
        .agg(dsum($"o_totalprice").as("val")))
      l.merge(r, Seq("key")).df
        .select($"key", $"val_x", $"val_y")
    },

    // index-aligned binary op (ops/common.py, frame._arith_method):
    // a + b aligns both series on the UNION of their indexes and
    // propagates NaN where either side is absent — the alignment IS a
    // full outer equi-join, and the NaN propagation is SQL NULL + x
    "join_aligned_add" -> { (s, d) =>
      import s.implicits._
      val a = Tables(s, d, "customer")
        .select($"c_custkey".as("key"), $"c_acctbal".as("a"))
      val b = Tables(s, d, "orders")
        .groupBy($"o_custkey".as("key"))
        .agg(dsum($"o_totalprice").as("b"))
      a.join(b, Seq("key"), "full")
        .select($"key", round($"a" + $"b", 6).as("sum_ab"))
    },

    // aligned binary op where both series come from the SAME frame —
    // pandas' `self.index is other.index` fast path (frame.py:9607).
    // Written as the full alignment join on purpose: the
    // plans/AlignmentElision optimizer rule proves the two inputs
    // share lineage and a unique key, and rewrites the self-join into
    // ONE pass over the shared aggregate (plan pinned no-Join in
    // AlignmentElisionSpec; at 100 TB this removes a whole-frame
    // self-shuffle per arithmetic op). The <=> condition is the
    // faithful translation anyway — pandas alignment matches NaN
    // index labels.
    "join_aligned_elide" -> { (s, d) =>
      import s.implicits._
      val base = Tables(s, d, "orders")
        .groupBy($"o_custkey".as("key"))
        .agg(dsum($"o_totalprice").as("total"), count(lit(1)).as("cnt"))
      val a = base.select($"key", $"total")
      val b = base.select($"key", $"cnt")
      a.join(b, a("key") <=> b("key"), "full")
        .select(a("key"), round($"total" / $"cnt", 6).as("avg_price"))
    },

    // merge_asof backward, by=user (merge.py:644 _AsOfMerge;
    // join.pyx:725 asof_join_backward_on_X_by_Y): latest purchase value
    // at/before each click
    "join_asof_backward" -> asofBackward,

    // merge_asof with tolerance= (merge.py:644): matches older than
    // 1 day are nulled
    "join_asof_tolerance" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      AsofJoinNative.join(clicks, purchases,
        by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), toleranceUs = Some(86400000000L))
        .withColumnRenamed("value", "asof_val")
    },

    // the same query under the name perfbench's frame_analytics
    // workload runs
    "join_asof_native" -> asofBackward,

    // merge_asof direction='forward' (merge.py:644; join.pyx:812)
    "join_asof_forward" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      AsofJoinNative.join(clicks, purchases,
        by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), direction = "forward")
        .withColumnRenamed("value", "asof_val")
    },

    // merge_asof direction='nearest' (join.pyx:900): closest match in
    // either direction, backward wins ties
    "join_asof_nearest" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value")
      AsofJoinNative.join(clicks, purchases,
        by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), direction = "nearest")
        .withColumnRenamed("value", "asof_val")
    },

    // merge_asof allow_exact_matches=False (merge.py:644): strict
    // rts < lts. The right side is ALL events, so every left click has
    // an exact-ts candidate (itself) that strict mode must skip —
    // non-strict would always self-match, making this a real test.
    "join_asof_strict" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"event_id", $"ts")
      val all = ev.select($"user_id", $"ts", $"value")
      AsofJoinNative.join(clicks, all,
        by = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("value"), allowExactMatches = false)
        .withColumnRenamed("value", "asof_val")
    },

    // merge_asof with NO by key (merge.py:644 left_by=None):
    // AsofJoinNative.global — range-bucketed time as a synthetic `by`
    // key, per-bucket boundary carry rows, the same AsofJoinExec
    // pointer walk as the keyed queries; no single-partition window.
    // Right side is aggregated to unique timestamps so the
    // latest-match row is well-defined in both engines.
    "join_asof_global" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .groupBy($"ts".as("rts")).agg(max($"value").as("purch_val"))
      AsofJoinNative.global(clicks, purchases,
        leftTs = "ts", rightTs = "rts", valueCols = Seq("purch_val"))
    },

    // keyless merge_asof direction='forward' (merge.py:644 left_by=None
    // + join.pyx:812): the native global walk with the suffix-scanned
    // forward carry. Earliest purchase at or after each click.
    "join_asof_global_forward" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .groupBy($"ts".as("rts")).agg(max($"value").as("purch_val"))
      AsofJoinNative.global(clicks, purchases,
        leftTs = "ts", rightTs = "rts", valueCols = Seq("purch_val"),
        direction = "forward")
    },

    // keyless merge_asof direction='nearest' (merge.py:644 with
    // left_by=None + join.pyx:900): the native global walk with BOTH
    // boundary carries. Right side aggregated to unique timestamps so
    // the nearest-match row is well-defined in both engines.
    "join_asof_global_nearest" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"ts")
      val purchases = ev.filter($"event_type" === "purchase")
        .groupBy($"ts".as("rts")).agg(max($"value").as("purch_val"))
      AsofJoinNative.global(clicks, purchases,
        leftTs = "ts", rightTs = "rts", valueCols = Seq("purch_val"),
        direction = "nearest")
    },

    // merge_ordered + group-wise ffill (merge.py:500 _OrderedMerge):
    // full outer on (user, ts), forward-fill each side within user
    "join_merge_ordered" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"value".as("click_val"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", $"value".as("purch_val"))
      val merged = clicks.join(purchases, Seq("user_id", "ts"), "full")
      val w = Window.partitionBy($"user_id").orderBy($"ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      merged.select($"user_id", $"ts",
        last($"click_val", ignoreNulls = true).over(w).as("click_ff"),
        last($"purch_val", ignoreNulls = true).over(w).as("purch_ff"))
    },

    // TPC-H Q3 (shipping priority): segment-filtered customer ->
    // orders -> lineitem, revenue per order, top-10. Revenue terms are
    // exact narrow decimals ((11,4) price x (6,4) discount complement
    // stays on DuckDB's int64 multiply path), so ordering by revenue
    // is ulp-safe; orderkey tiebreaks pin the limit boundary.
    "q3_shipping_priority" -> { (s, d) =>
      import s.implicits._
      val cust = Tables(s, d, "customer")
        .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
      val ord = Tables(s, d, "orders")
        .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
      val li = Tables(s, d, "lineitem")
        .filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
        .select($"l_orderkey",
          ($"l_extendedprice".cast("decimal(11,4)") *
            (lit(1.0) - $"l_discount").cast("decimal(6,4)")).as("rev"))
      ord.join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(li, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(round(sum($"rev"), 4).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
        .limit(10)
    },

    // TPC-H Q5 (local supplier volume): six-table star with the
    // customer-nation = supplier-nation "local" condition; dims
    // broadcast, the fact shuffles once per fact-fact join.
    "q5_local_volume" -> { (s, d) =>
      import s.implicits._
      val asia = Tables(s, d, "region").filter($"r_name" === "ASIA")
      val nat = Tables(s, d, "nation")
        .join(broadcast(asia), $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      val sup = Tables(s, d, "supplier")
        .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_nationkey", $"n_name")
      val cust = Tables(s, d, "customer").select($"c_custkey", $"c_nationkey")
      val ord = Tables(s, d, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey")
      val li = Tables(s, d, "lineitem")
        .select($"l_orderkey", $"l_suppkey",
          ($"l_extendedprice".cast("decimal(11,4)") *
            (lit(1.0) - $"l_discount").cast("decimal(6,4)")).as("rev"))
      li.join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey" &&
          $"c_nationkey" === $"s_nationkey")
        .groupBy($"n_name")
        .agg(round(sum($"rev"), 4).cast("double").as("revenue"))
    },

    // TPC-H Q13 (customer distribution): double aggregation — orders
    // per customer via left join, then the histogram of those counts.
    // Both aggregations partial-combine; the second runs over a frame
    // already reduced to one row per customer.
    "q13_cust_distribution" -> { (s, d) =>
      import s.implicits._
      val ord = Tables(s, d, "orders")
        .filter($"o_orderpriority" =!= "1-URGENT")
        .select($"o_custkey", $"o_orderkey")
      Tables(s, d, "customer").select($"c_custkey")
        .join(ord, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
    },

    // TPC-H Q18 (large-volume orders): IN-subquery with HAVING over
    // the fact table — planned as an aggregate-then-semi-join, the
    // fact scans twice but never explodes.
    "q18_large_orders" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      val big = li.groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("decimal(18,4)")).as("qty"))
        .filter($"qty" > 300).select($"l_orderkey".as("big_ok"))
      val ord = Tables(s, d, "orders")
        .join(big, $"o_orderkey" === $"big_ok", "left_semi")
      ord.join(Tables(s, d, "customer"), $"o_custkey" === $"c_custkey")
        .join(li, $"l_orderkey" === $"o_orderkey")
        .groupBy($"c_name", $"o_orderkey", $"o_orderdate", $"o_totalprice")
        .agg(sum($"l_quantity".cast("decimal(18,4)")).cast("double")
          .as("sum_qty"))
    },

    // TPC-H Q21-shaped correlated EXISTS / NOT EXISTS composite (the
    // hardest classic multi-join shape; pandas users express it as
    // chained isin/merge masks): late lines that share an order with
    // ANOTHER supplier's line (semi, equi + non-equi conjunct) but
    // with NO other supplier late in that order (anti, same shape).
    // Both subqueries hash-join on the order key with the supplier
    // inequality as a residual condition — no nested loop.
    "join_exists_notexists" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      val late = li.filter($"l_shipdate" > lit("2000-01-01").cast("timestamp"))
        .select($"l_orderkey", $"l_suppkey")
      val others = li.select($"l_orderkey".as("b_ok"), $"l_suppkey".as("b_sk"))
      val lateOthers = late.select($"l_orderkey".as("c_ok"), $"l_suppkey".as("c_sk"))
      late
        .join(others, $"l_orderkey" === $"b_ok" && $"l_suppkey" =!= $"b_sk",
          "left_semi")
        .join(lateOthers, $"l_orderkey" === $"c_ok" && $"l_suppkey" =!= $"c_sk",
          "left_anti")
        .groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n_waiting"))
        .filter($"n_waiting" >= 5)
    },

    // Bloom-pruned semi join (functions/BloomExprs.scala): build side
    // too big to broadcast-hash at 100 TB but tiny as a sketch; the
    // probe side is pre-filtered map-side INSIDE its scan stage, so
    // the shuffle feeding the exact semi join carries only matches +
    // the 1% fpp tail. Exact join on survivors removes false
    // positives -> result identical to the plain semi join oracle.
    "join_bloom_semi" -> { (s, d) =>
      import s.implicits._
      val keys = Tables(s, d, "orders")
        .filter($"o_totalprice" > 400000).select($"o_orderkey")
      val bytes = graft.functions.BloomExprs.buildBytes(
        keys, "o_orderkey", expectedItems = keys.count())
      val pruned = Tables(s, d, "lineitem")
        .filter(call_function("graft_bloom_contains", lit(bytes), $"l_orderkey"))
      pruned.join(keys, pruned("l_orderkey") === keys("o_orderkey"), "left_semi")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty"))
    }
  )

  def oracle: Map[String, String] = Map(
    "join_suffixes" ->
      """SELECT c_custkey AS key, c_acctbal AS val_x, o.val AS val_y
         FROM customer JOIN (
           SELECT o_custkey AS key,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS val
           FROM orders GROUP BY o_custkey) o
         ON c_custkey = o.key""",

    "join_aligned_add" ->
      """SELECT COALESCE(c.key, o.key) AS key, ROUND(c.a + o.b, 6) AS sum_ab
         FROM (SELECT c_custkey AS key, c_acctbal AS a FROM customer) c
         FULL JOIN (
           SELECT o_custkey AS key,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS b
           FROM orders GROUP BY o_custkey) o
         ON c.key = o.key""",

    // the oracle states the SEMANTICS (the aligned self-join); the
    // engine's answer must match whether or not the elision fires
    "join_aligned_elide" ->
      """SELECT a.key, ROUND(a.total / b.cnt, 6) AS avg_price
         FROM (SELECT o_custkey AS key,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
               FROM orders GROUP BY o_custkey) a
         FULL JOIN (SELECT o_custkey AS key, COUNT(*) AS cnt
                    FROM orders GROUP BY o_custkey) b
         ON a.key = b.key""",

    "join_inner" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    // identical semantics to join_inner — the layout changes the plan,
    // never the rows
    "join_bkt_inner" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "join_left" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
         COUNT(l_orderkey) AS n_with_big_line
         FROM orders LEFT JOIN (
           SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity >= 49) b
         ON o_orderkey = b.l_orderkey
         GROUP BY o_orderstatus""",

    "join_right" ->
      """SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders,
         COUNT(DISTINCT c_custkey) AS n_customers
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    "join_outer_indicator" ->
      """SELECT CASE WHEN o.o_custkey IS NULL THEN 'left_only'
                     WHEN c.c_custkey IS NULL THEN 'right_only'
                     ELSE 'both' END AS _merge, COUNT(*) AS n
         FROM (SELECT c_custkey FROM customer) c
         FULL JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 350000) o
         ON c.c_custkey = o.o_custkey
         GROUP BY 1""",

    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)""",

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(11,4)) *
             CAST(1.0 - l_discount AS DECIMAL(6,4))), 4) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",

    "q5_local_volume" ->
      """SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(11,4)) *
             CAST(1.0 - l_discount AS DECIMAL(6,4))), 4) AS DOUBLE) AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name""",

    "q13_cust_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN (
             SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderpriority <> '1-URGENT') o
           ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY c_count""",

    "q18_large_orders" ->
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (
             SELECT l_orderkey FROM lineitem
             GROUP BY l_orderkey
             HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300)
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
         GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice""",

    "join_exists_notexists" ->
      """WITH late AS (
           SELECT l_orderkey, l_suppkey FROM lineitem
           WHERE l_shipdate > TIMESTAMP '2000-01-01')
         SELECT l_suppkey, COUNT(*) AS n_waiting FROM late a
         WHERE EXISTS (
             SELECT 1 FROM lineitem b
             WHERE b.l_orderkey = a.l_orderkey
               AND b.l_suppkey <> a.l_suppkey)
           AND NOT EXISTS (
             SELECT 1 FROM late c
             WHERE c.l_orderkey = a.l_orderkey
               AND c.l_suppkey <> a.l_suppkey)
         GROUP BY 1 HAVING COUNT(*) >= 5""",

    "join_bloom_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (
           SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
         GROUP BY l_returnflag""",

    "join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey NOT IN (
           SELECT o_custkey FROM orders WHERE o_totalprice > 450000)""",

    "join_cross" ->
      """SELECT r_name, n_name, r_regionkey, n_regionkey
         FROM region CROSS JOIN nation""",

    "join_multikey_self" ->
      """SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
         COUNT(*) AS n_pairs
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
         GROUP BY 1, 2""",

    "join_star_broadcast" ->
      """SELECT r_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lines
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",

    "join_range_bands" ->
      """SELECT band, COUNT(*) AS n_parts,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM part
         JOIN (VALUES ('p00', 900.0, 925.0), ('p25', 925.0, 950.0),
                      ('p50', 950.0, 975.0), ('p75', 975.0, 1000.0))
              AS bands(band, lo, hi)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band""",

    // binned form is semantically identical to the theta form
    "join_range_binned" ->
      """SELECT band, COUNT(*) AS n_parts,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM part
         JOIN (VALUES ('p00', 900.0, 925.0), ('p25', 925.0, 950.0),
                      ('p50', 950.0, 975.0), ('p75', 975.0, 1000.0))
              AS bands(band, lo, hi)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band""",

    "join_salted_skew" ->
      """SELECT label, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem
         JOIN (VALUES ('A', 'returned'), ('N', 'kept'), ('R', 'refunded'))
              AS dim(flag, label)
           ON l_returnflag = flag
         GROUP BY label""",

    "join_null_keys" ->
      """WITH ev AS (
           SELECT event_id,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE event_type END AS k
           FROM events WHERE event_id < 2000),
         dim(k, code) AS (VALUES ('click', 1), ('view', 2), (NULL, 0))
         SELECT e.event_id, d.code
         FROM ev e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k""",

    "join_skew_plain" ->
      """WITH dim AS (
           SELECT range AS k, 'g' || (range % 7) AS grp FROM range(1001)),
         f AS (
           SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
                       ELSE l_orderkey % 1000 + 1 END AS k,
                  l_quantity
           FROM lineitem)
         SELECT grp, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM f JOIN dim USING (k) GROUP BY grp""",

    "join_skew_salted" ->
      """WITH dim AS (
           SELECT range AS k, 'g' || (range % 7) AS grp FROM range(1001)),
         f AS (
           SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
                       ELSE l_orderkey % 1000 + 1 END AS k,
                  l_quantity
           FROM lineitem)
         SELECT grp, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM f JOIN dim USING (k) GROUP BY grp""",

    "join_validate_m1" ->
      """SELECT key_multiplicity, COUNT(*) AS n_keys FROM (
           SELECT c_custkey, COUNT(*) AS key_multiplicity
           FROM customer GROUP BY c_custkey) t
         GROUP BY key_multiplicity""",

    "join_asof_backward" -> asofBackwardSql,

    "join_asof_tolerance" ->
      """WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id, ts, "value" FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT a.user_id, a.event_id, a.ts, b."value" AS v, b.ts AS bts,
             ROW_NUMBER() OVER (PARTITION BY a.user_id, a.event_id ORDER BY b.ts DESC) AS rn
           FROM a LEFT JOIN b
             ON a.user_id = b.user_id AND b.ts <= a.ts
              AND b.ts >= a.ts - INTERVAL 1 DAY)
         SELECT user_id, event_id, ts, v AS asof_val
         FROM j WHERE rn = 1""",

    "join_asof_native" -> asofBackwardSql,

    "join_asof_forward" ->
      """WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id, ts, "value" FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT a.user_id, a.event_id, a.ts, b."value" AS v,
             ROW_NUMBER() OVER (PARTITION BY a.user_id, a.event_id ORDER BY b.ts ASC) AS rn
           FROM a LEFT JOIN b
             ON a.user_id = b.user_id AND b.ts >= a.ts)
         SELECT user_id, event_id, ts, v AS asof_val
         FROM j WHERE rn = 1""",

    "join_asof_nearest" ->
      """WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id, ts, "value" FROM events WHERE event_type = 'purchase'),
         j AS (
           SELECT a.user_id, a.event_id, a.ts, b."value" AS v,
             ROW_NUMBER() OVER (PARTITION BY a.user_id, a.event_id
               ORDER BY ABS(epoch_us(b.ts) - epoch_us(a.ts)) ASC, b.ts ASC) AS rn
           FROM a LEFT JOIN b ON a.user_id = b.user_id)
         SELECT user_id, event_id, ts, v AS asof_val
         FROM j WHERE rn = 1""",

    "join_asof_strict" ->
      """SELECT a.user_id, a.event_id, a.ts, b."value" AS asof_val
         FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') a
         ASOF LEFT JOIN (SELECT user_id, ts, "value" FROM events) b
         ON a.user_id = b.user_id AND a.ts > b.ts""",

    "join_asof_global" ->
      """WITH p AS (
           SELECT ts AS rts, MAX("value") AS purch_val
           FROM events WHERE event_type = 'purchase' GROUP BY ts)
         SELECT a.event_id, a.ts, p.purch_val
         FROM (SELECT event_id, ts FROM events WHERE event_type = 'click') a
         ASOF LEFT JOIN p ON a.ts >= p.rts""",

    "join_asof_global_forward" ->
      """WITH p AS (
           SELECT ts AS rts, MAX("value") AS purch_val
           FROM events WHERE event_type = 'purchase' GROUP BY ts)
         SELECT a.event_id, a.ts, p.purch_val
         FROM (SELECT event_id, ts FROM events WHERE event_type = 'click') a
         ASOF LEFT JOIN p ON a.ts <= p.rts""",

    // nearest = closer of a backward and a forward ASOF join (backward
    // wins ties) — avoids the clicks × timestamps cross product a
    // rank-over-all-pairs oracle would pay
    "join_asof_global_nearest" ->
      """WITH p AS (
           SELECT ts AS rts, MAX("value") AS purch_val
           FROM events WHERE event_type = 'purchase' GROUP BY ts),
         a AS (SELECT event_id, ts FROM events WHERE event_type = 'click'),
         b AS (SELECT a.event_id, a.ts, p.rts AS bts, p.purch_val AS bval
               FROM a ASOF LEFT JOIN p ON a.ts >= p.rts),
         f AS (SELECT a.event_id, p.rts AS fts, p.purch_val AS fval
               FROM a ASOF LEFT JOIN p ON a.ts <= p.rts)
         SELECT b.event_id, b.ts,
           CASE WHEN f.fts IS NULL THEN b.bval
                WHEN b.bts IS NULL THEN f.fval
                WHEN epoch_us(b.ts) - epoch_us(b.bts)
                     <= epoch_us(f.fts) - epoch_us(b.ts) THEN b.bval
                ELSE f.fval END AS purch_val
         FROM b JOIN f ON b.event_id = f.event_id""",

    "join_merge_ordered" ->
      """WITH c AS (SELECT user_id, ts, "value" AS click_val FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, "value" AS purch_val FROM events WHERE event_type = 'purchase'),
         m AS (
           SELECT COALESCE(c.user_id, p.user_id) AS user_id,
                  COALESCE(c.ts, p.ts) AS ts, c.click_val, p.purch_val
           FROM c FULL JOIN p ON c.user_id = p.user_id AND c.ts = p.ts)
         SELECT user_id, ts,
           last_value(click_val IGNORE NULLS) OVER w AS click_ff,
           last_value(purch_val IGNORE NULLS) OVER w AS purch_ff
         FROM m
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
  )
}
