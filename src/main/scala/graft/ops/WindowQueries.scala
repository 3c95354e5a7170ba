package graft.ops

import graft.{QueryModule, Tables}
import graft.OracleNum._
import graft.functions.{Ewm, WinTypes}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY.md §2.5).
  *
  * Reference: pandas `window/rolling.py` (frame bounds from indexer
  * objects at `core/indexers/objects.py`) + online sliding kernels in
  * `_libs/window/aggregations.pyx`. In Spark every rolling, expanding
  * and rank variant is a `Window.partitionBy(key).orderBy(...)` frame —
  * `rowsBetween` for count windows, `rangeBetween` over `unix_micros`
  * for time windows — evaluated distributed per partition with no
  * driver state. EWM, the one recursive family, has no window form:
  * the `win_ewm_*` queries call graft.functions.Ewm, whose one kernel
  * folds each user's sorted rows after one shuffle by user (or, over
  * the bucketed layout, in one pass with no shuffle).
  *
  * Every query partitions by a key (`user_id`; `event_type` for the
  * rank windows, `l_returnflag` for win_rolling_cov): the partition key
  * is what makes this 100 TB-safe — no global ordering is ever
  * required.
  */
object WindowQueries extends QueryModule {

  def queries: Map[String, Q] = Map(
    // rolling(5, min_periods=5) sum/mean (Rolling rolling.py:1955,
    // FixedWindowIndexer objects.py:108)
    "win_rolling_sum" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-4, 0)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          when(count($"value").over(w) >= 5,
            sum(dec($"value")).over(w).cast("double")).as("roll_sum"),
          when(count($"value").over(w) >= 5,
            sum(dec($"value")).over(w).cast("double") / count($"value").over(w)).as("roll_mean"))
    },

    // rolling("1h") time-based frame (VariableWindowIndexer
    // objects.py:158): closed='right' => (t-1h, t]
    "win_rolling_time" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
        .rangeBetween(-3599999999L, 0)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          count($"value").over(w).as("n_1h"),
          sum(dec($"value")).over(w).cast("double").as("sum_1h"),
          max($"value").over(w).as("max_1h"))
    },

    // expanding() (window/expanding.py:43)
    "win_expanding" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          count($"value").over(w).as("exp_n"),
          (sum(dec($"value")).over(w).cast("double") / count($"value").over(w)).as("exp_mean"),
          max($"value").over(w).as("exp_max"))
    },

    // rolling(center=True) (rolling.py window bounds shifting)
    "win_rolling_center" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-2, 2)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          when(count($"value").over(w) >= 5,
            sum(dec($"value")).over(w).cast("double")).as("roll_sum_center"))
    },

    // rolling std/var from exact window moment sums (roll_var
    // aggregations.pyx:422 — Welford online; here: algebraic identity
    // over exact decimal sums, identical on both engines)
    "win_rolling_std" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-9, 0)
      val v7 = $"value".cast("decimal(7,2)")
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          count($"value").over(w).cast("double").as("n"),
          sum(v7).over(w).cast("double").as("s1"),
          sum(v7 * v7).over(w).cast("double").as("s2"))
        .select($"user_id", $"event_id",
          when($"n" >= 10, round(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1), 6)).as("roll_var"),
          when($"n" >= 10, round(sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)), 6)).as("roll_std"))
    },

    // rolling skew (roll_skew aggregations.pyx:548): bias-corrected G1
    // from exact decimal window moments, same pattern as win_rolling_std
    "win_rolling_skew" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-14, 0)
      val v7 = $"value".cast("decimal(7,2)")
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          count($"value").over(w).cast("double").as("n"),
          sum(v7).over(w).cast("double").as("s1"),
          sum(v7 * v7).over(w).cast("double").as("s2"),
          sum((v7 * v7 * v7).cast("decimal(38,8)")).over(w).cast("double").as("s3"))
        .select($"user_id", $"event_id",
          when($"n" >= 15, {
            val mean = $"s1" / $"n"
            val m2 = $"s2" / $"n" - mean * mean
            val m3 = $"s3" / $"n" - lit(3) * mean * ($"s2" / $"n") + lit(2) * mean * mean * mean
            round(sqrt($"n" * ($"n" - 1)) / ($"n" - 2) * (m3 / pow(m2, 1.5)), 6)
          }).as("roll_skew"))
    },

    // rolling kurt (roll_kurt aggregations.pyx:671): bias-corrected
    // excess kurtosis G2 from exact decimal window moments s1..s4 —
    // same algebraic-identity pattern as win_rolling_std/skew. The
    // 3rd/4th power sums stay internal (absorbed by round(_,6)).
    "win_rolling_kurt" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-19, 0)
      val v = $"value".cast("decimal(7,2)")
      val v2 = v * v
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          count($"value").over(w).cast("double").as("n"),
          sum(v).over(w).cast("double").as("s1"),
          sum(v2).over(w).cast("double").as("s2"),
          sum((v2 * v).cast("decimal(38,8)")).over(w).cast("double").as("s3"),
          // widen the squared term so the 4th-power multiply is exact
          // on both engines (DuckDB's int64 decimal lane overflows)
          sum((v2.cast("decimal(19,4)") * v2.cast("decimal(19,4)"))
            .cast("decimal(38,8)")).over(w).cast("double").as("s4"))
        .select($"user_id", $"event_id",
          when($"n" >= 20, {
            val mean = $"s1" / $"n"
            val m2 = $"s2" / $"n" - mean * mean
            val m4 = $"s4" / $"n" - lit(4) * mean * ($"s3" / $"n") +
              lit(6) * mean * mean * ($"s2" / $"n") - lit(3) * mean * mean * mean * mean
            val g2 = m4 / (m2 * m2) - lit(3)
            round((($"n" - 1) / (($"n" - 2) * ($"n" - 3))) * (($"n" + 1) * g2 + lit(6)), 6)
          }).as("roll_kurt"))
    },

    // rolling quantile, interpolation='linear' (roll_quantile
    // aggregations.pyx:1404): sorted window array + the (n-1)*q
    // fractional index rule — generalizes the win_rolling_median shape
    "win_rolling_quantile" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-8, 0)
      val arr = sort_array(collect_list($"value").over(w))
      val n = size(arr)
      val h = (n.cast("double") - 1) * lit(0.3)
      val lo = floor(h).cast("int")
      val frac = h - floor(h)
      val atLo = element_at(arr, lo + 1)
      val atHi = element_at(arr, least(lo + 2, n))
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          when(n >= 9, round(atLo + frac * (atHi - atLo), 6)).as("roll_q30"))
    },

    // rolling rank, method='average' + pct (roll_rank
    // aggregations.pyx:1528): rank of the current value inside its own
    // window frame = #less + (#equal + 1)/2, via HOF filters — no
    // second window pass
    "win_rolling_rank" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-8, 0)
      val arr = collect_list($"value").over(w)
      val n = size(arr)
      Tables(s, d, "events")
        .select($"user_id", $"event_id", $"value", arr.as("arr"), n.as("n"))
        .select($"user_id", $"event_id",
          when($"n" >= 9, {
            val nless = size(filter($"arr", x => x < $"value")).cast("double")
            val neq = size(filter($"arr", x => x === $"value"))
            round(nless + (neq + 1) / lit(2.0), 6)
          }).as("roll_rank_avg"),
          when($"n" >= 9, {
            val nless = size(filter($"arr", x => x < $"value")).cast("double")
            val neq = size(filter($"arr", x => x === $"value"))
            round((nless + (neq + 1) / lit(2.0)) / $"n", 6)
          }).as("roll_rank_pct"))
    },

    // rolling nunique (roll_nunique aggregations.pyx:1636): distinct
    // count inside the window frame
    "win_rolling_nunique" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-8, 0)
      val arr = collect_list($"value").over(w)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          when(size(arr) >= 9, size(array_distinct(arr))).as("roll_nunique"))
    },

    // rolling.apply(custom_fn) (rolling.py:1420 apply; the reference
    // runs an arbitrary Python callable per window): the Spark-first
    // form keeps the window frame as an array and evaluates the custom
    // function as a codegen'd HOF fold — here RMS, a function no
    // built-in rolling kernel provides. No UDF, no per-row JVM<->
    // interpreter hop; any fold-expressible callable drops in. The
    // fold order is the sorted-frame order, so the DuckDB list_reduce
    // mirror is bit-identical.
    "win_rolling_apply" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-8, 0)
      val arr = sort_array(collect_list($"value").over(w))
      val sumSq = aggregate(arr, lit(0.0), (acc, x) => acc + x * x)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          when(size(arr) >= 9, round(sqrt(sumSq / size(arr)), 6)).as("roll_rms"))
    },

    // rank(method='average') + pandas pct (group_rank groupby.pyx:1910):
    // average = rank_min + (n_equal - 1)/2
    "win_rank_average" -> { (s, d) =>
      import s.implicits._
      val ord = Window.partitionBy($"event_type").orderBy($"value")
      val eq = Window.partitionBy($"event_type", $"value")
      val grp = Window.partitionBy($"event_type")
      Tables(s, d, "events")
        .select($"event_type", $"event_id", $"value",
          (rank().over(ord) + (count(lit(1)).over(eq) - 1) / lit(2.0)).as("rank_avg"),
          ((rank().over(ord) + (count(lit(1)).over(eq) - 1) / lit(2.0)) /
            count(lit(1)).over(grp)).as("rank_pct"))
    },

    // rolling pairwise cov/corr (rolling.py cov :1643 / corr :1708,
    // kernel aggregations.pyx:2143 family): the bivariate extension of
    // the rolling-std moment trick — decimal-exact frame sums of x, y,
    // x², y², xy, then the sample-cov / Pearson formulas, min_periods
    // gating on the frame count. One window spec, six running sums,
    // zero extra shuffles.
    "win_rolling_cov" -> { (s, d) =>
      import s.implicits._
      // (l_orderkey, l_linenumber) is not unique in the synthetic
      // lineitem — the quantity/price tiebreak makes the frame order
      // total (same discipline as agg_cumsum)
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .rowsBetween(-4, 0)
      val x = $"l_quantity".cast("decimal(9,4)")
      val y = $"l_extendedprice".cast("decimal(19,4)")
      Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 2000)
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
          $"l_quantity",
          count(lit(1)).over(w).cast("double").as("n"),
          sum(x).over(w).cast("double").as("sx"),
          sum(y).over(w).cast("double").as("sy"),
          sum(x * x).over(w).cast("double").as("sxx"),
          sum(y * y).over(w).cast("double").as("syy"),
          sum(x * y).over(w).cast("double").as("sxy"))
        .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_quantity",
          when($"n" >= 5,
            round(($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1), 6)).as("roll_cov"),
          when($"n" >= 5,
            round(($"n" * $"sxy" - $"sx" * $"sy") /
              (sqrt($"n" * $"sxx" - $"sx" * $"sx") *
               sqrt($"n" * $"syy" - $"sy" * $"sy")), 6)).as("roll_corr"))
    },

    // rank method='max' + na_option='top'/'bottom' (algos.pyx:1067
    // rank_1d options; VERDICT r1 #9). max-rank = count of non-null
    // peers at or below the value (a RANGE frame, so ties ahead of the
    // current row are included); na_option places NULLs first/last in
    // the rank order instead of pandas-default keep (NULL rank).
    "win_rank_options" -> { (s, d) =>
      import s.implicits._
      val holes = Tables(s, d, "events")
        .withColumn("reading", when($"event_type" =!= "error", $"value"))
      val rng = Window.partitionBy($"user_id").orderBy($"reading")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val top = Window.partitionBy($"user_id").orderBy($"reading".asc_nulls_first)
      val bot = Window.partitionBy($"user_id").orderBy($"reading".asc_nulls_last)
      holes.select($"event_id", $"user_id",
        when($"reading".isNotNull, count($"reading").over(rng)).as("rank_max"),
        rank().over(top).cast("long").as("rank_na_top"),
        rank().over(bot).cast("long").as("rank_na_bottom"))
    },

    // weighted rolling window (win_type= rolling.py:862): explicit
    // 4-tap dot product over lags
    "win_weighted" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val v = $"value"
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          (lag(v, 3).over(w) * 0.1 + lag(v, 2).over(w) * 0.2 +
            lag(v, 1).over(w) * 0.3 + v * 0.4).as("wma_4"))
    },

    // scipy win_type families (rolling.py:862 `win_type=` ->
    // scipy.signal.get_window): gaussian/triang/hamming tap arrays
    // generated closed-form in WinTypes, pre-normalized, then the same
    // lag dot-product as win_weighted — one Window spec, all three
    // shapes in a single pass, fully codegen'd. Rows with fewer than M
    // observations yield NULL via lag-null propagation (min_periods=M).
    "win_weighted_wintypes" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val v = $"value"
      def dot(taps: Seq[Double]) = round(
        taps.zipWithIndex.map { case (t, j) =>
          lag(v, taps.length - 1 - j).over(w) * lit(t)
        }.reduce(_ + _), 6)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          dot(WinTypes.normalized(WinTypes.gaussian(5, 1.0))).as("wma_gauss"),
          dot(WinTypes.normalized(WinTypes.triang(5))).as("wma_triang"),
          dot(WinTypes.normalized(WinTypes.hamming(5))).as("wma_hamming"))
    },

    // rolling median via sorted window array (roll_median_c
    // aggregations.pyx:1036 uses a skiplist; here: collect the frame,
    // sort, linear-interpolate — exact pandas semantics, frame size
    // bounded by the window so memory is O(n) per row)
    "win_rolling_median" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-8, 0)
      val arr = sort_array(collect_list($"value").over(w))
      val n = size(arr)
      val loIdx = ((n + 1) / 2).cast("int") // 1-based lower-middle
      val lo = element_at(arr, loIdx)
      val hi = element_at(arr, loIdx + (n + 1) % 2)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          when(n >= 9, round((lo + hi) / 2.0, 6)).as("roll_median"))
    },

    // ewm mean, adjust=True and adjust=False (ewm.py:127; one shuffle
    // by user into graft.functions.Ewm's kernel)
    "win_ewm_mean" -> { (s, d) =>
      ewmRounded(Ewm.ewmMean(s, Tables(s, d, "events"), "user_id", "ts", "value",
        alpha = 0.1))
    },

    // the sf100-DIFFERENTIAL twin of win_ewm_mean (round-12 verdict
    // #5): EWM state is per-key independent, so restricting to a FIXED
    // deterministic key subset (user_id % 97 == 3, ~1% of keys)
    // preserves bit-exactness on every surviving row while the
    // recursive-CTE oracle's cost drops ∝ the sample — the full-corpus
    // oracle costs ~1 h at 600M rows (protocol note), which is why the
    // ewm family had bench rows but no scaled oracle row until now.
    // The filter pushes into the parquet scan on the engine side; the
    // full-width path stays benched by win_ewm_mean itself.
    "win_ewm_keyed" -> { (s, d) =>
      val ev = Tables(s, d, "events")
        .filter(pmod(col("user_id"), lit(97)) === 3)
      ewmRounded(Ewm.ewmMean(s, ev, "user_id", "ts", "value", alpha = 0.1))
    },

    // ewm mean over a series WITH missing values, ignore_na=False
    // (default): a gap decays the accumulated weights one step
    // (absolute-position weighting, aggregations.pyx ewm kernel)
    "win_ewm_nulls" -> { (s, d) =>
      ewmRounded(Ewm.ewmMean(s, eventsWithGaps(s, d), "user_id", "ts", "v",
        alpha = 0.2, ignoreNa = false).drop("ewm_var"))
    },

    // same series, ignore_na=True: gaps leave state untouched
    // (relative-position weighting)
    "win_ewm_ignore_na" -> { (s, d) =>
      ewmRounded(Ewm.ewmMean(s, eventsWithGaps(s, d), "user_id", "ts", "v",
        alpha = 0.2, ignoreNa = true).drop("ewm_var"))
    },

    // ewm cov (bias=False) + corr, adjust=True, alpha from span=9
    // (ewmcov aggregations.pyx:2143; span->alpha ewm.py:127)
    "win_ewm_cov" -> { (s, d) =>
      ewmRounded(Ewm.ewmCov(s, eventsPair(s, d), "user_id", "ts", "x", "y",
        alpha = Ewm.alphaFromSpan(9), adjust = true))
    },

    // ewm cov + corr with adjust=False: new weight alpha, first
    // observation keeps weight 1
    "win_ewm_cov_noadj" -> { (s, d) =>
      ewmRounded(Ewm.ewmCov(s, eventsPair(s, d), "user_id", "ts", "x", "y",
        alpha = Ewm.alphaFromSpan(9), adjust = false))
    },

    // halflife parameterization: alpha = 1 - exp(-ln 2 / halflife)
    "win_ewm_halflife" -> { (s, d) =>
      ewmRounded(Ewm.ewmMean(s, Tables(s, d, "events"), "user_id", "ts", "value",
        alpha = Ewm.alphaFromHalflife(2.0)).drop("ewm_var"))
    },

    // ewm sum (pandas 1.4+ ewm().sum(): the kernel's unnormalized
    // numerator s_t = (1-a)*s_{t-1} + x_t; pandas defines it for
    // adjust=True only). Same kernel and shuffle driver as ewmMean.
    "win_ewm_sum" -> { (s, d) =>
      ewmRounded(Ewm.ewmSum(s, Tables(s, d, "events"), "user_id", "ts", "value",
        alpha = 0.2))
    },

    // rolling('1h', closed=) full surface (window/rolling.py closed
    // param): right=(t-w, t] is win_rolling_time; here the other three
    // — both=[t-w, t], left=[t-w, t), neither=(t-w, t) — as shifted
    // micros range bounds over the SAME exchange+sort.
    "win_rolling_closed" -> { (s, d) =>
      import s.implicits._
      val ord = Window.partitionBy($"user_id").orderBy(unix_micros($"ts"))
      val both = ord.rangeBetween(-3600000000L, 0)
      val left = ord.rangeBetween(-3600000000L, -1)
      val neither = ord.rangeBetween(-3599999999L, -1)
      Tables(s, d, "events")
        .select($"user_id", $"event_id",
          count($"value").over(both).as("n_both"),
          count($"value").over(left).as("n_left"),
          count($"value").over(neither).as("n_neither"))
    },

    // rolling(window=5, step=3) (pandas 1.5+ `step` param,
    // window/rolling.py): evaluate the window only at every step-th
    // row. The step filter is a row_number predicate over the same
    // exchange the window already needs — zero extra shuffles.
    "win_rolling_step" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val frame = w.rowsBetween(-4, 0)
      Tables(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("n_in", count($"value").over(frame))
        .withColumn("roll_sum",
          when($"n_in" >= 5,
            sum($"value".cast("decimal(18,4)")).over(frame).cast("double")))
        .filter(($"rn" - 1) % 3 === 0)
        .select($"user_id", $"event_id", $"rn", $"roll_sum")
    },

    // times= irregular-spacing halflife (ewm.py:127 `times` param):
    // decay between observations = 2^(-Δt/halflife) over wall-clock
    // gaps, halflife = 1h
    "win_ewm_times" -> { (s, d) =>
      ewmRounded(Ewm.ewmMeanTimes(s, Tables(s, d, "events"), "user_id", "ts", "value",
        halflifeSeconds = 3600.0), digits = 5)
    },

    // ---- bucketed+sorted layout twins (graft.sources.BucketedLayout):
    // identical semantics/oracles to their plain twins; the difference
    // is STORAGE — events written bucketBy(user_id).sortBy(user_id,ts)
    // once, so the window consumes the on-disk run with NO Exchange
    // and NO Sort (pinned in PlanHygieneSpec). This is the fix for the
    // last superlinear sf100 spot: 100M-row per-key window sorts
    // spilling through one disk (SCALE.md r8) — the sort moves to
    // write time and is paid once for the whole window family.
    "win_bkt_rolling_sum" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts").rowsBetween(-4, 0)
      graft.sources.BucketedLayout.eventsByUser(s, d)
        .select($"user_id", $"event_id",
          when(count($"value").over(w) >= 5,
            sum(dec($"value")).over(w).cast("double")).as("roll_sum"),
          when(count($"value").over(w) >= 5,
            sum(dec($"value")).over(w).cast("double") / count($"value").over(w)).as("roll_mean"))
    },

    // ewm over the same layout: no window-function form exists (linear
    // recursion), so the zero-shuffle path is a sorted-run
    // mapPartitions — one streaming pass per bucket, O(1) state,
    // layout-order asserted per row (Ewm.ewmMeanSortedRuns)
    "win_bkt_ewm_mean" -> { (s, d) =>
      val ev = graft.sources.BucketedLayout.eventsByUser(s, d)
      ewmRounded(Ewm.ewmMeanSortedRuns(s, ev, "user_id", "ts", "value", alpha = 0.1))
    },

    // rank windows partition by event_type and order by value, so they
    // get their own layout: bucketBy(event_type).sortBy(event_type,
    // value). The tie count is expressed as a range-frame peer count
    // rather than a PARTITION BY (event_type, value) window: a double
    // partition key gets normalizenanandzero-wrapped, which no on-disk
    // sort order can match — the identity rank_avg = (rank + count_le)
    // / 2 (count_le = peers-inclusive running count = rank + ties − 1)
    // gives bit-identical values from windows the layout satisfies:
    // zero Exchange, zero Sort (pinned in PlanHygieneSpec)
    "win_bkt_rank" -> { (s, d) =>
      import s.implicits._
      val ord = Window.partitionBy($"event_type").orderBy($"value")
      val le = Window.partitionBy($"event_type").orderBy($"value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val grp = Window.partitionBy($"event_type")
      graft.sources.BucketedLayout.eventsByType(s, d)
        .select($"event_type", $"event_id", $"value",
          ((rank().over(ord) + count(lit(1)).over(le)) / lit(2.0)).as("rank_avg"),
          (((rank().over(ord) + count(lit(1)).over(le)) / lit(2.0)) /
            count(lit(1)).over(grp)).as("rank_pct"))
    },

    // rank(method='average') RESTRUCTURED for low-cardinality partition
    // keys: a window partitioned by an 8-value key runs one task per
    // key at ANY parallelism — 12.5M rows per task at sf100, and no
    // storage layout raises that ceiling (SCALE.md round 9). Ranks
    // depend on a row only through its (key, value) pair, so the
    // corpus first collapses to a histogram (map-side partial-agg
    // groupBy — the only full-data shuffle, and it moves one row per
    // DISTINCT pair), the rank arithmetic runs over the histogram
    // (49k rows at sf100 vs 100M — the window cost vanishes), and the
    // per-pair ranks join back broadcast (drop the hint for
    // near-unique value domains and the join degrades gracefully to a
    // shuffle join on the pair — still no data-sized window). All
    // integer-exact until the final halving/division so the values are
    // bit-identical to the window form: rank_min = cum − cnt + 1,
    // rank_avg = rank_min + (cnt−1)/2, rank_pct = rank_avg / total.
    // since round 10 the restructuring lives in operators/AdaptiveRank;
    // this query builds its histogram plan directly for the bench.
    // na_option='top' (nulls ranked first) mirrors the window twin's
    // plain `orderBy(value)`; the join-back carries no broadcast hint,
    // so AQE decides from the histogram's runtime size (events'
    // ~49k-pair histogram converts to a broadcast join; a near-unique
    // domain stays a shuffle join on the pair). That needs an
    // AQE-enabled session — every graft session is one.
    "win_rank_hist" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
        .select($"event_type", $"event_id", $"value")
      graft.operators.AdaptiveRank.histogramPlan(ev, Seq("event_type"), "value",
          method = "average", asRank = "rank_avg", asPct = "rank_pct",
          naOption = "top", broadcastJoin = false)
        .select($"event_type", $"event_id", $"value",
          $"rank_avg", $"rank_pct")
    },

    // the ADAPTIVE entry point itself: the sketch probe picks the plan
    // (histogram when distinct (type,value) pairs ≤ 1/8 of rows, the
    // window otherwise) — same rows, bit-identical values either way,
    // so one oracle serves both regimes
    "win_rank_adaptive" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
        .select($"event_type", $"event_id", $"value")
      graft.operators.AdaptiveRank.rank(ev, Seq("event_type"), "value",
          method = "average", asRank = "rank_avg", asPct = "rank_pct",
          naOption = "top")
        .select($"event_type", $"event_id", $"value",
          $"rank_avg", $"rank_pct")
    }
  )

  /** Every `ewm_*` statistic rounded in place (the oracle compares at
    * `digits` decimals). */
  private def ewmRounded(df: DataFrame, digits: Int = 6): DataFrame =
    df.select(df.columns.toSeq.map(c =>
      if (c.startsWith("ewm_")) round(col(c), digits).as(c) else col(c)): _*)

  /** events with every 7th value missing (win_ewm_nulls/_ignore_na) */
  private def eventsWithGaps(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events").select(col("user_id"), col("ts"),
      when(pmod(col("event_id"), lit(7)) === 0, lit(null))
        .otherwise(col("value")).cast("double").as("v"))

  /** the (x, y) pair series of win_ewm_cov/_noadj */
  private def eventsPair(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events").select(col("user_id"), col("ts"), col("value").as("x"),
      (col("value") * 0.5 + pmod(col("event_id"), lit(10)).cast("double")).as("y"))

  // oracle constants interpolated from the SAME Scala doubles the
  // engine uses, so the recursive CTE replays bit-identical arithmetic
  private val D02 = (1 - 0.2).toString // decay for alpha=0.2
  private val aHl = Ewm.alphaFromHalflife(2.0).toString
  private val dHl = (1 - Ewm.alphaFromHalflife(2.0)).toString

  // the bucketed-layout twins are layout changes only: same rows, same
  // oracle SQL as their plain counterparts
  def oracle: Map[String, String] = {
    val m = baseOracle
    m ++ Map(
      "win_bkt_rolling_sum" -> m("win_rolling_sum"),
      "win_bkt_ewm_mean" -> m("win_ewm_mean"),
      "win_bkt_rank" -> m("win_rank_average"),
      // the histogram restructuring is computation-only: same rows,
      // bit-identical values, same oracle as the window form
      "win_rank_hist" -> m("win_rank_average"),
      "win_rank_adaptive" -> m("win_rank_average"))
  }

  private def baseOracle: Map[String, String] = Map(
    "win_rolling_sum" ->
      """SELECT user_id, event_id,
         CASE WHEN COUNT("value") OVER w >= 5
              THEN CAST(SUM(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) END AS roll_sum,
         CASE WHEN COUNT("value") OVER w >= 5
              THEN CAST(SUM(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT("value") OVER w END AS roll_mean
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",

    "win_rolling_time" ->
      """SELECT user_id, event_id,
         COUNT("value") OVER w AS n_1h,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h,
         MAX("value") OVER w AS max_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""",

    "win_expanding" ->
      """SELECT user_id, event_id,
         COUNT("value") OVER w AS exp_n,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) / COUNT("value") OVER w AS exp_mean,
         MAX("value") OVER w AS exp_max
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "win_rolling_center" ->
      """SELECT user_id, event_id,
         CASE WHEN COUNT("value") OVER w >= 5
              THEN CAST(SUM(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) END AS roll_sum_center
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)""",

    "win_rolling_std" ->
      """WITH t AS (
           SELECT user_id, event_id,
             CAST(COUNT("value") OVER w AS DOUBLE) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(7,2))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2))) OVER w AS DOUBLE) AS s2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id,
           CASE WHEN n >= 10 THEN ROUND((s2 - s1 * s1 / n) / (n - 1), 6) END AS roll_var,
           CASE WHEN n >= 10 THEN ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)), 6) END AS roll_std
         FROM t""",

    "win_rolling_skew" ->
      """WITH t AS (
           SELECT user_id, event_id,
             CAST(COUNT("value") OVER w AS DOUBLE) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(7,2))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2))) OVER w AS DOUBLE) AS s2,
             CAST(SUM(CAST(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2)) AS DECIMAL(38,8))) OVER w AS DOUBLE) AS s3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 14 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id,
           CASE WHEN n >= 15 THEN
             ROUND(SQRT(n * (n - 1)) / (n - 2)
               * ((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                  / POW(s2 / n - (s1 / n) * (s1 / n), 1.5)), 6) END AS roll_skew
         FROM t""",

    "win_rolling_kurt" ->
      """WITH t AS (
           SELECT user_id, event_id,
             CAST(COUNT("value") OVER w AS DOUBLE) AS n,
             CAST(SUM(CAST("value" AS DECIMAL(7,2))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2))) OVER w AS DOUBLE) AS s2,
             CAST(SUM(CAST(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2)) AS DECIMAL(38,8))) OVER w AS DOUBLE) AS s3,
             CAST(SUM(CAST(CAST(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2)) AS DECIMAL(19,4)) * CAST(CAST("value" AS DECIMAL(7,2)) * CAST("value" AS DECIMAL(7,2)) AS DECIMAL(19,4)) AS DECIMAL(38,8))) OVER w AS DOUBLE) AS s4
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id,
           CASE WHEN n >= 20 THEN
             ROUND(((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) *
               ((s4 / n - 4 * (s1 / n) * (s3 / n)
                 + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                 - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3) + 6), 6)
           END AS roll_kurt
         FROM t""",

    "win_rolling_quantile" ->
      """WITH t AS (
           SELECT user_id, event_id,
             list_sort(list("value") OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) AS arr
           FROM events)
         SELECT user_id, event_id,
           CASE WHEN len(arr) >= 9 THEN
             ROUND(arr[CAST(FLOOR((len(arr) - 1) * 0.3) AS INT) + 1]
               + ((len(arr) - 1) * 0.3 - FLOOR((len(arr) - 1) * 0.3))
                 * (arr[LEAST(CAST(FLOOR((len(arr) - 1) * 0.3) AS INT) + 2, len(arr))]
                    - arr[CAST(FLOOR((len(arr) - 1) * 0.3) AS INT) + 1]), 6) END AS roll_q30
         FROM t""",

    "win_rolling_rank" ->
      """WITH t AS (
           SELECT user_id, event_id, "value",
             list("value") OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS arr
           FROM events)
         SELECT user_id, event_id,
           CASE WHEN len(arr) >= 9 THEN
             ROUND(CAST(len(list_filter(arr, x -> x < "value")) AS DOUBLE)
               + (len(list_filter(arr, x -> x = "value")) + 1) / 2.0, 6) END AS roll_rank_avg,
           CASE WHEN len(arr) >= 9 THEN
             ROUND((CAST(len(list_filter(arr, x -> x < "value")) AS DOUBLE)
               + (len(list_filter(arr, x -> x = "value")) + 1) / 2.0)
               / CAST(len(arr) AS DOUBLE), 6) END AS roll_rank_pct
         FROM t""",

    "win_rolling_nunique" ->
      """WITH t AS (
           SELECT user_id, event_id,
             list("value") OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS arr
           FROM events)
         SELECT user_id, event_id,
           CASE WHEN len(arr) >= 9
                THEN CAST(len(list_distinct(arr)) AS INT) END AS roll_nunique
         FROM t""",

    "win_rank_average" ->
      """SELECT event_type, event_id, "value",
         RANK() OVER (PARTITION BY event_type ORDER BY "value")
           + (COUNT(*) OVER (PARTITION BY event_type, "value") - 1) / 2.0 AS rank_avg,
         (RANK() OVER (PARTITION BY event_type ORDER BY "value")
           + (COUNT(*) OVER (PARTITION BY event_type, "value") - 1) / 2.0)
           / COUNT(*) OVER (PARTITION BY event_type) AS rank_pct
         FROM events""",

    "win_rolling_cov" ->
      """WITH t AS (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
             CAST(COUNT(*) OVER w AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(9,4))) OVER w AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) OVER w AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(9,4)) * CAST(l_quantity AS DECIMAL(9,4))) OVER w AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) OVER w AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(9,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) OVER w AS DOUBLE) AS sxy
           FROM lineitem WHERE l_orderkey < 2000
           WINDOW w AS (PARTITION BY l_returnflag
                        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
           CASE WHEN n >= 5 THEN ROUND((sxy - sx * sy / n) / (n - 1), 6) END AS roll_cov,
           CASE WHEN n >= 5 THEN ROUND((n * sxy - sx * sy) /
             (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) END AS roll_corr
         FROM t""",

    "win_rank_options" ->
      """WITH h AS (
           SELECT event_id, user_id,
             CASE WHEN event_type <> 'error' THEN "value" END AS reading
           FROM events)
         SELECT event_id, user_id,
           CASE WHEN reading IS NOT NULL THEN
             COUNT(reading) OVER (PARTITION BY user_id ORDER BY reading
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS rank_max,
           RANK() OVER (PARTITION BY user_id ORDER BY reading ASC NULLS FIRST) AS rank_na_top,
           RANK() OVER (PARTITION BY user_id ORDER BY reading ASC NULLS LAST) AS rank_na_bottom
         FROM h""",

    "win_weighted" ->
      """SELECT user_id, event_id,
         LAG("value", 3) OVER w * 0.1 + LAG("value", 2) OVER w * 0.2 +
         LAG("value", 1) OVER w * 0.3 + "value" * 0.4 AS wma_4
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)""",

    // the same normalized tap doubles as the engine (WinTypes),
    // rendered in scientific notation so DuckDB parses them as DOUBLE
    // literals (a plain decimal literal would be DECIMAL-typed)
    "win_weighted_wintypes" -> {
      def dotSql(taps: Seq[Double]): String =
        taps.zipWithIndex.map { case (t, j) =>
          f"""LAG("value", ${taps.length - 1 - j}) OVER w * $t%.17e"""
        }.mkString(" + ")
      s"""SELECT user_id, event_id,
         ROUND(${dotSql(WinTypes.normalized(WinTypes.gaussian(5, 1.0)))}, 6) AS wma_gauss,
         ROUND(${dotSql(WinTypes.normalized(WinTypes.triang(5)))}, 6) AS wma_triang,
         ROUND(${dotSql(WinTypes.normalized(WinTypes.hamming(5)))}, 6) AS wma_hamming
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)"""
    },

    "win_rolling_median" ->
      """WITH t AS (
           SELECT user_id, event_id,
             list_sort(list("value") OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) AS arr
           FROM events)
         SELECT user_id, event_id,
           CASE WHEN len(arr) >= 9 THEN
             ROUND((arr[(len(arr) + 1) // 2]
               + arr[(len(arr) + 1) // 2 + (len(arr) + 1) % 2]) / 2.0, 6) END AS roll_median
         FROM t""",

    "win_rolling_apply" ->
      """WITH t AS (
           SELECT user_id, event_id,
             list_sort(list("value") OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) AS arr
           FROM events)
         SELECT user_id, event_id,
           CASE WHEN len(arr) >= 9 THEN
             ROUND(SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(arr, x -> x * x)), (a, b) -> a + b) / len(arr)), 6)
           END AS roll_rms
         FROM t""",

    // recursive CTE mirrors the engine's per-group recursion with the
    // same operation order, so the doubles are bit-identical
    "win_ewm_mean" ->
      """WITH RECURSIVE r AS (
           SELECT user_id, ts, "value",
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, "value", rn,
             CAST("value" AS DOUBLE) AS num, CAST(1.0 AS DOUBLE) AS den,
             CAST("value" AS DOUBLE) * CAST("value" AS DOUBLE) AS num2,
             CAST(1.0 AS DOUBLE) AS sw2,
             CAST("value" AS DOUBLE) AS ynoadj
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r."value", r.rn,
             0.9 * e.num + r."value", 0.9 * e.den + 1.0,
             0.9 * e.num2 + r."value" * r."value",
             (0.9 * 0.9) * e.sw2 + 1.0,
             0.9 * e.ynoadj + 0.1 * r."value"
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, "value",
           ROUND(num / den, 6) AS ewm_adj, ROUND(ynoadj, 6) AS ewm_noadj,
           CASE WHEN den * den - sw2 > 0 THEN
             ROUND((num2 / den - (num / den) * (num / den))
               * ((den * den) / (den * den - sw2)), 6) END AS ewm_var
         FROM e""",

    // key-sampled twin: same recursion, WHERE pushed into the seed CTE
    // so the oracle's work is ∝ the 1/97 key sample (verdict r12 #5)
    "win_ewm_keyed" ->
      """WITH RECURSIVE r AS (
           SELECT user_id, ts, "value",
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events WHERE user_id % 97 = 3),
         e AS (
           SELECT user_id, ts, "value", rn,
             CAST("value" AS DOUBLE) AS num, CAST(1.0 AS DOUBLE) AS den,
             CAST("value" AS DOUBLE) * CAST("value" AS DOUBLE) AS num2,
             CAST(1.0 AS DOUBLE) AS sw2,
             CAST("value" AS DOUBLE) AS ynoadj
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r."value", r.rn,
             0.9 * e.num + r."value", 0.9 * e.den + 1.0,
             0.9 * e.num2 + r."value" * r."value",
             (0.9 * 0.9) * e.sw2 + 1.0,
             0.9 * e.ynoadj + 0.1 * r."value"
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, "value",
           ROUND(num / den, 6) AS ewm_adj, ROUND(ynoadj, 6) AS ewm_noadj,
           CASE WHEN den * den - sw2 > 0 THEN
             ROUND((num2 / den - (num / den) * (num / den))
               * ((den * den) / (den * den - sw2)), 6) END AS ewm_var
         FROM e""",

    "win_ewm_nulls" ->
      s"""WITH RECURSIVE r AS (
           SELECT user_id, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE CAST("value" AS DOUBLE) END AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, v, rn,
             CASE WHEN v IS NOT NULL THEN v ELSE CAST(0.0 AS DOUBLE) END AS num,
             CASE WHEN v IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS den,
             v AS yno,
             CAST(1.0 AS DOUBLE) AS wno
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.v, r.rn,
             CASE WHEN r.v IS NOT NULL THEN $D02 * e.num + r.v ELSE $D02 * e.num END,
             CASE WHEN r.v IS NOT NULL THEN $D02 * e.den + 1.0 ELSE $D02 * e.den END,
             CASE WHEN r.v IS NULL THEN e.yno
                  WHEN e.yno IS NULL THEN r.v
                  ELSE ((e.wno * $D02) * e.yno + 0.2 * r.v) / (e.wno * $D02 + 0.2) END,
             CASE WHEN r.v IS NULL THEN e.wno * $D02 ELSE 1.0 END
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, v,
           CASE WHEN den > 0 THEN ROUND(num / den, 6) END AS ewm_adj,
           ROUND(yno, 6) AS ewm_noadj
         FROM e""",

    "win_ewm_ignore_na" ->
      s"""WITH RECURSIVE r AS (
           SELECT user_id, ts,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE CAST("value" AS DOUBLE) END AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, v, rn,
             CASE WHEN v IS NOT NULL THEN v ELSE CAST(0.0 AS DOUBLE) END AS num,
             CASE WHEN v IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS den,
             v AS yno
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.v, r.rn,
             CASE WHEN r.v IS NOT NULL THEN $D02 * e.num + r.v ELSE e.num END,
             CASE WHEN r.v IS NOT NULL THEN $D02 * e.den + 1.0 ELSE e.den END,
             CASE WHEN r.v IS NULL THEN e.yno
                  WHEN e.yno IS NULL THEN r.v
                  ELSE (($D02) * e.yno + 0.2 * r.v) / ($D02 + 0.2) END
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, v,
           CASE WHEN den > 0 THEN ROUND(num / den, 6) END AS ewm_adj,
           ROUND(yno, 6) AS ewm_noadj
         FROM e""",

    "win_ewm_cov" ->
      s"""WITH RECURSIVE r AS (
           SELECT user_id, ts, CAST("value" AS DOUBLE) AS x,
             "value" * 0.5 + CAST(event_id % 10 AS DOUBLE) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, x, y, rn,
             x AS numx, y AS numy, x * y AS numxy,
             x * x AS numx2, y * y AS numy2,
             CAST(1.0 AS DOUBLE) AS den, CAST(1.0 AS DOUBLE) AS sw2
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.x, r.y, r.rn,
             $D02 * e.numx + 1.0 * r.x,
             $D02 * e.numy + 1.0 * r.y,
             $D02 * e.numxy + 1.0 * (r.x * r.y),
             $D02 * e.numx2 + 1.0 * (r.x * r.x),
             $D02 * e.numy2 + 1.0 * (r.y * r.y),
             $D02 * e.den + 1.0,
             ($D02 * $D02) * e.sw2 + 1.0
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, x, y,
           CASE WHEN den * den - sw2 > 0 THEN
             ROUND((numxy / den - (numx / den) * (numy / den))
               * ((den * den) / (den * den - sw2)), 6) END AS ewm_cov,
           CASE WHEN (numx2 / den - (numx / den) * (numx / den)) > 0
                 AND (numy2 / den - (numy / den) * (numy / den)) > 0 THEN
             ROUND((numxy / den - (numx / den) * (numy / den))
               / SQRT((numx2 / den - (numx / den) * (numx / den))
                    * (numy2 / den - (numy / den) * (numy / den))), 6) END AS ewm_corr
         FROM e""",

    "win_ewm_cov_noadj" ->
      s"""WITH RECURSIVE r AS (
           SELECT user_id, ts, CAST("value" AS DOUBLE) AS x,
             "value" * 0.5 + CAST(event_id % 10 AS DOUBLE) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, x, y, rn,
             x AS numx, y AS numy, x * y AS numxy,
             x * x AS numx2, y * y AS numy2,
             CAST(1.0 AS DOUBLE) AS den, CAST(1.0 AS DOUBLE) AS sw2
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.x, r.y, r.rn,
             $D02 * e.numx + 0.2 * r.x,
             $D02 * e.numy + 0.2 * r.y,
             $D02 * e.numxy + 0.2 * (r.x * r.y),
             $D02 * e.numx2 + 0.2 * (r.x * r.x),
             $D02 * e.numy2 + 0.2 * (r.y * r.y),
             $D02 * e.den + 0.2,
             ($D02 * $D02) * e.sw2 + 0.2 * 0.2
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, x, y,
           CASE WHEN den * den - sw2 > 0 THEN
             ROUND((numxy / den - (numx / den) * (numy / den))
               * ((den * den) / (den * den - sw2)), 6) END AS ewm_cov,
           CASE WHEN (numx2 / den - (numx / den) * (numx / den)) > 0
                 AND (numy2 / den - (numy / den) * (numy / den)) > 0 THEN
             ROUND((numxy / den - (numx / den) * (numy / den))
               / SQRT((numx2 / den - (numx / den) * (numx / den))
                    * (numy2 / den - (numy / den) * (numy / den))), 6) END AS ewm_corr
         FROM e""",

    "win_ewm_halflife" ->
      s"""WITH RECURSIVE r AS (
           SELECT user_id, ts, CAST("value" AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, v, rn, v AS num, CAST(1.0 AS DOUBLE) AS den, v AS yno
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.v, r.rn,
             $dHl * e.num + r.v,
             $dHl * e.den + 1.0,
             ((1.0 * $dHl) * e.yno + $aHl * r.v) / (1.0 * $dHl + $aHl)
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, v AS value,
           ROUND(num / den, 6) AS ewm_adj,
           ROUND(yno, 6) AS ewm_noadj
         FROM e""",

    "win_ewm_sum" ->
      s"""WITH RECURSIVE r AS (
           SELECT user_id, ts, CAST("value" AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, v, rn, v AS s
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.v, r.rn, $D02 * e.s + r.v
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, v AS value, ROUND(s, 6) AS ewm_sum
         FROM e""",

    "win_rolling_closed" ->
      """SELECT user_id, event_id,
         COUNT("value") OVER wb AS n_both,
         COUNT("value") OVER wl AS n_left,
         COUNT("value") OVER wn AS n_neither
         FROM events
         WINDOW wb AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
                wl AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING),
                wn AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3599999999 PRECEDING AND 1 PRECEDING)""",

    "win_rolling_step" ->
      """SELECT user_id, event_id, rn, roll_sum FROM (
           SELECT user_id, event_id,
             ROW_NUMBER() OVER w2 AS rn,
             CASE WHEN COUNT("value") OVER w >= 5
                  THEN CAST(SUM(CAST("value" AS DECIMAL(18,4))) OVER w AS DOUBLE) END AS roll_sum
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                  w2 AS (PARTITION BY user_id ORDER BY ts)) t
         WHERE (rn - 1) % 3 = 0""",

    // same recursion order as Ewm.ewmMeanTimes: d = 2^(-(Δt_us/1e6)/hl).
    // Null-robust like the engine: a null v leaves num/den/ltus (time of
    // last OBSERVED value) untouched and emits the carried mean, so the
    // oracle no longer leans on the fixture having zero null values.
    "win_ewm_times" ->
      """WITH RECURSIVE r AS (
           SELECT user_id, ts, epoch_us(ts) AS tus,
             CAST("value" AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events),
         e AS (
           SELECT user_id, ts, tus, v, rn,
             CASE WHEN v IS NULL THEN CAST(0.0 AS DOUBLE) ELSE v END AS num,
             CASE WHEN v IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS den,
             CASE WHEN v IS NULL THEN NULL ELSE tus END AS ltus
           FROM r WHERE rn = 1
           UNION ALL
           SELECT r.user_id, r.ts, r.tus, r.v, r.rn,
             CASE WHEN r.v IS NULL THEN e.num
                  WHEN e.ltus IS NULL THEN r.v
                  ELSE POWER(2.0, -((r.tus - e.ltus) / 1000000.0) / 3600.0) * e.num + r.v END,
             CASE WHEN r.v IS NULL THEN e.den
                  WHEN e.ltus IS NULL THEN CAST(1.0 AS DOUBLE)
                  ELSE POWER(2.0, -((r.tus - e.ltus) / 1000000.0) / 3600.0) * e.den + 1.0 END,
             CASE WHEN r.v IS NULL THEN e.ltus ELSE r.tus END
           FROM e JOIN r ON r.user_id = e.user_id AND r.rn = e.rn + 1)
         SELECT user_id, ts, v AS value,
                CASE WHEN den > 0 THEN ROUND(num / den, 5) END AS ewm_tmean
         FROM e"""
  )
}
