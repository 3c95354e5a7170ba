package graft.ops

import graft.{QueryModule, Tables}
import graft.OracleNum._
import graft.functions.GapFill
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / resample surface (SURVEY.md §2.8).
  *
  * Reference: pandas `core/resample.py` (TimeGrouper bin calc :2636),
  * `.dt` accessor (`indexes/accessors.py:271`), offsets
  * (`_libs/tslibs/offsets.pyx`). Downsampling is `groupBy(date_trunc)`
  * / epoch-floor bucketing (a plain hash aggregate — streaming-ready
  * via `window()` in graft.streaming); upsampling generates a calendar
  * spine with `sequence()` + explode and left-joins — all distributed,
  * the spine being trivially small relative to the data.
  */
object TimeQueries extends QueryModule {

  /** asfreq('h') per event_type: the hourly mean (`hr_mean`) left-joined
    * onto an hourly spine from the first to the last event's hour, so an
    * hour with no events is a NULL to fill. */
  private def upsampled(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, d, "events")
    val hourly = ev
      .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
      .agg(dmean($"value").as("hr_mean"))
    val bounds = ev.agg(
      date_trunc("hour", min($"ts")).as("lo"),
      date_trunc("hour", max($"ts")).as("hi"))
    val spine = bounds
      .select(explode(sequence($"lo", $"hi", expr("interval 1 hour"))).as("hr"))
      .crossJoin(ev.select($"event_type").distinct())
    spine.join(hourly, Seq("hr", "event_type"), "left")
  }

  /** each event_type's hours in order, the frame the upsample fills run over */
  private val byType = Window.partitionBy(col("event_type")).orderBy(col("hr"))

  def queries: Map[String, Q] = Map(
    // resample('D').agg(...) (resample.py:119): daily count/sum/mean
    "ts_resample_day" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .groupBy(date_trunc("day", $"ts").as("day"))
        .agg(count(lit(1)).as("n"),
          dsum($"value").as("sum_val"),
          dmean($"value").as("mean_val"))
    },

    // conversion funnel (first click -> first purchase within 24h per
    // user): the sequential-pattern report pandas users build from
    // chained groupby-min + merge + mask. Two tiny per-user aggregates
    // joined on the key; delays stay integer micros until the final
    // exact-decimal mean, so the report is bit-stable.
    "ts_funnel" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
      val clicks = ev.filter($"event_type" === "click")
        .groupBy($"user_id").agg(min($"ts").as("first_click"))
      val conv = ev.filter($"event_type" === "purchase")
        .join(clicks, Seq("user_id"))
        .filter($"ts" >= $"first_click" &&
          unix_micros($"ts") - unix_micros($"first_click") <= 86400000000L)
        .groupBy($"user_id").agg(min($"ts").as("first_purchase"),
          min($"first_click").as("fc"))
        .select($"user_id",
          (unix_micros($"first_purchase") - unix_micros($"fc")).as("delay_us"))
      val nClick = clicks.agg(count(lit(1)).as("n_users_click"))
      val agg = conv.agg(count(lit(1)).as("n_converted"),
        sum($"delay_us".cast("decimal(38,0)")).as("sum_delay"))
      nClick.crossJoin(agg).select($"n_users_click", $"n_converted",
        round($"n_converted".cast("double") / $"n_users_click", 6).as("conv_rate"),
        round(($"sum_delay".cast("double") / $"n_converted") / 60000000.0, 4)
          .as("mean_delay_min"))
    },

    // cohort retention matrix (the classic pandas pivot workload:
    // first-seen week = cohort, active users per week offset). Two
    // aggregations + one user-keyed join; both weeks are Monday
    // truncs, so the day gap is an exact multiple of 7 in both
    // engines. The result is cohort-count-sized — a broadcastable
    // report no matter the event volume.
    "ts_cohort_retention" -> { (s, d) =>
      import s.implicits._
      val ev = Tables(s, d, "events")
        .select($"user_id", date_trunc("week", $"ts").as("wk"))
      val cohort = ev.groupBy($"user_id").agg(min($"wk").as("cohort"))
      ev.distinct()
        .join(cohort, Seq("user_id"))
        .select($"user_id", $"cohort",
          (datediff($"wk", $"cohort") / 7).cast("long").as("week_offset"))
        .groupBy($"cohort".cast("date").as("cohort"), $"week_offset")
        .agg(countDistinct($"user_id").as("n_users"))
    },

    // groupby('user_id').resample('D') (resample.py:119 via
    // groupby.resample): per-key time bins — the keyed form of
    // ts_resample_day. One shuffle on (user, day); partial aggregates
    // map-side, so at 100 TB the exchange carries per-bin states only.
    "ts_resample_groupby" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .groupBy($"user_id", date_trunc("day", $"ts").as("day"))
        .agg(count(lit(1)).as("n"),
          dsum($"value").as("sum_val"),
          dmean($"value").as("mean_val"))
    },

    // resample('6h'): epoch-floor bucketing (portable alignment)
    "ts_resample_6h" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .groupBy(timestamp_seconds(
          (unix_seconds($"ts") / 21600).cast("long") * 21600).as("bucket"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_val"))
    },

    // resample('D').ohlc() (resample.py:1105+): first/last keyed on
    // the unique event ts
    "ts_resample_ohlc" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
        .agg(
          min_by($"value", $"ts").as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max_by($"value", $"ts").as("close"))
    },

    // upsample: hourly spine per event_type + asfreq + ffill
    // (resample.py:1059 asfreq, :612 ffill): sequence() spine, left
    // join, window forward-fill
    "ts_upsample_ffill" -> { (s, d) =>
      import s.implicits._
      upsampled(s, d)
        .select($"hr", $"event_type",
          GapFill.ffill($"hr_mean", byType).as("ffilled_mean"))
    },

    // upsample fill methods beyond ffill (resample.py:749 bfill, :691
    // nearest, :851 interpolate): same sequence() spine + left join,
    // then GapFill's bracket over epoch seconds. `nearest` breaks exact-
    // midpoint ties toward the following observation, matching
    // pandas' monotonic get_indexer(method='nearest') (left wins only
    // on strict <). interpolate keeps pandas' linear default: leading
    // NaNs stay null, trailing NaNs forward-fill.
    "ts_upsample_fill" -> { (s, d) =>
      import s.implicits._
      val b = GapFill.Bracket.time($"hr_mean", byType, "t",
        unix_seconds($"hr").cast("double"))
      b.of(upsampled(s, d))
        .select($"hr", $"event_type",
          b.next.as("bfilled_mean"),
          b.nearest(GapFill.TieToNext).as("nearest_mean"),
          b.linear.as("interp_mean"))
    },

    // .dt accessor fields (accessors.py:271)
    "ts_dt_accessor" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .filter($"event_id" < 500)
        .select($"event_id",
          year($"ts").as("y"), month($"ts").as("m"), dayofmonth($"ts").as("dom"),
          hour($"ts").as("h"), minute($"ts").as("mi"), second($"ts").as("sec"),
          quarter($"ts").as("q"),
          expr("weekday(ts)").as("wd_mon0"),
          date_format($"ts", "EEEE").as("day_name"),
          (dayofmonth($"ts") === 1).as("is_month_start"),
          dayofmonth(last_day($"ts")).as("days_in_month"))
    },

    // dt.floor/ceil/round to hour (accessors; tslibs round)
    "ts_floor_ceil_round" -> { (s, d) =>
      import s.implicits._
      val fl = date_trunc("hour", $"ts")
      Tables(s, d, "events")
        .filter($"event_id" < 500)
        .select($"event_id", $"ts",
          fl.as("floor_h"),
          when($"ts" === fl, fl).otherwise(fl + expr("interval 1 hour")).as("ceil_h"),
          when(minute($"ts") >= 30, fl + expr("interval 1 hour")).otherwise(fl).as("round_h"))
    },

    // shift(freq=) / offset arithmetic (offsets.pyx; add_months clamps
    // like DateOffset months)
    "ts_shift_freq" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .filter($"event_id" < 500)
        .select($"event_id",
          ($"ts" + expr("interval 3 days")).as("plus_3d"),
          ($"ts" - expr("interval 90 minutes")).as("minus_90m"),
          ($"ts" + expr("interval 1 month")).as("plus_1mo"),
          datediff($"ts", lit("2024-01-01").cast("timestamp")).as("days_since_start"))
    },

    // business-day roll-forward + n-BDay arithmetic (BDay
    // offsets.pyx; Spark has no calendar module — explicit weekday
    // formulas, SURVEY §7.4). plus_3bday = roll to a business day,
    // then add 3 plus a weekend skip when the hop crosses Friday.
    // Holiday calendars would subtract a broadcast holiday-set count
    // per span; not modeled here (no calendar data in env).
    "ts_business_day" -> { (s, d) =>
      import s.implicits._
      val wd = expr("weekday(ts)") // 0=Mon .. 6=Sun
      val rolled = when(wd === 5, date_trunc("day", $"ts") + expr("interval 2 days"))
        .when(wd === 6, date_trunc("day", $"ts") + expr("interval 1 day"))
        .otherwise(date_trunc("day", $"ts"))
      val rolledWd = when(wd >= 5, lit(0)).otherwise(wd) // Sat/Sun roll to Mon
      Tables(s, d, "events")
        .filter($"event_id" < 2000)
        .withColumn("rolled", rolled)
        .withColumn("extra", when(rolledWd + 3 > 4, lit(5)).otherwise(lit(3)))
        .select($"event_id",
          $"rolled".as("next_bday"),
          expr("rolled + make_interval(0, 0, 0, extra)").as("plus_3bday"))
    },

    // Series.autocorr(lag=1) (series.py autocorr -> corr(s, s.shift)):
    // per-user lag-1 Pearson autocorrelation. The lag pairs come from
    // one per-key window; the correlation then follows the
    // decimal-moment discipline of agg_corr_cov so both engines
    // compute the identical formula over exact sums.
    "ts_autocorr" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      val pairs = Tables(s, d, "events")
        .select($"user_id", $"value".as("x"),
          lag($"value", 1).over(w).as("y"))
        .filter($"x".isNotNull && $"y".isNotNull)
      val m = pairs.groupBy($"user_id").agg(
        count(lit(1)).cast("double").as("n"),
        dsum($"x").as("sx"), dsum($"y").as("sy"),
        dsum8(dec($"x") * dec($"x")).as("sxx"),
        dsum8(dec($"y") * dec($"y")).as("syy"),
        dsum8(dec($"x") * dec($"y")).as("sxy"))
      val r = ($"n" * $"sxy" - $"sx" * $"sy") /
        (sqrt($"n" * $"sxx" - $"sx" * $"sx") * sqrt($"n" * $"syy" - $"sy" * $"sy"))
      m.select($"user_id", $"n".cast("long").as("n_pairs"),
        round(r, 6).as("autocorr_lag1"))
    },

    // resample(origin=..., offset=...) (resample.py origin/offset
    // params): bins anchored at an arbitrary origin instead of the
    // epoch — here 6h bins anchored at 02:00. Pure arithmetic binning
    // (identical float-floor expression both engines), so the whole
    // thing is still one partial-aggregated groupBy.
    "ts_resample_origin" -> { (s, d) =>
      import s.implicits._
      val originUs = 1704074400000000L // 2024-01-01 02:00:00 UTC
      val binUs = 21600000000L         // 6h
      val idx = floor((unix_micros($"ts") - originUs) / lit(binUs.toDouble))
      val bucket = timestamp_micros(lit(originUs) + idx.cast("long") * binUs)
      Tables(s, d, "events")
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    },

    // CustomBusinessDay with a holiday calendar (offsets.pyx
    // CustomBusinessDay, holidays=[...]): roll forward past weekends
    // AND a user-supplied holiday set. The calendar is a parameter,
    // not env data: a bounded when-chain fold (7 steps covers any
    // weekend+holiday cluster for a sane calendar) keeps the whole
    // thing one codegen'd expression — no UDF, no join. Holidays here
    // include a Mon+Tue pair after a weekend (4-day off-run) and a
    // Friday before one (3-day run), the two adversarial shapes.
    "ts_business_holidays" -> { (s, d) =>
      import s.implicits._
      val holidays = Seq("2024-01-15", "2024-01-16", "2024-01-26")
      def off(c: org.apache.spark.sql.Column) =
        dayofweek(c).isin(1, 7) ||
          to_date(c).cast("string").isin(holidays: _*)
      // round-14: the roll-forward fold is built as SEVEN chained
      // projections (each step referencing the previous step's
      // COLUMN), not one nested column expression — the single-column
      // fold referenced `acc` four times per step, so the expression
      // tree grew ~4^7 nodes and the query spent 34 s at sf0.1 in
      // planning + interpreted evaluation of the exploded when-chain.
      // Identical per-row arithmetic; ~1 s after.
      val base = Tables(s, d, "events")
        .filter($"event_id" < 2000)
        .withColumn("acc0", date_trunc("day", $"ts"))
      val stepped = (1 to 7).foldLeft(base) { (df, i) =>
        val prev = col(s"acc${i - 1}")
        df.withColumn(s"acc$i",
          when(off(prev), prev + expr("interval 1 day")).otherwise(prev))
      }
      stepped.select($"event_id",
        $"acc7".as("next_cbday"),
        off(date_trunc("day", $"ts")).as("is_off_day"))
    },

    // tz_localize/tz_convert (tslibs/tzconversion.pyx; Series.dt
    // .tz_convert): UTC wall -> zone wall including DST. The oracle
    // uses nested timezone('zone', timezone('UTC', ts)) which pins the
    // naive-timestamp interpretation to UTC regardless of DuckDB's
    // session zone — the same instant arithmetic as from_utc_timestamp.
    "ts_tz_convert" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .filter($"event_id" < 2000)
        .select($"event_id", $"ts",
          from_utc_timestamp($"ts", "America/New_York").as("ny_wall"),
          from_utc_timestamp($"ts", "Asia/Kolkata").as("ist_wall"),
          (hour(from_utc_timestamp($"ts", "America/New_York"))).as("ny_hour"))
    },

    // resample closed='right', label='right' (resample.py TimeGrouper
    // closed/label params): the bin (t0, t0+6h] labeled by its right
    // edge — integer-ceil on the epoch, exact boundaries staying put.
    "ts_resample_closed" -> { (s, d) =>
      import s.implicits._
      val bucketRight = timestamp_seconds(
        expr("((unix_micros(ts) + 21599999999) div 21600000000) * 21600"))
      Tables(s, d, "events")
        .groupBy(bucketRight.as("bucket_right"))
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_val"))
    },

    // Period dtype representation (PeriodDtype dtypes.py:1000, SURVEY
    // §1.3): period = struct(start, freq) + integer ordinal; period
    // arithmetic = month arithmetic on the start. The struct itself is
    // built and field-accessed here (and covered as a nested type in
    // ReshapeSpec); the oracle-facing projection flattens it to
    // hashable scalars because the driver's pandas sort can't order
    // dict cells.
    "ts_period_struct" -> { (s, d) =>
      import s.implicits._
      val start = date_trunc("month", $"o_orderdate")
      Tables(s, d, "orders")
        .filter($"o_orderkey" < 2000)
        .select($"o_orderkey",
          struct(start.as("start"), lit("M").as("freq")).as("period"),
          ((year($"o_orderdate") - 1970) * 12 + month($"o_orderdate") - 1)
            .as("period_ordinal"),
          (start + expr("interval 1 month")).as("next_period_start"))
        .select($"o_orderkey",
          concat(lit("["), date_format($"period.start", "yyyy-MM-dd"),
            lit("|"), $"period.freq", lit("]")).as("period_str"),
          $"period.start".as("period_start"),
          $"period_ordinal", $"next_period_start")
    },

    // Timedelta arithmetic (timedeltas.pyx; Series.dt.total_seconds):
    // inter-event gaps per user as exact integer microsecond deltas,
    // aggregated to per-user gap statistics — timestamp subtraction on
    // the epoch-micros integer domain keeps both engines exact.
    "ts_timedelta_stats" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts")
      Tables(s, d, "events")
        .withColumn("gap_us", unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
        .filter($"gap_us".isNotNull)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum($"gap_us").as("total_gap_us"),
          max($"gap_us").as("max_gap_us"),
          // NO round() here: sum is an integer (exact under any shuffle
          // order) and both engines run the identical long->double /
          // count / 1e6 IEEE sequence, so the raw double is already
          // bit-identical — rounding would ADD divergence when the true
          // mean sits exactly on a half boundary (sf0.1 user 1124:
          // ...0425 rounds differently via Spark's BigDecimal.valueOf
          // string path vs DuckDB's binary-double path).
          (sum($"gap_us") / count(lit(1)) / 1000000.0).as("mean_gap_sec"))
    },

    // pd.date_range(start, end, freq='6h') (tseries/frequencies;
    // core/indexes/datetimes.py date_range): range generation is
    // `sequence` + explode — generated distributed, not driver-side;
    // at scale Spark splits the exploded range across partitions.
    "ts_date_range" -> { (s, d) =>
      import s.implicits._
      s.range(1).select(explode(sequence(
          lit("2024-01-01 00:00:00").cast("timestamp"),
          lit("2024-01-30 00:00:00").cast("timestamp"),
          expr("interval 6 hours"))).as("ts"))
        .select($"ts",
          dayofweek($"ts").as("dow"),
          date_format($"ts", "yyyy-MM-dd").as("day_str"))
    },

    // anchored offsets (tseries/offsets.py MonthEnd/QuarterEnd/
    // YearBegin/BMonthEnd): pure calendar arithmetic, map-side,
    // codegen'd — rollforward semantics (an anchor date maps to
    // itself for YearBegin, matching pandas' rollforward).
    "ts_anchored_offsets" -> { (s, d) =>
      import s.implicits._
      val dt = to_date($"o_orderdate")
      val me = last_day(dt)
      val dow = dayofweek(me) // Spark: 1=Sun .. 7=Sat
      Tables(s, d, "orders")
        .filter($"o_orderkey" < 4000)
        .select($"o_orderkey", dt.as("dt"),
          me.as("month_end"),
          last_day(add_months(trunc(dt, "quarter"), 2)).as("quarter_end"),
          when(trunc(dt, "year") === dt, dt)
            .otherwise(add_months(trunc(dt, "year"), 12)).as("year_begin_roll"),
          when(dow === 7, date_sub(me, 1))   // Sat -> Fri
            .when(dow === 1, date_sub(me, 2)) // Sun -> Fri
            .otherwise(me).as("bmonth_end"))
    },

    // to_datetime parsing round-trip (tools/datetimes.py:767)
    "ts_parse_roundtrip" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .filter($"event_id" < 500)
        .select($"event_id",
          date_format($"ts", "yyyy/MM/dd HH:mm").as("formatted"))
        .select($"event_id", $"formatted",
          to_timestamp($"formatted", "yyyy/MM/dd HH:mm").as("parsed"))
    }
  )

  /** `upsampled`'s CTEs: `hourly`, the bounds `b` and `spine` */
  private val upsampleSpine =
    """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS hr, event_type,
             CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) / COUNT("value") AS hr_mean
           FROM events GROUP BY 1, 2),
         b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events),
         spine AS (
           SELECT unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hr, t.event_type
           FROM b CROSS JOIN (SELECT DISTINCT event_type FROM events) t)"""

  def oracle: Map[String, String] = Map(
    "ts_funnel" ->
      """WITH c AS (
           SELECT user_id, MIN(ts) AS first_click FROM events
           WHERE event_type = 'click' GROUP BY 1),
         conv AS (
           SELECT e.user_id,
             epoch_us(MIN(e.ts)) - epoch_us(MIN(c.first_click)) AS delay_us
           FROM events e JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
             AND epoch_us(e.ts) - epoch_us(c.first_click) <= 86400000000
           GROUP BY 1),
         agg AS (
           SELECT COUNT(*) AS n_converted,
             SUM(CAST(delay_us AS DECIMAL(38,0))) AS sum_delay
           FROM conv),
         nc AS (SELECT COUNT(*) AS n_users_click FROM c)
         SELECT nc.n_users_click, agg.n_converted,
           ROUND(CAST(agg.n_converted AS DOUBLE) / nc.n_users_click, 6) AS conv_rate,
           ROUND((CAST(agg.sum_delay AS DOUBLE) / agg.n_converted) / 60000000.0, 4)
             AS mean_delay_min
         FROM nc CROSS JOIN agg""",

    "ts_cohort_retention" ->
      """WITH ev AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
         c AS (
           SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY 1)
         SELECT CAST(c.cohort AS DATE) AS cohort,
           CAST((CAST(ev.wk AS DATE) - CAST(c.cohort AS DATE)) // 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN c USING (user_id)
         GROUP BY 1, 2""",

    "ts_resample_day" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) / COUNT("value") AS mean_val
         FROM events GROUP BY 1""",

    "ts_resample_groupby" ->
      """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         COUNT(*) AS n,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_val,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) / COUNT("value") AS mean_val
         FROM events GROUP BY 1, 2""",

    "ts_resample_6h" ->
      """SELECT TIMESTAMP '1970-01-01 00:00:00'
           + INTERVAL 1 SECOND * ((epoch_us(ts) // 21600000000) * 21600) AS bucket,
         COUNT(*) AS n,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
         FROM events GROUP BY 1""",

    "ts_resample_ohlc" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         arg_min("value", ts) AS open, MAX("value") AS high,
         MIN("value") AS low, arg_max("value", ts) AS close
         FROM events GROUP BY 1, 2""",

    "ts_upsample_ffill" ->
      (upsampleSpine + """
         SELECT s.hr, s.event_type,
           last_value(h.hr_mean IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffilled_mean
         FROM spine s LEFT JOIN hourly h ON s.hr = h.hr AND s.event_type = h.event_type"""),

    "ts_upsample_fill" ->
      (upsampleSpine + """,
         j AS (
           SELECT s.hr, s.event_type, h.hr_mean,
             CAST(epoch_us(s.hr) / 1000000 AS DOUBLE) AS t,
             last_value(h.hr_mean IGNORE NULLS) OVER wb AS pv,
             MAX(CASE WHEN h.hr_mean IS NOT NULL THEN CAST(epoch_us(s.hr) / 1000000 AS DOUBLE) END) OVER wb AS pt,
             first_value(h.hr_mean IGNORE NULLS) OVER wf AS nv,
             MIN(CASE WHEN h.hr_mean IS NOT NULL THEN CAST(epoch_us(s.hr) / 1000000 AS DOUBLE) END) OVER wf AS nt
           FROM spine s LEFT JOIN hourly h ON s.hr = h.hr AND s.event_type = h.event_type
           WINDOW wb AS (PARTITION BY s.event_type ORDER BY s.hr
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wf AS (PARTITION BY s.event_type ORDER BY s.hr
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT hr, event_type,
           nv AS bfilled_mean,
           CASE WHEN hr_mean IS NOT NULL THEN hr_mean
                WHEN nt IS NULL THEN pv
                WHEN pt IS NULL THEN nv
                WHEN t - pt < nt - t THEN pv
                ELSE nv END AS nearest_mean,
           CASE WHEN hr_mean IS NOT NULL THEN hr_mean
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + (nv - pv) * (t - pt) / (nt - pt)
                WHEN pv IS NOT NULL THEN pv END AS interp_mean
         FROM j"""),

    "ts_dt_accessor" ->
      """SELECT event_id,
         CAST(EXTRACT(year FROM ts) AS INT) AS y,
         CAST(EXTRACT(month FROM ts) AS INT) AS m,
         CAST(EXTRACT(day FROM ts) AS INT) AS dom,
         CAST(EXTRACT(hour FROM ts) AS INT) AS h,
         CAST(EXTRACT(minute FROM ts) AS INT) AS mi,
         CAST(EXTRACT(second FROM ts) AS INT) AS sec,
         CAST(EXTRACT(quarter FROM ts) AS INT) AS q,
         CAST(isodow(ts) - 1 AS INT) AS wd_mon0,
         dayname(ts) AS day_name,
         EXTRACT(day FROM ts) = 1 AS is_month_start,
         CAST(EXTRACT(day FROM last_day(ts)) AS INT) AS days_in_month
         FROM events WHERE event_id < 500""",

    "ts_floor_ceil_round" ->
      """SELECT event_id, ts,
         date_trunc('hour', ts) AS floor_h,
         CASE WHEN ts = date_trunc('hour', ts) THEN date_trunc('hour', ts)
              ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR END AS ceil_h,
         CASE WHEN EXTRACT(minute FROM ts) >= 30 THEN date_trunc('hour', ts) + INTERVAL 1 HOUR
              ELSE date_trunc('hour', ts) END AS round_h
         FROM events WHERE event_id < 500""",

    "ts_shift_freq" ->
      """SELECT event_id,
         ts + INTERVAL 3 DAY AS plus_3d,
         ts - INTERVAL 90 MINUTE AS minus_90m,
         ts + INTERVAL 1 MONTH AS plus_1mo,
         date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS days_since_start
         FROM events WHERE event_id < 500""",

    "ts_business_day" ->
      """WITH t AS (
           SELECT event_id,
             CASE WHEN isodow(ts) = 6 THEN date_trunc('day', ts) + INTERVAL 2 DAY
                  WHEN isodow(ts) = 7 THEN date_trunc('day', ts) + INTERVAL 1 DAY
                  ELSE date_trunc('day', ts) END AS rolled,
             CASE WHEN isodow(ts) >= 6 THEN 0 ELSE isodow(ts) - 1 END AS rolled_wd
           FROM events WHERE event_id < 2000)
         SELECT event_id, rolled AS next_bday,
           rolled + (CASE WHEN rolled_wd + 3 > 4 THEN 5 ELSE 3 END) * INTERVAL 1 DAY
             AS plus_3bday
         FROM t""",

    "ts_autocorr" ->
      """WITH p AS (
           SELECT user_id, "value" AS x,
             LAG("value", 1) OVER (PARTITION BY user_id ORDER BY ts) AS y
           FROM events),
         f AS (SELECT * FROM p WHERE x IS NOT NULL AND y IS NOT NULL),
         m AS (
           SELECT user_id,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy
           FROM f GROUP BY user_id)
         SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
           ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS autocorr_lag1
         FROM m""",

    "ts_resample_origin" ->
      """SELECT make_timestamp(1704074400000000 +
             CAST(floor((epoch_us(ts) - 1704074400000000) / 21600000000.0) AS BIGINT)
             * 21600000000) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",

    "ts_business_holidays" ->
      """WITH cand AS (
           SELECT e.event_id,
             date_trunc('day', e.ts) + (r.range * INTERVAL 1 DAY) AS c,
             date_trunc('day', e.ts) AS d0
           FROM events e, range(0, 11) r
           WHERE e.event_id < 2000),
         ok AS (
           SELECT event_id, c, d0 FROM cand
           WHERE isodow(c) <= 5
             AND CAST(c AS DATE) NOT IN
               (DATE '2024-01-15', DATE '2024-01-16', DATE '2024-01-26'))
         SELECT event_id, MIN(c) AS next_cbday,
           MIN(c) <> ANY_VALUE(d0) AS is_off_day
         FROM ok GROUP BY event_id""",

    "ts_tz_convert" ->
      """SELECT event_id, ts,
         CAST(timezone('America/New_York', timezone('UTC', ts)) AS TIMESTAMP) AS ny_wall,
         CAST(timezone('Asia/Kolkata', timezone('UTC', ts)) AS TIMESTAMP) AS ist_wall,
         CAST(EXTRACT(hour FROM CAST(timezone('America/New_York', timezone('UTC', ts)) AS TIMESTAMP)) AS INT) AS ny_hour
         FROM events WHERE event_id < 2000""",

    "ts_resample_closed" ->
      """SELECT TIMESTAMP '1970-01-01 00:00:00'
           + INTERVAL 1 SECOND * (((epoch_us(ts) + 21599999999) // 21600000000) * 21600) AS bucket_right,
         COUNT(*) AS n,
         CAST(SUM(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
         FROM events GROUP BY 1""",

    "ts_period_struct" ->
      """SELECT o_orderkey,
         '[' || strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') || '|M]' AS period_str,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS period_start,
         CAST((EXTRACT(year FROM o_orderdate) - 1970) * 12
           + EXTRACT(month FROM o_orderdate) - 1 AS INT) AS period_ordinal,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) + INTERVAL 1 MONTH AS next_period_start
         FROM orders WHERE o_orderkey < 2000""",

    "ts_timedelta_stats" ->
      """WITH g AS (
           SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_us
           FROM events)
         SELECT user_id, COUNT(*) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           MAX(gap_us) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) / COUNT(*) / 1000000.0 AS mean_gap_sec
         FROM g WHERE gap_us IS NOT NULL GROUP BY 1""",

    "ts_date_range" ->
      """SELECT ts,
           CAST(dayofweek(ts) + 1 AS INT) AS dow,
           strftime(ts, '%Y-%m-%d') AS day_str
         FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
           INTERVAL 6 HOUR) t(ts)""",

    "ts_anchored_offsets" ->
      """WITH t AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt
                    FROM orders WHERE o_orderkey < 4000),
         m AS (SELECT o_orderkey, dt, last_day(dt) AS me FROM t)
         SELECT o_orderkey, dt,
           me AS month_end,
           last_day(CAST(date_trunc('quarter', dt) AS DATE) + INTERVAL 2 MONTH)
             AS quarter_end,
           CASE WHEN CAST(date_trunc('year', dt) AS DATE) = dt THEN dt
                ELSE CAST(CAST(date_trunc('year', dt) AS DATE) + INTERVAL 12 MONTH AS DATE)
           END AS year_begin_roll,
           CASE WHEN dayofweek(me) = 6 THEN CAST(me - INTERVAL 1 DAY AS DATE)
                WHEN dayofweek(me) = 0 THEN CAST(me - INTERVAL 2 DAY AS DATE)
                ELSE me END AS bmonth_end
         FROM m""",

    "ts_parse_roundtrip" ->
      """SELECT event_id,
         strftime(ts, '%Y/%m/%d %H:%M') AS formatted,
         strptime(strftime(ts, '%Y/%m/%d %H:%M'), '%Y/%m/%d %H:%M') AS parsed
         FROM events WHERE event_id < 500"""
  )
}
