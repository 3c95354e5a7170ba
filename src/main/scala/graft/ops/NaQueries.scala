package graft.ops

import graft.{QueryModule, Tables}
import graft.OracleNum._
import graft.functions.GapFill
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Missing-data surface (SURVEY.md §2.10).
  *
  * Reference: pandas `core/missing.py` (pad/backfill kernels
  * `_libs/algos.pyx:598/:845`), `generic.py:7138` fillna,
  * `frame.py:7974` dropna, `generic.py:8113` interpolate.
  *
  * The testdata has no NULLs, so each query derives them ('error'
  * events lose their reading) — which also documents the NaN/NA
  * decision from SURVEY §7: missing = SQL NULL, and ordered fills are
  * windows over the per-user order, distributed by user key, all built
  * by `functions/GapFill`.
  */
object NaQueries extends QueryModule {

  /** each user's events in time order, the frame every fill runs over */
  private val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))

  /** events with `value` nulled out on error rows. */
  private def withHoles(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    Tables(s, d, "events")
      .withColumn("reading", when($"event_type" =!= "error", $"value"))
  }

  def queries: Map[String, Q] = Map(
    // isna/notna + fillna(scalar) (missing.py; generic.py:7138)
    "na_isna_fillna" -> { (s, d) =>
      import s.implicits._
      withHoles(s, d)
        .select($"event_id", $"user_id",
          $"reading".isNull.as("is_na"),
          coalesce($"reading", lit(0.0)).as("filled_zero"))
    },

    // fillna with per-group statistic: group mean imputation
    "na_fillna_group_mean" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id")
      withHoles(s, d)
        .select($"event_id", $"user_id",
          coalesce($"reading",
            sum(dec($"reading")).over(w).cast("double") / count($"reading").over(w))
            .as("imputed"))
    },

    // dropna (frame.py:7974)
    "na_dropna" -> { (s, d) =>
      import s.implicits._
      withHoles(s, d)
        .na.drop(Seq("reading"))
        .select($"event_id", $"user_id", $"reading")
    },

    // ffill per user (pad algos.pyx:598): last non-null over preceding
    "na_ffill" -> { (s, d) =>
      import s.implicits._
      withHoles(s, d)
        .select($"event_id", $"user_id",
          GapFill.ffill($"reading", byUser).as("ffilled"))
    },

    // bfill per user (backfill algos.pyx:845): first non-null following
    "na_bfill" -> { (s, d) =>
      import s.implicits._
      withHoles(s, d)
        .select($"event_id", $"user_id",
          GapFill.bfill($"reading", byUser).as("bfilled"))
    },

    // ffill(limit=2): distance-since-last-non-null gate (two windows)
    "na_ffill_limit" -> { (s, d) =>
      import s.implicits._
      GapFill.ffillLimit(withHoles(s, d), $"reading", byUser, 2, "ffill_lim2")
        .select($"event_id", $"user_id", $"ffill_lim2")
    },

    // interpolate(method='linear') by in-group position
    // (generic.py:8113; engine missing.py:370): bracket the gap with
    // prev/next non-null value+position, linear blend
    "na_interpolate" -> { (s, d) =>
      import s.implicits._
      val b = GapFill.Bracket.rows($"reading", byUser)
      b.of(withHoles(s, d))
        .select($"event_id", $"user_id", b.linear.as("interp"))
    },

    // interpolate(method='nearest') (missing.py:205 method list; scipy
    // interp1d kind='nearest' takes the LEFT bracket at exact
    // midpoints): fill with whichever non-null bracket is closer by
    // row position. Same bracket as linear.
    "na_interp_nearest" -> { (s, d) =>
      import s.implicits._
      val b = GapFill.Bracket.rows($"reading", byUser)
      b.of(withHoles(s, d))
        .select($"event_id", $"user_id", b.nearest(GapFill.TieToPrev).as("interp"))
    },

    // interpolate(method='time') (missing.py:370): like linear but
    // weighted by actual timestamp distance, not row position
    "na_interpolate_time" -> { (s, d) =>
      import s.implicits._
      val b = GapFill.Bracket.time($"reading", byUser, "tsu",
        unix_micros($"ts").cast("double"))
      b.of(withHoles(s, d))
        .select($"event_id", $"user_id", b.linear.as("interp_t"))
    },

    // interpolate limit / limit_direction / limit_area
    // (generic.py:8113 params; engine core/missing.py:370): the same
    // prev/next bracket as na_interpolate plus run-distance gates.
    // limit counts consecutive NaNs from the fill direction's side;
    // limit_area='inside' keeps only bracketed gaps, 'outside' only
    // the leading/trailing runs (direction='both' here, so leading
    // backfills and trailing forward-fills).
    "na_interp_limit" -> { (s, d) =>
      import s.implicits._
      val b = GapFill.Bracket.rows($"reading", byUser)
      b.of(withHoles(s, d)).select($"event_id", $"user_id",
        b.limitForward(2).as("interp_fwd_lim2"),
        b.limitBoth(1).as("interp_both_lim1"),
        b.inside.as("interp_inside"),
        b.outside.as("interp_outside"))
    },

    // replace (generic.py:7600): value map on strings + numeric clip of
    // a sentinel
    "na_replace" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .select($"event_id",
          when($"event_type" === "error", "err")
            .when($"event_type" === "purchase", "buy")
            .otherwise($"event_type").as("etype"),
          when($"value" === 0.01, lit(null).cast("double"))
            .otherwise($"value").as("val_sentinel_nulled"))
    },

    // to_numeric(errors='coerce') (tools/numeric.py:39): unparseable
    // strings become NULL instead of raising — try_cast in both
    // engines. Dirty inputs are derived deterministically from
    // o_orderkey so the oracle sees the same strings.
    "na_to_numeric" -> { (s, d) =>
      import s.implicits._
      val raw = when($"o_orderkey" % 7 === 0, concat(lit("id-"), $"o_orderkey"))
        .otherwise($"o_orderkey".cast("string"))
      Tables(s, d, "orders")
        .withColumn("raw", raw)
        .select($"o_orderkey", $"raw",
          expr("try_cast(raw AS BIGINT)").as("as_num"),
          coalesce(expr("try_cast(raw AS BIGINT)"), lit(-1L)).as("filled"))
    }
  )

  def oracle: Map[String, String] = {
    val holes =
      """SELECT event_id, user_id, ts,
         CASE WHEN event_type <> 'error' THEN "value" END AS reading
         FROM events"""
    /** The bracket CTEs of the interpolate oracles (GapFill.Bracket):
      * `pos` is `posSql`, `pv`/`prevPos` and `nv`/`nextPos` the
      * previous and next valid reading and its position; the caller's
      * SELECT list follows. */
    def bracket(posSql: String, pos: String, prevPos: String, nextPos: String) =
      s"""WITH h AS ($holes),
           t AS (
             SELECT event_id, user_id, reading,
               $posSql AS $pos,
               last_value(reading IGNORE NULLS) OVER wb AS pv,
               first_value(reading IGNORE NULLS) OVER wf AS nv
             FROM h
             WINDOW wb AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
           t2 AS (
             SELECT event_id, user_id, reading, $pos, pv, nv,
               MAX(CASE WHEN reading IS NOT NULL THEN $pos END)
                 OVER (PARTITION BY user_id ORDER BY $pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $prevPos,
               MIN(CASE WHEN reading IS NOT NULL THEN $pos END)
                 OVER (PARTITION BY user_id ORDER BY $pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS $nextPos
             FROM t)
           SELECT event_id, user_id,"""
    val byRow = bracket(
      "CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS DOUBLE)", "rn", "prn", "nrn")
    Map(
      "na_isna_fillna" ->
        s"""WITH h AS ($holes)
           SELECT event_id, user_id, reading IS NULL AS is_na,
             COALESCE(reading, 0.0) AS filled_zero FROM h""",

      "na_fillna_group_mean" ->
        s"""WITH h AS ($holes)
           SELECT event_id, user_id,
             COALESCE(reading,
               CAST(SUM(CAST(reading AS DECIMAL(18,4))) OVER (PARTITION BY user_id) AS DOUBLE)
                 / COUNT(reading) OVER (PARTITION BY user_id)) AS imputed
           FROM h""",

      "na_dropna" ->
        s"""WITH h AS ($holes)
           SELECT event_id, user_id, reading FROM h WHERE reading IS NOT NULL""",

      "na_ffill" ->
        s"""WITH h AS ($holes)
           SELECT event_id, user_id,
             last_value(reading IGNORE NULLS) OVER w AS ffilled
           FROM h WINDOW w AS (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

      "na_bfill" ->
        s"""WITH h AS ($holes)
           SELECT event_id, user_id,
             first_value(reading IGNORE NULLS) OVER w AS bfilled
           FROM h WINDOW w AS (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)""",

      "na_ffill_limit" ->
        s"""WITH h AS ($holes),
           t0 AS (
             SELECT event_id, user_id, reading, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
             FROM h),
           t AS (
             SELECT event_id, user_id, reading, rn,
               MAX(CASE WHEN reading IS NOT NULL THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn_rn,
               last_value(reading IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
             FROM t0)
           SELECT event_id, user_id,
             CASE WHEN rn - last_nn_rn <= 2 THEN ff END AS ffill_lim2
           FROM t""",

      "na_interpolate" ->
        (byRow +
          """
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
                  WHEN pv IS NOT NULL THEN pv END AS interp
           FROM t2"""),

      "na_interp_nearest" ->
        (byRow +
          """
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN CASE WHEN rn - prn <= nrn - rn THEN pv ELSE nv END
                  WHEN pv IS NOT NULL THEN pv END AS interp
           FROM t2"""),

      "na_interpolate_time" ->
        (bracket("CAST(epoch_us(ts) AS DOUBLE)", "tsu", "pt", "nt") +
          """
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * (tsu - pt) / (nt - pt)
                  WHEN pv IS NOT NULL THEN pv END AS interp_t
           FROM t2"""),

      "na_interp_limit" ->
        (byRow +
          """
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NOT NULL AND rn - prn <= 2 THEN
                    CASE WHEN nv IS NOT NULL
                         THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
                         ELSE pv END
             END AS interp_fwd_lim2,
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                       AND (rn - prn <= 1 OR nrn - rn <= 1)
                    THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
                  WHEN pv IS NOT NULL AND nv IS NULL AND rn - prn <= 1 THEN pv
                  WHEN nv IS NOT NULL AND pv IS NULL AND nrn - rn <= 1 THEN nv
             END AS interp_both_lim1,
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                    THEN pv + (nv - pv) * (rn - prn) / (nrn - prn)
             END AS interp_inside,
             CASE WHEN reading IS NOT NULL THEN reading
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
             END AS interp_outside
           FROM t2"""),

      "na_replace" ->
        """SELECT event_id,
           CASE WHEN event_type = 'error' THEN 'err'
                WHEN event_type = 'purchase' THEN 'buy'
                ELSE event_type END AS etype,
           CASE WHEN "value" = 0.01 THEN NULL ELSE "value" END AS val_sentinel_nulled
           FROM events""",

      "na_to_numeric" ->
        """SELECT o_orderkey, raw,
           TRY_CAST(raw AS BIGINT) AS as_num,
           COALESCE(TRY_CAST(raw AS BIGINT), -1) AS filled
           FROM (SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'id-' || o_orderkey
                        ELSE CAST(o_orderkey AS VARCHAR) END AS raw
                 FROM orders) t"""
    )
  }
}
