package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Gap filling within an ordered per-key frame: pandas `core/missing.py`
  * (pad/backfill, kernels `_libs/algos.pyx:598/:845`; `_interpolate_1d`
  * with `limit`, `limit_direction`, `limit_area`) as one window body.
  *
  * Every fill reads the same two windows over the frame `ord`
  * (partition by key, order by the series' order): the backward frame
  * (unbounded preceding to the current row) gives the previous valid
  * value and its position, the forward frame (current row to unbounded
  * following) the next. ffill and bfill are the value halves alone;
  * [[Bracket]] adds both halves with their positions as columns and
  * builds the interpolating fills on them. Missing = SQL NULL, so a
  * valid value is a non-null one and an all-NULL key stays NULL.
  *
  * Each window is one shuffle by key (shared by every fill over the same
  * `ord`), then a sort within the key: all of a key's rows are one
  * task's work, as the whole series is pandas-on-a-node's.
  */
object GapFill {

  private def back(ord: WindowSpec): WindowSpec =
    ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  private def fwd(ord: WindowSpec): WindowSpec =
    ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)

  /** ffill (pad): the last valid value at or before the row */
  def ffill(value: Column, ord: WindowSpec): Column =
    last(value, ignoreNulls = true).over(back(ord))

  /** bfill (backfill): the first valid value at or after the row */
  def bfill(value: Column, ord: WindowSpec): Column =
    first(value, ignoreNulls = true).over(fwd(ord))

  /** ffill(limit=): `df` plus `rn` (row number), `last_nn_rn` (row
    * number of the last valid value at or before) and `name`, the ffill
    * of rows at most `limit` rows past that value. */
  def ffillLimit(df: DataFrame, value: Column, ord: WindowSpec, limit: Int,
      name: String): DataFrame =
    df.withColumn("rn", row_number().over(ord))
      .withColumn("last_nn_rn", max(when(value.isNotNull, col("rn"))).over(back(ord)))
      .withColumn(name, when(col("rn") - col("last_nn_rn") <= limit, ffill(value, ord)))

  /** Tie rule of [[Bracket.nearest]], one per pandas path. */
  sealed trait Tie
  /** interpolate(method='nearest'), scipy interp1d kind='nearest': a
    * midpoint takes the previous value; leading gaps stay NULL and
    * trailing ones pad, as linear does. */
  case object TieToPrev extends Tie
  /** reindex/resample nearest, pandas' monotonic
    * get_indexer(method='nearest'): the previous value only when
    * strictly closer; a gap with one valid side takes that side. */
  case object TieToNext extends Tie

  /** The gap bracket of `value` over `ord`: [[of]] adds `pos`
    * (`position`), `pv` and `prevPos` (previous valid value and its
    * position) and `nv` and `nextPos` (next valid value and its
    * position), in that order. The fills read those columns. */
  final class Bracket private (value: Column, ord: WindowSpec, pos: String,
      position: Column, prevPos: String, nextPos: String) {

    def of(df: DataFrame): DataFrame =
      df.withColumn(pos, position)
        .withColumn("pv", ffill(value, ord))
        .withColumn(prevPos, max(when(value.isNotNull, col(pos))).over(back(ord)))
        .withColumn("nv", bfill(value, ord))
        .withColumn(nextPos, min(when(value.isNotNull, col(pos))).over(fwd(ord)))

    val prev: Column = col("pv")
    val next: Column = col("nv")
    private val (p, pp, np) = (col(pos), col(prevPos), col(nextPos))

    /** the straight line through the two valid values, at this row */
    private val blend: Column = prev + (next - prev) * (p - pp) / (np - pp)

    /** interpolate(method='linear'/'time'), pandas' defaults: bracketed
      * gaps blend, trailing gaps pad, leading gaps stay NULL */
    def linear: Column =
      when(value.isNotNull, value)
        .when(prev.isNotNull && next.isNotNull, blend)
        .when(prev.isNotNull, prev)

    /** the closer valid value by position; `tie` picks the pandas path */
    def nearest(tie: Tie): Column = tie match {
      case TieToPrev =>
        when(value.isNotNull, value)
          .when(prev.isNotNull && next.isNotNull,
            when(p - pp <= np - p, prev).otherwise(next))
          .when(prev.isNotNull, prev)
      case TieToNext =>
        when(value.isNotNull, value)
          .when(np.isNull, prev)
          .when(pp.isNull, next)
          .when(p - pp < np - p, prev)
          .otherwise(next)
    }

    /** linear with limit=n, limit_direction='forward': a gap row fills
      * only within n rows after the previous valid value */
    def limitForward(n: Int): Column =
      when(value.isNotNull, value)
        .when(prev.isNotNull && p - pp <= n,
          when(next.isNotNull, blend).otherwise(prev))

    /** linear with limit=n, limit_direction='both': within n rows of
      * either valid side; leading gaps backfill, trailing gaps pad */
    def limitBoth(n: Int): Column =
      when(value.isNotNull, value)
        .when(prev.isNotNull && next.isNotNull
            && (p - pp <= n || np - p <= n), blend)
        .when(prev.isNotNull && next.isNull && p - pp <= n, prev)
        .when(next.isNotNull && prev.isNull && np - p <= n, next)

    /** limit_area='inside': bracketed gaps only */
    def inside: Column =
      when(value.isNotNull, value)
        .when(prev.isNotNull && next.isNotNull, blend)

    /** limit_area='outside', limit_direction='both': the leading and
      * trailing runs only, each from its one valid side */
    def outside: Column =
      when(value.isNotNull, value)
        .when(prev.isNull, next)
        .when(next.isNull, prev)
  }

  object Bracket {
    /** positions are in-group row numbers, interpolate's default */
    def rows(value: Column, ord: WindowSpec): Bracket =
      new Bracket(value, ord, "rn", row_number().over(ord).cast("double"), "prn", "nrn")

    /** positions are `position`, a time column's epoch value
      * (interpolate(method='time'), resample's nearest) */
    def time(value: Column, ord: WindowSpec, pos: String, position: Column): Bracket =
      new Bracket(value, ord, pos, position, "pt", "nt")
  }
}
