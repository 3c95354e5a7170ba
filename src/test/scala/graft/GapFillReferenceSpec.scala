package graft

import graft.functions.GapFill
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every `GapFill` output against a brute-force walk of pandas'
  * documented fill rules (`core/missing.py`: pad/backfill,
  * `_interpolate_1d` with `limit`, `limit_direction`, `limit_area`; the
  * nearest tie rules of scipy's interp1d and of get_indexer). For each
  * row the walk scans its key's series for the previous and next valid
  * value, then applies the rule; the kernel reads the same two from its
  * backward and forward windows. Interpolated values agree to rounding
  * (the walk and the kernel evaluate one formula), the rest exactly.
  */
class GapFillReferenceSpec extends SparkSpec {

  /** (key, order, time position, value) */
  private type Row4 = (Long, Long, Double, Option[Double])

  /** Eight seeded random keys of 1–40 rows built from NULL and valid
    * runs, so leading, interior and trailing NULL runs of several
    * lengths occur; key 20 all NULL, keys 21 and 22 one row (valid,
    * NULL), key 23 evenly spaced so midpoints tie in rows and in time.
    * The order column is a total order within each key; the time
    * position grows by irregular steps. */
  private val rows: Seq[Row4] = {
    val r = new scala.util.Random(20261021)
    def series(k: Long, vals: Seq[Option[Double]], step: => Double): Seq[Row4] = {
      var x = 0.0
      vals.zipWithIndex.map { case (v, i) => x += step; (k, 10L * i + r.nextInt(5), x, v) }
    }
    val random = (0L until 8L).flatMap { k =>
      val n = 1 + r.nextInt(40)
      var valid = r.nextBoolean()
      val vals = Iterator.continually {
        valid = !valid
        Seq.fill(1 + r.nextInt(4))(
          if (valid) Some(math.round(r.nextDouble() * 2000 - 1000) / 100.0) else None)
      }.flatten.take(n).toSeq
      series(k, vals, (1 + r.nextInt(3600)).toDouble)
    }
    random ++ series(20, Seq.fill(5)(None), 60.0) ++
      series(21, Seq(Some(4.5)), 60.0) ++ series(22, Seq(None), 60.0) ++
      series(23, Seq(Some(1.0), None, None, None, Some(9.0), None, Some(3.0)), 60.0)
  }

  private lazy val frame: DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "t", "x", "v")
  }

  private val ord = Window.partitionBy(col("k")).orderBy(col("t"))

  /** One key's series in order, with its previous/next valid index. */
  private final class Series(val vals: IndexedSeq[Option[Double]], val xs: IndexedSeq[Double]) {
    def prev(i: Int): Option[Int] = (0 to i).reverse.find(vals(_).isDefined)
    def next(i: Int): Option[Int] = (i until vals.length).find(vals(_).isDefined)
    def v(j: Int): Double = vals(j).get
    /** np.interp between the two valid neighbours, at position pos(i) */
    def blend(i: Int, p: Int, n: Int, pos: Int => Double): Double =
      v(p) + (v(n) - v(p)) * (pos(i) - pos(p)) / (pos(n) - pos(p))
  }

  private def byKey: Seq[Series] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, g) =>
      val o = g.sortBy(_._2).toIndexedSeq
      new Series(o.map(_._4), o.map(_._3))
    }

  /** the rule applied to every row, key by key, in (key, order) order */
  private def reference(rule: (Series, Int) => Option[Double]): Seq[Option[Double]] =
    byKey.flatMap(s => s.vals.indices.map(rule(s, _)))

  private def column(out: DataFrame): Seq[Option[Double]] =
    out.orderBy(col("k"), col("t")).select(col("out")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq

  private def assertClose(got: Seq[Option[Double]], want: Seq[Option[Double]], what: String): Unit = {
    assert(got.length == want.length, s"$what: row count")
    got.zip(want).zipWithIndex.foreach {
      case ((None, None), _) => ()
      case ((Some(g), Some(w)), i) =>
        assert(math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w)), s"$what row $i: $g vs $w")
      case ((g, w), i) => fail(s"$what row $i: $g vs $w")
    }
  }

  /** a valid row keeps its value; a gap row takes `gap(series, i)` */
  private def fill(gap: (Series, Int) => Option[Double]) = (s: Series, i: Int) =>
    if (s.vals(i).isDefined) s.vals(i) else gap(s, i)

  private val rowPos = (i: Int) => i.toDouble

  test("the fixture has every gap shape") {
    val shapes = byKey.map { s =>
      val gaps = s.vals.indices.filter(s.vals(_).isEmpty)
      (gaps.exists(s.prev(_).isEmpty), gaps.exists(i => s.prev(i).isDefined && s.next(i).isDefined),
        gaps.exists(s.next(_).isEmpty), s.vals.length)
    }
    assert(shapes.count(_._1) >= 3, "leading NULL runs")
    assert(shapes.count(_._2) >= 3, "interior NULL runs")
    assert(shapes.count(_._3) >= 3, "trailing NULL runs")
    assert(shapes.count(_._4 == 1) >= 2, "one-row keys")
    assert(rows.groupBy(r => (r._1, r._2)).size == rows.length, "a total order within each key")
  }

  test("ffill and bfill match pad and backfill") {
    val out = frame.select(col("k"), col("t"),
      GapFill.ffill(col("v"), ord).as("ff"), GapFill.bfill(col("v"), ord).as("bf"))
    assertClose(column(out.withColumnRenamed("ff", "out")),
      reference((s, i) => s.prev(i).map(s.v)), "ffill")
    assertClose(column(out.withColumnRenamed("bf", "out")),
      reference((s, i) => s.next(i).map(s.v)), "bfill")
  }

  test("ffillLimit(2) pads at most two rows past a valid value") {
    val out = GapFill.ffillLimit(frame, col("v"), ord, 2, "out")
    assertClose(column(out), reference(fill((s, i) =>
      s.prev(i).filter(p => i - p <= 2).map(s.v))), "ffill limit=2")
  }

  /** `f` of the bracket over row positions and over the time column */
  private def bracketed(f: GapFill.Bracket => Column): (DataFrame, DataFrame) = {
    val byRow = GapFill.Bracket.rows(col("v"), ord)
    val byTime = GapFill.Bracket.time(col("v"), ord, "tsu", col("x"))
    (byRow.of(frame).withColumn("out", f(byRow)), byTime.of(frame).withColumn("out", f(byTime)))
  }

  /** linear/time: np.interp inside, pad after the last valid value,
    * leading gaps stay NULL (limit_direction='forward') */
  private def linear(pos: Series => Int => Double) = fill((s, i) =>
    (s.prev(i), s.next(i)) match {
      case (Some(p), Some(n)) => Some(s.blend(i, p, n, pos(s)))
      case (Some(p), None) => Some(s.v(p))
      case _ => None
    })

  test("linear and time interpolation match np.interp between the valid neighbours") {
    val (byRow, byTime) = bracketed(_.linear)
    assertClose(column(byRow), reference(linear(_ => rowPos)), "linear")
    assertClose(column(byTime), reference(linear(s => s.xs)), "time")
  }

  /** interpolate(method='nearest'): scipy's midpoint goes left; edges as linear */
  private def nearestPrev(pos: Series => Int => Double) = fill((s, i) =>
    (s.prev(i), s.next(i)) match {
      case (Some(p), Some(n)) =>
        val x = pos(s)
        Some(s.v(if (x(i) - x(p) <= x(n) - x(i)) p else n))
      case (Some(p), None) => Some(s.v(p))
      case _ => None
    })

  /** get_indexer(method='nearest'): left only when strictly closer; a
    * gap with one valid side takes that side */
  private def nearestNext(pos: Series => Int => Double) = fill((s, i) =>
    (s.prev(i), s.next(i)) match {
      case (Some(p), Some(n)) =>
        val x = pos(s)
        Some(s.v(if (x(i) - x(p) < x(n) - x(i)) p else n))
      case (p, n) => p.orElse(n).map(s.v)
    })

  test("nearest follows each pandas path's tie rule") {
    val (prevRow, prevTime) = bracketed(_.nearest(GapFill.TieToPrev))
    assertClose(column(prevRow), reference(nearestPrev(_ => rowPos)), "nearest, ties to prev, rows")
    assertClose(column(prevTime), reference(nearestPrev(s => s.xs)), "nearest, ties to prev, time")
    val (nextRow, nextTime) = bracketed(_.nearest(GapFill.TieToNext))
    assertClose(column(nextRow), reference(nearestNext(_ => rowPos)), "nearest, ties to next, rows")
    assertClose(column(nextTime), reference(nearestNext(s => s.xs)), "nearest, ties to next, time")
    // key 23 (values 1, _, _, _, 9 at evenly spaced rows): its midpoint
    // row 2 takes 1 under scipy's rule and 9 under get_indexer's
    val k23 = reference(nearestPrev(_ => rowPos)).takeRight(7)
    assert(k23(2).contains(1.0) && reference(nearestNext(_ => rowPos)).takeRight(7)(2).contains(9.0))
  }

  test("limit, limit_direction and limit_area as na_interp_limit emits them") {
    val rowsOnly = (f: GapFill.Bracket => Column) => column(bracketed(f)._1)
    // limit=2, limit_direction='forward'
    assertClose(rowsOnly(_.limitForward(2)), reference(fill((s, i) =>
      s.prev(i).filter(p => i - p <= 2).map(p =>
        s.next(i).fold(s.v(p))(n => s.blend(i, p, n, rowPos))))), "limit=2 forward")
    // limit=1, limit_direction='both': within one row of either valid side
    assertClose(rowsOnly(_.limitBoth(1)), reference(fill((s, i) =>
      (s.prev(i), s.next(i)) match {
        case (Some(p), Some(n)) if i - p <= 1 || n - i <= 1 => Some(s.blend(i, p, n, rowPos))
        case (Some(p), None) if i - p <= 1 => Some(s.v(p))
        case (None, Some(n)) if n - i <= 1 => Some(s.v(n))
        case _ => None
      })), "limit=1 both")
    // limit_area='inside': bracketed gaps only
    assertClose(rowsOnly(_.inside), reference(fill((s, i) =>
      for (p <- s.prev(i); n <- s.next(i)) yield s.blend(i, p, n, rowPos))), "inside")
    // limit_area='outside', limit_direction='both': the edge runs only
    assertClose(rowsOnly(_.outside), reference(fill((s, i) =>
      (s.prev(i), s.next(i)) match {
        case (None, n) => n.map(s.v)
        case (p, None) => p.map(s.v)
        case _ => None
      })), "outside")
  }
}
