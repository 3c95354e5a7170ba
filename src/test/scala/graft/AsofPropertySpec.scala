package graft

import graft.plans.AsofJoinNative
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based check (SURVEY §5 test plan item d): the distributed
  * as-of join agrees with a brute-force in-memory reference on random
  * inputs — keys, timestamps, and match gaps are generator-driven,
  * seeded for reproducibility.
  */
class AsofPropertySpec extends SparkSpec {

  private val rowsGen: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(0, 25)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      t <- Gen.choose(0L, 40L)
      v <- Gen.choose(1, 999)
    } yield (k, t, v.toDouble))
  } yield rows.distinctBy(r => (r._1, r._2)) // unique (key, ts)

  private def sample(seed: Long): List[(Long, Long, Double)] =
    rowsGen.apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)

  private val sec = 1000000L

  /** The native walk on (lRows, rRows) against AsofReference: keyed on
    * `k`, or keyless through the range-bucketed global form. */
  private def check(lRows: List[(Long, Long, Double)], rRows: List[(Long, Long, Double)],
      keyed: Boolean, direction: String, toleranceUs: Option[Long],
      allowExactMatches: Boolean, ctx: String): Unit = {
    import spark.implicits._
    def frame(rows: List[(Long, Long, Double)], v: String): DataFrame =
      rows.zipWithIndex.map { case ((k, t, x), i) => (i.toLong, k, t, x) }
        .toDF("id", "k", "tsm", v)
        .withColumn("t", timestamp_micros($"tsm" * sec)).drop("tsm")
    val left = frame(lRows, "lv")
    val right = frame(rRows, "v").drop("id")
    val out =
      if (keyed) AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"),
        direction, toleranceUs, allowExactMatches)
      else AsofJoinNative.global(left.drop("k"), right.drop("k"), "t", "t", Seq("v"),
        direction, toleranceUs, allowExactMatches)
    val got = out.select($"id", $"v").as[(Long, Option[Double])].collect().toMap
    def key(k: Long): Any = if (keyed) k else ()
    val want = AsofReference(
      lRows.zipWithIndex.map { case ((k, t, _), i) => (i.toLong, key(k), t * sec) },
      rRows.map { case (k, t, v) => (key(k), t * sec, v) },
      direction, toleranceUs, allowExactMatches)
    assert(got == want, s"$ctx: $lRows vs $rRows")
  }

  test("backward as-of matches brute force on random data") {
    for (i <- 1 to 10)
      check(sample(1000 + i), sample(2000 + i), keyed = true, "backward",
        None, allowExactMatches = true, s"iteration $i")
  }

  test("every direction, exactness and tolerance matches brute force, keyed and keyless") {
    for {
      keyed <- Seq(true, false)
      direction <- Seq("backward", "forward", "nearest")
      exact <- Seq(true, false)
      tol <- Seq(None, Some(3 * sec))
      i <- 1 to 2
    } {
      val seed = 3000 + 100 * i
      // keyless: one series, so right timestamps must be unique alone
      val rRows = if (keyed) sample(seed + 1) else sample(seed + 1).distinctBy(_._2)
      check(sample(seed), rRows, keyed, direction, tol, exact,
        s"keyed=$keyed direction=$direction allowExactMatches=$exact tolerance=$tol seed=$seed")
    }
  }
}
