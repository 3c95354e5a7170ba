package graft

import org.apache.spark.sql.functions._
import graft.operators.GlobalOrder

/** The columnar zipOrdinal must assign exactly row_number()-1 ordinals
  * (contiguous, following sort order) WITHOUT a single-partition
  * window and WITHOUT leaving the DataFrame algebra. The dangerous
  * failure mode is the counts branch seeing a different partition
  * layout than the data branch (range-bound sampling is seeded per
  * execution), which would silently misalign the offsets — these
  * tests pin ordinal contiguity + order agreement on data big enough
  * to span every shuffle partition, twice (nested calls), plus ties.
  * Inputs above the 16,384-row one-bucket cut-off run the multi-bucket
  * path (bounds, `__go_pid` exchange, offsets join); a non-numeric lead
  * key runs the rdd-zip fallback.
  */
class GlobalOrderSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

  /** Partition counts of the `__go_pid` exchanges in `df`'s plan. */
  private def bucketExchanges(df: DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect {
      case h: HashPartitioning if h.expressions.exists {
        case a: AttributeReference => a.name == "__go_pid"
        case _ => false
      } => h.numPartitions
    }

  /** Exclusive running sum of the weights per distinct key (NULL sorts
    * first, as in Spark's ascending order). */
  private def bruteForce(rows: Seq[(Option[Double], Long)]): Map[Option[Double], Long] = {
    val sorted = rows.sortBy(r => (r._1.isDefined, r._1.getOrElse(0.0)))
    sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2)).toMap
  }

  /** 45,000 rows: lead key `k` with 9-way ties and a NULL every 97th
    * row, unique tiebreak `id`. */
  private def tiedWithNulls: DataFrame = {
    import spark.implicits._
    (0 until 45000).map(i =>
        (if (i % 97 == 0) None else Some(((i * 7919L) % 5000).toDouble), i.toLong))
      .toDF("k", "id")
  }

  test("zipOrdinal assigns contiguous ordinals in sort order") {
    import spark.implicits._
    val df = (1 to 10000).map(i => ((i * 2654435761L) % 99991, s"r$i"))
      .toDF("k", "tag")
    val z = GlobalOrder.zipOrdinal(df, Seq(col("k")), "ord")
    val byOrd = z.orderBy("ord").select($"k", $"ord").as[(Long, Long)].collect()
    assert(byOrd.length == 10000)
    assert(byOrd.map(_._2).sameElements(0L until 10000L))      // contiguous
    assert(byOrd.map(_._1).sameElements(byOrd.map(_._1).sorted)) // sort order
  }

  test("zipOrdinal gives ties a contiguous ordinal run") {
    import spark.implicits._
    // 200 distinct values x 50 dups: every value's ordinals must form
    // exactly the run [rank_of_first, rank_of_first + 50)
    val df = (0 until 10000).map(i => (i % 200, i)).toDF("k", "i")
    val z = GlobalOrder.zipOrdinal(df, Seq(col("k")), "ord")
    val runs = z.groupBy("k")
      .agg(min("ord").as("lo"), max("ord").as("hi"), count(lit(1)).as("n"))
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    runs.zipWithIndex.foreach { case ((k, lo, hi, n), idx) =>
      assert(n == 50 && lo == idx * 50L && hi == lo + 49, s"k=$k")
    }
  }

  test("nested zipOrdinal calls stay consistent (spearman shape)") {
    import spark.implicits._
    val df = (1 to 5000).map(i => ((i * 48271L) % 2311, (i * 16807L) % 1009))
      .toDF("x", "y")
    val z1 = GlobalOrder.zipOrdinal(df, Seq(col("x")), "ox")
    val z2 = GlobalOrder.zipOrdinal(z1, Seq(col("y")), "oy")
    val rows = z2.select($"x", $"y", $"ox", $"oy")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length == 5000)
    val byOx = rows.sortBy(_._3)
    assert(byOx.map(_._3).sameElements(0L until 5000L))
    assert(byOx.map(_._1).sameElements(byOx.map(_._1).sorted))
    val byOy = rows.sortBy(_._4)
    assert(byOy.map(_._4).sameElements(0L until 5000L))
    assert(byOy.map(_._2).sameElements(byOy.map(_._2).sorted))
  }

  test("multi-bucket zipOrdinal equals row_number() - 1, incl. ties and NULL keys") {
    import spark.implicits._
    val df = tiedWithNulls
    val z = GlobalOrder.zipOrdinal(df, Seq(col("k"), col("id")), "ord")
    assert(bucketExchanges(z).exists(_ > 1), "expected the multi-bucket path")
    val ref = df.withColumn("rn",
      row_number().over(Window.orderBy(col("k"), col("id"))) - 1L)
    val got = z.join(ref, Seq("id")).select($"id", $"ord", $"rn")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 45000)
    got.foreach { case (id, ord, rn) => assert(ord == rn, s"id=$id: $ord vs $rn") }
  }

  test("multi-bucket prefixSum equals a brute-force running sum, keyless and grouped") {
    import spark.implicits._
    // histograms: keys distinct within each group (one NULL key per
    // group), the same keys repeated across groups
    val hist = (0 until 60000).map { i =>
      val g = s"g${i % 3}"
      val k = if (i < 3) None else Some(((i / 3) * 7919L % 20000).toDouble)
      (g, k, (i % 5 + 1).toLong)
    }
    val grouped = hist.toDF("g", "k", "w")
    val keyless = hist.filter(_._1 == "g0").map(t => (t._2, t._3)).toDF("k", "w")
    val out = GlobalOrder.prefixSum(keyless, Nil, "k", "w", "below")
    assert(bucketExchanges(out).exists(_ > 1), "expected the multi-bucket path")
    val want = bruteForce(hist.filter(_._1 == "g0").map(t => (t._2, t._3)))
    val got = out.select($"k", $"below").as[(Option[Double], Long)].collect()
    assert(got.length == want.size && got.forall { case (k, b) => want(k) == b })

    val gOut = GlobalOrder.prefixSum(grouped, Seq("g"), "k", "w", "below")
    assert(bucketExchanges(gOut).exists(_ > 1), "expected the multi-bucket path")
    val gWant = hist.groupBy(_._1).map { case (g, rs) =>
      g -> bruteForce(rs.map(t => (t._2, t._3))) }
    val gGot = gOut.select($"g", $"k", $"below")
      .as[(String, Option[Double], Long)].collect()
    assert(gGot.length == hist.length)
    gGot.foreach { case (g, k, b) => assert(gWant(g)(k) == b, s"$g/$k: $b") }
  }

  test("prefixSum keeps a NULL group key, one-bucket and multi-bucket") {
    import spark.implicits._
    // three groups, one of them NULL; keys distinct within each group
    def hist(n: Int) = (0 until n).map { i =>
      val g = if (i % 3 == 0) None else Some(s"g${i % 3}")
      (g, Some(((i / 3) * 7919L % n).toDouble), (i % 5 + 1).toLong)
    }
    for ((n, multi) <- Seq((300, false), (30000, true))) {
      val rows = hist(n)
      val out = GlobalOrder.prefixSum(rows.toDF("g", "k", "w"), Seq("g"), "k", "w", "below")
      assert(bucketExchanges(out).exists(_ > 1) == multi, s"n=$n: bucket path")
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> bruteForce(rs.map(t => (t._2, t._3))) }
      val got = out.select($"g", $"k", $"below")
        .as[(Option[String], Option[Double], Long)].collect()
      val lost = n - got.length
      assert(lost == 0, s"n=$n: rows lost")
      assert(got.count(_._1.isEmpty) == n / 3)
      got.foreach { case (g, k, b) => assert(want(g)(k) == b, s"n=$n $g/$k: $b") }
    }
  }

  test("a string lead key takes the rdd-zip fallback and still equals row_number() - 1") {
    import spark.implicits._
    val df = (0 until 3000).map(i =>
        (if (i % 41 == 0) None else Some(s"s${(i * 31) % 700}"), i.toLong))
      .toDF("s", "id")
    val z = GlobalOrder.zipOrdinal(df, Seq(col("s"), col("id")), "ord")
    assert(bucketExchanges(z).isEmpty, "a string key cannot be bucketed")
    val ref = df.withColumn("rn",
      row_number().over(Window.orderBy(col("s"), col("id"))) - 1L)
    val got = z.join(ref, Seq("id")).select($"id", $"ord", $"rn")
      .as[(Long, Long, Long)].collect()
    assert(got.length == 3000)
    got.foreach { case (id, ord, rn) => assert(ord == rn, s"id=$id: $ord vs $rn") }
  }
}
