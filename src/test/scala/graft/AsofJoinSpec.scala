package graft

import graft.plans.AsofJoinNative
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** merge_asof semantics (reference core/reshape/merge.py:644):
  * backward match, exact-timestamp matches allowed, tolerance nulls
  * out stale matches, unmatched left rows survive with NULL.
  */
class AsofJoinSpec extends SparkSpec {

  private def ts(s: Long) = s * 1000000L

  test("backward as-of with by-keys, exact matches, tolerance") {
    import spark.implicits._
    val left = Seq(
      (1L, ts(100), "a"), (1L, ts(200), "b"), (1L, ts(50), "c"),
      (2L, ts(100), "d"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq(
      (1L, ts(100), 1.0), (1L, ts(150), 2.0), (2L, ts(90), 3.0))
      .toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val out = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"))
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap

    assert(out("a").contains(1.0)) // exact-timestamp match allowed
    assert(out("b").contains(2.0)) // latest at/before 200 is 150
    assert(out("c").isEmpty)       // nothing at/before 50
    assert(out("d").contains(3.0)) // by-key separation

    val tol = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"),
      toleranceUs = Some(ts(20)))
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap

    assert(tol("a").contains(1.0)) // age 0 <= 20s
    assert(tol("b").isEmpty)       // age 50s > 20s -> nulled
    assert(tol("d").contains(3.0)) // age 10s <= 20s
  }

  test("forward and nearest directions") {
    import spark.implicits._
    val left = Seq((1L, ts(100), "a"), (1L, ts(120), "b"), (1L, ts(300), "c"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(100), 1.0), (1L, ts(130), 2.0))
      .toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val fwd = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "forward")
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    assert(fwd("a").contains(1.0)) // exact forward match
    assert(fwd("b").contains(2.0)) // next at 130
    assert(fwd("c").isEmpty)       // nothing after 300

    val near = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"),
      direction = "nearest")
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    assert(near("a").contains(1.0)) // dist 0
    assert(near("b").contains(2.0)) // 10s fwd beats 20s back
    assert(near("c").contains(2.0)) // only backward exists

    // tie: left at 115 is 15s from both 100 and 130 -> backward wins
    val tie = Seq((1L, ts(115), "t")).toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val tieOut = AsofJoinNative.join(tie, right, Seq("k"), "t", "t", Seq("v"),
      direction = "nearest")
      .select($"v").as[Option[Double]].collect()
    assert(tieOut.head.contains(1.0))
  }

  test("NULL right values propagate from the matched row (no fallthrough)") {
    import spark.implicits._
    val left = Seq((1L, ts(200), "a"), (1L, ts(300), "b"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    // matched row at 150 has v=NULL, w=20: pandas returns THAT row's
    // NaN for v — not the older row's 1.0 — and both value columns
    // must come from the same matched row
    val right = Seq(
      (1L, ts(100), Some(1.0), Some(10.0)),
      (1L, ts(150), None: Option[Double], Some(20.0)),
      (1L, ts(250), Some(3.0), None: Option[Double]))
      .toDF("k", "tsm", "v", "w")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val out = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v", "w"))
      .select($"tag", $"v", $"w")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("a") == (None, Some(20.0)))   // matched row 150 as-is
    assert(out("b") == (Some(3.0), None))    // matched row 250 as-is

    val fwd = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v", "w"),
      direction = "forward")
      .select($"tag", $"v", $"w")
      .as[(String, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(fwd("a") == (Some(3.0), None))    // next row 250 as-is
  }

  test("native operator rejects null merge keys like pandas") {
    import spark.implicits._
    val left = Seq((Some(1L), ts(100), "a"), (None: Option[Long], ts(200), "b"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(50), 1.0)).toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val ex = intercept[Exception] {
      AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v")).collect()
    }
    assert(ex.getMessage != null)
  }

  /** Clicks, purchases and all events at sf0.001 — (user_id, ts) is
    * unique in events, so every brute-force match is well-defined. */
  private def events = {
    import spark.implicits._
    val ev = Tables(spark, sf(), "events")
    (ev.filter($"event_type" === "click").select($"user_id", $"event_id", $"ts"),
      ev.filter($"event_type" === "purchase").select($"user_id", $"ts", $"value"),
      ev.select($"user_id", $"ts", $"value"))
  }

  private def asMap(df: DataFrame): Map[Long, Option[Double]] = {
    import spark.implicits._
    df.select($"event_id", $"value").as[(Long, Option[Double])].collect().toMap
  }

  /** AsofReference over the collected (clicks, right) pair. */
  private def brute(clicks: DataFrame, right: DataFrame, direction: String = "backward",
      toleranceUs: Option[Long] = None,
      allowExactMatches: Boolean = true): Map[Long, Option[Double]] = {
    import spark.implicits._
    val l = clicks.select($"event_id", $"user_id", unix_micros($"ts"))
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (id, k, t) => (id, k: Any, t) }
    val r = right.select($"user_id", unix_micros($"ts"), $"value")
      .as[(Long, Long, Option[Double])].collect().toSeq
      .map { case (k, t, v) => (k: Any, t, v) }
    AsofReference(l, r, direction, toleranceUs, allowExactMatches)
      .map { case (id, v) => id -> v.flatten }
  }

  test("native operator matches the union+window rewrite") {
    // the reference is brute force (AsofReference)
    val (clicks, purchases, _) = events
    val native = asMap(AsofJoinNative.join(clicks, purchases,
      Seq("user_id"), "ts", "ts", Seq("value")))
    assert(native.size == clicks.count())
    assert(native == brute(clicks, purchases))
  }

  test("native forward/nearest/tolerance/strict match the rewrite") {
    val (clicks, purchases, all) = events
    val hour = Some(3600000000L)
    def native(right: DataFrame, direction: String, tol: Option[Long],
        exact: Boolean): Map[Long, Option[Double]] =
      asMap(AsofJoinNative.join(clicks, right, Seq("user_id"), "ts", "ts",
        Seq("value"), direction, tol, exact))
    // (right side, direction, tolerance, allowExactMatches); strict
    // runs against ALL events: the exact-ts self-candidate must be
    // skipped for the current row yet stay available as the backward
    // match of later rows — the consumed-candidate subtlety
    for ((right, dir, tol, exact) <- Seq(
        (purchases, "forward", None, true),
        (purchases, "nearest", None, true),
        (purchases, "backward", hour, true),
        (purchases, "nearest", hour, true),
        (all, "backward", None, false),
        (all, "forward", None, false))) {
      assert(native(right, dir, tol, exact) == brute(clicks, right, dir, tol, exact),
        s"direction=$dir tolerance=$tol allowExactMatches=$exact")
    }
  }

  test("join rejects mismatched key types and a keyless call") {
    import spark.implicits._
    val left = Seq((1, ts(100), "a")).toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(50), 1.0)).toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    // int left key vs long right key: each side would hash by its own
    // type, silently dropping matches
    val by = intercept[IllegalArgumentException] {
      AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"))
    }
    assert(by.getMessage.contains("'by'") && by.getMessage.contains("int") &&
      by.getMessage.contains("bigint"), by.getMessage)
    // timestamp left 'on' vs long right 'on'
    val on = intercept[IllegalArgumentException] {
      AsofJoinNative.join(left.withColumn("k", $"k".cast("long")),
        right.withColumn("t", unix_micros($"t")), Seq("k"), "t", "t", Seq("v"))
    }
    assert(on.getMessage.contains("'on'") && on.getMessage.contains("timestamp") &&
      on.getMessage.contains("bigint"), on.getMessage)
    val keyless = intercept[IllegalArgumentException] {
      AsofJoinNative.join(left, right, Nil, "t", "t", Seq("v"))
    }
    assert(keyless.getMessage.contains("AsofJoinNative.global"))
  }

  test("native operator handles empty right side and exact matches") {
    import spark.implicits._
    val left = Seq((1L, ts(100), "a"), (2L, ts(50), "b"))
      .toDF("k", "tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = Seq((1L, ts(100), 7.0))
      .toDF("k", "tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val out = AsofJoinNative.join(left, right, Seq("k"), "t", "t", Seq("v"))
      .select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    assert(out("a").contains(7.0)) // exact ts match allowed
    assert(out("b").isEmpty)       // key with no right rows
  }

  /** Keyless as-of through `AsofJoinNative.global` checked against
    * two references: the keyed walk on a constant key (one partition,
    * no bucket handoff) and brute force. The fixtures span several
    * range buckets, so matches cross bucket boundaries. */
  private def checkGlobal(left: DataFrame, right: DataFrame, direction: String,
      toleranceUs: Option[Long] = None,
      allowExactMatches: Boolean = true): Map[String, Option[Double]] = {
    import spark.implicits._
    def asMap(df: DataFrame) =
      df.select($"tag", $"v").as[(String, Option[Double])].collect().toMap
    val global = asMap(AsofJoinNative.global(left, right, "t", "t", Seq("v"),
      direction, toleranceUs, allowExactMatches))
    val keyed = asMap(AsofJoinNative.join(
      left.withColumn("k", lit(1)), right.withColumn("k", lit(1)),
      Seq("k"), "t", "t", Seq("v"), direction, toleranceUs, allowExactMatches))
    val brute = AsofReference(
      left.select($"tag", unix_micros($"t")).as[(String, Long)].collect().toSeq
        .map { case (tag, t) => (tag, (): Any, t) },
      right.select(unix_micros($"t"), $"v").as[(Long, Double)].collect().toSeq
        .map { case (t, v) => ((): Any, t, v) },
      direction, toleranceUs, allowExactMatches)
    val ctx = s"direction=$direction tolerance=$toleranceUs allowExactMatches=$allowExactMatches"
    assert(global.size == left.count(), ctx)
    assert(global == keyed, ctx)
    assert(global == brute, ctx)
    global
  }

  test("globalBackward matches the keyed rewrite on a constant key") {
    import spark.implicits._
    val left = (1L to 500L).map(i => (i * 10, s"L$i"))
      .toDF("tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = (1L to 100L).map(i => (i * 47 + 3, i.toDouble))
      .toDF("tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val global = checkGlobal(left, right, "backward")
    assert(global("L1").isEmpty) // ts=10 before first right row at 50
    checkGlobal(left, right, "backward", toleranceUs = Some(5L))
    checkGlobal(left, right, "backward", allowExactMatches = false)
  }

  test("globalForward matches the keyed forward on a constant key") {
    import spark.implicits._
    val left = (1L to 400L).map(i => (i * 11, s"L$i"))
      .toDF("tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = (1L to 80L).map(i => (i * 53 + 1, i.toDouble))
      .toDF("tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    checkGlobal(left, right, "forward", toleranceUs = Some(30L))
    checkGlobal(left, right, "forward")
    checkGlobal(left, right, "forward", allowExactMatches = false)
  }

  test("globalNearest matches the keyed nearest on a constant key") {
    import spark.implicits._
    // primes keep left/right timestamps interleaved and distinct; one
    // engineered exact-ts collision (160) exercises tie handling
    val baseLeft = (1L to 400L).map(i => (i * 11, s"L$i"))
    val left = (baseLeft :+ ((160L, "Lx")))        // exact-ts collision
      .toDF("tsm", "tag")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")
    val right = ((1L to 80L).map(i => (i * 53 + 1, i.toDouble)) :+ ((160L, 999.0)))
      .toDF("tsm", "v")
      .withColumn("t", timestamp_micros($"tsm")).drop("tsm")

    val global = checkGlobal(left, right, "nearest")
    assert(global("Lx").contains(999.0)) // exact match, distance 0
    // strict mode: the exact-ts candidate must be skipped BOTH ways
    val strict = checkGlobal(left, right, "nearest", allowExactMatches = false)
    assert(!strict("Lx").contains(999.0))
    checkGlobal(left, right, "nearest", toleranceUs = Some(7L))
  }
}
