package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The extensions class must give a FRESH session (no manual register
  * calls anywhere) the graft functions and the native as-of strategy —
  * this is the `spark.sql.extensions=graft.GraftExtensions` cluster
  * path. Builds its own session (sharing the JVM's SparkContext) by
  * clearing the active/default session around getOrCreate. That
  * context already carries the `spark.sql.extensions` conf, so the
  * session gets graft twice and must install it once. */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtendedSession[A](f: SparkSession => A): A = {
    // force context creation first so the new session shares it
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base, "extensions test needs a fresh session")
      f(s)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("every graft_* function resolves in a fresh session") {
    val names = Seq(
      "graft_dot", "graft_l2sq", "graft_lsh_bucket", "graft_rand_project",
      "graft_bloom_contains",
      "graft_poly_hash", "graft_shingle_hash64", "graft_minhash_bands",
      "graft_simhash24",
      "graft_nfc", "graft_token_count", "graft_canon", "graft_marker_scores",
      "graft_audio_energies", "graft_sampled_fp")
    withExtendedSession { s =>
      val missing = names.filterNot(s.catalog.functionExists)
      assert(missing.isEmpty, s"not installed by GraftExtensions: $missing")
      // and they evaluate, not just resolve
      val r = s.sql("SELECT graft_simhash24(graft_shingle_hash64('a b c d')) AS sh, " +
        "graft_marker_scores('the cat') AS ms, " +
        "size(graft_audio_energies(repeat('x', 48))) AS ae, " +
        "graft_sampled_fp('abc') AS fp").collect()(0)
      assert(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(3))
      assert(r.getInt(2) > 0)
    }
  }

  test("graft_* functions resolve with no manual registration") {
    withExtendedSession { s =>
      import s.implicits._
      val r = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
        .select(call_function("graft_dot", $"a", $"b").as("d"),
          call_function("graft_poly_hash", lit("abc")).as("h"),
          call_function("graft_canon", lit(" A!b  C ")).as("c"),
          size(call_function("graft_rand_project", $"a", lit(4))).as("rp"))
        .collect()(0)
      assert(r.getDouble(0) == 11.0)
      assert(r.getLong(1) == (((('a'.toInt * 31) + 'b') * 31 + 'c') % 1000000007L))
      assert(r.getString(2) == "ab c")
      assert(r.getInt(3) == 4)
    }
  }

  test("native as-of strategy is installed session-wide") {
    withExtendedSession { s =>
      import s.implicits._
      val left = Seq((1L, 10L), (1L, 20L)).toDF("k", "ts")
      val right = Seq((1L, 5L, 1.5), (1L, 15L, 2.5)).toDF("k", "rts", "v")
      // the strategy comes from the extensions alone: the session has
      // it, exactly once, before any as-of call
      val installed = s.sessionState.planner.strategies
        .count(_.getClass.getName.contains("AsofStrategy"))
      assert(installed == 1, s"AsofStrategy installed $installed times")
      val df = graft.plans.AsofJoinNative.join(left, right,
        by = Seq("k"), leftTs = "ts", rightTs = "rts", valueCols = Seq("v"))
      val got = df.orderBy("ts").collect().map(_.getDouble(2)).toSeq
      assert(got == Seq(1.5, 2.5))
    }
  }
}
