package graft

import org.apache.spark.sql.functions._
import graft.functions.BloomExprs

/** Bloom-filter join pruning: no false negatives ever (every build key
  * must probe true), bounded false positives, NULL-key SQL semantics,
  * and the pruned semi join must return exactly the plain semi join's
  * result at every plan level (codegen and interpreted). */
class BloomExprsSpec extends SparkSpec {

  test("no false negatives: every inserted key probes true") {
    import spark.implicits._
    val keys = Tables(spark, sf(), "orders")
      .filter($"o_totalprice" > 300000).select($"o_orderkey")
    val bytes = BloomExprs.buildBytes(keys, "o_orderkey", keys.count())
    val misses = keys
      .filter(!call_function("graft_bloom_contains", lit(bytes), $"o_orderkey"))
      .count()
    assert(misses == 0, s"$misses build keys probed false (false negative!)")
  }

  test("false-positive rate stays near the build fpp") {
    import spark.implicits._
    val keys = Tables(spark, sf(), "orders")
      .filter($"o_totalprice" > 300000).select($"o_orderkey")
    val bytes = BloomExprs.buildBytes(keys, "o_orderkey", keys.count(), fpp = 0.01)
    // probe keys disjoint from the build set: shifted far outside it
    val probes = Tables(spark, sf(), "orders")
      .select(($"o_orderkey" + 100000000L).as("k"))
    val fp = probes
      .filter(call_function("graft_bloom_contains", lit(bytes), $"k")).count()
    val n = probes.count()
    assert(fp.toDouble / n < 0.05, s"fp rate ${fp.toDouble / n} >= 5%")
  }

  test("NULL key probes NULL, matching IN-subquery semantics") {
    import spark.implicits._
    val bytes = BloomExprs.buildBytes(
      Seq(1L, 2L).toDF("k"), "k", 2L)
    val r = Seq(Some(1L), None).toDF("k")
      .select(call_function("graft_bloom_contains", lit(bytes), $"k").as("hit"))
      .collect()
    assert(r(0).getBoolean(0))
    assert(r(1).isNullAt(0))
  }

  test("interpreted eval agrees with codegen") {
    import spark.implicits._
    val keys = (1L to 1000L by 3).toDF("k")
    val bytes = BloomExprs.buildBytes(keys, "k", 334L)
    val expr = graft.functions.BloomMightContain(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = false), bytes)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    (1L to 1000L).foreach { k =>
      row.update(0, k)
      val interp = expr.eval(row).asInstanceOf[Boolean]
      if (k % 3 == 1) assert(interp, s"false negative at $k (interpreted)")
    }
  }

  test("footerRowCount matches the real count and runs zero Spark jobs") {
    val (meta, jobs) = jobsDuring()(Tables.footerRowCount(spark, sf(), "documents"))
    assert(jobs == 0, "footer row count must not launch a job")
    assert(meta == Tables(spark, sf(), "documents").count())
  }

  test("bloom-pruned semi join equals the plain semi join") {
    import spark.implicits._
    val d = sf()
    val bloom = SparkEntry.queries("join_bloom_semi")(spark, d)
      .orderBy("l_returnflag").collect().toSeq
    val keys = Tables(spark, d, "orders")
      .filter($"o_totalprice" > 400000).select($"o_orderkey")
    val li = Tables(spark, d, "lineitem")
    val plain = li.join(keys, li("l_orderkey") === keys("o_orderkey"), "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        OracleNum.dsum($"l_quantity").as("sum_qty"))
      .orderBy("l_returnflag").collect().toSeq
    assert(bloom == plain)
  }
}
