package graft

import graft.api.PFrame
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PFrame ↔ query-table conformance (VERDICT r9 next-#7): the fluent
  * API and the oracle-checked query table evolved in parallel; this
  * spec pins that they AGREE — each PFrame method is run with the
  * parameters of its query-table twin on the same fixtures and must
  * produce the same rows.
  *
  * Comparison: the twin columns are projected from both sides; rows
  * are multiset-compared with exact equality for non-floating types
  * and a 1e-6 + 1e-9·|x| tolerance for doubles (the query table uses
  * the OracleNum decimal-sum policy where PFrame documents plain
  * double arithmetic, and several queries round to 6 decimals).
  *
  * Methods NOT re-twinned here, and why:
  *  - queries already BUILT on PFrame are conformant by construction
  *    and oracle-checked directly (sel_multiindex_levels,
  *    set_concat_keys, set_update, agg_value_counts_series,
  *    rs_get_dummies_opts, win_ewm_* via Ewm, join_asof_* via
  *    AsofJoinNative — the same operators PFrame calls; three of the
  *    as-of queries are still twinned below);
  *  - scalar lookups (.at/.iat/.count) and guards (transposeSmall,
  *    dot, between, fillna, astype, pipe, setIndex family) are
  *    pinned by PFrameSpec unit tests;
  *  - rank conformance (all methods × na_options × both physical
  *    plans) lives in AdaptiveRankSpec.
  */
class PFrameConformanceSpec extends SparkSpec {

  private def tbl(name: String): DataFrame = Tables(spark, sf(), name)
  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf())

  /** events with derived nulls — NaQueries' withHoles fixture. */
  private def holes: DataFrame =
    tbl("events").withColumn("reading",
      when(col("event_type") =!= "error", col("value")))

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-6 + 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Multiset-compare `pf` against query `queryName` on `on` columns
    * (default: every column of the query result). */
  private def conforms(queryName: String, pf: => PFrame,
                       on: Seq[String] = Nil): Unit = {
    val q = run(queryName)
    val cols = if (on.nonEmpty) on else q.columns.toSeq
    val left = q.select(cols.map(col): _*).collect()
    val right = pf.toDF.select(cols.map(col): _*).collect()
    assert(left.length == right.length,
      s"$queryName: ${left.length} query rows vs ${right.length} PFrame rows")
    // sort key: doubles rounded to 5 decimals so near-equal rows sort
    // identically on both sides; cell compare then applies tolerance
    def key(r: org.apache.spark.sql.Row): String =
      (0 until r.length).map { i =>
        r.get(i) match {
          case d: java.lang.Double => f"${math.rint(d * 1e5) / 1e5}%.5f"
          case v => String.valueOf(v)
        }
      }.mkString("|")
    val ls = left.sortBy(key)
    val rs = right.sortBy(key)
    ls.zip(rs).zipWithIndex.foreach { case ((l, r), idx) =>
      (0 until l.length).foreach { i =>
        val ok = (l.get(i), r.get(i)) match {
          case (null, null) => true
          case (a: java.lang.Double, b: java.lang.Double) => close(a, b)
          case (a, b) => a == b
        }
        assert(ok, s"$queryName row $idx col ${cols(i)}: query=${l.get(i)} pframe=${r.get(i)}")
      }
    }
  }

  // ── §2.2 selection ────────────────────────────────────────────────

  test("filter + apply ~ sel_project_filter") {
    conforms("sel_project_filter",
      PFrame(tbl("orders"))
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000)
        .apply("o_orderkey", "o_custkey", "o_totalprice"))
  }

  test("query ~ sel_query_expr") {
    conforms("sel_query_expr",
      PFrame(tbl("lineitem"))
        .query("l_discount > 0.08 AND l_quantity >= 45 AND l_returnflag = 'R'")
        .apply("l_orderkey", "l_linenumber", "l_quantity", "l_discount"))
  }

  test("query on timestamps ~ sel_truncate") {
    conforms("sel_truncate",
      PFrame(tbl("orders"))
        .query("o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND " +
          "o_orderdate < TIMESTAMP '1997-07-01 00:00:00'")
        .apply("o_orderkey", "o_orderdate", "o_totalprice"))
  }

  test("assign + rename ~ sel_assign_rename") {
    conforms("sel_assign_rename",
      PFrame(tbl("lineitem")).filter(col("l_orderkey") < 1000)
        .assign(
          "net_price" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          "taxed_price" -> (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))))
        .rename("l_quantity" -> "qty")
        .apply("l_orderkey", "l_linenumber", "qty", "net_price", "taxed_price"))
  }

  test("clip ~ sel_clip") {
    conforms("sel_clip",
      PFrame(tbl("orders")).filter(col("o_orderkey") < 5000)
        .clip("o_totalprice", 50000.0, 300000.0)
        .rename("o_totalprice" -> "clipped_price")
        .apply("o_orderkey", "clipped_price"))
  }

  test("sortValues + head ~ sel_head / sel_tail") {
    conforms("sel_head",
      PFrame(tbl("orders")).sortValues(Seq("o_orderkey")).head(100)
        .apply("o_orderkey", "o_totalprice"))
    conforms("sel_tail",
      PFrame(tbl("orders")).sortValues(Seq("o_orderkey"), Seq(false)).head(100)
        .apply("o_orderkey", "o_totalprice"))
  }

  test("loc + concat ~ sel_loc_label") {
    val c = PFrame(tbl("customer")).setIndex("c_custkey")
    conforms("sel_loc_label",
      PFrame.concat(Seq(1L, 10L, 100L, 1000L).map(c.loc(_)))
        .apply("c_custkey", "c_name", "c_acctbal"))
  }

  test("sampleWithReplacement ~ sel_sample_replace") {
    conforms("sel_sample_replace",
      PFrame(tbl("orders")).apply("o_orderkey", "o_totalprice")
        .sampleWithReplacement("o_orderkey", "copy_id"))
  }

  // ── §2.10 missing data ────────────────────────────────────────────

  test("dropna ~ na_dropna") {
    conforms("na_dropna",
      PFrame(holes).dropna(Seq("reading"))
        .apply("event_id", "user_id", "reading"))
  }

  test("ffill / bfill ~ na_ffill / na_bfill") {
    conforms("na_ffill",
      PFrame(holes).ffill("reading", Seq("user_id"), "ts")
        .rename("reading" -> "ffilled")
        .apply("event_id", "user_id", "ffilled"))
    conforms("na_bfill",
      PFrame(holes).bfill("reading", Seq("user_id"), "ts")
        .rename("reading" -> "bfilled")
        .apply("event_id", "user_id", "bfilled"))
  }

  test("replaceVals ~ na_replace") {
    conforms("na_replace",
      PFrame(tbl("events"))
        .replaceVals("event_type", Map("error" -> "err", "purchase" -> "buy"))
        .replaceVals("value", Map(0.01 -> null))
        .rename("event_type" -> "etype", "value" -> "val_sentinel_nulled")
        .apply("event_id", "etype", "val_sentinel_nulled"))
  }

  // ── §2.3 joins ────────────────────────────────────────────────────

  test("merge + groupby.agg ~ join_inner") {
    conforms("join_inner",
      PFrame(tbl("lineitem"))
        .merge(PFrame(tbl("orders")).rename("o_orderkey" -> "l_orderkey"),
          on = Seq("l_orderkey"))
        .groupby("o_orderpriority")
        .agg("l_extendedprice" -> "count", "l_extendedprice" -> "sum")
        .rename("l_extendedprice_count" -> "n_lines",
          "l_extendedprice_sum" -> "sum_price"))
  }

  test("isinFrame ~ join_semi") {
    conforms("join_semi",
      PFrame(tbl("customer"))
        .isinFrame("c_custkey",
          PFrame(tbl("orders")).filter(col("o_totalprice") > 400000)
            .apply("o_custkey"), "o_custkey")
        .apply("c_custkey", "c_name", "c_mktsegment"))
  }

  test("merge how=anti ~ join_anti") {
    conforms("join_anti",
      PFrame(tbl("customer"))
        .merge(PFrame(tbl("orders")).filter(col("o_totalprice") > 450000)
            .apply("o_custkey").rename("o_custkey" -> "c_custkey"),
          on = Seq("c_custkey"), how = "anti")
        .apply("c_custkey", "c_name", "c_acctbal"))
  }

  test("mergeAsof ~ join_asof_backward") {
    val ev = tbl("events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    conforms("join_asof_backward",
      PFrame(clicks).mergeAsof(PFrame(purchases),
          by = Seq("user_id"), on = "ts", valueCols = Seq("value"))
        .rename("value" -> "asof_val"))
  }

  test("mergeAsof allowExactMatches=false ~ join_asof_strict") {
    val ev = tbl("events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val all = ev.select(col("user_id"), col("ts"), col("value"))
    conforms("join_asof_strict",
      PFrame(clicks).mergeAsof(PFrame(all),
          by = Seq("user_id"), on = "ts", valueCols = Seq("value"),
          allowExactMatches = false)
        .rename("value" -> "asof_val"))
  }

  test("keyless mergeAsof nearest ~ join_asof_global_nearest") {
    val ev = tbl("events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("ts")).agg(max(col("value")).as("purch_val"))
    conforms("join_asof_global_nearest",
      PFrame(clicks).mergeAsof(PFrame(purchases),
        by = Nil, on = "ts", valueCols = Seq("purch_val"), direction = "nearest"))
  }

  // ── §2.4 / §2.5 grouped + windowed ────────────────────────────────

  test("rolling.sum/.mean ~ win_rolling_sum") {
    conforms("win_rolling_sum",
      PFrame(tbl("events"))
        .rolling(5, "ts", Seq("user_id"), minPeriods = 5)
        .sum("value", "roll_sum")
        .rolling(5, "ts", Seq("user_id"), minPeriods = 5)
        .mean("value", "roll_mean"),
      on = Seq("user_id", "event_id", "roll_sum", "roll_mean"))
  }

  test("ewm ~ win_ewm_mean") {
    conforms("win_ewm_mean",
      PFrame(tbl("events")).ewm("user_id", "ts", "value", alpha = 0.1),
      on = Seq("user_id", "ewm_adj", "ewm_noadj", "ewm_var"))
  }

  test("groupby.cumsum ~ agg_cumsum") {
    conforms("agg_cumsum",
      PFrame(tbl("lineitem")).filter(col("l_orderkey") < 1000)
        .groupby("l_returnflag")
        .cumsum("l_quantity",
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
          "cum_qty"),
      on = Seq("l_returnflag", "l_orderkey", "l_linenumber", "cum_qty"))
  }

  test("shift ~ agg_shift_diff") {
    conforms("agg_shift_diff",
      PFrame(tbl("events"))
        .shift("value", 1, "ts", Seq("user_id"), as = "prev_value"),
      on = Seq("user_id", "event_id", "value", "prev_value"))
  }

  test("groupby.transform ~ agg_transform") {
    conforms("agg_transform",
      PFrame(tbl("lineitem")).filter(col("l_orderkey") < 1000)
        .groupby("l_returnflag")
        .transform("mean", "l_quantity", "group_mean"),
      on = Seq("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
        "group_mean"))
  }

  test("groupby.filterGroups ~ agg_group_filter") {
    conforms("agg_group_filter",
      PFrame(tbl("orders"))
        .groupby("o_custkey")
        .filterGroups("count", "o_orderkey", _ >= 15),
      on = Seq("o_custkey", "o_orderkey", "o_totalprice"))
  }

  test("describe ~ agg_describe (shared stats)") {
    val q = run("agg_describe").collect()(0)
    val d = PFrame(tbl("orders").select(col("o_totalprice"))).describe().collect()(0)
    val pairs = Seq("n" -> "o_totalprice_count", "mean_v" -> "o_totalprice_mean",
      "std_v" -> "o_totalprice_std", "min_v" -> "o_totalprice_min",
      "max_v" -> "o_totalprice_max")
    pairs.foreach { case (qc, pc) =>
      val a = q.getAs[Double](qc); val b = d.getAs[Double](pc)
      assert(close(a, b), s"describe $qc: query=$a pframe=$b")
    }
  }

  test("quantile ~ agg_quantile_global") {
    val q = run("agg_quantile_global").collect()(0)
    val pf = PFrame(tbl("lineitem"))
      .quantile(Seq("l_extendedprice"), Seq(0.25, 0.5, 0.75, 0.9))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75", 0.9 -> "q90").foreach {
      case (p, c) =>
        assert(close(q.getAs[Double](c), pf(p)),
          s"quantile $p: query=${q.getAs[Double](c)} pframe=${pf(p)}")
    }
  }

  // ── §2.6 / §2.7 set ops + reshape ─────────────────────────────────

  test("dropDuplicates ~ set_dropdup_first") {
    conforms("set_dropdup_first",
      PFrame(tbl("orders"))
        .dropDuplicates(Seq("o_custkey", "o_orderstatus"),
          Seq("o_orderdate", "o_orderkey"))
        .apply("o_custkey", "o_orderstatus", "o_orderkey", "o_orderdate"))
  }

  test("nlargest ~ set_nlargest; nlargestAll ~ set_nlargest_keepall") {
    conforms("set_nlargest",
      PFrame(tbl("orders")).nlargest(50, "o_totalprice", "o_orderkey")
        .apply("o_orderkey", "o_totalprice"))
    conforms("set_nlargest_keepall",
      PFrame(tbl("lineitem")).filter(col("l_orderkey") < 3000)
        .apply("l_orderkey", "l_linenumber", "l_quantity")
        .nlargestAll(100, "l_quantity"))
  }

  test("sortValues multi-key ~ set_sort_multi") {
    conforms("set_sort_multi",
      PFrame(tbl("orders"))
        .sortValues(Seq("o_orderstatus", "o_totalprice", "o_orderkey"),
          Seq(true, false, true))
        .head(200)
        .apply("o_orderstatus", "o_orderkey", "o_totalprice"))
  }

  test("melt ~ rs_melt") {
    conforms("rs_melt",
      PFrame(tbl("lineitem")).filter(col("l_orderkey") < 200)
        .melt(Seq("l_orderkey", "l_linenumber"),
          Seq("l_quantity", "l_discount", "l_tax"), "measure", "val"))
  }

  test("explodeCol ~ rs_explode_words") {
    conforms("rs_explode_words",
      PFrame(tbl("documents")).filter(col("doc_id") < 50)
        .assign("__w" -> split(col("text"), " "))
        .explodeCol("__w", "word")
        .apply("doc_id", "word"))
  }

  test("getDummies ~ rs_get_dummies") {
    conforms("rs_get_dummies",
      PFrame(tbl("orders").select(col("o_orderkey"), col("o_orderstatus")))
        .getDummies("o_orderstatus", "status")
        .apply("o_orderkey", "status_F", "status_O", "status_P"))
  }
  test("PFrame IO wrappers ~ src_*_roundtrip sources") {
    import spark.implicits._
    val pf = PFrame(Seq((1L, Option("a"), Option(2.5)),
      (2L, None, None)).toDF("k", "s", "v"))
    val base = "/tmp/graft_test/pframe_io"
    pf.toExcel(s"$base/x"); pf.toStata(s"$base/d")
    pf.toSpss(s"$base/p"); pf.toXport(s"$base/t"); pf.toHtml(s"$base/h")
    def norm(f: PFrame) = f.toDF.select($"k".cast("long"), $"s", $"v".cast("double"))
      .collect().toSet
    val want = norm(pf)
    assert(norm(PFrame.readExcel(spark, s"$base/x")) == want)
    assert(norm(PFrame.readStata(spark, s"$base/d")) == want)
    assert(norm(PFrame.readSpss(spark, s"$base/p")) == want)
    assert(norm(PFrame.readSas(spark, s"$base/t")) == want)
    assert(norm(PFrame.readHtml(spark, s"$base/h")) == want)
  }
}
