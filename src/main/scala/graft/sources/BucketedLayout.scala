package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Write-once bucketed+sorted table layouts for the window family.
  *
  * The sf100 differential showed the per-key window sorts as the last
  * superlinear spot on one disk: 100M-row partitioned sorts spilling
  * through 32 concurrent tasks (win_rolling_sum 188 s, win_rank_average
  * 155 s, win_ewm_mean 141 s — SCALE.md round 8). The plans were
  * already correct (partitioned windows, one Exchange + Sort); the
  * remaining lever is LAYOUT: pay the shuffle+sort once at write time
  * — `bucketBy(n, key).sortBy(key, order...)` — and every subsequent
  * window over the same (key, order) reads the on-disk run with NO
  * Exchange and NO Sort. This is the windowed twin of
  * `src_bucketed_join`'s co-located join (reference has no storage
  * layout concept — Spark-native capability, SURVEY §4).
  *
  * One file per bucket is load-bearing: the scan reports its sort
  * order (and thus lets the planner drop the Sort) only when each
  * bucket is a single file, so the frame is repartitioned to the
  * bucket count on the bucket column — the same hash the bucket id
  * uses — before the write.
  *
  * A layout is written once per (table, dataset dir) per session: the
  * session catalog is the cache, so a table that exists is read back,
  * and one that was never written (or was dropped) is written again,
  * under [[graft.Tables.workDir]]. The explicit `path` makes it an
  * external table: a managed one would fail with
  * `LOCATION_ALREADY_EXISTS` when a new JVM rewrites it. Building is
  * synchronized because builders may run concurrently in one session,
  * and the first to touch a layout must finish writing it before the
  * others read.
  */
object BucketedLayout {

  private def tableName(d: String, name: String): String =
    s"${name}_${Integer.toHexString(d.hashCode)}"

  private def layout(s: SparkSession, d: String, name: String,
                     buckets: Int, bucketCol: String, sortCols: Seq[String])
                    (build: => DataFrame): DataFrame = synchronized {
    // the scan-property confs this layout depends on are ENGINE
    // settings applied at session construction (EngineConf.scala) —
    // not mutated here: they must be active when the downstream query
    // plans, which is after this builder returns
    graft.EngineConf.requireLayoutSettings(s)
    val tbl = tableName(d, name)
    if (!s.catalog.tableExists(tbl))
      build.repartition(buckets, col(bucketCol))
        .write.mode("overwrite")
        .option("path", Tables.workDir(s, d, s"layout_$name"))
        .bucketBy(buckets, bucketCol)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .saveAsTable(tbl)
    s.table(tbl)
  }

  /** Bucket count for the data-sized layouts: the layout's analogue
    * of `spark.sql.shuffle.partitions`, and it must scale with the
    * DATA for the same reason. The round-10 sf100 bench caught the
    * fixed-32 version: a 600M-row table in 32 buckets is 19M rows per
    * scan task, and the per-bucket hash distinct spilled —
    * agg_bkt_nunique cost MORE than the plain two-shuffle path it
    * exists to beat. Sizing buckets to shuffle parallelism (256 at
    * sf100) keeps each bucket's group state in memory, and the
    * no-Exchange property is bucket-count-independent. */
  private def dataBuckets(s: SparkSession): Int =
    math.max(32, s.sessionState.conf.numShufflePartitions)

  /** events bucketed by user_id, sorted (user_id, ts): serves every
    * per-user ordered-by-time window (rolling, expanding, ewm). */
  def eventsByUser(s: SparkSession, d: String): DataFrame = {
    val n = dataBuckets(s)
    layout(s, d, s"events_by_user_$n", n, "user_id", Seq("user_id", "ts")) {
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    }
  }

  /** events bucketed by event_type, sorted (event_type, value): serves
    * the per-type value-ranking windows. event_type cardinality is
    * small, so fewer buckets — the win is dropping the 100M-row sort,
    * not fan-out. */
  def eventsByType(s: SparkSession, d: String): DataFrame =
    layout(s, d, "events_by_type", 8, "event_type",
      Seq("event_type", "value")) {
      Tables(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"))
    }

  /** lineitem bucketed by l_partkey: serves the exact-distinct
    * aggregates. `HashPartitioning(l_partkey)` satisfies the clustered
    * distribution of ANY grouping set containing l_partkey — a triple
    * with a given partkey cannot exist in two buckets — so
    * `groupBy(flag, suppkey, partkey)` and `groupBy(flag, partkey)`
    * dedup entirely bucket-locally, with NO data-sized Exchange: the
    * only shuffles left are the O(groups × partitions) count partials.
    * Bucket count sized by [[dataBuckets]] (the no-Exchange property
    * is bucket-count-independent; the per-bucket memory footprint is
    * not — see the scaladoc there). */
  def lineitemByPart(s: SparkSession, d: String): DataFrame = {
    val n = dataBuckets(s)
    layout(s, d, s"lineitem_by_part_$n", n, "l_partkey", Seq("l_partkey")) {
      Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
          col("l_extendedprice"), col("l_shipdate"))
    }
  }

  /** [[lineitemByPart]] IF already materialized — never triggers the
    * write. This is the "layout availability" input to the adaptive
    * distinct switch (operators/AdaptiveDistinct): a query should ride
    * the bucket-local plan only when the layout's write cost is
    * already sunk, not pay a full shuffle+write to answer one
    * aggregate. */
  def existingLineitemByPart(s: SparkSession, d: String): Option[DataFrame] =
    synchronized {
      val tbl = tableName(d, s"lineitem_by_part_${dataBuckets(s)}")
      if (s.catalog.tableExists(tbl)) Some(s.table(tbl)) else None
    }

  /** lineitem and orders CO-BUCKETED on the order key, both sorted by
    * it: the fact-fact join layout. Identical bucket counts make the
    * two scans' HashPartitioning compatible, so the sort-merge join
    * plans NO Exchange on either side — and the on-disk sort order
    * removes both Sorts. The sf100 headline's join_inner (39.7 s,
    * round 10) pays a 600M + 150M row shuffle and two sorts every
    * run; the layout pays them once at write. On a cluster this is
    * the standard co-located fact-fact layout (bucketed warehouse
    * tables); the reference has no storage-layout concept (SURVEY §4,
    * Spark-native capability). */
  def lineitemByOrder(s: SparkSession, d: String): DataFrame = {
    val n = dataBuckets(s)
    layout(s, d, s"lineitem_by_order_$n", n, "l_orderkey", Seq("l_orderkey")) {
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
    }
  }

  /** orders bucketed+sorted by o_orderkey — [[lineitemByOrder]]'s
    * join partner (same bucket count by construction). */
  def ordersByKey(s: SparkSession, d: String): DataFrame = {
    val n = dataBuckets(s)
    layout(s, d, s"orders_by_key_$n", n, "o_orderkey", Seq("o_orderkey")) {
      Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
    }
  }
}
