package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress data generator: replicate the driver's sf0.1 tables by
  * an integer factor R with key-space shifting, producing an sf1-shaped
  * dataset for differential + throughput testing one decade up.
  *
  * Replication model (replica i in 0..R-1 adds `i * OFFSET` to every
  * key column): foreign-key relationships are preserved replica-locally
  * (orders->customer, lineitem->orders/part/supplier all shift by the
  * same offset), so per-key group sizes, join fan-outs and per-user
  * event streams keep their sf0.1 shape while global cardinality grows
  * by R. That makes "R x rows -> ~R x time" the honest linear-scaling
  * expectation for every partitionable operator. `region`/`nation` stay
  * fixed, as in TPC-H's scaling rules. Timestamps are NOT shifted:
  * time-bucketed operators keep a constant bin count with R x rows per
  * bin — the denser-stream regime a bigger cluster actually sees.
  *
  * `documents`/`embeddings` replicate with identical payloads: the
  * corpus becomes 10 exact copies, which is a deliberately adversarial
  * regime for the dedup family (every LSH bucket carries R duplicates,
  * every near-dup cluster grows by R) and a neutral one for ANN.
  *
  * Replicated tables are written as a DIRECTORY of parquet part files
  * (named `<table>.parquet`, so `Tables`' path convention still
  * resolves): explode-heavy operators (shingling, bigrams) amplify a
  * physically-small documents table into 10^8 rows, and a single-file
  * single-row-group fixture would pin that whole computation to one
  * task regardless of split size — exactly the multi-file layout a
  * real table has at scale. tools/check.py globs directory tables.
  */
object ScaleUp {
  // larger than any sf0.1 key (max o_orderkey ~ 600k) times any sane R
  val OFFSET = 10_000_000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val r = if (args.length > 2) args(2).toInt else 10
    val spark = EngineConf.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")

    val keyCols: Map[String, Seq[String]] = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"),
      // dimension constants — copied, not replicated
      "region" -> Nil,
      "nation" -> Nil
    )

    keyCols.foreach { case (table, keys) =>
      // events.ts is parquet TIMESTAMP(NANOS): read as long (the
      // session factory's nanosAsLong) and rewrite as micros TimestampType, same
      // conversion Tables applies at query time — the sf1 copy is then
      // natively readable by Spark and DuckDB alike
      val base = Tables(spark, src, table)
      // file count grows with the replication factor (24 at r=10, 96
      // at r=100) so per-file size stays steady as the decades climb
      val parts = if (keys.isEmpty) 1 else math.max(24, math.min(96, (r * 2.4).toInt))
      // replicate via a broadcast range cross-join, not an R-branch
      // union: the plan stays O(1) in R (an R=1000 union would build
      // a thousand-branch plan and choke the analyzer). The SMALL base
      // is repartitioned BEFORE the fan-out — the source fixtures are
      // single-file tables, and fanning a one-partition input out
      // x1000 would produce (and shuffle) the whole replicated table
      // in one task; this way only the tiny base shuffles and each of
      // the `parts` tasks fans out its slice locally, writing its own
      // output file with no post-fan-out exchange at all
      val scaled: DataFrame =
        if (keys.isEmpty) base.repartition(parts)
        else {
          val reps = spark.range(r).select(col("id").as("__rep__"))
          keys.foldLeft(base.repartition(parts).crossJoin(broadcast(reps))) { (df, k) =>
            df.withColumn(k, col(k) + col("__rep__") * lit(OFFSET))
          }.drop("__rep__")
        }
      scaled.write.mode("overwrite")
        .option("parquet.block.size", (8L * 1024 * 1024).toString)
        .parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table: ${if (keys.isEmpty) "copied" else s"x$r"} ($parts files)")
    }
    spark.stop()
  }
}
