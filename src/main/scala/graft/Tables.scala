package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * Every query takes `(spark, sfDir)` and loads what it needs through
  * here, so the parquet scan (with Catalyst column pruning + predicate
  * pushdown) is the single entry point for data. At cluster scale the
  * same call reads a partitioned table; nothing below assumes
  * single-file layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Row count of a parquet table from file-footer metadata only —
    * a driver-side listing + footer reads, NO cluster job and no data
    * pages touched. For sizing sketches (e.g. the Bloom capacity in
    * dedup_incremental) an upper bound is all that's needed, and at
    * 100 TB an extra full pass just to count rows is exactly the kind
    * of hidden cost this avoids. Handles single files and
    * (recursively) directory tables.
    */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val p = new Path(s"$dir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try total += rd.getRecordCount
        finally rd.close()
      }
    }
    total
  }

  /** Loads a table, normalizing timestamp columns to TimestampType.
    *
    * The driver's testdata has shipped two physical encodings across
    * rounds: TIMESTAMP(NANOS) (unreadable natively by Spark 4 — the
    * session factory [[EngineConf.localSession]] sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` and the long nanos
    * are converted here) and TIMESTAMP(MICROS, isAdjustedToUTC=false),
    * which Spark 4 infers as TIMESTAMP_NTZ by default. The factory's
    * sessions run with UTC and all oracle comparisons are against
    * DuckDB's naive reading of the same bytes, so NTZ→UTC
    * TimestampType is a pure relabeling (identical micros value) — it
    * keeps `unix_micros`/window-range arithmetic working unchanged.
    * The factory also sets `spark.sql.parquet.inferTimestampNTZ.enabled=
    * false` so direct `spark.read.parquet` calls outside this loader
    * see the same schema; the cast here is the belt to that suspender.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val df2 =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    df2.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df2)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }
}
