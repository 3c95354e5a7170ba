package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * Every query takes `(spark, sfDir)` and loads what it needs through
  * here, so the parquet scan (with Catalyst column pruning + predicate
  * pushdown) is the single entry point for data. At cluster scale the
  * same call reads a partitioned table; nothing below assumes
  * single-file layout.
  *
  * Building a table costs no Spark job: the schema comes from one
  * footer read on the driver ([[parquetSchema]]) and is handed to
  * `spark.read.schema(...)`, so a query builder pays planning time
  * only. Only the file listing and that footer are touched.
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
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(spark, s"$dir/$name.parquet").filterNot(isSummary).map { st =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try rd.getRecordCount
      finally rd.close()
    }.sum
  }

  /** The reader schema Spark infers for the parquet table at `path`,
    * from ONE footer read on the driver — no Spark job. Spark's own
    * inference reads the same single footer but schedules a one-task
    * job for it (~60 ms per read on a 4-core host); on an object store
    * this is one footer GET from the driver. The footer is the one
    * `ParquetUtils.inferSchema` picks: `_common_metadata`, else
    * `_metadata`, else the first data file by path; the conversion is
    * Spark's own ([[GraftParquetBridge.readSchema]]). Like every graft
    * table, the files are taken to share one schema: the session's
    * `spark.sql.parquet.mergeSchema` is not consulted.
    */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val files = parquetFiles(spark, path)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(!isSummary(_)))
      .flatMap(f => GraftParquetBridge.readSchema(spark, Seq(f)))
      .getOrElse(throw new IllegalArgumentException(
        s"no readable parquet file under $path"))
  }

  /** The one place graft writes data of its own for the fixtures under
    * `dir`: `<spark.sql.warehouse.dir>/graft_work/<hex(dir.hashCode)>/<name>`,
    * qualified through the session's Hadoop file system. Source
    * round-trips, bucketed layouts and stream sinks and checkpoints all
    * live here, so a session writes only inside its own warehouse (on
    * a cluster, shared storage every executor reaches) and two
    * sessions with different warehouses never share scratch. Everything
    * under `graft_work` is rebuilt on demand and safe to delete. */
  def workDir(spark: SparkSession, dir: String, name: String): String = {
    val p = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_work/${Integer.toHexString(dir.hashCode)}"), name)
    p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p).toString
  }

  /** Every file a parquet read of `path` scans (the file itself, or the
    * leaves under the directory), sorted by path, listed on the driver
    * with Spark's rule: names starting with `_` or `.` are skipped,
    * except the `_metadata`/`_common_metadata` summaries. A missing
    * path raises `FileNotFoundException` naming it. */
  private[graft] def parquetFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => GraftParquetBridge.isHiddenName(c.getPath.getName))
        .flatMap(leaves)
    leaves(fs.getFileStatus(p)).sortBy(_.getPath.toString)
  }

  private def isSummary(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    n == ParquetFileWriter.PARQUET_METADATA_FILE ||
      n == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
  }

  /** Loads a table, normalizing timestamp columns to TimestampType.
    * The reader schema is [[parquetSchema]]'s (no Spark job).
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
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(parquetSchema(spark, path)).parquet(path)
    val df2 =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    df2.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df2)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }
}
