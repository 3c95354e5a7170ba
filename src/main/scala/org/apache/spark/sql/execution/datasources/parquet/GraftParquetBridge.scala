package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's `private[parquet]` footer-to-schema conversion
  * and `private[spark]` listing rule (the same door as
  * `org.apache.spark.sql.GraftSqlBridge`). Spark's own schema
  * inference (`ParquetUtils.inferSchema`) reads one footer too, but
  * through `SchemaMergeUtils.mergeSchemasInParallel`, which schedules
  * a Spark job to do it; these calls do the same read on the driver.
  */
object GraftParquetBridge {

  /** Spark's file-listing rule: a name starting with `_` (without a
    * `=`) or `.`, or ending in `._COPYING_`, is skipped, except the
    * parquet summaries `_metadata` and `_common_metadata`. */
  def isHiddenName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)

  /** The reader schema Spark infers from `files`' footers, read on the
    * driver and converted by Spark: the Spark row-metadata schema when
    * the footer carries one, else the parquet schema under the
    * session's nanosAsLong / inferTimestampNTZ / int96 /
    * binary-as-string settings. None when no footer was readable
    * (only possible with `spark.sql.files.ignoreCorruptFiles`). */
  def readSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), files,
      spark.sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, spark)
  }
}
