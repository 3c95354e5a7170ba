package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Spark data-source registration for the interchange formats, so the
  * standard source API works end to end:
  *
  * {{{
  *   spark.read.format("xlsx").load(path)          // pd.read_excel
  *   df.write.format("stata").mode("overwrite").save(path)
  *   spark.sql("CREATE TABLE t USING spss OPTIONS (path '...')")
  * }}}
  *
  * Each provider passes the `read`/`write` of one format object in this
  * package ([[Xlsx]], [[StataDta]], [[SpssSav]], [[SasXport]],
  * [[HtmlTable]], [[ArrowStream]]), all on the shared [[ChunkFiles]] shape: the
  * schema comes from the driver reading the first chunk file's
  * header/dictionary by name (no Spark job), while scan and write stay
  * distributed (one file per task / one capped file per partition
  * chunk).
  *
  * Save modes: Overwrite replaces the directory (the writers' native
  * semantics); ErrorIfExists (the default) and Ignore check the
  * target first. Append is refused loudly — chunk file names are
  * deterministic per partition, so a second batch would overwrite
  * the first's files rather than extend them; these are interchange
  * formats, not accumulating tables.
  */
abstract class InterchangeSource private[sources] (name: String,
    read: (SparkSession, String) => DataFrame, write: (DataFrame, String) => Unit)
    extends RelationProvider with CreatableRelationProvider with DataSourceRegister
    with Serializable {

  override def shortName(): String = name

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      s"$shortName source requires a path"))

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val df = read(ctx.sparkSession, pathOf(parameters))
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = df.schema
      override def buildScan(): RDD[Row] = df.rdd
    }
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(ctx.sparkSession.sparkContext.hadoopConfiguration)
    mode match {
      case SaveMode.Append => throw new UnsupportedOperationException(
        s"$shortName: Append is not supported (deterministic chunk names " +
          "would overwrite the previous batch) — use mode('overwrite'), or " +
          "write each batch to its own directory")
      case SaveMode.ErrorIfExists if fs.exists(p) =>
        throw new IllegalStateException(s"$shortName: $path already exists " +
          "(default ErrorIfExists mode)")
      case SaveMode.Ignore if fs.exists(p) => // leave as-is
      case _ => write(data, path)
    }
    createRelation(ctx, parameters)
  }
}

/** `format("xlsx")` — Excel workbooks (pandas read_excel/to_excel). */
class XlsxSourceProvider extends InterchangeSource("xlsx", Xlsx.read, Xlsx.write(_, _))

/** `format("stata")` — Stata dta-118 (pandas read_stata/to_stata). */
class StataSourceProvider extends InterchangeSource("stata", StataDta.read, StataDta.write(_, _))

/** `format("spss")` — SPSS system files (pandas read_spss). */
class SpssSourceProvider extends InterchangeSource("spss", SpssSav.read, SpssSav.write(_, _))

/** `format("xport")` — SAS Transport (pandas read_sas format="xport"). */
class XportSourceProvider extends InterchangeSource("xport", SasXport.read, SasXport.write(_, _))

/** `format("xhtml")` — XHTML tables (pandas read_html/to_html). */
class HtmlSourceProvider extends InterchangeSource("xhtml", HtmlTable.read, HtmlTable.write(_, _))

/** `format("arrows")` — Arrow IPC stream files (pandas
  * read_feather/to_feather's IPC format, stream flavor). */
class ArrowSourceProvider extends InterchangeSource("arrows", ArrowStream.read, ArrowStream.write(_, _))
