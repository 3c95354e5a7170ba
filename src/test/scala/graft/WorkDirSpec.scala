package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Everything graft writes for itself lives under the session's
  * warehouse ([[Tables.workDir]]), and the bucketed-layout cache is the
  * session catalog, not a JVM-wide record.
  *
  * Two live sessions with different warehouse dirs cannot share one
  * JVM (the warehouse dir is a static conf of the shared context), so
  * session isolation is shown by its two halves: every write lands
  * under this session's warehouse, and the layout cache forgets a
  * table the moment this session's catalog does.
  */
class WorkDirSpec extends SparkSpec {

  private def qualified(p: String): String = {
    val path = new Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(path).toString.stripSuffix("/")
  }

  private lazy val warehouse = qualified(spark.conf.get("spark.sql.warehouse.dir"))

  private def assertUnderWarehouse(what: String, p: String): Unit =
    assert(qualified(p).startsWith(warehouse + "/graft_work/"),
      s"$what lies outside $warehouse/graft_work: $p")

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("the layout cache follows the catalog: a dropped layout is rebuilt") {
    val q = SparkEntry.queries("win_bkt_rolling_sum")
    val first = q(spark, sf())
    val before = sorted(first.collect())
    val tables = first.queryExecution.analyzed.collect {
      case r: LogicalRelation if r.catalogTable.isDefined => r.catalogTable.get
    }
    assert(tables.size == 1, s"expected one layout table, got $tables")
    val table = tables.head.identifier.table

    spark.sql(s"DROP TABLE $table")
    assert(!spark.catalog.tableExists(table))
    val after = sorted(q(spark, sf()).collect())
    assert(spark.catalog.tableExists(table),
      "the rebuild must register the layout table again")
    assert(before.nonEmpty && after == before)
    assertUnderWarehouse("layout table location",
      spark.sessionState.catalog.getTableMetadata(tables.head.identifier).location.toString)
  }

  test("source round-trips write under the warehouse") {
    val files = SparkEntry.queries("src_csv_roundtrip")(spark, sf()).inputFiles
    assert(files.nonEmpty)
    files.foreach(assertUnderWarehouse("src_csv_roundtrip output", _))
  }

  test("a stream's sink and its sibling checkpoint live under the warehouse") {
    val out = SparkEntry.queries("stream_tumbling_day")(spark, sf())
    assert(out.count() > 0)
    val files = out.inputFiles
    assert(files.nonEmpty, "the stream result must be read back from its parquet sink")
    files.foreach(assertUnderWarehouse("stream sink output", _))
    val root = files.head.substring(0, files.head.lastIndexOf("/out/"))
    val ckpt = new Path(s"$root/checkpoint")
    assertUnderWarehouse("stream checkpoint", ckpt.toString)
    val fs = ckpt.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(ckpt, "offsets")) && fs.exists(new Path(ckpt, "commits")),
      s"no checkpoint beside the sink at $ckpt")
  }
}
