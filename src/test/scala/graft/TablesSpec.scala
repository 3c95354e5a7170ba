package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables` reads a table's schema from one footer on the driver and
  * hands it to `spark.read.schema(...)`. It must give the schema
  * Spark's own inference gives, on the fixture corpus and on
  * Spark-written directories (part files, `_SUCCESS`, `.crc` side
  * files, `key=value` partitions), and it must not start a Spark job.
  */
class TablesSpec extends SparkSpec {

  /** The reference: Spark's inference (`spark.read.parquet`) followed
    * by the same timestamp normalisation `Tables` applies. */
  private def inferred(dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    val df2 =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    df2.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df2)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }

  /** An empty scratch directory under the specs' `/tmp/graft_test`. */
  private def freshDir(name: String): String = {
    val d = new File(s"/tmp/graft_test/tables_$name")
    FileUtils.deleteDirectory(d)
    d.mkdirs()
    d.getPath
  }

  test("every fixture table has Spark's inferred schema at sf0.001 and sf0.01") {
    for (d <- Seq(sf(), sf("0.01")); t <- Tables.all)
      assert(Tables(spark, d, t).schema == inferred(d, t).schema, s"$d/$t")
  }

  test("a Spark-written multi-file directory and a key=value partitioned one read as Spark reads them") {
    import spark.implicits._
    val d = freshDir("written")
    val rows = (0 until 40).map(i => (i.toLong, BigDecimal(i) / 7, Seq(i, i + 1),
      (s"s$i", i * 0.5), java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:00"),
      java.time.LocalDateTime.of(2024, 2, i % 28 + 1, 8, 30), s"p${i % 3}"))
    val df = rows.toDF("id", "dec", "arr", "st", "ts", "ntz", "part")
      .withColumn("dec", $"dec".cast("decimal(18,6)"))
    df.repartition(4).write.parquet(s"$d/multi.parquet")
    df.repartition(2).write.partitionBy("part").parquet(s"$d/parted.parquet")
    val multiFiles = new File(s"$d/multi.parquet").list().toSeq
    assert(multiFiles.contains("_SUCCESS") && multiFiles.count(_.startsWith("part-")) > 1 &&
      multiFiles.exists(_.startsWith(".")), multiFiles.mkString(", "))
    for (t <- Seq("multi", "parted")) {
      val (got, want) = (Tables(spark, d, t), inferred(d, t))
      assert(got.schema == want.schema, t)
      assert(got.orderBy("id").collect().toSeq == want.orderBy("id").collect().toSeq, t)
    }
    assert(Tables(spark, d, "parted").schema.fieldNames.last == "part")
    assert(Tables.footerRowCount(spark, d, "multi") == 40)
    assert(Tables.footerRowCount(spark, d, "parted") == 40)
  }

  test("building a table and reading its schema starts no Spark job") {
    val (schema, jobs) = jobsDuring()(Tables(spark, sf(), "lineitem").schema)
    assert(schema.nonEmpty)
    assert(jobs == 0, s"$jobs Spark job(s) to build a table")
  }

  test("a missing path or an empty directory raises an error naming the path") {
    val d = freshDir("errors")
    new File(s"$d/empty.parquet").mkdirs()
    new File(s"$d/empty.parquet/_SUCCESS").createNewFile()
    for (t <- Seq("missing", "empty")) {
      val e = intercept[Exception](Tables(spark, d, t))
      assert(!e.isInstanceOf[NoSuchElementException], e.toString)
      assert(String.valueOf(e.getMessage).contains(s"$d/$t.parquet"), e.toString)
    }
  }
}
