package graft

/** DataSourceRegister adapters: the interchange formats through the
  * standard spark.read.format / df.write.format / SQL USING surface.
  */
class InterchangeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = s"/tmp/graft_test/dsreg_$name"

  private val formats = Seq("xlsx", "stata", "spss", "xport", "xhtml", "arrows")

  test("spark.read.format / df.write.format round-trips every short name") {
    val df = Seq((1L, Option("a"), Option(2.5)), (2L, None, None))
      .toDF("k", "s", "v")
    for (fmt <- formats) {
      val path = tmp(fmt)
      df.write.format(fmt).mode("overwrite").save(path)
      val back = spark.read.format(fmt).load(path)
        .select($"k".cast("long"), $"s", $"v".cast("double"))
      assert(back.collect().toSet == df.collect().toSet, fmt)
    }
  }

  test("SQL CREATE TABLE ... USING xlsx reads the written directory") {
    val df = Seq((10L, "q"), (20L, "r")).toDF("k", "s")
    df.write.format("xlsx").mode("overwrite").save(tmp("sql"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW xlsx_t " +
      s"USING xlsx OPTIONS (path '${tmp("sql")}')")
    val got = spark.sql("SELECT CAST(k AS BIGINT) AS k, s FROM xlsx_t ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((10L, "q"), (20L, "r")))
  }

  test("save modes: default errors on existing, Ignore skips, Append refused") {
    val df = Seq((1, "a")).toDF("k", "s")
    val path = tmp("modes")
    df.write.format("stata").mode("overwrite").save(path)
    intercept[Exception] { df.write.format("stata").save(path) } // ErrorIfExists
    // Ignore leaves the existing data untouched
    Seq((9, "z")).toDF("k", "s").write.format("stata").mode("ignore").save(path)
    assert(spark.read.format("stata").load(path)
      .select($"s").as[String].collect().toSeq == Seq("a"))
    val e = intercept[Exception] {
      df.write.format("stata").mode("append").save(path)
    }
    assert(e.getMessage.contains("Append") || e.getCause != null)
  }

  test("building a read starts no Spark job") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val jobs = formats.map { fmt =>
      val path = tmp(s"build_$fmt")
      df.write.format(fmt).mode("overwrite").save(path)
      val (schema, n) = jobsDuring()(spark.read.format(fmt).load(path).schema)
      assert(schema.fieldNames.toSeq == Seq("k", "s"), fmt)
      fmt -> n
    }.filter(_._2 != 0)
    assert(jobs.isEmpty, s"Spark jobs started to build the read: $jobs")
  }

  test("a directory with no chunk file raises FileNotFoundException naming the path") {
    val wrong = formats.flatMap { fmt =>
      val path = tmp(s"nochunk_$fmt")
      val dir = new java.io.File(path)
      dir.mkdirs()
      dir.listFiles().foreach(_.delete())
      new java.io.File(dir, "_SUCCESS").createNewFile()
      scala.util.Try(spark.read.format(fmt).load(path)).failed.toOption match {
        case Some(e: java.io.FileNotFoundException) if e.getMessage.contains(path) => None
        case other => Some(s"$fmt: $other")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n", "\n", "\n"))
  }

  test("a failed write leaves no chunk file for a later read to take") {
    import org.apache.spark.sql.functions.{lit, raise_error, when}
    def chunks(path: String) = Option(new java.io.File(path).listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.startsWith("_"))
    // the second partition fails at id 7, after the first may have
    // finished its chunk
    val bad = spark.range(0, 10, 1, 2)
      .select(when($"id" === 7, raise_error(lit("boom"))).otherwise($"id").as("k"))
    val left = formats.flatMap { fmt =>
      val path = tmp(s"fail_$fmt")
      intercept[Exception](bad.write.format(fmt).mode("overwrite").save(path))
      val read = scala.util.Try(spark.read.format(fmt).load(path))
      if (chunks(path).isEmpty && read.isFailure) None
      else Some(s"$fmt: ${chunks(path)} ${read.map(_.count())}")
    }
    // Stata's codec throws mid-file on a long past 2^53: no truncated file
    val path = tmp("fail_midfile")
    intercept[Exception] {
      graft.sources.StataDta.write(Seq(((1L << 53) + 1, "x")).toDF("k", "s"), path)
    }
    assert(left.isEmpty && chunks(path).isEmpty,
      (left :+ s"midfile: ${chunks(path)}").mkString("\n", "\n", "\n"))
  }
}
