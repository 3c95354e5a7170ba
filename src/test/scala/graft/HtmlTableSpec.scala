package graft

import graft.sources.HtmlTable

/** sources/HtmlTable — the read_html/to_html surface over XHTML chunk
  * documents. Reference semantics: pandas io/html.py:1023 (read_html),
  * io/formats/html.py (to_html).
  */
class HtmlTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = s"/tmp/graft_test/html_$name"

  private def htmlFiles(path: String): Seq[String] =
    new java.io.File(path).listFiles().map(_.getName).filter(_.endsWith(".html")).toSeq

  test("round-trips values, nulls, markup and a 4-byte character") {
    val df = Seq(
      (1L, Option("plain"), Option(3.5)),
      (2L, Option("<b>a & b</b> &amp;"), None),
      (3L, None, Option(-0.25)),
      (4L, Option("emoji 😀 šđčß 漢字"), Option(1e9))
    ).toDF("k", "s", "v")
    HtmlTable.write(df, tmp("rt"))
    val raw = HtmlTable.read(spark, tmp("rt"))
    assert(raw.schema.fieldNames.toSeq == Seq("k", "s", "v"))
    val back = raw.select($"k".cast("long"), $"s", $"v".cast("double"))
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("a multi-partition frame writes several documents and reads them all back") {
    val df = (1 to 300).map(i => (i.toLong, s"r$i")).toDF("k", "s").repartition(3)
    HtmlTable.write(df, tmp("multi"))
    assert(htmlFiles(tmp("multi")).size == 3, htmlFiles(tmp("multi")).mkString(", "))
    val back = HtmlTable.read(spark, tmp("multi")).select($"k".cast("long"), $"s")
    assert(back.count() == 300)
    assert(back.collect().toSet == df.collect().toSet)
  }

  test("empty frame round-trips as a header-only document") {
    val df = Seq((1L, "x")).toDF("k", "s").filter($"k" < 0)
    HtmlTable.write(df, tmp("empty"))
    val back = HtmlTable.read(spark, tmp("empty"))
    assert(back.schema.fieldNames.toSeq == Seq("k", "s"))
    assert(back.count() == 0)
    assert(htmlFiles(tmp("empty")) == Seq("part-empty-0.html"))
  }
}
