package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** MarkerScan must be value-equivalent to the HOF chain it replaced in
  * the round-14 optimization: n_words == size(split(text, " ")) and
  * each score == aggregate(split(text, " "), 0L, (a, w) -> a + (w IN
  * markers)) over the four marker lists.
  */
class MarkerScanSpec extends SparkSpec {
  private val Markers: Seq[Seq[String]] = Seq(
    Seq("the", "a", "of"), Seq("el", "la", "de"),
    Seq("der", "die", "und"), Seq("le", "les", "et"))

  /** reference: the exact semantics of split(text, " ") with limit -1
    * (trailing empty segments kept) + per-list membership count */
  private def ref(s: String): (Int, Seq[Long]) = {
    val segs = s.split(" ", -1).toSeq
    (segs.size, Markers.map(ws => segs.count(ws.contains).toLong))
  }

  private def kernel(s: String): (Int, Seq[Long]) = {
    val r = graft.functions.MarkerScan.scores(UTF8String.fromString(s))
    (r.getInt(0), (1 to 4).map(r.getLong(_)))
  }

  test("kernel matches split+count semantics on edge strings") {
    val cases = Seq(
      "", " ", "  ", "a", "a ", " a", "the", "the the the", "of a the",
      "el la de", "der die und", "le les et", "thee", "aa", "o f",
      "the  a", "a  ", "mixed the el der le text", "汉字 the 测试",
      "émigré the café", "x" * 100, ("the " * 50).trim, "de de de de",
      "a b c d e f g h i j k l m n o p q r s t")
    for (c <- cases) {
      assert(kernel(c) == ref(c), s"mismatch on '$c'")
    }
  }

  test("kernel matches the HOF chain on every corpus document") {
    def hofCount(ws: Seq[String]): Column =
      aggregate(split(col("text"), " "), lit(0L),
        (acc, w) => acc + when(w.isin(ws.map(lit): _*), 1L).otherwise(0L))
    val ms = call_function("graft_marker_scores", col("text"))
    val bad = Tables(spark, sf(), "documents")
      .select(
        (size(split(col("text"), " ")) === ms.getField("n_words")).as("w_ok"),
        (hofCount(Markers(0)) === ms.getField("score_en")).as("en_ok"),
        (hofCount(Markers(1)) === ms.getField("score_es")).as("es_ok"),
        (hofCount(Markers(2)) === ms.getField("score_de")).as("de_ok"),
        (hofCount(Markers(3)) === ms.getField("score_fr")).as("fr_ok"))
      .filter(!col("w_ok") || !col("en_ok") || !col("es_ok") ||
        !col("de_ok") || !col("fr_ok"))
      .count()
    assert(bad == 0, s"$bad corpus docs disagree with the HOF chain")
  }

  test("pipe_curation plans no interpreted HOF aggregate in the gate") {
    val p = SparkEntry.queries("pipe_curation")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(!p.contains("lambdafunction"),
      "the quality gate must use the MarkerScores kernel, not split+aggregate HOFs")
  }
}
