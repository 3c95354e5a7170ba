package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The round-14 SimHash24 kernel (over graft_shingle_hash64 arrays)
  * must be bit-identical to the HOF chain it replaced: 24 per-bit
  * aggregate() folds over transform(shingles, wordHash), including the
  * null-text (-> 0) and empty-shingle-set (-> all 24 bits set) edges.
  */
class SimHashKernelSpec extends SparkSpec {

  /** the pre-round-14 formulation, verbatim */
  private def words: Column = split(col("text"), " ")
  private def shingles: Column = {
    val l = words
    array_distinct(
      when(size(l) >= 3,
        transform(sequence(lit(1), size(l) - 2),
          i => concat_ws(" ", element_at(l, i), element_at(l, i + 1), element_at(l, i + 2))))
        .otherwise(array().cast("array<string>")))
  }
  private def hofBits: Column = {
    val hs = transform(shingles, g => graft.functions.PortableHash.wordHash(g))
    (0 until 24).map { j =>
      val p2 = 1L << j
      when(aggregate(hs, lit(0L),
        (a, h) => a + ((h / lit(p2)).cast("long") % 2) * 2 - 1) >= 0, lit(p2))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  test("kernel simhash == HOF simhash on the corpus and edge strings") {
    import spark.implicits._
    val edge = Seq("", "a", "a b", "a b c", "a b c d", "the the the the",
      "one two three four five six seven", "x  y  z w", null)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val corpus = Tables(spark, sf(), "documents").select($"doc_id", $"text")
    for (d <- Seq(edge, corpus)) {
      val bad = d.select(
          hofBits.as("hof"),
          expr("graft_simhash24(graft_shingle_hash64(text))").as("ker"),
          $"text")
        .filter(!($"hof" <=> $"ker"))
        .count()
      assert(bad == 0, s"$bad rows disagree between HOF and kernel simhash")
    }
  }

  test("dedup_simhash query plans the kernel, not the HOF folds") {
    val p = SparkEntry.queries("dedup_simhash")(spark, sf())
      .queryExecution.optimizedPlan.toString
    assert(p.toLowerCase.contains("simhash24"),
      "expected the SimHash24 kernel in the plan")
    assert(!p.contains("lambdafunction"),
      "no interpreted HOF folds allowed in the simhash signature path")
  }
}
