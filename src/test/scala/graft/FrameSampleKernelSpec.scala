package graft

import org.apache.spark.sql.functions._

/** The round-15 FrameSampleScan kernel must be value-identical to the
  * HOF chain it replaced in mm_frame_sample: sampled_fp ==
  * aggregate(transform(sequence(1, length(text), 16),
  * i -> ascii(substr(text, i, 1)).cast(long)), 0L,
  * (acc, x) -> (acc * 31 + x) % P) — including character (code-point)
  * indexing, so a multi-byte document exercises the same positions in
  * both forms.
  */
class FrameSampleKernelSpec extends SparkSpec {

  private val P = graft.functions.PortableHash.P

  /** the pre-round-15 formulation, verbatim */
  private def hofRows(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
      aggregate(
        transform(sequence(lit(1), length(col("text")), lit(16)),
          i => ascii(col("text").substr(i, lit(1))).cast("long")),
        lit(0L),
        (acc, x) => (acc * 31 + x) % P).as("sampled_fp"),
      (floor((length(col("text")) - 1) / 16) + 1).cast("long").as("n_frames"))

  test("kernel sampled fingerprints == HOF fingerprints on corpus and edges") {
    import spark.implicits._
    // single char, 15/16/17 chars (stride boundary: position 17 is
    // sampled iff length >= 17), spaces, a 2/3-byte doc past one
    // stride, a doc of 4-byte (supplementary-plane) characters mixed
    // with ASCII, and null. Empty text is pinned separately below: the HOF
    // form THROWS on it (sequence(1, 0, 16) has illegal boundaries).
    val edge = Seq(
      "a", "x" * 15, "y" * 16, "z" * 17, ("ab " * 20).trim,
      "é" * 40 + "漢" * 10, "a\uD834\uDD1E" * 30 + "\uD83D\uDE00" * 9, null)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val corpus = Tables(spark, sf(), "documents").select($"doc_id", $"text")
    for (d <- Seq(edge, corpus)) {
      val hof = hofRows(d)
      // the query builder's exact kernel shape, on this in-memory frame
      val ker = d.select($"doc_id",
        expr("graft_sampled_fp(text)").as("sampled_fp"),
        (floor((length($"text") - 1) / 16) + 1).cast("long").as("n_frames"))
      assert(hof.exceptAll(ker).count() == 0 && ker.exceptAll(hof).count() == 0,
        "HOF and kernel mm_frame_sample rows differ")
    }
  }

  test("kernel on empty text folds over nothing -> 0 (DuckDB range(1,1,16) semantics)") {
    // The replaced HOF form threw (sequence(1, 0, 16): illegal
    // boundaries) where the oracle's range(1, LENGTH+1, 16) yields an
    // empty list and fp 0; the kernel matches the oracle. No declared
    // fixture carries empty text, so declared results are unchanged.
    import spark.implicits._
    val row = Seq((0L, "")).toDF("doc_id", "text")
      .select(expr("graft_sampled_fp(text)").as("fp")).head()
    assert(row.getLong(0) == 0L)
  }

  test("mm_frame_sample plans the kernel inside codegen, no HOF folds") {
    val q = SparkEntry.queries("mm_frame_sample")(spark, sf())
    val p = q.queryExecution.optimizedPlan.toString
    assert(p.toLowerCase.contains("sampledfp"),
      "expected the SampledFp kernel in the plan")
    assert(!p.contains("lambdafunction"),
      "no interpreted HOF folds allowed in the frame-sample path")
  }
}
