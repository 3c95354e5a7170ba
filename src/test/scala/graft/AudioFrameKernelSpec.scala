package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The round-15 AudioFrameScan kernel must be value-identical to the
  * HOF chain it replaced in mm_audio_frames: per exploded frame k,
  * energy = aggregate(transform(sequence(k·16+1, k·16+32),
  * i -> ascii(substr(text, i, 1))), 0L, +) — including character
  * (code-point) indexing, so a multi-byte document exercises the same
  * positions in both forms.
  */
class AudioFrameKernelSpec extends SparkSpec {

  /** the pre-round-15 per-frame formulation, verbatim */
  private def hofRows(docs: org.apache.spark.sql.DataFrame) = {
    val frameLen = 32; val hop = 16
    val len = length(col("text"))
    val nf = (floor((len - frameLen) / hop) + 1).cast("long")
    val offset = col("k") * hop + 1
    val energy = aggregate(
      transform(sequence(offset, offset + (frameLen - 1)),
        i => ascii(col("text").substr(i.cast("int"), lit(1))).cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs.filter(len >= frameLen)
      .withColumn("k", explode(sequence(lit(0L), nf - 1)))
      .select(col("doc_id"), col("k").as("frame_id"),
        offset.as("sample_start"), energy.as("frame_energy"))
  }

  test("kernel frame energies == HOF frame energies on corpus and edges") {
    import spark.implicits._
    // 31 chars (below the frame gate), exactly 32, 33 (one frame, not
    // two), 48 (frame boundary), 49 (second frame appears), spaces,
    // a 2/3-byte doc long enough to frame, and one of 4-byte
    // (supplementary-plane) characters mixed with ASCII
    val edge = Seq(
      "x" * 31, "y" * 32, "z" * 33, "q" * 48, "r" * 49, ("ab " * 20).trim,
      "é" * 40 + "漢" * 10, "a\uD834\uDD1E" * 30 + "\uD83D\uDE00" * 9, null)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val corpus = Tables(spark, sf(), "documents").select($"doc_id", $"text")
    for (d <- Seq(edge, corpus)) {
      val hof = hofRows(d)
      // the query builder's exact kernel shape, on this in-memory frame
      val ker = d.filter(length($"text") >= 32)
        .select($"doc_id", posexplode(expr("graft_audio_energies(text)")))
        .select($"doc_id", $"pos".cast("long").as("frame_id"),
          ($"pos".cast("long") * 16 + 1).as("sample_start"),
          $"col".as("frame_energy"))
      assert(hof.exceptAll(ker).count() == 0 && ker.exceptAll(hof).count() == 0,
        "HOF and kernel mm_audio_frames rows differ")
    }
  }

  test("mm_audio_frames plans the kernel inside codegen, no HOF folds") {
    val q = SparkEntry.queries("mm_audio_frames")(spark, sf())
    val p = q.queryExecution.optimizedPlan.toString
    assert(p.toLowerCase.contains("audioframeenergies"),
      "expected the AudioFrameEnergies kernel in the plan")
    assert(!p.contains("lambdafunction"),
      "no interpreted HOF folds allowed in the audio-frame path")
  }
}
