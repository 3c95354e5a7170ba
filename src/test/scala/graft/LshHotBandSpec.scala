package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the two scale defenses in DedupQueries.verifiedPairsOf:
  *
  *  - exact-content collapse: the rewritten pipeline (LSH over one
  *    representative per distinct shingle set + expansion joins) must
  *    produce EXACTLY the pair set of the plain all-docs band join it
  *    replaced — checked here against an inline reimplementation of
  *    the original algorithm on the sf0.001 corpus with duplicate
  *    copies injected;
  *  - hot-band cap: band keys shared by more distinct contents than
  *    `graft.lsh.hotBandCap` fail loudly by default (raise_error in
  *    the exchange stage, before quadratic work) and are skipped
  *    under `graft.lsh.hotBandPolicy=drop`.
  */
class LshHotBandSpec extends SparkSpec {

  private def docs(): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, sf(), "documents").select($"doc_id", $"text")
    // inject exact copies (doc_id + 10M) so the collapse path is live
    base.unionByName(
      base.limit(40).select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
  }

  /** the pre-collapse algorithm, verbatim: band join over ALL docs */
  private def plainPairs(d: DataFrame): DataFrame = {
    import spark.implicits._
    val sig = d
      .select($"doc_id", expr("graft_shingle_hash64(text)").as("sh"))
      .select($"doc_id", $"sh", expr("graft_minhash_bands(sh)").as("bands"))
    val keys = sig.select($"doc_id", posexplode($"bands"))
      .toDF("doc_id", "bidx", "bk")
    val cands = keys.select($"doc_id".as("da"), $"bidx", $"bk")
      .join(keys.select($"doc_id".as("db"), $"bidx", $"bk"), Seq("bidx", "bk"))
      .filter($"da" < $"db")
      .select($"da", $"db").distinct()
    cands
      .join(sig.select($"doc_id".as("da"), $"sh".as("sha")), Seq("da"))
      .join(sig.select($"doc_id".as("db"), $"sh".as("shb")), Seq("db"))
      .withColumn("shared", size(array_intersect($"sha", $"shb")))
      .withColumn("jac", $"shared".cast("double") /
        (size($"sha") + size($"shb") - $"shared"))
      .filter($"jac" >= 0.5)
      .select($"da", $"db", round($"jac", 6).as("jac"))
  }

  private def collapsedPairs(d: DataFrame): DataFrame = {
    import spark.implicits._
    graft.pipeline.DedupQueries.verifiedPairsOf(spark, d)
      .select($"da", $"db", round($"jac", 6).as("jac"))
  }

  test("content collapse reproduces the plain band join exactly") {
    val d = docs().cache()
    try {
      val plain = plainPairs(d)
      // the copy-injected fixture (50 distinct / 90 docs, ratio 0.56)
      // routes the text-hash probe to the COLLAPSE path
      val fast = collapsedPairs(d)
      assert(fast.exceptAll(plain).isEmpty && plain.exceptAll(fast).isEmpty,
        "collapsed pipeline diverged from the plain band join")
      // the injected copies must be live: at least the 40 copy pairs
      assert(fast.count() >= 40)
    } finally d.unpersist()
  }

  test("no-copy corpus takes the bypass and still matches the plain join") {
    import org.apache.spark.sql.functions.col
    val base = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).cache()
    try {
      val plain = plainPairs(base)
      val fast = collapsedPairs(base) // distinct corpus → probe → bypass
      assert(fast.exceptAll(plain).isEmpty && plain.exceptAll(fast).isEmpty,
        "bypass diverged from the plain band join")
    } finally base.unpersist()
  }

  test("knownDistinct skips the probe and matches the probed pipeline") {
    import org.apache.spark.sql.functions.col
    // round-15: callers that just exact-deduped may assert content
    // distinctness; the result must equal the probed pipeline on a
    // distinct corpus — and even on a corpus where the assertion is
    // WRONG (injected copies), because both regimes compute the same
    // pair set (the probe only picks the plan)
    import spark.implicits._
    val base = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).cache()
    val copied = docs().cache()
    try {
      for (d <- Seq(base, copied)) {
        val probed = collapsedPairs(d)
        val hinted = graft.pipeline.DedupQueries
          .verifiedPairsOf(spark, d, knownDistinct = true)
          .select($"da", $"db", round($"jac", 6).as("jac"))
        assert(hinted.exceptAll(probed).isEmpty && probed.exceptAll(hinted).isEmpty,
          "knownDistinct pipeline diverged from the probed pipeline")
      }
    } finally { base.unpersist(); copied.unpersist() }
  }

  test("hot band cap fails loudly by default") {
    // cap=0 makes every band key "hot" — the fixture's distinct
    // contents rarely share a band, so a tiny positive cap may not fire
    spark.conf.set("graft.lsh.hotBandCap", "0")
    try {
      val e = intercept[Throwable] { collapsedPairs(docs()).count() }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString("\n")
      assert(msgs.contains("hot band"), s"unexpected failure: $msgs")
    } finally spark.conf.unset("graft.lsh.hotBandCap")
  }

  test("hot band policy=drop skips capped buckets but keeps copy pairs") {
    spark.conf.set("graft.lsh.hotBandCap", "0")
    spark.conf.set("graft.lsh.hotBandPolicy", "drop")
    try {
      import spark.implicits._
      val d = docs()
      val res = collapsedPairs(d)
      // every banded candidate dropped -> only identical-content pairs
      assert(res.filter($"jac" < 1.0).count() === 0)
      assert(res.count() >= 40) // the injected exact copies survive
    } finally {
      spark.conf.unset("graft.lsh.hotBandCap")
      spark.conf.unset("graft.lsh.hotBandPolicy")
    }
  }
}
