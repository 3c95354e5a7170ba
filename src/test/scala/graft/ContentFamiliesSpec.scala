package graft

import graft.operators.ContentFamilies
import org.apache.spark.sql.catalyst.expressions.{Alias, Murmur3Hash, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Pins `operators/ContentFamilies`, the one exact-content collapse:
  *
  *  - at the skew it is built for (one family of 20,000 copies) the
  *    mapping is the brute-force min id per content and every family
  *    size is exact;
  *  - `dedup_semantic_clusters` maps copies to their representative
  *    without a window over the digest, where a hot family would land
  *    in one task;
  *  - `dedup_simhash` takes the collapse on a copy-heavy corpus, which
  *    no fixture reaches (every fixture corpus reads above the probe's
  *    0.9 distinct-per-row), and still returns every document's own
  *    signature.
  */
class ContentFamiliesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("a 20,000-copy family maps to its min id with exact family sizes") {
    import spark.implicits._
    // ids 0..20102: a 3-member family {17, 9000, 20050}, 100 singletons
    // (id % 200 == 199) and one hot family holding the other 20,000
    val df = spark.range(0, 20103).select($"id",
      when($"id".isin(17L, 9000L, 20050L), lit("three"))
        .when($"id" % 200 === 199, concat(lit("single "), $"id".cast("string")))
        .otherwise(lit("hot")).as("content"))
      .repartition(4)
    val fam = ContentFamilies(df, "id", "content")
    val brute = df.groupBy($"content")
      .agg(min($"id").as("rep"), count(lit(1)).as("fsize"))
    val mapping = fam.mapping.select($"id", $"rep")
    val want = df.join(brute, "content").select($"id", $"rep")
    assert(mapping.exceptAll(want).isEmpty && want.exceptAll(mapping).isEmpty,
      "mapping differs from the brute-force min id per content")
    val reps = fam.reps.select($"rep", $"content", $"fsize")
    val wantReps = brute.select($"rep", $"content", $"fsize")
    assert(reps.exceptAll(wantReps).isEmpty && wantReps.exceptAll(reps).isEmpty,
      "representatives or family sizes differ from the brute force")
    val sizes = fam.reps.select($"fsize").as[Long].collect().sorted.toSeq
    assert(sizes == Seq.fill(100)(1L) ++ Seq(3L, 20000L))
    assert(ContentFamilies.hasCopies(df, "content"))
    assert(!ContentFamilies.hasCopies(df.filter($"id" % 200 === 199), "content"))
  }

  test("dedup_semantic_clusters has no window over the content digest") {
    val df = SparkEntry.queries("dedup_semantic_clusters")(spark, sf())
    df.collect()
    val digests = df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case a: Alias if a.child.isInstanceOf[XxHash64] || a.child.isInstanceOf[Murmur3Hash] =>
        a.exprId
    })).toSet
    assert(digests.nonEmpty, "the query no longer digests its content")
    val keyed = collect(df.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.exists(_.references.exists(a => digests(a.exprId))) => w
    }
    assert(keyed.isEmpty, s"a window partitioned by the digest:\n${keyed.mkString("\n")}")
  }

  test("dedup_simhash collapses a copy-heavy corpus to each document's own signature") {
    import spark.implicits._
    val base = Tables(spark, sf(), "documents").select($"doc_id", $"text")
    // every text three times: one distinct text per three rows
    val docs = base
      .unionByName(base.select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
      .unionByName(base.select(($"doc_id" + 20000000L).as("doc_id"), $"text"))
      .cache()
    try {
      assert(ContentFamilies.hasCopies(docs, "text"), "the probe must pick the collapse")
      val sig = graft.pipeline.DedupQueries.simhashSig(docs)
      // the bypass is map-side; only the collapse joins signatures back
      assert(sig.queryExecution.optimizedPlan.collectFirst { case j: Join => j }.nonEmpty,
        "dedup_simhash took the bypass on a copy-heavy corpus")
      val want = docs.select($"doc_id",
        expr("graft_simhash24(graft_shingle_hash64(text))").as("simhash"))
      assert(sig.exceptAll(want).isEmpty && want.exceptAll(sig).isEmpty,
        "collapsed signatures differ from the per-document kernel")
      assert(sig.count() == 3 * base.count())
    } finally docs.unpersist()
  }
}
