package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins sim_knn_graph's exact-copy collapse: the rep-level LSH +
  * bounded member expansion must produce EXACTLY the rows of the plain
  * all-vector band join it replaces, on a corpus with injected
  * bit-identical copies (the regime where the plain form's candidate
  * join goes copy-quadratic). The equality argument — own family as a
  * cos-1.0 candidate family, rank <= K+1 WITH TIES at rep level, first
  * K+1 members per family — is documented at the query; this is the
  * executable proof.
  */
class KnnGraphSpec extends SparkSpec {

  private def vecs(): DataFrame = {
    import spark.implicits._
    val base = Tables(spark, sf(), "embeddings").select($"vec_id", $"embedding")
    // 30 vectors gain a copy at +10M and another at +20M, so families
    // of size 1, 2 and 3 all occur and copy pairs dominate some top-5s
    base
      .unionByName(base.limit(30)
        .select(($"vec_id" + 10000000L).as("vec_id"), $"embedding"))
      .unionByName(base.limit(15)
        .select(($"vec_id" + 20000000L).as("vec_id"), $"embedding"))
  }

  /** the pre-collapse algorithm, verbatim: band join over ALL vectors */
  private def plainGraph(emb: DataFrame): DataFrame = {
    import spark.implicits._
    val NumTables = 4
    val BitsPerTable = 6
    def bucket(t: Int) =
      call_function("graft_lsh_bucket", $"embedding",
        lit(t * BitsPerTable), lit(BitsPerTable))
    def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        call_function("graft_dot", x, y)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    val tb = explode(array((0 until NumTables).map(t =>
      struct(lit(t).as("tbl"), bucket(t).as("bucket"))): _*))
    val e = emb.select($"vec_id", $"embedding", tb.as("tb"))
      .select($"vec_id", $"embedding", $"tb.tbl".as("tbl"), $"tb.bucket".as("bucket"))
    val a = e.select($"vec_id".as("va"), $"embedding".as("ea"), $"tbl", $"bucket")
    val b = e.select($"vec_id".as("vb"), $"embedding".as("eb"), $"tbl", $"bucket")
    val w = Window.partitionBy($"va").orderBy($"cos".desc, $"vb".asc)
    a.join(b, Seq("tbl", "bucket")).filter($"va" =!= $"vb")
      .withColumn("cos", round(cosine($"ea", $"eb"), 6))
      .groupBy($"va", $"vb").agg(max($"cos").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"va", $"vb", $"cos", $"rn")
  }

  test("copy collapse reproduces the plain kNN graph exactly") {
    import spark.implicits._
    val d = vecs().cache()
    try {
      val plain = plainGraph(d)
      val fast = graft.pipeline.SimilarityQueries.knnGraphOf(spark, d)
      assert(fast.exceptAll(plain).isEmpty && plain.exceptAll(fast).isEmpty,
        "collapsed kNN graph diverged from the plain band join")
      // the injected copies must be live: a 3-member family's vectors
      // list each other first (cos 1.0)
      val fam3 = fast.filter($"va" >= 20000000L && $"cos" === 1.0)
      assert(fam3.count() >= 15, "copy families not reflected in top-5s")
    } finally d.unpersist()
  }
}
