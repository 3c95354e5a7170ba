package graft

import graft.operators.KMeans

/** Lloyd iterations separate synthetic blobs — by direction under the
  * default cosine metric, by position under `KMeans.L2` — and converge
  * to a stable assignment with the deterministic first-K seed.
  */
class KMeansSpec extends SparkSpec {

  test("fit separates three directional blobs") {
    import spark.implicits._
    // 3 blobs of 12 vectors each around orthogonal axes; ids 0..2 are
    // one member of each blob so the first-K seed starts one per blob
    def blob(axis: Int, base: Long): Seq[(Long, Array[Float])] =
      (0 until 12).map { j =>
        val v = Array.fill(4)(0.1f * ((j % 3) + 1))
        v(axis) = 10f + j
        (base + j * 3, v) // interleave ids across blobs
      }
    val e = (blob(0, 0) ++ blob(1, 1) ++ blob(2, 2)).toDF("vec_id", "embedding")

    val cents = KMeans.fit(e, k = 3, iters = 3)
    val cells = KMeans.assign(e, cents)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap

    // all members of a blob share a cell; the three cells are distinct
    val byBlob = (0 until 3).map(b => (0 until 12).map(j => cells(b + j * 3L)).distinct)
    assert(byBlob.forall(_.size == 1), s"blob split across cells: $byBlob")
    assert(byBlob.flatten.distinct.size == 3, s"blobs merged: $byBlob")
  }

  test("a Lloyd step is idempotent once converged") {
    import spark.implicits._
    val e = (1L to 20L).map { i =>
      (i - 1, Array(if (i % 2 == 0) 5f else 0f, if (i % 2 == 0) 0f else 5f, 1f, 1f))
    }.toDF("vec_id", "embedding")
    val c2 = KMeans.fit(e, k = 2, iters = 2)
    val c3 = KMeans.step(e, c2)
    val a2 = KMeans.assign(e, c2).select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    val a3 = KMeans.assign(e, c3).select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(a2 == a3)
  }

  test("L2 fit separates three offset blobs") {
    import spark.implicits._
    // 3 blobs of 12 vectors along the same diagonal direction, centred
    // at 0, 20 and 40: cosine sees one direction, L2 three positions.
    // Ids interleave across blobs so the first-K seed starts one per blob
    def blob(centre: Float, base: Long): Seq[(Long, Array[Float])] =
      (0 until 12).map { j =>
        (base + j * 3, Array.tabulate(4)(d => centre + 0.25f * ((j + d) % 4)))
      }
    val e = (blob(0f, 0) ++ blob(20f, 1) ++ blob(40f, 2)).toDF("vec_id", "embedding")

    val cents = KMeans.fit(e, k = 3, iters = 3, KMeans.L2)
    val cells = KMeans.assign(e, cents, KMeans.L2)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap

    val byBlob = (0 until 3).map(b => (0 until 12).map(j => cells(b + j * 3L)).distinct)
    assert(byBlob.forall(_.size == 1), s"blob split across cells: $byBlob")
    assert(byBlob.flatten.distinct.size == 3, s"blobs merged: $byBlob")
  }

  test("an L2 Lloyd step is idempotent once converged") {
    import spark.implicits._
    // two offset clusters around 0 and 10 with a small per-id jitter
    val e = (0L until 20L).map { i =>
      val c = if (i % 2 == 0) 10f else 0f
      (i, Array(c + 0.5f * (i % 3), c, c - 0.5f * (i % 5), c))
    }.toDF("vec_id", "embedding")
    val c2 = KMeans.fit(e, k = 2, iters = 2, KMeans.L2)
    val c3 = KMeans.step(e, c2, KMeans.L2)
    def cells(c: org.apache.spark.sql.DataFrame) = KMeans.assign(e, c, KMeans.L2)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    assert(cells(c2) == cells(c3))
    assert(cells(c2).values.toSet.size == 2)
    // the means of an unchanged assignment are the same centroids
    def cs(c: org.apache.spark.sql.DataFrame) = c.as[Seq[Seq[Double]]].head()
    assert(cs(c2) == cs(c3))
  }
}
