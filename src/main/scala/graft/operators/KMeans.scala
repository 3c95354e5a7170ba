package graft.operators

import graft.functions.VectorCols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed k-means (Lloyd's algorithm) over an embedding column —
  * the trainer for the IVF coarse quantizer and the PQ subspace
  * codebooks in SimilarityQueries. One body serves both: the `metric`
  * argument (`Cosine`, the default, or `L2`) is the only option.
  *
  * Every iteration is the same two-shuffle plan, independent of K:
  *   1. assign: centroids travel as ONE broadcast array row; the cell
  *      is a map-side `array_position(cl, array_max(cl))` argmax of
  *      the per-centroid cosine list (`array_min` of squared L2
  *      distances under `L2`) — no shuffle;
  *   2. update: per-cell elementwise means via posexplode —
  *      the shuffle carries (cell, dim, partial-sum) rows, i.e.
  *      K·Dim·partitions tiny tuples, never the vectors themselves.
  * Empty cells keep their previous centroid (the standard Lloyd
  * degenerate-cell rule). Means go through DECIMAL(27,10) sums so an
  * iteration is deterministic under shuffle reordering — the property
  * the cross-engine oracle of `sim_kmeans_step` relies on.
  *
  * At 10^9 vectors: assignment is scan-speed, the update shuffle is
  * O(K·Dim) per partition; driver holds nothing (centroids stay a
  * one-row DataFrame; `fit` localCheckpoints it each round so the
  * lineage doesn't stack broadcasts).
  */
object KMeans {

  /** The one option: how a vector scores against each centroid and
    * which score wins. `Cosine` (argmax) trains the IVF coarse
    * quantizer; `L2` (argmin of squared distance) trains PQ subspace
    * codebooks. Both run on the codegen'd kernels of
    * functions/VectorExprs, K times per vector per iteration. */
  sealed abstract class Metric(
      val score: (Column, Column) => Column, val best: Column => Column)
  case object Cosine extends Metric(VectorCols.cosine, array_max)
  case object L2 extends Metric(VectorCols.l2sq, array_min)

  /** seed centroids: the K vectors with the smallest ids, as one
    * ordered-array row (a deterministic k-means++ stand-in) */
  def seed(e: DataFrame, k: Int): DataFrame =
    e.filter(col("vec_id") < k)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("cs"))
      .select(transform(col("cs"),
        c => transform(c.getField("embedding"), x => x.cast("double"))).as("cs"))

  /** (vec_id, embedding, cell): map-side best score over the broadcast
    * centroid array; cells are 1-based */
  def assign(e: DataFrame, cents: DataFrame, metric: Metric = Cosine): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("cl", transform(col("cs"), ce => metric.score(col("embedding"), ce)))
      .withColumn("cell", array_position(col("cl"), metric.best(col("cl"))))
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** one Lloyd update: new centroid array from the decimal-exact
    * per-cell elementwise means; empty cells keep the old centroid */
  def step(e: DataFrame, cents: DataFrame, metric: Metric = Cosine): DataFrame = {
    val sums = assign(e, cents, metric).select(col("cell"), posexplode(col("embedding")))
      .toDF("cell", "pos", "v")
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("v").cast("double").cast(DecimalType(27, 10))).cast("double")
        / count(lit(1))).as("m"))
    val newCents = sums.groupBy(col("cell"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
        p => p.getField("m")).as("cent"))
    cents.select(posexplode(col("cs"))).toDF("p0", "seed")
      .select((col("p0") + 1).as("cell"), col("seed"))
      .join(newCents, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("cent"), col("seed")).as("cent"))
      .agg(transform(sort_array(collect_list(struct(col("cell"), col("cent")))),
        c => c.getField("cent")).as("cs"))
  }

  /** run `iters` Lloyd iterations from the deterministic seed */
  def fit(e: DataFrame, k: Int, iters: Int, metric: Metric = Cosine): DataFrame = {
    var cents = seed(e, k).localCheckpoint(true)
    var i = 0
    while (i < iters) {
      cents = step(e, cents, metric).localCheckpoint(true)
      i += 1
    }
    cents
  }
}
