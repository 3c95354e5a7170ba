package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.QuantileSummaries

/** A Greenwald–Khanna quantile summary (SIGMOD 2001; Spark's
  * `QuantileSummaries`, the sketch behind `approx_percentile`) of a
  * double column, built in ONE Spark job.
  *
  * `rows` is a single-column `queryExecution.toRdd`, so the scan stays
  * in whole-stage codegen and no `Row` is deserialized. Each partition
  * sketches its own rows and compresses the summary; the partials merge
  * by `treeAggregate` within the same relative error (a shuffle level
  * only appears at many partitions, so the driver merges about
  * √partitions of them). NULLs and NaNs are counted in the returned
  * row count but not sketched.
  */
private[graft] object QuantileSketch {

  def apply(rows: RDD[InternalRow], relativeError: Double): (QuantileSummaries, Long) = {
    val (summary, n) = rows.mapPartitions { it =>
      var s = empty(relativeError)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (!r.isNullAt(0) && !r.getDouble(0).isNaN) s = s.insert(r.getDouble(0))
      }
      Iterator((s.compress(), n))
    }.treeAggregate((empty(relativeError), 0L))(merge, merge)
    (summary.compress(), n)
  }

  def empty(relativeError: Double): QuantileSummaries =
    new QuantileSummaries(QuantileSummaries.defaultCompressThreshold, relativeError)

  private def merge(a: (QuantileSummaries, Long),
                    b: (QuantileSummaries, Long)): (QuantileSummaries, Long) =
    (a._1.merge(b._1), a._2 + b._2)
}
