package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-content families: the one way graft collapses exact copies.
  *
  * A pair operator over a corpus with R exact copies per item does R^2
  * the work in every bucket or candidate join, because copies share
  * every band and bucket. The dedup and similarity operators therefore
  * run on one representative per distinct content and re-attach the
  * copies afterwards, through the two frames built here:
  *
  *  - `reps` (`rep`, the content column, `fsize`): one row per distinct
  *    content. `rep` is the family's min id, so a label that propagates
  *    as a min id over representatives is still the global min id once
  *    the copies are re-attached. It is a digest-keyed groupBy: partial
  *    aggregation collapses each family before the shuffle, so shuffle
  *    volume follows distinct content per partition and no task sees a
  *    whole family.
  *  - `mapping` (the id column, `rep`, and every other input column but
  *    the content): each id joined to its family's rep on the digest.
  *    Both join sides are narrow (id and digest, digest and min id), so
  *    the content never crosses a second shuffle. It is never a window
  *    partitioned by the digest, which puts a hot family (boilerplate
  *    copied millions of times) in one task with no map-side combine.
  *    `attach` is the same join for any per-family result.
  *
  * The digest is two independent hashes of the content, xxhash64 and
  * Spark's murmur3 `hash`: 96 bits. Among 10^9 distinct contents the
  * chance of any collision is about n^2 / 2^97 ≈ 6e-12, where one 64-bit
  * hash would collide with a chance near 3%. A collision merges two
  * contents into one family with no error, so one hash is not enough.
  *
  * The operator caches nothing. A caller caches its input when the
  * content costs a lot to recompute (a shingle array), and any output
  * it reads more than once.
  */
object ContentFamilies {

  private val DigestCols = Seq("__cf_dg1", "__cf_dg2")

  final class Families private[ContentFamilies] (keyed: DataFrame, content: String,
                                                 byDigest: DataFrame) {
    val reps: DataFrame = byDigest.drop(DigestCols: _*)

    /** Each input row (content dropped) joined on the digest to `cols`,
      * computed over its family's row of `reps`: a per-family result (a
      * signature) reaches every copy in one narrow join. */
    def attach(cols: Column*): DataFrame =
      keyed.drop(content)
        .join(byDigest.select(DigestCols.map(col) ++ cols: _*), DigestCols)
        .drop(DigestCols: _*)

    // the optimizer prunes the rep side's aggregate to (digest, min id)
    def mapping: DataFrame = attach(col("rep"))
  }

  def apply(df: DataFrame, id: String, content: String): Families = {
    val keyed = df.select(col("*"),
      xxhash64(col(content)).as(DigestCols(0)), hash(col(content)).as(DigestCols(1)))
    new Families(keyed, content, keyed.groupBy(DigestCols.map(col): _*)
      .agg(min(col(id)).as("rep"), first(col(content)).as(content),
        count(lit(1)).as("fsize")))
  }

  /** Whether `df` holds copy families worth collapsing: an HLL sketch of
    * the content's xxhash64 against the row count, in one job, below
    * 0.9 distinct per row. The collapse and the bypass produce the same
    * rows, so a misread sketch costs time only. No byte-size gate is
    * sound in front of it: the blowup it guards is unbounded in the
    * input bytes (a 58 MB copy of the corpus with 100 copies per
    * document took the bypass under a 256 MB gate, and its MinHash pair
    * join ran 30 s instead of 3.7 s). */
  def hasCopies(df: DataFrame, content: String): Boolean = {
    val r = df.agg(approx_count_distinct(xxhash64(col(content))), count(lit(1))).head()
    val (nDistinct, n) = (r.getLong(0), r.getLong(1))
    n > 0 && nDistinct.toDouble / n < 0.9
  }
}
