package graft

/** Brute-force in-memory merge_asof, the reference the as-of specs
  * check the native merge-walk against: every left row scans all right
  * rows of its key. Timestamps are epoch micros.
  *
  *   - backward: latest right row with rts <= lts (< when strict), the
  *     last in `right`'s order among rows tied on ts, as in pandas;
  *   - forward: earliest right row with rts >= lts (> when strict), the
  *     first among rows tied on ts;
  *   - nearest: the closer of the two, backward on ties;
  *   - a candidate farther than the tolerance does not match.
  *
  * `left` rows are (id, key, ts); the result maps each id to the
  * matched right value, None when nothing matches.
  */
object AsofReference {
  def apply[I, V](
      left: Seq[(I, Any, Long)],
      right: Seq[(Any, Long, V)],
      direction: String = "backward",
      toleranceUs: Option[Long] = None,
      allowExactMatches: Boolean = true): Map[I, Option[V]] = {
    val byKey = right.groupBy(_._1)
    val tol = toleranceUs.getOrElse(Long.MaxValue)
    left.map { case (id, k, lts) =>
      val cands = byKey.getOrElse(k, Nil)
      val back = cands.filter { case (_, rts, _) =>
        (rts < lts || (allowExactMatches && rts == lts)) && lts - rts <= tol
      }.reverse.maxByOption(_._2)
      val fwd = cands.filter { case (_, rts, _) =>
        (rts > lts || (allowExactMatches && rts == lts)) && rts - lts <= tol
      }.minByOption(_._2)
      val pick = direction match {
        case "backward" => back
        case "forward" => fwd
        case "nearest" => (back, fwd) match {
          case (Some(b), Some(f)) => if (lts - b._2 <= f._2 - lts) back else fwd
          case _ => back.orElse(fwd)
        }
      }
      id -> pick.map(_._3)
    }.toMap
  }
}
