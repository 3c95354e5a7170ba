package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._
import graft.plans.AsofStrategy

/** Cluster-deployment registration point: installs every graft custom
  * piece into a session at construction time via the standard
  * extensions hook, so a cluster user needs only
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)`) and gets the native
  * as-of join strategy plus all `graft_*` SQL functions in EVERY
  * session of the application — no per-query `register` calls, and
  * catalog-level (not temp) function registration.
  *
  * This is the ONLY code that installs graft into a session: every
  * in-repo harness builds its session through [[EngineConf.configure]]
  * (which sets the conf above), and GraftExtensionsSpec pins that a
  * fresh session resolves every `graft_*` name.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    if (GraftExtensions.installed.putIfAbsent(ext, true) == null) install(ext)

  private def install(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofStrategy)
    // index-alignment elision (SURVEY §4 item 4): a provably
    // same-lineage aligned binary op loses its self-join. Post-hoc
    // resolution, not optimizer: column pruning would split the shared
    // subtree before an operator-optimization rule could prove lineage
    ext.injectPostHocResolutionRule(_ => graft.plans.AlignmentElision)

    def fn(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))

    // scalar config arguments must be FOLDABLE (the expression is
    // parameterized at plan time, not per row); a non-literal or
    // non-int argument would otherwise surface as an opaque
    // eval/ClassCast error deep in planning (ADVICE r7)
    def intArg(es: Seq[Expression], i: Int, name: String): Int = {
      require(i < es.length && es(i).foldable,
        s"$name: argument ${i + 1} must be a literal integer")
      es(i).eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"$name: argument ${i + 1} must be a literal integer, got $other")
      }
    }

    fn("graft_dot", es => DotProduct(es.head, es(1)))
    fn("graft_l2sq", es => L2Sq(es.head, es(1)))
    fn("graft_lsh_bucket", es => LshBucket(es.head,
      intArg(es, 1, "graft_lsh_bucket"), intArg(es, 2, "graft_lsh_bucket")))
    fn("graft_bloom_contains", es => BloomMightContain(es(1),
      graft.functions.BloomExprs.bytesArg(es, 0)))
    fn("graft_poly_hash", es => PolyHash(es.head))
    fn("graft_shingle_hash64", es => ShingleHash64s(es.head))
    fn("graft_minhash_bands", es => MinHashBandKeys(es.head))
    fn("graft_simhash24", es => SimHash24(es.head))
    fn("graft_rand_project", es => RandProject(es.head,
      intArg(es, 1, "graft_rand_project")))
    fn("graft_nfc", es => NfcNormalize(es.head))
    fn("graft_token_count", es => TokenCount(es.head))
    fn("graft_canon", es => CanonText(es.head))
    fn("graft_marker_scores", es => MarkerScores(es.head))
    fn("graft_audio_energies", es => AudioFrameEnergies(es.head))
    fn("graft_sampled_fp", es => SampledFp(es.head))
  }
}

object GraftExtensions {
  /** Extensions objects graft is already in. A session builder that
    * gets graft both from `spark.sql.extensions` and from
    * `.withExtensions(new GraftExtensions)` applies it twice to the
    * same object; installing once keeps one strategy per session and
    * avoids Spark's "replaced a previously registered function" WARN
    * for every name. */
  private val installed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean]())
}
