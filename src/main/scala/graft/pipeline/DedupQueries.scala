package graft.pipeline

import graft.{QueryModule, Tables}
import graft.functions.PortableHash
import graft.functions.PortableHash._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Exact dedup is a hash aggregate; near-dup is shingle -> MinHash ->
  * LSH band-bucket join -> verify, all computed map-side with Catalyst
  * higher-order functions (no UDFs, no explode until the candidate
  * join). At 100 TB: signatures are O(1) per document computed in one
  * scan; the only shuffles are the band-key candidate join (keys are
  * near-uniform by construction) and the final verify join on the
  * candidate pairs, which LSH keeps tiny relative to the corpus.
  *
  * SimHash gives the complementary bit-signature family: one long per
  * document, near-dup = same high-bit bucket + small Hamming distance.
  */
object DedupQueries extends QueryModule {

  /** word array of the document text */
  private def words: Column = split(col("text"), " ")

  /** distinct word-3-gram shingle array, map-side */
  private def shingles: Column = {
    val l = words
    array_distinct(
      when(size(l) >= 3,
        transform(sequence(lit(1), size(l) - 2),
          i => concat_ws(" ", element_at(l, i), element_at(l, i + 1), element_at(l, i + 2))))
        .otherwise(array().cast("array<string>")))
  }

  /** portable hashes of the shingles */
  private def shingleHashes: Column = transform(shingles, g => wordHash(g))

  /** doc_id + the 4 LSH band keys + shingle count, one scan, no shuffle.
    *
    * Round-14: routed through the codegen'd MinHashExprs kernels
    * (graft_shingle_hash64 + graft_minhash_bands) — the HOF form
    * re-ran the interpreted shingle chain and 16 per-permutation
    * transform/array_min folds (measured 9 s at sf0.1; ~1 s after).
    * Values identical: the kernels recover the same 30-bit word hash
    * (h64 div 2^31) and apply the same perm/bandFuse arithmetic, and
    * an empty shingle set yields NULL bands in both forms (array_min
    * of an empty transform vs the kernel's explicit NULL). */
  private def signatures(df: DataFrame): DataFrame = {
    df.select(col("doc_id"), expr("graft_shingle_hash64(text)").as("hs"))
      .select(col("doc_id") +: size(col("hs")).as("n_shingles") +:
        expr("graft_minhash_bands(hs)").as("__b") +: Nil: _*)
      .select(col("doc_id") +: col("n_shingles") +:
        (0 until NumBands).map(b =>
          element_at(col("__b"), b + 1).as(s"band$b")): _*)
  }

  // ---- DuckDB oracle building blocks (mirror the Spark HOFs) ----

  private[pipeline] val shinglesSql =
    """list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
       THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
            i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])
       ELSE CAST([] AS VARCHAR[]) END)"""

  private val hashesSql =
    s"list_transform(sh, g -> ${wordHashSql("g")})"

  private def bandSql(b: Int): String =
    bandFuseSql((0 until BandSize).map { pos =>
      val k = b * BandSize + pos
      s"list_min(list_transform(hs, h -> (${permA(k)} * h + ${permB(k)}) % $P))"
    })

  /** band key over 64-bit shingle hashes: permute the recovered high
    * 30 bits (h // 2^31), then the same collision-resistant fuse */
  private[pipeline] def band64Sql(b: Int): String =
    bandFuseSql((0 until BandSize).map { pos =>
      val k = b * BandSize + pos
      s"list_min(list_transform(hs, h -> (${permA(k)} * (h // $Shift) + ${permB(k)}) % $P))"
    })

  /** CTE chain ending in `pairs(da, db, jac)` — the verified near-dup
    * pair set over 64-bit shingle hashes, mirroring `verifiedPairs` */
  private val pairs64Cte =
    s"""docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       h64 AS (SELECT doc_id, list_transform(sh, g -> ${hash64Sql("g")}) AS hs FROM docs),
       sig AS (SELECT doc_id, hs,
         ${(0 until NumBands).map(b => s"${band64Sql(b)} AS band$b").mkString(", ")}
         FROM h64),
       cands AS (
         ${(0 until NumBands).map(b =>
           s"SELECT a.doc_id AS da, b.doc_id AS db FROM sig a JOIN sig b ON a.band$b = b.band$b AND a.doc_id < b.doc_id")
           .mkString(" UNION ")}),
       pairs AS (
         SELECT c.da, c.db,
           CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE)
             / (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) AS jac
         FROM cands c
         JOIN sig ta ON c.da = ta.doc_id
         JOIN sig tb ON c.db = tb.doc_id
         WHERE CAST(len(list_intersect(ta.hs, tb.hs)) AS DOUBLE)
           / (len(ta.hs) + len(tb.hs) - len(list_intersect(ta.hs, tb.hs))) >= 0.5)"""

  private val sigCte =
    s"""docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
       hsh AS (SELECT doc_id, $hashesSql AS hs, len(sh) AS n_shingles FROM docs),
       sig AS (SELECT doc_id, n_shingles,
                 ${(0 until NumBands).map(b => s"${bandSql(b)} AS band$b").mkString(", ")}
               FROM hsh)"""

  /** (doc_id, simhash): 24-bit simhash over a materialized shingle-hash
    * array — see the dedup_simhash scaladoc for why materialization
    * matters.
    *
    * Adaptive content collapse (r8; the same HLL sketch regime switch
    * as verifiedRepPairsOf): identical texts have identical simhashes,
    * so on a copy-heavy corpus (sf100 stress copy: 1000 copies/doc,
    * where the uncollapsed form burned 609 s recomputing 24 shingle
    * folds per COPY) the signature is computed once per DISTINCT text
    * and re-attached by a narrow digest join. A no-copy corpus skips
    * the collapse — zero added shuffle, signatures stay map-side.
    * Both paths produce identical rows, so a sketch misread costs
    * performance only.
    */
  private def simhashSig(docs: DataFrame): DataFrame = {
    // round-14: the 24 per-bit interpreted aggregate() HOF folds (plus
    // the interpreted shingle+wordHash chain feeding them) are ONE
    // codegen-registered kernel pass now — graft_shingle_hash64 builds
    // the shingle-hash array (code-point hashing, ≡ the UTF-16 HOF on
    // the ASCII corpus and ≡ the oracle's string_split on all input),
    // and graft_simhash24 folds all 24 bit counters in a single loop
    // (SimHashKernelSpec pins bit-exactness against the HOF chain).
    // Measured: dedup_simhash 6.0 s → sub-second at sf0.1.
    def sigOf(d: DataFrame, id: Column) = d
      .select(id.as("__id"), expr("graft_shingle_hash64(text)").as("hs"))
      .select(col("__id"), expr("graft_simhash24(hs)").as("simhash"))
    // NOTE (round-14): a byte-size gate on this probe was tried and
    // REVERTED — the collapse guards a blowup that is unbounded in the
    // input bytes (a 58 MB corpus of 100× copies quadruples every
    // bucket join 10^4-fold), so the one cheap text-hash sketch below
    // always runs. See the verifiedRepPairsOf probe comment.
    // dual 96-bit digest (xxhash64 + murmur), same scheme as
    // verifiedRepPairsOf: a single 64-bit hash is not collision-safe
    // at 1e9+ docs — a collision would silently assign a wrong
    // simhash to one of the colliding texts
    val withDg = docs.select(col("doc_id"), col("text"),
      xxhash64(col("text")).as("__dg1"), hash(col("text")).as("__dg2"))
    val Array(nDistinct, nTotal) = withDg
      .agg(approx_count_distinct(col("__dg1")), count(lit(1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    if (nTotal > 0 && nDistinct.toDouble / nTotal < 0.9) {
      val reps = withDg.groupBy(col("__dg1"), col("__dg2"))
        .agg(first(col("text")).as("text"))
      val repSig = reps
        .select(col("__dg1").as("__r1"), col("__dg2").as("__r2"),
          expr("graft_shingle_hash64(text)").as("hs"))
        .select(col("__r1"), col("__r2"),
          expr("graft_simhash24(hs)").as("simhash"))
      withDg.select(col("doc_id"), col("__dg1"), col("__dg2"))
        .join(repSig,
          col("__dg1") === col("__r1") && col("__dg2") === col("__r2"))
        .select(col("doc_id"), col("simhash"))
    } else {
      sigOf(docs, col("doc_id"))
        .select(col("__id").as("doc_id"), col("simhash"))
    }
  }

  /** verified near-dup pairs (da < db, jaccard >= 0.5) with the exact
    * jaccard in `jac` — shared pipeline for the pair query and the
    * cluster query */
  private def verifiedPairs(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    verifiedPairsOf(s, Tables(s, d, "documents"))

  /** same pipeline over an arbitrary (doc_id, text) frame — reused by
    * CurationQueries, whose near-dedup step runs on the already
    * quality/langid-filtered corpus.
    *
    * Two scale defenses beyond the plain band-bucket join:
    *
    * 1. Exact-content collapse. Docs with an identical shingle-hash
    *    array band identically and verify to jaccard 1.0 against each
    *    other, so LSH runs on ONE representative per distinct content
    *    and the copy pairs are reconstituted afterwards by two narrow
    *    joins on (doc_id, rep). A boilerplate-heavy corpus (or an
    *    exact-duplicated one, like the replicated sf10 stress set,
    *    where every doc has R copies) would otherwise square the
    *    candidate join: R copies x R copies per original pair. The
    *    collapse makes verify work scale with DISTINCT content; the
    *    output (inherently quadratic in copy count) is produced by the
    *    expansion joins without touching a shingle array.
    *
    * 2. Hot-band cap. A degenerate band key shared by many DISTINCT
    *    contents still makes one bucket quadratic. Band-key frequency
    *    (a partial-aggregating groupBy over the exploded keys, counted
    *    over representatives, so exact copies never trip it) above
    *    `graft.lsh.hotBandCap` (default 5000) fails the query loudly
    *    via raise_error — a silent O(cap^2)-per-bucket surprise at
    *    100 TB is worse than a diagnosable error. Setting
    *    `graft.lsh.hotBandPolicy=drop` instead skips those buckets
    *    (standard production LSH behavior: members of a degenerate
    *    bucket are boilerplate near-dups of each other and belong to
    *    the exact/segment-dedup path; other bands still recover their
    *    genuine near-dup pairs).
    */
  private[graft] def verifiedPairsOf(s: org.apache.spark.sql.SparkSession, docs: DataFrame,
                                     knownDistinct: Boolean = false): DataFrame = {
    import s.implicits._
    val (vp, mapping, collapsed) = verifiedRepPairsOf(s, docs, knownDistinct)
    // adaptive bypass: with no collapse, representatives ARE the docs —
    // vp is already the doc-level pair list (exact copies, if the <10%
    // tail holds any, banded together and verified to jaccard 1.0
    // inside vp), so the three expansion joins vanish from the plan
    if (!collapsed)
      return vp.select($"ra".as("da"), $"rb".as("db"), $"jac")
    // expansion: cross pairs inherit the representatives' jaccard;
    // intra pairs (identical content, non-empty shingle set) are 1.0
    // by construction — same value verify computed for them before.
    // mapping is cached (narrow, one row per doc) by verifiedRepPairsOf
    // because these three consumers would otherwise each replay its
    // digest shuffle.
    val cross = vp
      .join(mapping.select($"rep".as("ra"), $"doc_id".as("xa")), Seq("ra"))
      .join(mapping.select($"rep".as("rb"), $"doc_id".as("xb")), Seq("rb"))
      .select(least($"xa", $"xb").as("da"), greatest($"xa", $"xb").as("db"), $"jac")
    val withSh = mapping.filter($"n_sh" > 0)
    val intra = withSh.select($"rep", $"doc_id".as("da"))
      .join(withSh.select($"rep", $"doc_id".as("db")), Seq("rep"))
      .filter($"da" < $"db")
      .select($"da", $"db", lit(1.0).as("jac"))
    cross.unionByName(intra)
  }

  /** Collapsed (representative-level) form of [[verifiedPairsOf]]:
    * returns (repPairs(ra, rb, jac), mapping(doc_id, rep, n_sh),
    * collapsed) — `collapsed=false` means the adaptive bypass decided
    * there are no copy families, mapping is the identity, and repPairs
    * is already the doc-level pair list.
    * Consumers whose state should scale with DISTINCT content — the
    * cluster assignment's connected components above all — work on
    * repPairs and expand at the end, instead of pushing the
    * (inherently copy-quadratic) expanded pair list through every
    * intermediate stage.
    */
  private[graft] def verifiedRepPairsOf(s: org.apache.spark.sql.SparkSession,
                                        docs: DataFrame,
                                        knownDistinct: Boolean = false): (DataFrame, DataFrame, Boolean) = {
    import s.implicits._
    val cap = s.conf.get("graft.lsh.hotBandCap", "5000").toLong
    val policy = s.conf.get("graft.lsh.hotBandPolicy", "error")

    // knownDistinct (round-15): the CALLER asserts every text in
    // `docs` is content-distinct (it just exact-deduped — e.g.
    // pipe_curation's md5-keyed groupBy keeps exactly one row per
    // digest), so the collapse probe's answer is known a priori:
    // ratio ≈ 1 → bypass. Skipping it removes one aggregate job + a
    // driver collect() sync from every execution of the consuming
    // query (the probe is otherwise re-run per bench rep — the cache
    // holds the FRAME, not the probe's scalar). Value-identical even
    // if the assertion were wrong: both regimes produce the same pair
    // list (the probe only picks the cheaper plan), and with no exact
    // copies the drop-policy copy-immunity contract is vacuous.
    if (knownDistinct) {
      val r = docs
        .select($"doc_id", expr("graft_shingle_hash64(text)").as("sh"))
        .select($"doc_id", $"sh",
          expr("graft_minhash_bands(sh)").as("bands"))
        .cache()
      val m = r.select($"doc_id", $"doc_id".as("rep"),
        coalesce(size($"sh"), lit(0)).as("n_sh"))
      return (repPairsFromBands(s, r, cap, policy), m, false)
    }

    // ADAPTIVE COLLAPSE probe, round-14 form: the regime decision
    // (copy-heavy corpus → collapse; distinct corpus → bypass) now
    // sketches xxhash64(text) over the RAW docs frame instead of the
    // shingle-array digests — one cheap column scan with no shingle
    // work and no premature sig0 materialization. Identical text ⇔
    // identical shingle array, so copy families are detected exactly
    // as before; distinct texts with coinciding shingle SETS (the only
    // divergence) read the ratio HIGH, i.e. err toward the bypass,
    // which is correct-only-slower. A size gate was tried here first
    // and REVERTED: it skipped the probe below 256 MB estimated, and
    // the replicated sf10 corpus (100 exact copies per doc, 58 MB on
    // disk) then took the bypass whose candidate join is quadratic in
    // the copy count — dedup_minhash_pairs 3.7 s → 30 s at sf10. The
    // collapse probe guards against a blowup that is UNBOUNDED in the
    // input bytes, so no byte-sized gate is sound.
    val Array(nDistinct, nTotal) = docs
      .agg(approx_count_distinct(xxhash64($"text")), count(lit(1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    // hotBandPolicy=drop always collapses: that policy's contract is
    // "exact copies are IMMUNE to dropped buckets" (they flow through
    // the mapping expansion, not the band join) — in the bypass they
    // would ride the band join and die with a dropped bucket
    // (LshHotBandSpec pins this)
    val collapsed = policy == "drop" ||
      (nTotal > 0 && nDistinct.toDouble / nTotal < 0.9)
    if (!collapsed) {
      // no copy families: every doc is its own representative — ONE
      // cached (doc_id, sh, bands) frame, no digest columns at all
      val r = docs
        .select($"doc_id", expr("graft_shingle_hash64(text)").as("sh"))
        .select($"doc_id", $"sh",
          expr("graft_minhash_bands(sh)").as("bands"))
        .cache()
      val m = r.select($"doc_id", $"doc_id".as("rep"),
        coalesce(size($"sh"), lit(0)).as("n_sh"))
      return (repPairsFromBands(s, r, cap, policy), m, false)
    }

    // exact-content collapse, digest-keyed. Earlier rounds used
    // min(doc_id) over Window.partitionBy(sh): correct, but at scale
    // it shuffles every doc's full shingle array with NO map-side
    // combine, and a hot content family (boilerplate duplicated
    // millions of times) lands in one window task. Instead:
    //   - `sig0` computes shingles + a 128-bit content digest in the
    //     scan stage, cached once (the one frame both consumers read);
    //   - `reps` is a digest-keyed groupBy — partial aggregation
    //     collapses copy families BEFORE the shuffle, so shuffle
    //     volume scales with DISTINCT content per partition and no
    //     task ever sees a whole copy family; minhash bands are
    //     materialized in the cache because the candidate self-join
    //     reads them from both sides;
    //   - `mapping` re-attaches the representative via a narrow
    //     long-digest equi-join (3 scalar cols — the sh arrays never
    //     shuffle a second time).
    // digest = two independent native array hashes (xxhash64 + murmur,
    // 96 bits — collision-free in practice at 1e9+ docs and far
    // cheaper than serializing the array to hash it)
    val sig0 = docs
      .select($"doc_id", expr("graft_shingle_hash64(text)").as("sh"))
      .withColumn("dg1", xxhash64($"sh"))
      .withColumn("dg2", hash($"sh"))
      .withColumn("n_sh", coalesce(size($"sh"), lit(0)))
      .cache()
    val reps = sig0.groupBy($"dg1", $"dg2")
      .agg(min($"doc_id").as("doc_id"), first($"sh").as("sh"))
      .select($"dg1", $"dg2", $"doc_id", $"sh",
        expr("graft_minhash_bands(sh)").as("bands"))
      .cache()
    // rep per doc via a narrow equi-join on the digest against reps'
    // (digest, min doc_id) — the sh arrays never move (3 scalar cols
    // a side), AQE broadcasts the rep side whenever distinct content
    // is modest, and the frame is cached because the pair expansion
    // reads it three times (each read would otherwise replay the
    // shuffle; measured ~2x on pipe_curation at sf0.1 vs the
    // uncached window form this replaced).
    val mapping = sig0.select($"doc_id", $"dg1", $"dg2", $"n_sh")
      .join(reps.select($"dg1", $"dg2", $"doc_id".as("rep")), Seq("dg1", "dg2"))
      .select($"doc_id", $"rep", $"n_sh")
      .cache()
    (repPairsFromBands(s, reps, cap, policy), mapping, true)
  }

  /** Band-bucket candidate join + exact verify over a (doc_id, sh,
    * bands) representative frame — the shared tail of both
    * verifiedRepPairsOf regimes. Returns (ra, rb, jac) pairs. */
  private def repPairsFromBands(s: org.apache.spark.sql.SparkSession,
      reps: DataFrame, cap: Long, policy: String): DataFrame = {
    import s.implicits._
    val keys0 = reps.select($"doc_id", posexplode($"bands"))
      .toDF("doc_id", "bidx", "bk")
    // band-key frequency via a count window over the exploded keys: the
    // candidate self-join consumes `keys` twice and the two identical
    // window subtrees collapse into ONE reused exchange. (A groupBy +
    // hot-list join-back would partial-aggregate map-side, but it adds
    // a blocking stage per join side and measured ~2x slower at sf0.1
    // with no shuffle-volume win: the count runs over representatives,
    // so copies never inflate it.)
    val bfreq = count(lit(1)).over(Window.partitionBy($"bidx", $"bk"))
    // the cap check is fused into the join key so column pruning can
    // never optimize it away; raise_error fires inside the exchange
    // stage, before any quadratic work happens
    val keys = policy match {
      case "drop" => keys0.withColumn("bfreq", bfreq).filter($"bfreq" <= cap)
        .select($"doc_id", $"bidx", $"bk")
      case _ => keys0.select($"doc_id", $"bidx",
        when(bfreq > cap, raise_error(concat(
          lit(s"graft LSH hot band: a band key is shared by > $cap distinct contents ("),
          bfreq.cast("string"),
          lit(s"); raise graft.lsh.hotBandCap or set graft.lsh.hotBandPolicy=drop " +
            "to route degenerate buckets to the exact-dedup path"))).cast("long"))
          .otherwise($"bk").as("bk"))
    }
    val cands = keys.select($"doc_id".as("da"), $"bidx", $"bk")
      .join(keys.select($"doc_id".as("db"), $"bidx", $"bk"), Seq("bidx", "bk"))
      .filter($"da" < $"db")
      .select($"da", $"db").distinct()
    // verify touches representative pairs only
    cands
      .join(reps.select($"doc_id".as("da"), $"sh".as("sha")), Seq("da"))
      .join(reps.select($"doc_id".as("db"), $"sh".as("shb")), Seq("db"))
      .withColumn("shared", size(array_intersect($"sha", $"shb")))
      .withColumn("jac", $"shared".cast("double") /
        (size($"sha") + size($"shb") - $"shared"))
      .filter($"jac" >= 0.5)
      .select($"da".as("ra"), $"db".as("rb"), $"jac")
  }

  /** Near-dup cluster label per document: verified rep-level pairs →
    * pointer-jumping connected components → labels propagated back
    * through the exact-copy mapping. Shared by dedup_clusters and
    * pipe_split_safe.
    */
  private def clusterLabelsOf(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    // the identity mapping of the adaptive bypass flows through this
    // propagation unchanged (labels join against rep == doc_id)
    val (vp, mapping, _) = verifiedRepPairsOf(s, docs)
    val edges = vp.select($"ra".as("src"), $"rb".as("dst"))
    val verts = mapping.filter($"n_sh" > 0)
      .select($"rep".as("id")).distinct()
    val comp = graft.operators.ConnectedComponents.labels(verts, edges)
    mapping
      .join(comp, mapping("rep") === comp("id"), "left")
      .select($"doc_id",
        when($"n_sh" > 0, coalesce($"label", $"rep"))
          .otherwise($"doc_id").as("label"))
  }

  def queries: Map[String, Q] = Map(
    // exact full-row dedup via hash aggregate (the testdata's lineitem
    // carries real duplicate rows): duplicate groups + multiplicity
    "dedup_exact_rows" -> { (s, d) =>
      import s.implicits._
      val li = Tables(s, d, "lineitem")
      li.groupBy(li.columns.map(col): _*)
        .agg(count(lit(1)).as("multiplicity"))
        .filter($"multiplicity" > 1)
    },

    // exact content dedup by md5 fingerprint: canonical doc per digest
    "dedup_exact_md5" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .groupBy(md5($"text").as("digest"))
        .agg(min($"doc_id").as("keep_doc"), count(lit(1)).as("n_docs"))
    },

    // NORMALIZED-key exact dedup (the C4/RefinedWeb canonicalization
    // pass): NFC -> lowercase -> strip non-alphanumerics -> collapse
    // whitespace, THEN the same md5 hash aggregate as dedup_exact_md5.
    // Catches the near-exact duplicates that differ only in casing,
    // punctuation, or encoding form. The canonicalization is the
    // codegen'd single-pass CanonScan kernel (functions/StringExprs) —
    // the regex chain it replaces cost 22 s of scan time at sf10 —
    // and the DuckDB oracle keeps the independent two-regex
    // formulation, so kernel equivalence is hash-checked per run.
    // Map-side inside the scan stage; at 100 TB this costs exactly
    // the keyed digest shuffles of exact dedup. n_raw_variants counts
    // distinct RAW texts per normalized group — the rows this pass
    // merges that plain exact dedup cannot.
    "dedup_normalized" -> { (s, d) =>
      import s.implicits._
      val norm = call_function("graft_canon", $"text")
      Tables(s, d, "documents")
        .select($"doc_id", $"text", norm.as("norm"))
        .groupBy(md5($"norm").as("digest"))
        .agg(min($"doc_id").as("keep_doc"),
          count(lit(1)).as("n_docs"),
          countDistinct(md5($"text")).as("n_raw_variants"))
    },

    // keep-BEST dedup: when a weak key (here the opening words — the
    // URL/title analogue in a crawl pipeline) collides across
    // non-identical captures, retain the highest-quality copy rather
    // than an arbitrary first. max_by on a (quality, id) ordering
    // struct makes this a partial-aggregating hash aggregate — same
    // 100 TB shape as dedup_exact_md5, no per-group window, group
    // cardinality irrelevant. (For EXACT duplicates quality ties by
    // construction and the id tie-break alone decides, which is why
    // dedup_exact_md5 uses plain min; this op exists for the weak-key
    // case where copies genuinely differ.)
    "dedup_keep_best" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .withColumn("prefix_key", array_join(slice(split($"text", " "), 1, 3), " "))
        .groupBy($"prefix_key")
        .agg(
          max_by($"doc_id", struct($"n_chars", $"doc_id")).as("keep_doc"),
          max($"n_chars").as("keep_chars"),
          count(lit(1)).as("n_docs"))
    },

    // segment-level dedup + reassembly (the CCNet/Dolma "paragraph
    // dedup" shape, on fixed 20-word segments since the synthetic text
    // has no paragraph breaks): segment map-side, keep the globally
    // FIRST occurrence of each distinct segment text ((doc_id, k)
    // order), then reassemble each document from its surviving
    // segments. Two shuffles — one window keyed by segment text
    // (high-cardinality, skew-free), one per-doc regroup — both scale
    // with corpus size, never pairwise. Docs whose every segment was
    // seen earlier come back with n_kept=0 and a NULL digest.
    "dedup_segments" -> { (s, d) =>
      import s.implicits._
      val segLen = 20
      val ws = split($"text", " ")
      val nsegs = ceil(size(ws) / lit(segLen.toDouble)).cast("long")
      val segs = Tables(s, d, "documents")
        .select($"doc_id", ws.as("ws"), nsegs.as("n_segs"))
        .withColumn("k", explode(sequence(lit(0L), $"n_segs" - 1)))
        .select($"doc_id", $"n_segs", $"k",
          array_join(slice($"ws", ($"k" * segLen + 1).cast("int"), lit(segLen)), " ")
            .as("seg_text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"seg_text").orderBy($"doc_id", $"k")
      val kept = segs
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(array_sort(collect_list(struct($"k", $"seg_text"))),
              x => x("seg_text")), " ")).as("dedup_md5"))
      Tables(s, d, "documents")
        .select($"doc_id", nsegs.as("n_segs"))
        .join(kept, Seq("doc_id"), "left")
        .select($"doc_id", $"n_segs",
          coalesce($"n_kept", lit(0L)).as("n_kept"), $"dedup_md5")
    },

    // MinHash/LSH signatures: 16 perms -> 4 band keys per doc, one scan
    "dedup_minhash_sig" -> { (s, d) =>
      signatures(Tables(s, d, "documents"))
    },

    // MinHash/LSH near-dup pairs: ONE exploded (band_idx, band_key)
    // equi-join generates candidates — a single shuffle instead of one
    // per band — and the exact jaccard verify intersects 64-bit
    // shingle-HASH arrays (8 bytes/shingle through the join) instead
    // of shingle strings. Signatures come from the custom Catalyst
    // expressions (tight JVM loop) in one scan, cached once.
    "dedup_minhash_pairs" -> { (s, d) =>
      import s.implicits._
      verifiedPairs(s, d).select($"da", $"db", round($"jac", 6).as("jaccard"))
    },

    // near-dup CLUSTER assignment: connected components over the
    // verified LSH pair edges. This is the step that turns pairwise
    // near-dups into "keep one doc per cluster" — min-label
    // propagation, O(component diameter) rounds, no driver state
    // (operators/ConnectedComponents.scala has the scale analysis).
    // CC runs at REPRESENTATIVE level (one vertex per distinct
    // content): pushing the expanded pair list through it would make
    // every iteration's join copy-quadratic on a replicated corpus.
    // Copies then inherit their rep's label — identical content is
    // same-cluster by definition (jac 1.0) — EXCEPT empty-shingle
    // docs, which verify to no pairs and stay singleton clusters, as
    // they did when the expanded edges carried no intra pairs for
    // them.
    "dedup_clusters" -> { (s, d) =>
      import s.implicits._
      val full = clusterLabelsOf(s, Tables(s, d, "documents"))
      val sizes = full.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
      full.join(sizes, Seq("label"))
        .select($"doc_id", $"label".as("cluster_id"),
          $"cluster_size", ($"doc_id" === $"label").as("is_canonical"))
    },

    // leakage-safe train/val/test split: the split key is the NEAR-DUP
    // CLUSTER, not the document — a doc-keyed hash split lets near-
    // duplicate pairs straddle train and eval, silently inflating
    // held-out metrics (the classic contamination-by-split bug).
    // Hashing the cluster label sends every member of a cluster to the
    // same side by construction. Same 100 TB shape as dedup_clusters
    // (LSH blocking + candidate-only verify + pointer-jumping CC);
    // the split itself adds zero shuffles — a map-side int predicate
    // on the already-computed label.
    "pipe_split_safe" -> { (s, d) =>
      import s.implicits._
      val full = clusterLabelsOf(s, Tables(s, d, "documents"))
      val h = ($"label" * 48271L) % 100L
      full.select($"doc_id", $"label".as("cluster_id"),
        when(h < 80, "train").when(h < 90, "val").otherwise("test")
          .as("split"))
    },

    // brute-force shingle-jaccard near-dups (oracle path for MinHash
    // recall; candidate generation by shared-shingle blocking —
    // quadratic in per-shingle document frequency, so QuadraticGuard
    // caps both input rows and the max blocking frequency;
    // dedup_minhash_pairs is the scale path)
    "dedup_jaccard_pairs" -> { (s, d) =>
      import s.implicits._
      val docsIn = Tables(s, d, "documents")
      graft.QuadraticGuard.assertSmallInput(s, docsIn,
        "dedup_jaccard_pairs", "dedup_minhash_pairs")
      val tri = docsIn
        .select($"doc_id", explode(shingles).as("g"))
      graft.QuadraticGuard.assertBlockingDf(s, tri, "g",
        "dedup_jaccard_pairs", "dedup_minhash_pairs")
      val sizes = tri.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val shared = tri.as("a")
        .join(tri.as("b"), $"a.g" === $"b.g" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(sizes.select($"doc_id".as("da"), $"n".as("na")), Seq("da"))
        .join(sizes.select($"doc_id".as("db"), $"n".as("nb")), Seq("db"))
        .withColumn("jac", $"shared".cast("double") / ($"na" + $"nb" - $"shared"))
        .filter($"jac" >= 0.5)
        .select($"da", $"db", round($"jac", 6).as("jaccard"))
    },

    // SimHash 24-bit signatures + banded near-pair search by Hamming
    // distance (one long per doc; bucket = high 12 bits).
    // The shingle-hash array is MATERIALIZED by a projection before the
    // 24 per-bit folds: each fold references col("hs"), so the
    // shingling+hashing subtree exists once in the plan. Inlining
    // `shingleHashes` into all 24 folds re-evaluated the shingling per
    // bit — 24 passes over every document's text (969 s for 500k sf10
    // docs; ~40 s materialized).
    "dedup_simhash" -> { (s, d) =>
      import s.implicits._
      simhashSig(Tables(s, d, "documents"))
    },

    "dedup_simhash_pairs" -> { (s, d) =>
      import s.implicits._
      // round-14: the signature frame is CACHED before the bucket
      // self-join. Without the materialization, the join's pushed-down
      // isnotnull(bucket) null filter INLINES the whole 24-fold simhash
      // expression — including the interpreted shingle HOF chain —
      // below the projection, re-evaluating 24 shingle passes per row
      // per join side (measured 207 s/run at sf0.1; 1.7 s cached).
      // Same materialize-before-self-join pattern as the minhash reps
      // cache; the cached frame is 16 bytes/doc.
      val sig = simhashSig(Tables(s, d, "documents"))
        .withColumn("bucket", ($"simhash" / lit(4096L)).cast("long"))
        .cache()
      val a = sig.select($"doc_id".as("da"), $"simhash".as("sa"), $"bucket")
      val b = sig.select($"doc_id".as("db"), $"simhash".as("sb"), $"bucket")
      a.join(b, Seq("bucket")).filter($"da" < $"db")
        .withColumn("hamming", bit_count($"sa".bitwiseXOR($"sb")))
        .filter($"hamming" <= 3)
        .select($"da", $"db", $"sa", $"sb", $"hamming")
    },

    // the sf100-DIFFERENTIAL twin of dedup_simhash_pairs (round-12
    // verdict #1, resolved round 13): the full row's output at sf100 is
    // 2,880,500,000 pairs (engine-counted — the complete banded join
    // RUNS at that scale; only the dump+compare of a 2.9B-row result
    // is beyond any single-host oracle). Pairs exist only WITHIN a
    // bucket, so a deterministic bucket subset (bucket % 41 == 7, ~1/41
    // of the 4096 buckets) is BUCKET-COMPLETE: every emitted pair is
    // bit-exact and every pair of the kept buckets is emitted — the
    // same per-key-exact sampling contract as win_ewm_keyed. ~70M
    // pairs at sf100: dump- and DuckDB-feasible.
    "dedup_simhash_pairs_sample" -> { (s, d) =>
      import s.implicits._
      // cached BEFORE the bucket-subset filter for the same
      // pushed-filter reason as dedup_simhash_pairs above: pushing
      // pmod(bucket, 41) below the projection would inline the 24-fold
      // simhash expression into the filter and re-evaluate the shingle
      // chain per row; over the cache the filter costs one long op
      val sig = simhashSig(Tables(s, d, "documents"))
        .withColumn("bucket", ($"simhash" / lit(4096L)).cast("long"))
        .cache()
        .filter(pmod($"bucket", lit(41L)) === 7)
      val a = sig.select($"doc_id".as("da"), $"simhash".as("sa"), $"bucket")
      val b = sig.select($"doc_id".as("db"), $"simhash".as("sb"), $"bucket")
      a.join(b, Seq("bucket")).filter($"da" < $"db")
        .withColumn("hamming", bit_count($"sa".bitwiseXOR($"sb")))
        .filter($"hamming" <= 3)
        .select($"da", $"db", $"sa", $"sb", $"hamming")
    },

    // exact substring-SPAN dedup (the "Deduplicating Training Data
    // Makes Language Models Better" ExactSubstr operator, Lee et al.
    // 2021, arXiv:2107.06499 — their single-machine suffix array
    // re-expressed as the distributed rolling-window form): every
    // stride-th 40-char window of every doc is keyed by md5, keys held
    // by >= 2 DISTINCT docs mark cross-corpus duplicated spans
    // (intra-doc repetition is txt_repetition's job), and each doc's
    // hit offsets are merged into maximal intervals with one
    // gaps-and-islands window, yielding per-doc duplicated-char
    // coverage — the quantity the removal step cuts.
    //
    // At 100 TB: the exploded frame is corpus_chars/stride rows of
    // (16-byte key, doc_id, offset). Round-15 (guide §2.4/§4.4): the
    // r14 shape tested "held by >= 2 distinct docs" with a
    // countDistinct aggregate + join-back, which evaluated the whole
    // scan+explode+md5 subtree TWICE (once per join side) — and each
    // copy paid md5 twice more via the inferred isnotnull(md5(..))
    // join-key filter below the projection (the §4.4 optimizer-
    // duplication pathology; 4 md5 passes total, see
    // plans/r15/dedup_substring_spans_before.txt). countDistinct >= 2
    // over non-null doc_id is exactly min(doc_id) != max(doc_id), so
    // the dup test is now a min/max window over sk on the ONE span
    // frame: md5 per span exactly once, one exchange of the span
    // frame by sk (its rows are key+3 longs — the heavy `text` never
    // crosses), no join. The interval-merge window partitions by
    // doc_id — per-doc state, no skew. md5 is used (not xxhash64) for
    // oracle parity; the 128-bit width also makes cross-doc hash
    // collisions a non-issue at corpus scale.
    "dedup_substring_spans" -> { (s, d) =>
      import s.implicits._
      val k = 40
      val stride = 10
      val spans = Tables(s, d, "documents")
        .filter(length($"text") >= k)
        .select($"doc_id", $"n_chars", $"text",
          explode(sequence(lit(0), length($"text") - k, lit(stride))).as("off"))
        .select($"doc_id", $"n_chars", $"off",
          md5($"text".substr($"off" + lit(1), lit(k))).as("sk"))
      val wSk = org.apache.spark.sql.expressions.Window.partitionBy($"sk")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"off")
      val prevEnd = max($"off" + k)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val islands = spans
        .withColumn("dup",
          min($"doc_id").over(wSk) =!= max($"doc_id").over(wSk))
        .filter($"dup")
        .drop("dup")
        .withColumn("new_isl",
          when(prevEnd.isNull || prevEnd < $"off", 1).otherwise(0))
        .withColumn("isl", sum($"new_isl").over(w))
      islands
        .groupBy($"doc_id", $"n_chars", $"isl")
        .agg(count(lit(1)).as("nsp"), min($"off").as("st"),
          (max($"off") + k).as("en"))
        .groupBy($"doc_id", $"n_chars")
        .agg(sum($"nsp").as("n_dup_spans"),
          count(lit(1)).as("n_intervals"),
          sum($"en" - $"st").as("dup_chars"))
        .select($"doc_id", $"n_dup_spans", $"n_intervals", $"dup_chars",
          round($"dup_chars".cast("double") / $"n_chars", 6).as("dup_ratio"))
    },

    // incremental-ingest dedup: a new batch arrives against a standing
    // corpus ("history"). At 100 TB history dwarfs the batch, so the
    // anti-join must NOT shuffle history against every batch row:
    // a Bloom filter over history's content hashes (distributed build,
    // functions/BloomExprs.scala) splits the batch MAP-SIDE into
    // definitely-new rows (no false negatives -> skip the join
    // entirely) and maybe-seen candidates; only the candidates — true
    // dups + the fpp tail — reach the exact anti-join. Result is
    // exactly the plain anti-join's, which is what the oracle runs.
    // (history/batch split = doc_id mod 3 to keep the fixture
    // deterministic at any scale factor)
    "dedup_incremental" -> { (s, d) =>
      import s.implicits._
      val docs = Tables(s, d, "documents")
      val hist = docs.filter($"doc_id" % 3 =!= 0)
      val batch = docs.filter($"doc_id" % 3 === 0)
      // Bloom capacity from parquet footer metadata (driver-side, no
      // cluster job) — the table total is an upper bound on |hist|;
      // oversizing a Bloom only lowers its fpp. The previous
      // hist.count() here was a second full pass over 100 TB history.
      val cap = math.max(1L, Tables.footerRowCount(s, d, "documents"))
      val bytes = graft.functions.BloomExprs.buildBytes(
        hist.select(xxhash64($"text").as("k")), "k", cap)
      val probed = batch.select($"doc_id", $"text",
        call_function("graft_bloom_contains",
          lit(bytes), xxhash64($"text")).as("maybe_seen"))
      val fresh = probed.filter(!$"maybe_seen")
      val candidates = probed.filter($"maybe_seen")
      val survivors = candidates
        .join(hist.select(md5($"text").as("hd")).distinct(),
          md5(candidates("text")) === col("hd"), "left_anti")
        .unionByName(fresh)
      // intra-batch dedup on the survivors: canonical keep per digest
      survivors.groupBy(md5($"text").as("digest"))
        .agg(min($"doc_id").as("keep_doc"), count(lit(1)).as("n_in_batch"))
    }
  )

  def oracle: Map[String, String] = {
    val simhashBitsSql = (0 until 24).map { j =>
      val p2 = 1L << j
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(hs, h -> ((h // $p2) % 2) * 2 - 1)), (a, b) -> a + b) >= 0 " +
        s"THEN CAST($p2 AS BIGINT) ELSE 0 END"
    }.mkString(" + ")

    Map(
      "dedup_exact_rows" ->
        """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           l_shipdate, COUNT(*) AS multiplicity
           FROM lineitem
           GROUP BY ALL HAVING COUNT(*) > 1""",

      "dedup_exact_md5" ->
        """SELECT md5(text) AS digest, MIN(doc_id) AS keep_doc, COUNT(*) AS n_docs
           FROM documents GROUP BY 1""",

      "dedup_normalized" ->
        """WITH n AS (
             SELECT doc_id, text,
               trim(regexp_replace(regexp_replace(
                 lower(nfc_normalize(text)),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
             FROM documents)
           SELECT md5(norm) AS digest, MIN(doc_id) AS keep_doc,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT md5(text)) AS n_raw_variants
           FROM n GROUP BY 1""",

      "dedup_keep_best" ->
        """WITH k AS (
             SELECT doc_id, n_chars,
               array_to_string((string_split(text, ' '))[1:3], ' ') AS prefix_key
             FROM documents),
           r AS (
             SELECT prefix_key, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY prefix_key
                 ORDER BY n_chars DESC, doc_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY prefix_key) AS n_docs
             FROM k)
           SELECT prefix_key, doc_id AS keep_doc, n_chars AS keep_chars, n_docs
           FROM r WHERE rn = 1""",

      "dedup_segments" ->
        """WITH w AS (
             SELECT doc_id, string_split(text, ' ') AS ws,
               CAST(ceil(len(string_split(text, ' ')) / 20.0) AS BIGINT) AS n_segs
             FROM documents),
           seg AS (
             SELECT doc_id, n_segs, ws,
               UNNEST(range(0, n_segs)) AS k
             FROM w),
           seg2 AS (
             SELECT doc_id, n_segs, k,
               array_to_string(list_slice(ws, k * 20 + 1,
                 least(k * 20 + 20, len(ws))), ' ') AS seg_text
             FROM seg),
           ranked AS (
             SELECT doc_id, k, seg_text,
               ROW_NUMBER() OVER (PARTITION BY seg_text
                                  ORDER BY doc_id, k) AS rn
             FROM seg2),
           kept AS (
             SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(seg_text, ' ' ORDER BY k)) AS dedup_md5
             FROM ranked WHERE rn = 1 GROUP BY doc_id)
           SELECT d.doc_id, d.n_segs,
             COALESCE(kept.n_kept, 0) AS n_kept, kept.dedup_md5
           FROM w d LEFT JOIN kept USING (doc_id)""",

      "dedup_minhash_sig" ->
        s"""WITH $sigCte SELECT doc_id, n_shingles,
            ${(0 until NumBands).map(b => s"band$b").mkString(", ")} FROM sig""",

      "dedup_minhash_pairs" ->
        s"""WITH $pairs64Cte
           SELECT da, db, ROUND(jac, 6) AS jaccard FROM pairs""",

      "dedup_clusters" ->
        s"""WITH RECURSIVE $pairs64Cte,
           edges AS (SELECT da AS s, db AS t FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(doc, root) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT e.t, r.root FROM reach r JOIN edges e ON e.s = r.doc),
           comp AS (SELECT doc, MIN(root) AS cluster_id FROM reach GROUP BY doc)
           SELECT doc AS doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
             (doc = cluster_id) AS is_canonical
           FROM comp""",

      "pipe_split_safe" ->
        s"""WITH RECURSIVE $pairs64Cte,
           edges AS (SELECT da AS s, db AS t FROM pairs
                     UNION ALL SELECT db, da FROM pairs),
           reach(doc, root) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT e.t, r.root FROM reach r JOIN edges e ON e.s = r.doc),
           comp AS (SELECT doc, MIN(root) AS cluster_id FROM reach GROUP BY doc)
           SELECT doc AS doc_id, cluster_id,
             CASE WHEN (cluster_id * 48271) % 100 < 80 THEN 'train'
                  WHEN (cluster_id * 48271) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
           FROM comp""",

      "dedup_jaccard_pairs" ->
        s"""WITH docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
           tri AS (SELECT doc_id, unnest(sh) AS g FROM docs),
           sz AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY 1),
           shared AS (
             SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
             FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
           SELECT da, db,
             ROUND(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
           FROM shared s
           JOIN sz sa ON s.da = sa.doc_id
           JOIN sz sb ON s.db = sb.doc_id
           WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5""",

      "dedup_simhash" ->
        s"""WITH docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
           hsh AS (SELECT doc_id, $hashesSql AS hs FROM docs)
           SELECT doc_id, $simhashBitsSql AS simhash FROM hsh""",

      "dedup_simhash_pairs" ->
        s"""WITH docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
           hsh AS (SELECT doc_id, $hashesSql AS hs FROM docs),
           sig AS (SELECT doc_id, $simhashBitsSql AS simhash FROM hsh),
           sb AS (SELECT doc_id, simhash, simhash // 4096 AS bucket FROM sig)
           SELECT a.doc_id AS da, b.doc_id AS db,
             a.simhash AS sa, b.simhash AS sb,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
           FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

      // bucket-complete deterministic subset — see the query's scaladoc
      "dedup_simhash_pairs_sample" ->
        s"""WITH docs AS (SELECT doc_id, $shinglesSql AS sh FROM documents),
           hsh AS (SELECT doc_id, $hashesSql AS hs FROM docs),
           sig AS (SELECT doc_id, $simhashBitsSql AS simhash FROM hsh),
           sb AS (SELECT doc_id, simhash, simhash // 4096 AS bucket FROM sig
                  WHERE (simhash // 4096) % 41 = 7)
           SELECT a.doc_id AS da, b.doc_id AS db,
             a.simhash AS sa, b.simhash AS sb,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
           FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

      // Spark sequence(0, stop, 10) includes stop; DuckDB range's upper
      // bound is exclusive, hence stop + 1
      "dedup_substring_spans" ->
        """WITH d AS (
             SELECT doc_id, n_chars, text FROM documents
             WHERE LENGTH(text) >= 40),
           sp AS (
             SELECT doc_id, n_chars, text,
               UNNEST(range(0, LENGTH(text) - 40 + 1, 10)) AS off
             FROM d),
           keyed AS (
             SELECT doc_id, n_chars, off,
               md5(SUBSTR(text, off + 1, 40)) AS sk
             FROM sp),
           dk AS (
             SELECT sk FROM keyed
             GROUP BY sk HAVING COUNT(DISTINCT doc_id) >= 2),
           dup AS (SELECT keyed.* FROM keyed JOIN dk USING (sk)),
           isl AS (
             SELECT doc_id, n_chars, off,
               CASE WHEN max(off + 40) OVER (
                      PARTITION BY doc_id ORDER BY off
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                 OR max(off + 40) OVER (
                      PARTITION BY doc_id ORDER BY off
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) < off
                 THEN 1 ELSE 0 END AS new_isl
             FROM dup),
           isl2 AS (
             SELECT doc_id, n_chars, off,
               CAST(SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY off) AS BIGINT) AS isl
             FROM isl),
           m AS (
             SELECT doc_id, n_chars, isl,
               COUNT(*) AS nsp, MIN(off) AS st, MAX(off) + 40 AS en
             FROM isl2 GROUP BY 1, 2, 3)
           SELECT doc_id,
             CAST(SUM(nsp) AS BIGINT) AS n_dup_spans,
             COUNT(*) AS n_intervals,
             CAST(SUM(en - st) AS BIGINT) AS dup_chars,
             ROUND(CAST(SUM(en - st) AS DOUBLE) / n_chars, 6) AS dup_ratio
           FROM m GROUP BY doc_id, n_chars""",

      "dedup_incremental" ->
        """SELECT md5(text) AS digest, MIN(doc_id) AS keep_doc,
           COUNT(*) AS n_in_batch
           FROM documents
           WHERE doc_id % 3 = 0
             AND md5(text) NOT IN (
               SELECT md5(text) FROM documents WHERE doc_id % 3 <> 0)
           GROUP BY 1"""
    )
  }
}
