package graft.pipeline

import graft.{QueryModule, Tables}
import graft.functions.PortableHash._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language-ID
  * heuristic, quality scoring, token counting, document
  * fingerprinting. All map-side scalar expressions (codegen'd HOFs and
  * regexps, no UDFs) — at 100 TB these run in the scan stage with zero
  * shuffles.
  */
object TextQueries extends QueryModule {

  /** marker-word lists for the n-gram language heuristic */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "les", "et"))

  private def words: Column = split(col("text"), " ")

  /** gradient-descent iterations for txt_lr_train (mirrored by the
    * unrolled oracle CTE chain) */
  private val LrIters = 3

  /** adjacent word pairs as "w1 w2" strings, map-side */
  private def bigramsOf(w: Column): Column =
    transform(sequence(lit(1), size(w) - 1),
      i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))

  private val bigramsSql: String =
    "list_transform(range(1, len(string_split(text, ' '))), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])"

  private def markerCount(ws: Seq[String]): Column =
    aggregate(words, lit(0L),
      (acc, w) => acc + when(w.isin(ws.map(lit): _*), 1L).otherwise(0L))

  private def markerCountSql(ws: Seq[String]): String = {
    val inList = ws.map(w => s"'$w'").mkString(", ")
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(text, ' '), w -> CASE WHEN w IN ($inList) THEN 1 ELSE 0 END)), " +
      s"(a, b) -> a + b)"
  }

  def queries: Map[String, Q] = Map(
    // language-ID: marker-word scores + argmax guess (fixed tiebreak
    // order), compared against the labeled lang
    "txt_langid" -> { (s, d) =>
      import s.implicits._
      // round-14: the four marker counts come from ONE codegen'd byte
      // scan (MarkerScores) instead of four interpreted split+fold
      // HOF passes — same values (MarkerScanSpec pins equivalence)
      val ms = call_function("graft_marker_scores", $"text")
      val scored = Tables(s, d, "documents")
        .select(($"doc_id" +: $"lang".as("label_lang") +:
          Markers.map { case (l, _) => ms.getField(s"score_$l").as(s"score_$l") }): _*)
      val best = Markers.map(m => col(s"score_${m._1}")).reduce(greatest(_, _))
      val guess = Markers.foldRight(lit("und")) { case ((l, _), acc) =>
        when(col(s"score_$l") === best && best > 0, l).otherwise(acc)
      }
      // foldRight so earlier languages win ties (en > es > de > fr)
      scored.withColumn("guess", guess)
    },

    // quality scoring: length/word/stopword/punctuation ratios + a
    // composite score (deterministic double arithmetic)
    "txt_quality" -> { (s, d) =>
      import s.implicits._
      // round-14: word count and the stopword count (the four DISJOINT
      // marker lists, so the union count is the sum of the per-list
      // counts) from one codegen'd byte scan instead of interpreted
      // split+fold HOFs
      val ms = call_function("graft_marker_scores", $"text")
      val nWords = ms.getField("n_words").cast("double")
      val nChars = length($"text").cast("double")
      val stop = (ms.getField("score_en") + ms.getField("score_es") +
        ms.getField("score_de") + ms.getField("score_fr")).cast("double")
      Tables(s, d, "documents")
        .select($"doc_id",
          nChars.as("n_chars_d"),
          nWords.as("n_words"),
          round((nChars - nWords + 1) / nWords, 6).as("avg_word_len"),
          round(stop / nWords, 6).as("stopword_ratio"),
          round(least(nWords / 100.0, lit(1.0)) * (lit(1.0) - stop / nWords), 6)
            .as("quality_score"))
    },

    // model-based quality filtering — the learned-classifier step of a
    // curation pipeline (fastText/DSIR-style quality models; pandas
    // has no analogue). The weight vector stands in for a trained
    // model's and would arrive as a broadcast at scale; scoring is
    // pure map-side feature arithmetic + dot product. The score stays
    // in LOGIT space: the keep decision (z > 0) is threshold-identical
    // to sigmoid(z) > 0.5 but avoids exp(), whose last-ulp differences
    // across libm implementations the cross-engine hash would catch.
    // Every feature and the accumulation are plain IEEE ops evaluated
    // in the same left-to-right order in both engines — bit-identical
    // without any decimal-sum machinery.
    "txt_quality_lr" -> { (s, d) =>
      import s.implicits._
      // round-14: n_words + en-marker count via the MarkerScores kernel
      val ms = call_function("graft_marker_scores", $"text")
      val nWords = ms.getField("n_words").cast("double")
      val nChars = length($"text").cast("double")
      val stopR = ms.getField("score_en").cast("double") / nWords
      val awl = (nChars - nWords + 1) / nWords
      val lenF = least(nWords / 100.0, lit(1.0))
      val distR = size(array_distinct(words)).cast("double") / nWords
      val z = lit(-2.0) + lit(3.0) * stopR + lit(0.1) * awl +
        lit(1.5) * lenF + lit(1.0) * distR
      Tables(s, d, "documents")
        .select($"doc_id", round(z, 6).as("quality_logit"),
          (z > 0.0).as("keep"))
    },

    // Distributed TRAINING of the quality/language classifier that
    // txt_quality_lr only scores with: batch gradient-descent logistic
    // regression (label: lang == 'en') over surface features. Each
    // iteration is ONE map-side scan + a 5-long partial-aggregating
    // hash aggregate — the weight vector (O(d) doubles) is the only
    // driver state, re-broadcast as literals; the feature frame is
    // cached across the K=3 iterations. At 100 TB this is exactly a
    // parameter-server round with d=5: gradients tree-reduce, rows
    // never move.
    //
    // Cross-engine determinism (the hash gate) is engineered, not
    // hoped for: (a) the activation is the RATIONAL fast sigmoid
    // 0.5*(1 + z/(1+|z|)) — same keep-threshold semantics, but +,*,/
    // and abs are IEEE-exact in both engines, unlike exp() whose
    // last-ulp varies across libm builds; (b) per-row gradient
    // contributions are QUANTIZED to 1e-6 grid integers (floor) and
    // summed as int64 — order-independent exact sums, the same trick
    // as gradient-quantization in distributed training; (c) every
    // weight update uses only IEEE ops on exactly-representable
    // integers, so the unrolled DuckDB mirror reproduces the weights
    // bit-for-bit.
    "txt_lr_train" -> { (s, d) =>
      import s.implicits._
      val ms = call_function("graft_marker_scores", $"text")
      val nw = ms.getField("n_words").cast("double")
      val nc = length($"text").cast("double")
      val feats = Tables(s, d, "documents").select(
        $"doc_id",
        (ms.getField("score_en").cast("double") / nw).as("x1"),
        ((nc - nw + 1) / nw).as("x2"),
        least(nw / 100.0, lit(1.0)).as("x3"),
        (size(array_distinct(words)).cast("double") / nw).as("x4"),
        when($"lang" === "en", 1.0).otherwise(0.0).as("y"))
      val cached = feats.cache()
      val n = cached.count()
      def zOf(w: Array[Double]): Column =
        lit(w(0)) + lit(w(1)) * $"x1" + lit(w(2)) * $"x2" +
          lit(w(3)) * $"x3" + lit(w(4)) * $"x4"
      def sigOf(z: Column): Column =
        lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))
      var w = Array.fill(5)(0.0)
      val xs = Seq(lit(1.0), $"x1", $"x2", $"x3", $"x4")
      for (_ <- 1 to LrIters) {
        val r = sigOf(zOf(w)) - $"y"
        val g = cached.select(xs.zipWithIndex.map { case (x, j) =>
          sum(floor(r * x * lit(1000000.0))).as(s"g$j") }: _*).head()
        w = Array.tabulate(5)(j =>
          w(j) - 0.5 * (g.getLong(j).toDouble / n.toDouble) / 1000000.0)
      }
      val out = cached.select($"doc_id",
        (round(sigOf(zOf(w)), 6) + 0.0).as("score"),
        (sigOf(zOf(w)) > 0.5).as("pred"), $"y")
      cached.unpersist()
      out
    },

    // token counting: whitespace tokens + BPE-ish regex token count +
    // distinct-token ratio
    "txt_tokens" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          size(words).as("ws_tokens"),
          // codegen'd single-pass scan ≡ regexp_count(text,
          // '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'); TokenScanSpec pins the
          // equivalence, the DuckDB oracle still runs the regex
          expr("graft_token_count(text)").as("re_tokens"),
          size(array_distinct(words)).as("distinct_tokens"),
          round(size(array_distinct(words)).cast("double") / size(words), 6)
            .as("ttr"))
    },

    // tokenizer fertility per language: BPE-ish tokens per whitespace
    // word and chars per token — the standard multilingual budget
    // metric (CJK fertility blows up under latin-centric tokenizers,
    // inflating its share of any token-denominated budget). Sums are
    // exact int64 so the final two divisions are bit-identical across
    // engines; one tiny |langs|-row aggregate, all counting map-side
    // via the codegen'd TokenScan kernel.
    "txt_fertility" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"lang", $"n_chars",
          expr("graft_token_count(text)").as("re_tokens"),
          size(words).as("ws_tokens"))
        .groupBy($"lang")
        .agg(
          sum($"re_tokens").as("tokens"),
          sum($"ws_tokens").as("words_n"),
          sum($"n_chars").as("chars_n"))
        .select($"lang", $"tokens", $"words_n",
          round($"tokens".cast("double") / $"words_n", 6).as("fertility"),
          round($"chars_n".cast("double") / $"tokens", 6).as("chars_per_token"))
    },

    // stratified sampling for training-data balancing: cap each
    // language at ~Cap docs via a per-group Bernoulli rate
    // (rate = Cap/n_lang). The per-lang counts are one tiny aggregate
    // broadcast back; the keep decision is then a pure map-side
    // integer predicate on a deterministic hash — no per-group window,
    // no skewed lang partitions, reproducible run to run. (The exact-
    // cap variant is the agg_group_head window shape; at 100 TB this
    // rate form is the one that scales, and the cap is honored in
    // expectation.)
    "txt_stratified_sample" -> { (s, d) =>
      import s.implicits._
      val Cap = 60L
      val M = 1000000L
      val counts = Tables(s, d, "documents")
        .groupBy($"lang").agg(count(lit(1)).as("n_lang"))
      Tables(s, d, "documents")
        .join(broadcast(counts), Seq("lang"))
        .withColumn("h", ($"doc_id" * 48271L) % M)
        .filter($"h" * $"n_lang" < Cap * M)
        .select($"doc_id", $"lang", $"n_lang", $"h")
    },

    // document fingerprint: portable rolling hash of the whole text +
    // md5 digest (both engine-portable)
    "txt_fingerprint" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          wordHash($"text").as("poly_fp"),
          md5($"text").as("md5_fp"),
          substring(md5($"text"), 1, 8).as("md5_short"))
    },

    // corpus bigram frequency (the classic n-gram LM / contamination-
    // check primitive): bigrams are generated map-side per document
    // with a codegen'd transform — the only shuffle is the count
    // aggregation on the bigram key, partial-aggregated map-side, so
    // cost scales with distinct bigrams, not corpus size
    "txt_bigrams" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"lang", explode(bigramsOf(words)).as("bigram"))
        .groupBy($"lang", $"bigram")
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= 20)
    },

    // PII / sensitive-term scrub: word-boundary regex rewrite, pure
    // map-side (the patterns are config — emails/phones/IDs in a real
    // corpus; a term here since the synthetic text is digit-free). The
    // md5 of the redacted text pins exact cross-engine parity of the
    // rewrite itself, not just its length.
    "txt_redact" -> { (s, d) =>
      import s.implicits._
      val redacted = regexp_replace($"text", "\\bcustomer\\b", "<REDACTED>")
      Tables(s, d, "documents")
        .select($"doc_id",
          length($"text").as("len_raw"),
          length(redacted).as("len_redacted"),
          md5(redacted).as("redacted_md5"))
    },

    // Gopher-style repetition quality rule: duplicate-bigram fraction
    // per document, all map-side array arithmetic. NO round() on the
    // ratio: the ints are exact and both engines run the identical
    // int->double division, while rounding a value like k/128 (exactly
    // .xxxxx5 at the 6th decimal) diverges between the engines'
    // rounding paths — same lesson as ts_timedelta_stats.
    "txt_repetition" -> { (s, d) =>
      import s.implicits._
      val b = bigramsOf(words)
      Tables(s, d, "documents")
        .select($"doc_id",
          size(b).as("n_bigrams"),
          size(array_distinct(b)).as("n_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - $"n_distinct" / $"n_bigrams")
    },

    // the BPE tokenizer-training inner loop, distributed: count
    // adjacent character pairs weighted by word frequency (the
    // highest-count pair is the next merge). Word counts first — the
    // classic optimization, pairs then weigh by word frequency
    // instead of rescanning the corpus — so the heavy corpus scan
    // feeds one tiny distinct-word aggregate; pair explosion runs
    // over the vocabulary, not the corpus.
    "txt_bpe_pairs" -> { (s, d) =>
      import s.implicits._
      val wc = Tables(s, d, "documents")
        .select(explode(words).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("wc"))
        .filter(length($"w") >= 2)
      wc.select($"wc", explode(
          transform(sequence(lit(1), length($"w") - 1),
            i => $"w".substr(i, lit(2)))).as("pair"))
        .groupBy($"pair").agg(sum($"wc").as("n"))
        .orderBy($"n".desc, $"pair".asc)
        .limit(20)
    },

    // inverted index build (retrieval infrastructure over the corpus):
    // word -> document frequency + the head of the sorted posting
    // list. One distinct + one groupBy — both partial-aggregated;
    // posting lists are capped at 20 ids so no group's state grows
    // with corpus size (a real index would shard the full list).
    "txt_inverted_index" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id", explode(words).as("w"))
        .distinct()
        .groupBy($"w")
        .agg(count(lit(1)).as("df_docs"),
          array_join(
            transform(slice(sort_array(collect_list($"doc_id")), 1, 20),
              x => x.cast("string")), ",").as("posting_head"))
    },

    // frequency-based quality signal: out-of-vocabulary ratio against
    // a vocabulary DISCOVERED from the corpus itself (top-k words by
    // count, deterministic count-desc/word-asc tiebreak — in
    // production, the tokenizer vocab). Two aggregations: the vocab
    // build shuffles distinct-word counts (tiny), then a broadcast
    // membership join back; the per-doc ratio is one more partial agg.
    // No round() on the ratio — exact int counts, identical division
    // both engines (txt_repetition lesson).
    "txt_oov_quality" -> { (s, d) =>
      import s.implicits._
      val wx = Tables(s, d, "documents")
        .select($"doc_id", explode(words).as("w"))
      val vocab = wx.groupBy($"w").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"w".asc).limit(10)
        .select($"w")
      wx.join(broadcast(vocab.withColumn("iv", lit(1))), Seq("w"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(coalesce($"iv", lit(0))).as("n_invocab"))
        .withColumn("oov_ratio", lit(1.0) - $"n_invocab" / $"n_tok")
    },

    // benchmark decontamination: flag documents sharing any frequent
    // English bigram with the "benchmark" set (here: the en bigrams
    // with corpus count >= 20 — in production, the eval suite's
    // n-grams). The benchmark side is small by construction ->
    // broadcast semi-ish join; the corpus side explodes map-side, so
    // the only wide operation is the final per-doc count aggregation.
    "txt_contamination" -> { (s, d) =>
      import s.implicits._
      // round-14: ONE cached exploded-bigram frame feeds both the
      // benchmark-side counts and the corpus side — previously the
      // interpreted bigram HOF + explode ran twice (once per side)
      val inst = Tables(s, d, "documents")
        .select($"doc_id", $"lang", explode(bigramsOf(words)).as("bigram"))
        .cache()
      val bench = inst
        .filter($"lang" === "en")
        .groupBy($"bigram").agg(count(lit(1)).as("bn"))
        .filter($"bn" >= 20)
        .select($"bigram")
      inst.select($"doc_id", $"bigram")
        .join(broadcast(bench), Seq("bigram"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"))
    },

    // DSIR-style importance weights (Data Selection via Importance
    // Resampling, Xie et al. 2023, arXiv:2302.03169): score every raw
    // doc by how target-like its hashed-unigram distribution is.
    // Features = wordHash(w) mod 256 buckets; target = the labeled-'en'
    // slice; weight(doc) = sum over tokens of
    // ln p_target(bucket) - ln p_raw(bucket), add-1 smoothed. The two
    // bucket tables are 256 rows (BROADCAST — model statistics never
    // shuffle with the corpus, the DSIR scale property); the per-doc
    // reduction is one partial-aggregating groupBy over (doc_id,
    // rounded-decimal term). Cross-engine float discipline: each
    // bucket's log-ratio is ROUND(ln,8)-differenced and summed as
    // DECIMAL(38,8), so shuffle order and libm ulps can't move the
    // output; `kept` (weight > 0 = more target-like than the raw
    // average) is then exact. The resampling step itself is
    // txt_stratified_sample's deterministic-hash keep pattern.
    "txt_dsir_weights" -> { (s, d) =>
      import s.implicits._
      val B = 256
      val inst = Tables(s, d, "documents")
        .select($"doc_id", $"lang", explode(words).as("w"))
        .withColumn("b", wordHash($"w") % B)
      val totals = inst.agg(
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("t_total"),
        count(lit(1)).as("r_total"))
      val cnt = inst.groupBy($"b").agg(
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("tc"),
        count(lit(1)).as("rc"))
      // decimal(18,8): wide enough for any ln-ratio, narrow enough that
      // the difference keeps scale 8 in BOTH engines (38,8 +/- 38,8
      // would trip Spark's precision-loss scale reduction to 7 while
      // DuckDB keeps 8 — a silent cross-engine divergence)
      val lr = cnt.crossJoin(broadcast(totals))
        .select($"b",
          (round(log(($"tc" + 1).cast("double") / ($"t_total" + B)), 8)
            .cast("decimal(18,8)") -
           round(log(($"rc" + 1).cast("double") / ($"r_total" + B)), 8)
            .cast("decimal(18,8)")).as("lr"))
      inst.join(broadcast(lr), Seq("b"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"lr").as("w_raw"))
        .select($"doc_id", $"n_tokens",
          // round the exact DECIMAL, then cast: at sf100 one thousand
          // docs' scale-8 sums landed exactly on a half at 6dp, and
          // double-space rounding diverged across engines (Spark
          // rounds the shortest decimal string, DuckDB the binary
          // value) — the only mismatch of the round-10 differential
          round($"w_raw", 6).cast("double").as("dsir_weight"),
          ($"w_raw" > 0).as("kept"))
    },

    // per-source distribution drift: KL(p_source || p_corpus) over the
    // same hashed-unigram buckets, add-1 smoothed — the pipeline-health
    // metric that flags a source whose token distribution diverges from
    // the corpus (a scraper gone wrong, a format change, an injected
    // spam burst). Count tables are O(sources x 256) and the corpus
    // table O(256) — both vocabulary-scale; the only corpus-sized work
    // is the one exploding scan that feeds the partial-aggregating
    // counts. KL terms: (sc+1) * (ROUND(ln p_s,8) - ROUND(ln p,8))
    // summed as exact decimals, divided by the source mass once at the
    // end — deterministic across engines and shuffle orders. Buckets a
    // source never emits still carry smoothed mass via the full
    // (source x bucket) grid (a tiny cross join).
    "txt_kl_drift" -> { (s, d) =>
      import s.implicits._
      val B = 256
      val inst = Tables(s, d, "documents")
        .select($"source", explode(words).as("w"))
        .withColumn("b", wordHash($"w") % B)
      val corpus = inst.groupBy($"b").agg(count(lit(1)).as("rc"))
      val rTotal = inst.agg(count(lit(1)).as("r_total"))
      val srcCnt = inst.groupBy($"source", $"b").agg(count(lit(1)).as("sc"))
      val srcTotal = inst.groupBy($"source").agg(count(lit(1)).as("s_total"))
      val grid = srcTotal.crossJoin(broadcast(corpus))
        .join(srcCnt, Seq("source", "b"), "left")
        .na.fill(0L, Seq("sc"))
        .crossJoin(broadcast(rTotal))
      // decimal(18,8) lns -> difference decimal(19,8) recast to (18,8)
      // (exact: |diff| < 10^10) x count decimal(19,0) = decimal(38,8)
      // with NO precision-loss rescale in either engine
      val lnPs = round(log(($"sc" + 1).cast("double") / ($"s_total" + B)), 8)
        .cast("decimal(18,8)")
      val lnP = round(log(($"rc" + 1).cast("double") / ($"r_total" + B)), 8)
        .cast("decimal(18,8)")
      grid
        .select($"source", $"s_total",
          (($"sc" + 1).cast("decimal(19,0)") *
            (lnPs - lnP).cast("decimal(18,8)")).as("term"))
        .groupBy($"source", $"s_total")
        .agg(sum($"term").as("klsum"))
        .select($"source", $"s_total".as("n_tokens"),
          round($"klsum".cast("double") / ($"s_total" + B), 6).as("kl_drift"))
    }
  )

  /** Unrolled-CTE DuckDB mirror of txt_lr_train's K gradient-descent
    * iterations: wK holds the weights after iteration K; every
    * arithmetic step reproduces the Spark side's IEEE operation order
    * exactly (see the query's scaladoc for the determinism design). */
  private def lrTrainSql: String = {
    def zOf(w: String) =
      s"($w.b + $w.c1 * x1 + $w.c2 * x2 + $w.c3 * x3 + $w.c4 * x4)"
    def sigOf(z: String) = s"0.5 * (1.0 + $z / (1.0 + ABS($z)))"
    val xsSql = Seq("1.0", "x1", "x2", "x3", "x4")
    val iterCtes = (1 to LrIters).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      val r = s"(${sigOf(zOf(prev))} - y)"
      val gs = xsSql.zipWithIndex.map { case (x, j) =>
        s"SUM(CAST(FLOOR($r * $x * 1000000.0) AS BIGINT)) AS g$j"
      }.mkString(", ")
      val ws = Seq("b", "c1", "c2", "c3", "c4").zipWithIndex.map {
        case (c, j) =>
          s"$prev.$c - 0.5 * (CAST(g$k.g$j AS DOUBLE) / nn.n) / 1000000.0 AS $c"
      }.mkString(", ")
      s"""g$k AS (SELECT $gs FROM f CROSS JOIN $prev),
         w$k AS (SELECT $ws FROM $prev CROSS JOIN g$k CROSS JOIN nn)"""
    }.mkString(",\n         ")
    s"""WITH f AS (
         SELECT doc_id,
           CAST(${markerCountSql(Seq("the", "a", "of"))} AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x1,
           (CAST(LENGTH(text) AS DOUBLE)
             - CAST(len(string_split(text, ' ')) AS DOUBLE) + 1)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
           LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) AS x3,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x4,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
         FROM documents),
       nn AS (SELECT COUNT(*) AS n FROM f),
       w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS c1,
                     CAST(0.0 AS DOUBLE) AS c2, CAST(0.0 AS DOUBLE) AS c3,
                     CAST(0.0 AS DOUBLE) AS c4),
       $iterCtes
       SELECT doc_id,
         ROUND(${sigOf(zOf(s"w$LrIters"))}, 6) + 0.0 AS score,
         ${sigOf(zOf(s"w$LrIters"))} > 0.5 AS pred, y
       FROM f CROSS JOIN w$LrIters"""
  }

  def oracle: Map[String, String] = {
    val bestSql = Markers.map(m => s"score_${m._1}")
      .reduceRight((a, b) => s"GREATEST($a, $b)")
    val guessSql = Markers.reverse.foldLeft("'und'") { case (acc, (l, _)) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    Map(
      "txt_langid" ->
        s"""WITH scored AS (
             SELECT doc_id, lang AS label_lang,
               ${Markers.map { case (l, ws) => s"${markerCountSql(ws)} AS score_$l" }.mkString(", ")}
             FROM documents),
           b AS (SELECT *, $bestSql AS best FROM scored)
           SELECT doc_id, label_lang,
             ${Markers.map(m => s"score_${m._1}").mkString(", ")},
             $guessSql AS guess
           FROM b""",

      "txt_quality" ->
        s"""SELECT doc_id,
           CAST(LENGTH(text) AS DOUBLE) AS n_chars_d,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
           ROUND((CAST(LENGTH(text) AS DOUBLE) - len(string_split(text, ' ')) + 1)
             / len(string_split(text, ' ')), 6) AS avg_word_len,
           ROUND(CAST(${markerCountSql(Markers.flatMap(_._2))} AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS stopword_ratio,
           ROUND(LEAST(len(string_split(text, ' ')) / 100.0, 1.0)
             * (1.0 - CAST(${markerCountSql(Markers.flatMap(_._2))} AS DOUBLE)
                / len(string_split(text, ' '))), 6) AS quality_score
           FROM documents""",

      // same feature formulas and left-to-right accumulation order as
      // the Spark side — plain IEEE arithmetic, bit-identical
      "txt_quality_lr" ->
        s"""WITH f AS (
             SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS nw,
               CAST(LENGTH(text) AS DOUBLE) AS nc,
               CAST(${markerCountSql(Seq("the", "a", "of"))} AS DOUBLE) AS stop,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd
             FROM documents),
           z AS (
             SELECT doc_id,
               -2.0 + 3.0 * (stop / nw) + 0.1 * ((nc - nw + 1) / nw)
                 + 1.5 * LEAST(nw / 100.0, 1.0) + 1.0 * (nd / nw) AS z
             FROM f)
           -- + 0.0 folds DuckDB's ROUND(-1e-9, 6) = -0.0 to the +0.0
           -- Spark's round produces (IEEE: -0.0 + 0.0 = +0.0)
           SELECT doc_id, ROUND(z, 6) + 0.0 AS quality_logit, z > 0 AS keep
           FROM z""",

      "txt_lr_train" -> lrTrainSql,

      "txt_tokens" ->
        """SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS re_tokens,
           len(list_distinct(string_split(text, ' '))) AS distinct_tokens,
           ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS ttr
           FROM documents""",

      "txt_bpe_pairs" ->
        """WITH wc AS (
             SELECT w, COUNT(*) AS wc FROM (
               SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
             GROUP BY w HAVING length(w) >= 2),
           p AS (
             SELECT wc, UNNEST(list_transform(range(1, length(w)),
               i -> substr(w, CAST(i AS INT), 2))) AS pair
             FROM wc)
           SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
           FROM p GROUP BY pair
           ORDER BY n DESC, pair ASC LIMIT 20""",

      "txt_inverted_index" ->
        """WITH wx0 AS (
             SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
             FROM documents),
           wx AS (SELECT DISTINCT doc_id, w FROM wx0)
           SELECT w, COUNT(*) AS df_docs,
             array_to_string(list_slice(list_sort(list(doc_id)), 1, 20), ',')
               AS posting_head
           FROM wx GROUP BY w""",

      "txt_oov_quality" ->
        """WITH wx AS (
             SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
             FROM documents),
           v AS (
             SELECT w FROM wx GROUP BY w
             ORDER BY COUNT(*) DESC, w ASC LIMIT 10),
           j AS (
             SELECT doc_id,
               CASE WHEN w IN (SELECT w FROM v) THEN 1 ELSE 0 END AS iv
             FROM wx)
           SELECT doc_id, COUNT(*) AS n_tok,
             CAST(SUM(iv) AS BIGINT) AS n_invocab,
             1.0 - CAST(SUM(iv) AS DOUBLE) / COUNT(*) AS oov_ratio
           FROM j GROUP BY doc_id""",

      "txt_fertility" ->
        """WITH t AS (
             SELECT lang, n_chars,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS re_tokens,
               len(string_split(text, ' ')) AS ws_tokens
             FROM documents),
           g AS (
             SELECT lang, CAST(SUM(re_tokens) AS BIGINT) AS tokens,
               CAST(SUM(ws_tokens) AS BIGINT) AS words_n,
               CAST(SUM(n_chars) AS BIGINT) AS chars_n
             FROM t GROUP BY 1)
           SELECT lang, tokens, words_n,
             ROUND(CAST(tokens AS DOUBLE) / words_n, 6) AS fertility,
             ROUND(CAST(chars_n AS DOUBLE) / tokens, 6) AS chars_per_token
           FROM g""",

      "txt_stratified_sample" ->
        """WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1)
           SELECT d.doc_id, d.lang, c.n_lang, (d.doc_id * 48271) % 1000000 AS h
           FROM documents d JOIN c USING (lang)
           WHERE ((d.doc_id * 48271) % 1000000) * c.n_lang < 60 * 1000000""",

      "txt_fingerprint" ->
        s"""SELECT doc_id,
           ${wordHashSql("text")} AS poly_fp,
           md5(text) AS md5_fp,
           SUBSTR(md5(text), 1, 8) AS md5_short
           FROM documents""",

      "txt_bigrams" ->
        s"""WITH b AS (
             SELECT lang, unnest($bigramsSql) AS bigram
             FROM documents)
           SELECT lang, bigram, COUNT(*) AS n
           FROM b GROUP BY lang, bigram HAVING COUNT(*) >= 20""",

      "txt_redact" ->
        """SELECT doc_id,
           LENGTH(text) AS len_raw,
           LENGTH(regexp_replace(text, '\b(customer)\b', '<REDACTED>', 'g')) AS len_redacted,
           md5(regexp_replace(text, '\b(customer)\b', '<REDACTED>', 'g')) AS redacted_md5
           FROM documents""",

      "txt_repetition" ->
        s"""WITH b AS (SELECT doc_id, $bigramsSql AS bg FROM documents)
           SELECT doc_id,
             len(bg) AS n_bigrams,
             len(list_distinct(bg)) AS n_distinct,
             1.0 - len(list_distinct(bg)) / len(bg) AS rep_ratio
           FROM b""",

      "txt_contamination" ->
        s"""WITH docs AS (
             SELECT doc_id, unnest($bigramsSql) AS bigram FROM documents),
           bench AS (
             SELECT bigram FROM (
               SELECT unnest($bigramsSql) AS bigram
               FROM documents WHERE lang = 'en')
             GROUP BY bigram HAVING COUNT(*) >= 20)
           SELECT d.doc_id, COUNT(*) AS n_hits
           FROM docs d JOIN bench b ON d.bigram = b.bigram
           GROUP BY d.doc_id""",

      "txt_dsir_weights" ->
        s"""WITH inst AS (
             SELECT doc_id, lang, ${wordHashSql("w")} % 256 AS b
             FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                   FROM documents)),
           tot AS (
             SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_total,
               COUNT(*) AS r_total
             FROM inst),
           cnt AS (
             SELECT b,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc,
               COUNT(*) AS rc
             FROM inst GROUP BY 1),
           lr AS (
             SELECT b,
               CAST(ROUND(ln((tc + 1.0) / (t_total + 256)), 8) AS DECIMAL(18,8))
               - CAST(ROUND(ln((rc + 1.0) / (r_total + 256)), 8) AS DECIMAL(18,8)) AS lr
             FROM cnt CROSS JOIN tot)
           SELECT i.doc_id, COUNT(*) AS n_tokens,
             CAST(ROUND(CAST(SUM(lr.lr) AS DECIMAL(38,8)), 6) AS DOUBLE) AS dsir_weight,
             CAST(SUM(lr.lr) AS DECIMAL(38,8)) > 0 AS kept
           FROM inst i JOIN lr USING (b)
           GROUP BY i.doc_id""",

      "txt_kl_drift" ->
        s"""WITH inst AS (
             SELECT source, ${wordHashSql("w")} % 256 AS b
             FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents)),
           corpus AS (SELECT b, COUNT(*) AS rc FROM inst GROUP BY 1),
           rt AS (SELECT COUNT(*) AS r_total FROM inst),
           sc AS (SELECT source, b, COUNT(*) AS sc FROM inst GROUP BY 1, 2),
           st AS (SELECT source, COUNT(*) AS s_total FROM inst GROUP BY 1),
           grid AS (
             SELECT st.source, st.s_total, c.b, c.rc,
               COALESCE(sc.sc, 0) AS sc, rt.r_total
             FROM st CROSS JOIN corpus c
             LEFT JOIN sc ON sc.source = st.source AND sc.b = c.b
             CROSS JOIN rt),
           terms AS (
             SELECT source, s_total,
               CAST(sc + 1 AS DECIMAL(19,0)) *
               CAST(CAST(ROUND(ln((sc + 1.0) / (s_total + 256)), 8) AS DECIMAL(18,8))
                  - CAST(ROUND(ln((rc + 1.0) / (r_total + 256)), 8) AS DECIMAL(18,8))
                 AS DECIMAL(18,8)) AS term
             FROM grid)
           SELECT source, s_total AS n_tokens,
             ROUND(CAST(SUM(term) AS DOUBLE) / (s_total + 256), 6) AS kl_drift
           FROM terms GROUP BY source, s_total"""
    )
  }
}
