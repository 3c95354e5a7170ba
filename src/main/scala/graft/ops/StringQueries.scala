package graft.ops

import graft.{QueryModule, Tables}
import org.apache.spark.sql.functions._

/** String / JSON scalar surface (SURVEY.md §2.9).
  *
  * Reference: pandas `core/strings/accessor.py` StringMethods (~73
  * methods over `object_array.py` / Arrow compute). Every method maps
  * to a codegen'd Catalyst expression (`length`, `upper`, `split`,
  * `regexp_extract`...) — no UDFs, so the whole surface stays inside
  * whole-stage codegen and scales column-at-a-time.
  */
object StringQueries extends QueryModule {

  import org.apache.spark.sql.Column

  /** pandas str.index (accessor.py:2896): find that RAISES when the
    * substring is absent. On a distributed engine "raise" means fail
    * the query loudly via raise_error — per-row exceptions don't exist.
    * 0-based like pandas. */
  def strictIndex(text: Column, sub: String): Column = {
    val p = locate(sub, text)
    when(p === 0, raise_error(
        concat(lit(s"str.index: substring '$sub' not found in: "), text)))
      .otherwise(p.cast("long") - 1)
  }

  /** pandas str.rindex (accessor.py:2918): right-anchored strict find,
    * reverse-locate identity as in str_right_ops. */
  def strictRindex(text: Column, sub: String): Column = {
    val rp = locate(sub.reverse, reverse(text))
    when(rp === 0, raise_error(
        concat(lit(s"str.rindex: substring '$sub' not found in: "), text)))
      .otherwise((length(text) - rp + 1 - sub.length).cast("long"))
  }

  def queries: Map[String, Q] = Map(
    // len/upper/lower/trim/substr (object_array.py:328 len, :438 case)
    "str_basic" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          length($"text").as("n_chars_computed"),
          upper(substring($"text", 1, 20)).as("head_upper"),
          lower($"source").as("src_lower"),
          trim(substring($"text", 1, 12)).as("head_trim"),
          reverse($"lang").as("lang_rev"))
    },

    // pad/repeat/concat (object_array.py:125 pad, :200 repeat; cat)
    "str_pad_concat" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          lpad($"lang", 5, "_").as("lang_lpad"),
          rpad($"source", 8, ".").as("src_rpad"),
          repeat($"lang", 3).as("lang_x3"),
          concat_ws("|", $"lang", $"source").as("lang_src"))
    },

    // contains/startswith/endswith (object_array.py:141/:164/:169)
    "str_predicates" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          $"text".contains("data").as("has_data"),
          $"text".startsWith("key").as("starts_key"),
          $"text".endsWith("row").as("ends_row"),
          $"source".like("src1%").as("like_src1"))
    },

    // split + split_part + element access (object_array.py:354 split,
    // :300 get; partition :321)
    "str_split_part" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          expr("split_part(text, ' ', 1)").as("word1"),
          expr("split_part(text, ' ', 2)").as("word2"),
          size(split($"text", " ")).as("n_words"),
          element_at(split($"text", " "), -1).as("last_word"))
    },

    // regexp extract/replace/count (object_array.py:505 extract, :174
    // replace, findall :296)
    "str_regexp" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          regexp_extract($"source", "src(\\d+)", 1).cast("int").as("src_num"),
          regexp_replace(substring($"text", 1, 40), "[aeiou]", "_").as("devoweled"),
          expr("regexp_count(text, 'data')").as("n_data"),
          expr("regexp_like(text, 'spark.*query|query.*spark')").as("has_both"))
    },

    // strip affixes (removeprefix/suffix object_array.py:499/:502)
    "str_affixes" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          regexp_replace($"source", "^src", "").cast("int").as("src_id"),
          ltrim(substring($"text", 1, 15)).as("lstripped"),
          rtrim(substring($"text", 1, 15)).as("rstripped"))
    },

    // JSON field extraction (json_normalize _normalize.py:303;
    // get_json_object over the props JSON column)
    "str_json_extract" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "events")
        .filter($"event_id" < 2000)
        .select($"event_id",
          get_json_object($"props", "$.k").cast("int").as("k_val"))
    },

    // json_normalize (io/json/_normalize.py:269): nested JSON records
    // flatten to one row per record_path element, meta fields repeated
    // per row and nested-object fields joined with sep='_'. The nested
    // JSON is BUILT in-flight from lineitem groups (to_json of a
    // struct holding a sorted items array + an hdr object) and then
    // normalized with from_json + explode + struct-field projection;
    // the oracle is the direct relational projection of the same rows,
    // so the differential proves the whole JSON roundtrip lossless —
    // including shortest-roundtrip double formatting. At scale both
    // halves are map-side; the only shuffle is the groupBy that builds
    // the fixture.
    "str_json_normalize" -> { (s, d) =>
      import s.implicits._
      val nested = Tables(s, d, "lineitem")
        .filter($"l_orderkey" < 1000)
        .groupBy($"l_orderkey")
        .agg(
          sort_array(collect_list(struct(
            $"l_linenumber".as("ln"), $"l_quantity".as("qty"),
            $"l_extendedprice".as("price")))).as("items"),
          max($"l_returnflag").as("flag"),
          count(lit(1)).as("n"))
        .select(to_json(struct(
          $"l_orderkey".as("okey"),
          struct($"flag", $"n").as("hdr"),
          $"items")).as("doc"))
      val schema = "STRUCT<okey: BIGINT, " +
        "hdr: STRUCT<flag: STRING, n: BIGINT>, " +
        "items: ARRAY<STRUCT<ln: INT, qty: DOUBLE, price: DOUBLE>>>"
      nested
        .select(from_json($"doc", schema, Map.empty[String, String]).as("j"))
        .select($"j.okey".as("okey"),
          $"j.hdr.flag".as("hdr_flag"), $"j.hdr.n".as("hdr_n"),
          explode($"j.items").as("it"))
        .select($"okey", $"hdr_flag", $"hdr_n",
          $"it.ln".as("items_ln"), $"it.qty".as("items_qty"),
          $"it.price".as("items_price"))
    },

    // extractall (accessor.py:2743): every regex match becomes its own
    // row with a match index — regexp_extract_all + posexplode. Docs
    // with no match drop out (both engines: explode/unnest of empty).
    "str_extractall" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          posexplode(expr(
            "regexp_extract_all(substring(text, 1, 80), '[a-z]*ata[a-z]*', 0)")))
        .select($"doc_id", $"pos".as("match_idx"), $"col".as("match_str"))
    },

    // str.cat (accessor.py:563): cross-row concatenation — a true
    // aggregation, so per-group sorted collect + join. The sort makes
    // the result order-deterministic under any partitioning.
    "str_cat_group" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .groupBy($"lang")
        .agg(
          array_join(array_sort(collect_list($"source")), ",").as("sources_cat"),
          count(lit(1)).as("n"))
    },

    // zfill (object_array.py:515, sign-aware), wrap (accessor.py:2199,
    // greedy ≤20-char line breaks via one regex — textwrap's
    // break_long_words tail is not reproduced), normalize (NFC via the
    // graft_nfc codegen expression; input constructed with a combining
    // accent so ASCII testdata doesn't trivialize it), and str
    // get_dummies (accessor.py:2378) as split + membership flags.
    // str.title (initcap), str.center (symmetric pad, extra on the
    // right like Python), str.rsplit(n=1) last token + first token
    // (object_array.py:396 family) — closes the accessor tail
    "str_title_center" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          initcap(substring($"text", 1, 40)).as("title40"),
          lpad(rpad($"lang", 5, "*"), 7, "*").as("lang_center"),
          regexp_extract($"text", "([^ ]+)$", 1).as("last_tok"),
          substring_index($"text", " ", 1).as("first_tok"))
    },

    "str_zfill_wrap_norm" -> { (s, d) =>
      import s.implicits._
      val tags = split(concat_ws("|", $"lang", $"source"), "\\|")
      Tables(s, d, "documents")
        .withColumn("numstr",
          when($"doc_id" % 2 === 0, concat(lit("-"), $"doc_id".cast("string")))
            .otherwise($"doc_id".cast("string")))
        .select($"doc_id",
          when($"numstr".startsWith("-"),
            concat(lit("-"), lpad(expr("substring(numstr, 2)"), 7, "0")))
            .otherwise(lpad($"numstr", 8, "0")).as("zfilled"),
          regexp_replace(substring($"text", 1, 60), "(.{1,20}) ", "$1\n").as("wrapped"),
          expr("graft_nfc(concat(lang, 'é'))").as("nfc_str"),
          length(concat($"lang", lit("é"))).as("len_raw"),
          length(expr("graft_nfc(concat(lang, 'é'))")).as("len_nfc"),
          array_contains(tags, "en").cast("int").as("d_en"),
          array_contains(tags, "de").cast("int").as("d_de"),
          array_contains(tags, "src1").cast("int").as("d_src1"))
    },

    // case transforms + character-class predicates + slice_replace
    // (accessor.py capitalize :3105 / swapcase :3163, isalpha/isdigit/
    // isspace :3306 family, slice_replace :2024). swapcase is an
    // ASCII translate (both engines agree); predicates are anchored
    // character-class regexes; slice_replace(2,5) = concat of the
    // outside slices around the replacement.
    "str_case_preds" -> { (s, d) =>
      import s.implicits._
      val lcAlpha = "abcdefghijklmnopqrstuvwxyz"
      val ucAlpha = lcAlpha.toUpperCase
      val w1 = expr("split_part(text, ' ', 1)")
      Tables(s, d, "documents")
        .withColumn("w1", w1)
        .select($"doc_id",
          concat(upper(substring($"w1", 1, 1)), lower(expr("substring(w1, 2)")))
            .as("capitalized"),
          translate(concat($"lang", upper($"source")), lcAlpha + ucAlpha, ucAlpha + lcAlpha)
            .as("swapped"),
          $"w1".rlike("^[a-z]+$").as("is_alpha_lower"),
          $"source".rlike("^[0-9]+$").as("is_digit"),
          regexp_extract($"source", "([0-9]+)", 1).rlike("^[0-9]+$").as("num_part_is_digit"),
          (lit(" \t ").rlike("^\\s+$")).as("ws_is_space"),
          concat(substring($"w1", 1, 2), lit("XX"), expr("substring(w1, 6)"))
            .as("slice_replaced"))
    },

    // translate + instr/locate (object_array.py:396 translate, find :276)
    "str_translate_find" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          translate($"lang", "aeiou", "AEIOU").as("lang_tr"),
          instr($"text", "table").as("pos_table"),
          instr($"text", "zzz_absent").as("pos_absent"))
    },

    // Series.str.get_dummies(sep='|') (accessor.py get_dummies): a
    // delimited multi-label string becomes one indicator column per
    // label — pure map-side array_contains over the split, the
    // multi-label sibling of pd.get_dummies
    "str_get_dummies" -> { (s, d) =>
      import s.implicits._
      val langs = Seq("de", "en", "es", "fr", "zh")
      val tags = split(concat_ws("|", $"lang", $"source"), "\\|")
      Tables(s, d, "documents")
        .select($"doc_id" +: langs.map(l =>
          array_contains(tags, l).cast("int").as(s"tag_$l")) :+
          array_contains(tags, "src0").cast("int").as("tag_src0"): _*)
    },

    // right-anchored + predicate tail of the accessor (accessor.py:
    // rfind :2872, rindex (rfind that raises) :2918, rpartition :3133,
    // casefold :3226, fullmatch :1450, get :1028, isascii). rfind uses
    // the reverse-locate identity (no right-position builtin in either
    // engine); isascii is the UTF-8 identity chars==bytes; casefold
    // maps to lower (full Unicode casefold differs only on locale
    // edge cases like ß, documented).
    "str_right_ops" -> { (s, d) =>
      import s.implicits._
      val sub = "the"
      val p = locate(sub.reverse, reverse($"text")) // 1-based in reversed
      val rfind0 = when(p === 0, -1L)
        .otherwise(length($"text") - p + 1 - sub.length)
      val tail = regexp_extract($"text", "([^ ]*)$", 1)
      Tables(s, d, "documents")
        .select($"doc_id",
          rfind0.as("rfind_the"),
          $"text".substr(lit(1),
            greatest(length($"text") - length(tail) - 1, lit(0)))
            .as("rpart_head"),
          tail.as("rpart_tail"),
          lower(substring($"text", 1, 30)).as("casefold_head"),
          $"source".rlike("^[a-z]+$").as("fullmatch_alpha"),
          substring($"text", 5, 1).as("get_4"),
          (length($"text") === octet_length($"text")).as("is_ascii"))
    },

    // str.encode / str.decode (accessor.py:3250 encode, :3233 decode):
    // UTF-8 bytes as a first-class binary column, hex-projected for the
    // hash harness, plus the decode(encode(x)) == x identity. The
    // binary column is the same BinaryType the multimodal family uses.
    "str_encode_decode" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .select($"doc_id",
          hex(encode(substring($"text", 1, 24), "UTF-8")).as("enc_hex"),
          octet_length($"text").cast("long").as("n_bytes"),
          (decode(encode($"text", "UTF-8"), "UTF-8") === $"text").as("roundtrip_ok"))
    },

    // strict index/rindex (accessor.py:2896/:2918 — the find variants
    // that raise on a missing substring). The filter keeps rows where
    // 'the' occurs; strictIndex/strictRindex would fail the query
    // loudly if the guard ever let a miss through (StringOpsSpec pins
    // the raising path).
    "str_index_strict" -> { (s, d) =>
      import s.implicits._
      Tables(s, d, "documents")
        .filter($"text".contains("the"))
        .select($"doc_id",
          strictIndex($"text", "the").as("index_the"),
          strictRindex($"text", "the").as("rindex_the"))
    },

    // findall / count / slice_replace / partition
    // (accessor.py findall -> re.findall per row; count :2316;
    // slice_replace :2036; partition :3077). findall's list output is
    // projected to a joined string for the hash harness — the list
    // itself is `regexp_extract_all`, a codegen'd expression. partition
    // splits on the FIRST separator only, keeping (head, sep, tail)
    // with pandas' whole-string fallback when the separator is absent.
    "str_findall_slice" -> { (s, d) =>
      import s.implicits._
      val sep = instr($"text", " ")
      Tables(s, d, "documents")
        .select($"doc_id",
          concat_ws(",", regexp_extract_all($"text", lit("[a-z]{6,}"), lit(0)))
            .as("findall_long"),
          size(regexp_extract_all($"text", lit("[a-z]{6,}"), lit(0)))
            .cast("long").as("n_long"),
          size(regexp_extract_all($"text", lit("e"), lit(0)))
            .cast("long").as("n_e"),
          concat(substring($"text", 1, 3), lit("XX"),
            substring($"text", 9, 1000000)).as("slice_repl"),
          when(sep === 0, $"text")
            .otherwise(substring($"text", lit(1), sep - 1)).as("part_head"),
          when(sep === 0, lit("")).otherwise(lit(" ")).as("part_sep"),
          when(sep === 0, lit(""))
            .otherwise(expr("substring(text, instr(text, ' ') + 1)"))
            .as("part_tail"))
    }
  )

  def oracle: Map[String, String] = Map(
    "str_basic" ->
      """SELECT doc_id,
         LENGTH(text) AS n_chars_computed,
         UPPER(SUBSTR(text, 1, 20)) AS head_upper,
         LOWER(source) AS src_lower,
         TRIM(SUBSTR(text, 1, 12)) AS head_trim,
         REVERSE(lang) AS lang_rev
         FROM documents""",

    "str_pad_concat" ->
      """SELECT doc_id,
         LPAD(lang, 5, '_') AS lang_lpad,
         RPAD(source, 8, '.') AS src_rpad,
         REPEAT(lang, 3) AS lang_x3,
         CONCAT_WS('|', lang, source) AS lang_src
         FROM documents""",

    "str_predicates" ->
      """SELECT doc_id,
         text LIKE '%data%' AS has_data,
         text LIKE 'key%' AS starts_key,
         text LIKE '%row' AS ends_row,
         source LIKE 'src1%' AS like_src1
         FROM documents""",

    "str_split_part" ->
      """SELECT doc_id,
         split_part(text, ' ', 1) AS word1,
         split_part(text, ' ', 2) AS word2,
         len(string_split(text, ' ')) AS n_words,
         string_split(text, ' ')[-1] AS last_word
         FROM documents""",

    "str_regexp" ->
      """SELECT doc_id,
         CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) AS src_num,
         regexp_replace(SUBSTR(text, 1, 40), '[aeiou]', '_', 'g') AS devoweled,
         len(regexp_extract_all(text, 'data')) AS n_data,
         regexp_matches(text, 'spark.*query|query.*spark') AS has_both
         FROM documents""",

    "str_affixes" ->
      """SELECT doc_id,
         CAST(regexp_replace(source, '^src', '') AS INT) AS src_id,
         LTRIM(SUBSTR(text, 1, 15)) AS lstripped,
         RTRIM(SUBSTR(text, 1, 15)) AS rstripped
         FROM documents""",

    "str_json_extract" ->
      """SELECT event_id,
         CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_val
         FROM events WHERE event_id < 2000""",

    // the relational projection the JSON roundtrip must reproduce
    "str_json_normalize" ->
      """SELECT l_orderkey AS okey,
         MAX(l_returnflag) OVER (PARTITION BY l_orderkey) AS hdr_flag,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS hdr_n,
         l_linenumber AS items_ln,
         l_quantity AS items_qty,
         l_extendedprice AS items_price
         FROM lineitem WHERE l_orderkey < 1000""",

    "str_extractall" ->
      """WITH m AS (
           SELECT doc_id, regexp_extract_all(substr(text, 1, 80), '[a-z]*ata[a-z]*') AS ms
           FROM documents),
         u AS (
           SELECT doc_id, unnest(range(len(ms))) AS match_idx, unnest(ms) AS match_str
           FROM m)
         SELECT doc_id, CAST(match_idx AS INT) AS match_idx, match_str FROM u""",

    "str_cat_group" ->
      """SELECT lang, string_agg(source, ',' ORDER BY source) AS sources_cat,
         COUNT(*) AS n
         FROM documents GROUP BY lang""",

    "str_title_center" ->
      """SELECT doc_id,
         array_to_string(list_transform(string_split(text[1:40], ' '),
           w -> upper(w[1:1]) || lower(w[2:])), ' ') AS title40,
         lpad(rpad(lang, 5, '*'), 7, '*') AS lang_center,
         regexp_extract(text, '([^ ]+)$', 1) AS last_tok,
         string_split(text, ' ')[1] AS first_tok
         FROM documents""",

    "str_zfill_wrap_norm" ->
      """WITH t AS (
           SELECT doc_id, lang, source, text,
             CASE WHEN doc_id % 2 = 0 THEN '-' || CAST(doc_id AS VARCHAR)
                  ELSE CAST(doc_id AS VARCHAR) END AS numstr
           FROM documents)
         SELECT doc_id,
           CASE WHEN numstr LIKE '-%' THEN '-' || LPAD(SUBSTR(numstr, 2), 7, '0')
                ELSE LPAD(numstr, 8, '0') END AS zfilled,
           regexp_replace(SUBSTR(text, 1, 60), '(.{1,20}) ', '\1' || chr(10), 'g') AS wrapped,
           nfc_normalize(lang || 'e' || chr(769)) AS nfc_str,
           CAST(LENGTH(lang || 'e' || chr(769)) AS INT) AS len_raw,
           CAST(LENGTH(nfc_normalize(lang || 'e' || chr(769))) AS INT) AS len_nfc,
           CAST(list_contains(string_split(lang || '|' || source, '|'), 'en') AS INT) AS d_en,
           CAST(list_contains(string_split(lang || '|' || source, '|'), 'de') AS INT) AS d_de,
           CAST(list_contains(string_split(lang || '|' || source, '|'), 'src1') AS INT) AS d_src1
         FROM t""",

    "str_case_preds" ->
      """WITH t AS (
           SELECT doc_id, lang, source, split_part(text, ' ', 1) AS w1
           FROM documents)
         SELECT doc_id,
           UPPER(SUBSTR(w1, 1, 1)) || LOWER(SUBSTR(w1, 2)) AS capitalized,
           translate(lang || UPPER(source),
             'abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ',
             'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz') AS swapped,
           regexp_matches(w1, '^[a-z]+$') AS is_alpha_lower,
           regexp_matches(source, '^[0-9]+$') AS is_digit,
           regexp_matches(regexp_extract(source, '([0-9]+)', 1), '^[0-9]+$') AS num_part_is_digit,
           regexp_matches(' 	 ', '^\s+$') AS ws_is_space,
           SUBSTR(w1, 1, 2) || 'XX' || SUBSTR(w1, 6) AS slice_replaced
         FROM t""",

    "str_get_dummies" ->
      """WITH t AS (
           SELECT doc_id, string_split(lang || '|' || source, '|') AS tags
           FROM documents)
         SELECT doc_id,
           CAST(list_contains(tags, 'de') AS INT) AS tag_de,
           CAST(list_contains(tags, 'en') AS INT) AS tag_en,
           CAST(list_contains(tags, 'es') AS INT) AS tag_es,
           CAST(list_contains(tags, 'fr') AS INT) AS tag_fr,
           CAST(list_contains(tags, 'zh') AS INT) AS tag_zh,
           CAST(list_contains(tags, 'src0') AS INT) AS tag_src0
         FROM t""",

    "str_right_ops" ->
      """WITH t AS (
           SELECT doc_id, text, source,
             strpos(reverse(text), reverse('the')) AS p,
             regexp_extract(text, '([^ ]*)$', 1) AS tail
           FROM documents)
         SELECT doc_id,
           CASE WHEN p = 0 THEN -1
                ELSE length(text) - p + 1 - length('the') END AS rfind_the,
           substr(text, 1, greatest(length(text) - length(tail) - 1, 0)) AS rpart_head,
           tail AS rpart_tail,
           lower(substr(text, 1, 30)) AS casefold_head,
           regexp_full_match(source, '[a-z]+') AS fullmatch_alpha,
           substr(text, 5, 1) AS get_4,
           length(text) = strlen(text) AS is_ascii
         FROM t""",

    "str_translate_find" ->
      """SELECT doc_id,
         translate(lang, 'aeiou', 'AEIOU') AS lang_tr,
         CASE WHEN instr(text, 'table') IS NULL THEN 0 ELSE instr(text, 'table') END AS pos_table,
         CASE WHEN instr(text, 'zzz_absent') IS NULL THEN 0 ELSE instr(text, 'zzz_absent') END AS pos_absent
         FROM documents""",

    "str_encode_decode" ->
      """SELECT doc_id,
         hex(encode(substr(text, 1, 24))) AS enc_hex,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         decode(encode(text)) = text AS roundtrip_ok
         FROM documents""",

    "str_index_strict" ->
      """WITH t AS (
           SELECT doc_id, text, strpos(text, 'the') AS p,
             strpos(reverse(text), reverse('the')) AS rp
           FROM documents WHERE contains(text, 'the'))
         SELECT doc_id,
           CAST(p - 1 AS BIGINT) AS index_the,
           CAST(length(text) - rp + 1 - length('the') AS BIGINT) AS rindex_the
         FROM t""",

    "str_findall_slice" ->
      """SELECT doc_id,
         COALESCE(array_to_string(regexp_extract_all(text, '[a-z]{6,}'), ','), '') AS findall_long,
         CAST(len(regexp_extract_all(text, '[a-z]{6,}')) AS BIGINT) AS n_long,
         CAST(len(regexp_extract_all(text, 'e')) AS BIGINT) AS n_e,
         substring(text, 1, 3) || 'XX' || substring(text, 9) AS slice_repl,
         CASE WHEN strpos(text, ' ') = 0 THEN text
              ELSE substring(text, 1, strpos(text, ' ') - 1) END AS part_head,
         CASE WHEN strpos(text, ' ') = 0 THEN '' ELSE ' ' END AS part_sep,
         CASE WHEN strpos(text, ' ') = 0 THEN ''
              ELSE substring(text, strpos(text, ' ') + 1) END AS part_tail
         FROM documents"""
  )
}
