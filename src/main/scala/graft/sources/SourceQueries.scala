package graft.sources

import graft.{QueryModule, Tables}
import graft.OracleNum._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink surface (SURVEY.md §2.1).
  *
  * Reference: pandas `io/parsers` (read_csv C tokenizer),
  * `io/json/_json.py`, `io/parquet.py`, `io/orc.py`. Spark's readers
  * replace the whole layer — schema'd parallel scans with pushdown.
  * Each query here round-trips the parquet testdata through another
  * format into the session's work dir ([[Tables.workDir]], under the
  * warehouse) and aggregates the re-read copy; the oracle runs
  * on the *original* table, so any serialization loss (precision,
  * nulls, timestamps) fails the hash compare.
  */
object SourceQueries extends QueryModule {

  private def roundTrip(s: SparkSession, d: String, fmt: String): DataFrame = {
    import s.implicits._
    val src = Tables(s, d, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        // CSV has no timestamp type fidelity guarantee across writers;
        // serialize explicitly and parse back below
        date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("o_date_str"))
    val path = Tables.workDir(s, d, fmt)
    // the interchange reads restore `src`'s column order and types
    def castBack(raw: DataFrame) =
      raw.select(src.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    fmt match {
      case "csv" =>
        src.write.mode("overwrite").option("header", "true").csv(path)
        s.read.option("header", "true").schema(src.schema).csv(path)
      case "csv_gz" => // read_csv(compression=) io/common.py get_handle
        src.write.mode("overwrite").option("header", "true")
          .option("compression", "gzip").csv(path)
        s.read.option("header", "true").schema(src.schema).csv(path)
      case "json" =>
        src.write.mode("overwrite").json(path)
        s.read.schema(src.schema).json(path)
      case "orc" =>
        src.write.mode("overwrite").orc(path)
        s.read.orc(path)
      case "html" =>
        // read_html/to_html (io/html.py:1023) — sources/HtmlTable:
        // one capped XHTML doc per partition chunk on write, one doc
        // per task on read, cells stringly-typed like CSV/XML so the
        // cast-back restores the schema
        HtmlTable.write(src, path)
        castBack(HtmlTable.read(s, path))
      case "xlsx" =>
        // read_excel/to_excel (io/excel/_base.py:93,478) —
        // sources/Xlsx: pure-JDK SpreadsheetML workbooks, one capped
        // workbook per partition chunk on write, one per task on
        // read; cells stringly-typed like CSV/XML/HTML so the
        // cast-back restores the schema
        Xlsx.write(src, path)
        castBack(Xlsx.read(s, path))
      case "dta" =>
        // read_stata/to_stata (io/stata.py:2100) — sources/StataDta:
        // pure-JDK dta-118 files, one capped file per partition chunk
        // on write, one per task on read. dta is binary-typed, so the
        // read restores real types; the cast below only re-widens the
        // int32 longs (Stata has no int64) back to the source schema
        StataDta.write(src, path)
        castBack(StataDta.read(s, path))
      case "sav" =>
        // read_spss (io/spss.py:17) — sources/SpssSav: pure-JDK SPSS
        // system files (+ the writer pandas lacks, enabling the
        // round-trip). sav's only numeric type is double, so the
        // cast below narrows the keys back, mirroring what pandas'
        // read_spss float64 columns need
        SpssSav.write(src, path)
        castBack(SpssSav.read(s, path))
      case "xpt" =>
        // read_sas format="xport" (io/sas/sas_xport.py:253) —
        // sources/SasXport: pure-JDK SAS Transport (TS-140) members;
        // IBM hex-float numerics are exactly convertible, so the
        // cast below only narrows the doubles back (xport has one
        // numeric type, like pandas' float64 surfacing)
        SasXport.write(src, path)
        castBack(SasXport.read(s, path))
      case "arrows" =>
        // read_feather/to_feather (io/feather_format.py:36/83) —
        // sources/ArrowStream: self-contained Arrow IPC stream files,
        // encoded/decoded by Spark's own Arrow conversion per task
        // (GraftSqlBridge.writeArrowStream/readArrowStream). Routed
        // through the REGISTERED provider so the end-to-end
        // format("arrows") surface is what the oracle checks. IPC is
        // binary-typed like dta; the re-select is only for uniform
        // column order
        src.write.format("arrows").mode("overwrite").save(path)
        castBack(s.read.format("arrows").load(path))
      case "xml" =>
        // read_xml (io/xml.py:861) / to_xml (io/formats/xml.py) — the
        // XML source is NATIVE in Spark 4 (the spark-xml package was
        // merged upstream), so the SURVEY §2.1 row previously skipped
        // as needing an external jar is closeable offline. rowTag
        // scopes one element per record; the explicit schema keeps
        // type fidelity (XML is stringly-typed on the wire, exactly
        // like CSV)
        src.write.mode("overwrite").option("rowTag", "order")
          .option("rootTag", "orders").format("xml").save(path)
        s.read.option("rowTag", "order").schema(src.schema)
          .format("xml").load(path)
    }
  }

  private def agg(df: DataFrame): DataFrame =
    df.withColumn("o_orderdate", to_timestamp(col("o_date_str"), "yyyy-MM-dd HH:mm:ss"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_custkey")).as("max_cust"))

  private val oracleAgg =
    """SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
       MIN(o_orderdate) AS min_date,
       MAX(o_custkey) AS max_cust
       FROM orders GROUP BY o_orderstatus"""

  def queries: Map[String, Q] = Map(
    // read_csv / to_csv (io/parsers/readers.py:1045; C tokenizer
    // _libs/parsers.pyx) -> schema'd spark.read.csv
    "src_csv_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "csv")) },

    // read_csv/to_csv with compression='gzip' (io/common.py:494
    // get_handle): codec is a writer option; gzipped parts are
    // per-file streams, so the scan stays splittable at the file level
    "src_csv_gzip" -> { (s, d) => agg(roundTrip(s, d, "csv_gz")) },

    // read_json lines (io/json/_json.py:524) -> spark.read.json
    "src_json_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "json")) },

    // read_orc (io/orc.py:40) -> spark.read.orc
    "src_orc_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "orc")) },

    // read_xml/to_xml (io/xml.py:861) -> Spark 4's native xml source
    "src_xml_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "xml")) },

    // read_html/to_html (io/html.py:1023) -> sources/HtmlTable
    "src_html_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "html")) },

    // read_excel/to_excel (io/excel/_base.py:93,478) -> sources/Xlsx
    "src_excel_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "xlsx")) },

    // read_feather/to_feather (io/feather_format.py:36,83) ->
    // sources/ArrowStream via the registered format("arrows")
    "src_arrow_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "arrows")) },

    // read_stata/to_stata (io/stata.py:2100) -> sources/StataDta
    "src_stata_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "dta")) },

    // read_spss (io/spss.py:17) -> sources/SpssSav
    "src_spss_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "sav")) },

    // read_sas format="xport" (io/sas/sas_xport.py:253) -> sources/SasXport
    "src_sas_roundtrip" -> { (s, d) => agg(roundTrip(s, d, "xpt")) },

    // read_csv(chunksize=) (io/parsers/readers.py TextFileReader) ->
    // sources/ChunkedReader: deterministic file-group batches; the
    // union of all chunks re-aggregated against the unchunked oracle
    // pins exactly-once coverage (a dropped or doubled chunk breaks
    // the counts)
    "src_chunked_csv" -> { (s, d) =>
      import s.implicits._
      val src = Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("o_date_str"))
      val path = Tables.workDir(s, d, "chunked_csv")
      src.repartition(16).write.mode("overwrite")
        .option("header", "true").csv(path)
      val chunks = ChunkedReader.byFiles(s, path, "csv", filesPerChunk = 3,
        schema = Some(src.schema), options = Map("header" -> "true")).toSeq
      require(chunks.length == 6, s"expected 6 chunks of <=3 files, got ${chunks.length}")
      agg(chunks.reduce(_.unionByName(_)))
    },

    // partitioned parquet sink + partition-pruned scan (pandas has no
    // partitioning concept — Spark-native capability, SURVEY §4)
    "src_partitioned_parquet" -> { (s, d) =>
      import s.implicits._
      val path = Tables.workDir(s, d, "part_parquet")
      Tables(s, d, "orders")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .filter($"o_orderstatus" === "F") // partition-pruned scan
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
    },

    // dynamic partition overwrite — the BACKFILL operator (pandas'
    // closest analogue is df.update/combine_first + to_parquet, but at
    // scale a correction never rewrites the table; it replaces exactly
    // the partitions it touches). Write the full table partitioned by
    // status, then overwrite ONLY the F partition with corrected rows
    // (a deterministic bad-record filter) under
    // partitionOverwriteMode=dynamic; O and P must survive untouched —
    // static mode would truncate them, and the oracle's per-status
    // counts catch exactly that.
    "src_partition_overwrite" -> { (s, d) =>
      import s.implicits._
      val path = Tables.workDir(s, d, "part_overwrite")
      val orders = Tables(s, d, "orders")
      orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      val saved = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        orders.filter($"o_orderstatus" === "F" && pmod($"o_orderkey", lit(10)) =!= 0)
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      } finally saved match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(path)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"),
          max($"o_orderkey").as("max_key"))
    },

    // schema-evolution read (mergeSchema): batch 2 of a long-lived
    // dataset gains a column; the merged scan must surface it as null
    // for batch-1 rows — pandas' concat-by-name semantics at the
    // STORAGE layer. mergeSchema pays a footer-read per file at plan
    // time, so production tables pin the schema in a metastore and
    // evolve it there; the per-status counts + the new column's
    // non-null count pin the union-by-name semantics either way.
    "src_merge_schema" -> { (s, d) =>
      import s.implicits._
      val path = Tables.workDir(s, d, "merge_schema")
      val orders = Tables(s, d, "orders")
      orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$path/batch=1")
      orders.select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          $"o_orderpriority")
        .write.mode("overwrite").parquet(s"$path/batch=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          count($"o_orderpriority").as("n_with_priority"),
          countDistinct($"batch").as("n_batches"),
          dsum($"o_totalprice").as("sum_price"))
    },

    // bucketed tables + co-located join (pandas has no storage-level
    // layout concept — Spark-native capability, SURVEY §4). Both sides
    // are written with bucketBy(8, custkey) + sortBy, so the join
    // consumes the on-disk hash layout: NO Exchange on either side —
    // at 100 TB this is THE strategy for repeated big-big joins on a
    // stable key (pay the shuffle once at write time, never at read).
    // PlanHygieneSpec asserts the shuffle-free plan; the oracle checks
    // the join result against the unbucketed source tables.
    "src_bucketed_join" -> { (s, d) =>
      import s.implicits._
      val suf = Integer.toHexString(d.hashCode)
      val ordersT = s"orders_bkt_$suf"
      val custT = s"customer_bkt_$suf"
      Tables(s, d, "orders").select($"o_custkey", $"o_totalprice")
        .write.mode("overwrite")
        .option("path", Tables.workDir(s, d, "bucket_orders"))
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(ordersT)
      Tables(s, d, "customer").select($"c_custkey", $"c_mktsegment")
        .write.mode("overwrite")
        .option("path", Tables.workDir(s, d, "bucket_customer"))
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(custT)
      s.table(custT)
        .join(s.table(ordersT), $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
    },

    // read_sql/to_sql (io/sql.py read_sql_table:400, to_sql:841) ->
    // spark.read/write.jdbc against an embedded Derby DB (driver jars
    // ship with Spark). The read uses (partitionColumn, bounds,
    // numPartitions) so the scan fans out as N range-predicate queries
    // — the shape that parallelizes a big table across executors; at
    // cluster scale you'd size numPartitions to the table, not 8.
    "src_jdbc_roundtrip" -> { (s, d) =>
      // embedded Derby opens a local directory: the work dir must be on
      // the driver's file system
      val db = new java.net.URI(Tables.workDir(s, d, "derby"))
      require(db.getScheme == "file",
        s"src_jdbc_roundtrip needs a local warehouse for its Derby DB, got $db")
      val url = s"jdbc:derby:${db.getPath}/db;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val src = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_date_str"))
      src.write.mode("overwrite").jdbc(url, "orders_rt", props)
      agg(s.read
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", "1")
        .option("upperBound", "6000000")
        .option("numPartitions", "8")
        .jdbc(url, "orders_rt", props))
    },

    // read_csv's option surface (io/parsers/readers.py:1045):
    //   na_values       -> nullValue option (sentinel "N/A" -> NULL)
    //   dtype map       -> explicit read schema (no inference pass)
    //   parse_dates     -> TimestampType in the schema + timestampFormat
    //   skiprows        -> comment='#' (Spark's reader drops marked
    //                      lines anywhere; a distributed scan has no
    //                      "first N physical lines" — preamble rows are
    //                      marked, not positional)
    //   on_bad_lines    -> mode=DROPMALFORMED (schema-violating rows
    //                      dropped at scan time)
    // The fixture CSV is adversarial: '#' preamble lines, deterministic
    // "N/A" prices (o_orderkey % 97 = 0) and unparseable custkeys
    // (o_orderkey % 101 = 0); the oracle applies the same arithmetic to
    // the original table, so every option must actually fire to match.
    "src_csv_opts" -> { (s, d) =>
      import s.implicits._
      val path = Tables.workDir(s, d, "csv_opts")
      val lines = Tables(s, d, "orders").select(concat_ws(",",
          $"o_orderkey",
          when($"o_orderkey" % 101 === 0, lit("not_a_number"))
            .otherwise($"o_custkey".cast("string")),
          $"o_orderstatus",
          when($"o_orderkey" % 97 === 0, lit("N/A"))
            .otherwise($"o_totalprice".cast("decimal(18,4)").cast("string")),
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss")).as("value"))
      val preamble = s.createDataset(Seq(
        "# graft csv_opts fixture — preamble line 1",
        "# preamble line 2 (skiprows analogue)")).toDF("value")
      preamble.union(lines).coalesce(4)
        .write.mode("overwrite").text(path)
      import org.apache.spark.sql.types._
      val schema = StructType(Seq( // the dtype= map
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType)))
      s.read.schema(schema)
        .option("comment", "#")
        .option("nullValue", "N/A")
        .option("mode", "DROPMALFORMED")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(when($"o_totalprice".isNull, 1L).otherwise(0L)).as("n_na"),
          dsum($"o_totalprice").as("sum_price"),
          min($"o_orderdate").as("min_date"),
          max($"o_custkey").as("max_cust"))
    },

    // read_fwf (io/parsers/readers.py:1210) -> text scan + substring
    // projection. No fixed-width reader exists in Spark; the idiomatic
    // mapping is a line scan with per-field substring/cast — all
    // codegen'd, pushdown-friendly on the line length, and trivially
    // splittable (each line independent), so it scales like CSV.
    "src_fwf" -> { (s, d) =>
      val path = Tables.workDir(s, d, "fwf")
      Tables(s, d, "orders")
        .select(format_string("%10d%10d%-2s%16s%19s",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,4)"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")).as("value"))
        .write.mode("overwrite").text(path)
      val parsed = s.read.text(path).select(
        substring(col("value"), 1, 10).cast("long").as("o_orderkey"),
        substring(col("value"), 11, 10).cast("long").as("o_custkey"),
        trim(substring(col("value"), 21, 2)).as("o_orderstatus"),
        substring(col("value"), 23, 16).cast("decimal(18,4)").cast("double")
          .as("o_totalprice"),
        substring(col("value"), 39, 19).as("o_date_str"))
      agg(parsed)
    },

    // Z-ORDER (Morton-curve) data layout for multi-dimensional data
    // skipping — the lakehouse OPTIMIZE ZORDER BY operation. Both
    // columns are first quantized to EQUAL-resolution 8-bit tiles
    // (min/max-scaled integer division — without this, the dimension
    // with the wider dynamic range dominates the interleave's high
    // bits and the other gets no localization at all; ZOrderSpec
    // demonstrated exactly that with raw bit interleave). The
    // bit-interleave of the tiles is then the sort key of a
    // range-partitioned + locally-sorted write, so every file covers
    // a compact 2-d region and parquet min/max footers prune a box
    // predicate on EITHER column; a single-column sort localizes only
    // its own. ZOrderSpec measures the per-file ranges and pins the
    // skipping win; this query pins round-trip correctness (the box
    // aggregate is layout-invariant, so any interleave/write/read bug
    // breaks the hash). At 100 TB the same lines are the full job —
    // one O(1)-row bounds aggregate, then the range exchange is the
    // one shuffle (production would rank-quantize the tiles by a
    // quantile sketch when values are skewed).
    "src_zorder_box" -> { (s, d) =>
      import s.implicits._
      val path = Tables.workDir(s, d, "zorder")
      val days = datediff($"o_orderdate".cast("date"),
        lit("1970-01-01").cast("date")).cast("long")
      val base = Tables(s, d, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          days.as("o_days"))
      withZval(base, "o_custkey", "o_days")
        .repartitionByRange(16, $"zval")
        .sortWithinPartitions($"zval")
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .filter($"o_custkey".between(10, 40) && $"o_days".between(9500, 10000))
        .agg(count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("sum_price"),
          sum($"zval").as("sum_z"))
    }
  )

  /** Append `zval`: both columns scaled to 8-bit tiles over their own
    * [min, max] (one O(1)-row driver aggregate), then Morton-interleaved.
    * Integral `div` keeps Spark and the DuckDB `//` mirror exact. */
  private[graft] def withZval(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val b = df.agg(min(col(xCol)), max(col(xCol)),
      min(col(yCol)), max(col(yCol))).head()
    def tile(c: String, lo: Long, hi: Long): Column =
      expr(s"(($c - $lo) * 256) div ${math.max(hi - lo + 1, 1)}")
    df.withColumn("zval", zOf(
      tile(xCol, b.getLong(0), b.getLong(1)),
      tile(yCol, b.getLong(2), b.getLong(3))))
  }

  /** Spread the low 16 bits of `c` into the even bit positions of a
    * 32-bit value (classic Morton magic-mask doubling). All constants
    * stay below 2^31, so Java long and DuckDB BIGINT agree exactly. */
  private def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(65535L))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(16711935L))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(252645135L))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(858993459L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(1431655765L))
  }

  /** 32-bit Z-value: x in even bits, y in odd bits */
  private[graft] def zOf(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** DuckDB mirror of spread16 */
  private def spreadSql(c: String): String = {
    val x0 = s"($c & 65535)"
    val x1 = s"((($x0 | ($x0 << 8)) & 16711935))"
    val x2 = s"((($x1 | ($x1 << 4)) & 252645135))"
    val x3 = s"((($x2 | ($x2 << 2)) & 858993459))"
    s"((($x3 | ($x3 << 1)) & 1431655765))"
  }

  private def zSql(x: String, y: String): String =
    s"(${spreadSql(x)} | (${spreadSql(y)} << 1))"

  def oracle: Map[String, String] = Map(
    "src_csv_roundtrip" -> oracleAgg,
    "src_csv_gzip" -> oracleAgg,
    "src_json_roundtrip" -> oracleAgg,
    "src_orc_roundtrip" -> oracleAgg,
    "src_xml_roundtrip" -> oracleAgg,
    "src_html_roundtrip" -> oracleAgg,
    "src_excel_roundtrip" -> oracleAgg,
    "src_arrow_roundtrip" -> oracleAgg,
    "src_stata_roundtrip" -> oracleAgg,
    "src_spss_roundtrip" -> oracleAgg,
    "src_sas_roundtrip" -> oracleAgg,
    "src_chunked_csv" -> oracleAgg,
    "src_partitioned_parquet" ->
      """SELECT COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderstatus = 'F'""",

    // untouched partitions keep ALL their rows; only F loses the
    // key%10=0 records — a truncating (static-mode) overwrite would
    // zero out O and P
    "src_partition_overwrite" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
         MAX(o_orderkey) AS max_key
         FROM orders
         WHERE o_orderstatus <> 'F' OR o_orderkey % 10 <> 0
         GROUP BY o_orderstatus""",

    "src_merge_schema" ->
      """SELECT o_orderstatus, 2 * COUNT(*) AS n,
         COUNT(*) AS n_with_priority,
         CAST(2 AS BIGINT) AS n_batches,
         CAST(2 * SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus""",
    "src_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment""",
    "src_jdbc_roundtrip" -> oracleAgg,
    "src_fwf" -> oracleAgg,
    // replay the fixture's deterministic damage on the original rows:
    // %101 rows were malformed (dropped), %97 prices were "N/A" (NULL)
    "src_csv_opts" ->
      """WITH t AS (
           SELECT o_orderstatus,
             CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_totalprice END AS p,
             o_orderdate, o_custkey
           FROM orders WHERE o_orderkey % 101 <> 0)
         SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_na,
           CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           MIN(o_orderdate) AS min_date,
           MAX(o_custkey) AS max_cust
         FROM t GROUP BY o_orderstatus""",

    "src_zorder_box" ->
      s"""WITH t AS (
           SELECT o_custkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS o_days,
             o_totalprice
           FROM orders),
         b AS (
           SELECT MIN(o_custkey) AS clo, MAX(o_custkey) AS chi,
                  MIN(o_days) AS dlo, MAX(o_days) AS dhi
           FROM t),
         z AS (
           SELECT o_custkey, o_days, o_totalprice,
             ${zSql("(((o_custkey - clo) * 256) // (chi - clo + 1))",
               "(((o_days - dlo) * 256) // (dhi - dlo + 1))")} AS zval
           FROM t CROSS JOIN b)
         SELECT COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           CAST(SUM(zval) AS BIGINT) AS sum_z
         FROM z
         WHERE o_custkey BETWEEN 10 AND 40 AND o_days BETWEEN 9500 AND 10000"""
  )
}
