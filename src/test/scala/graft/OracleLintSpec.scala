package graft

import org.scalatest.funsuite.AnyFunSuite

/** Static, Spark-free lints: the DuckDB oracles' numeric rules below,
  * the rule that `operators/` picks its plans from its input alone, the
  * rule that fixture tables are read through `Tables`, and the rule that
  * graft's own writes stay under the session's warehouse (last three
  * tests).
  *
  * Oracle rule 1, no uncast integer SUM. DuckDB widens SUM over any integer type to HUGEINT (int128) while
  * Spark's sum over int/long stays LongType — the driver's typed
  * compare then hash-mismatches even when every value is equal. This
  * trap has fired twice (pipe_pack_sequences in round 2,
  * pipe_token_budget in round 4), so the rule is now enforced
  * mechanically: every `SUM(...)` in an oracle whose argument is
  * integer-typed must be wrapped in an explicit `CAST(... AS BIGINT)`
  * (or the argument itself cast to DOUBLE/DECIMAL, which changes the
  * result type away from HUGEINT on both engines).
  *
  * The lint is syntactic: it extracts each SUM call (including the
  * windowed `SUM(x) OVER (...)` form — the CAST must wrap the whole
  * window expression) and accepts it only if
  *   - the call is directly preceded by `CAST(`, or
  *   - the argument contains an `AS DOUBLE`/`DECIMAL`/`FLOAT` cast, or
  *   - the argument is visibly double-typed: a fractional literal, a
  *     `/` division (DuckDB `/` is float division), a known
  *     double-returning function, or a reference to one of the
  *     fixtures' double columns.
  * Anything else is an integer SUM waiting to become a HUGEINT.
  */
class OracleLintSpec extends AnyFunSuite {

  private val doubleCols = Set(
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "o_totalprice", "value", "c_acctbal", "p_retailprice", "s_acctbal")

  private val doubleFuncs =
    Seq("ln(", "exp(", "sqrt(", "log(", "avg(", "round(", "random(")

  /** Index just past the matching ')' for the '(' at `open`. */
  private def closeParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    s.length
  }

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** First top-level argument of the call whose '(' is at `open`. */
  private def firstArg(s: String, open: Int): String = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return s.substring(open + 1, i)
        case ',' if depth == 1 => return s.substring(open + 1, i)
        case _ =>
      }
      i += 1
    }
    s.substring(open + 1)
  }

  private def argIsNonInteger(arg: String): Boolean = {
    val a = arg.toLowerCase
    a.matches("(?s).*\\bas\\s+(double|decimal|float|real).*") ||
      a.matches("(?s).*\\d\\.\\d.*") ||
      // '/' promotes to DOUBLE in DuckDB, but '//' is integer division
      // and stays integral — strip it first so SUM(x // 2) still lints
      a.replace("//", "").contains("/") ||
      doubleFuncs.exists(a.contains) ||
      doubleCols.exists(c => a.matches(s"(?s).*\\b$c\\b.*"))
  }

  test("every oracle SUM over an integer argument is CAST-wrapped") {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)) {
      val lower = sql.toLowerCase
      var from = 0
      while ({ from = lower.indexOf("sum", from); from >= 0 }) {
        val wordOk = (from == 0 || !isWordChar(lower.charAt(from - 1)))
        var p = from + 3
        while (p < lower.length && lower.charAt(p).isWhitespace) p += 1
        if (wordOk && p < lower.length && lower.charAt(p) == '(') {
          val arg = sql.substring(p + 1, math.max(p + 1, closeParen(sql, p) - 1))
          // directly preceded by CAST( ?
          var b = from - 1
          while (b >= 0 && lower.charAt(b).isWhitespace) b -= 1
          val casted = b >= 4 && lower.charAt(b) == '(' && {
            var w = b - 1
            while (w >= 0 && lower.charAt(w).isWhitespace) w -= 1
            w >= 3 && lower.substring(w - 3, w + 1) == "cast" &&
              (w - 3 == 0 || !isWordChar(lower.charAt(w - 4)))
          }
          if (!casted && !argIsNonInteger(arg)) {
            val snippet = sql.substring(from, math.min(sql.length, closeParen(sql, p) + 1))
              .replaceAll("\\s+", " ")
            violations += s"$name: SUM over integer-typed argument not CAST-wrapped: $snippet"
          }
        }
        from = from + 3
      }
    }
    assert(violations.isEmpty, violations.mkString("\n", "\n", "\n"))
  }

  /** Round-10 rule: never round an exact DECIMAL through a DOUBLE cast.
    *
    * Spark's `round(double, n)` rounds the double's SHORTEST DECIMAL
    * STRING (`BigDecimal.valueOf`) while DuckDB rounds the binary
    * value — so an exact decimal landing on a half at the rounding
    * scale (possible whenever its scale exceeds n) rounds
    * away-from-zero in one engine and down in the other. Fired live:
    * 1000 txt_dsir_weights docs at sf100 whose scale-8 sums ended in
    * ...50 at 6dp differed by exactly 1e-6 (SCALE.md round 10). The
    * fix — and the shape this lint enforces — is to round the decimal
    * itself (HALF_UP, exact integer arithmetic, identical in both
    * engines) and cast after: `CAST(ROUND(x, n) AS DOUBLE)`.
    *
    * Syntactic rule: a ROUND whose ENTIRE first argument is
    * `CAST(x AS DOUBLE)` with x decimal-typed (mentions DECIMAL) is a
    * violation unless x contains a `/` (a float quotient is genuine
    * double arithmetic — ratio oracles keep the double-space ROUND
    * discipline, as does anything not shaped like a bare decimal
    * cast). */
  test("no oracle rounds an exact DECIMAL through a DOUBLE cast") {
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, sql) <- SparkEntry.oracleSql.toSeq.sortBy(_._1)) {
      val lower = sql.toLowerCase
      var from = 0
      while ({ from = lower.indexOf("round", from); from >= 0 }) {
        val wordOk = (from == 0 || !isWordChar(lower.charAt(from - 1)))
        var p = from + 5
        while (p < lower.length && lower.charAt(p).isWhitespace) p += 1
        if (wordOk && p < lower.length && lower.charAt(p) == '(') {
          val a = firstArg(sql, p).trim
          val al = a.toLowerCase
          val isWholeCast = al.startsWith("cast") && {
            var q = 4
            while (q < a.length && a.charAt(q).isWhitespace) q += 1
            q < a.length && a.charAt(q) == '(' && closeParen(a, q) == a.length
          }
          if (isWholeCast && al.replaceAll("\\s+", " ").endsWith("as double)") &&
              al.contains("decimal") && !a.contains("/")) {
            violations += s"$name: ROUND over a double-cast DECIMAL " +
              s"(round the decimal, cast after): ${a.replaceAll("\\s+", " ").take(90)}"
          }
        }
        from += 5
      }
    }
    assert(violations.isEmpty, violations.mkString("\n", "\n", "\n"))
  }

  private val mainRoot = new java.io.File("src/main/scala")

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  /** `file:line: text` for each line of `files` that `bad` flags. */
  private def lint(files: Seq[java.io.File])(bad: (java.io.File, String) => Boolean): Seq[String] = {
    assert(files.nonEmpty, s"no sources under ${mainRoot.getAbsolutePath}")
    for {
      f <- files
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.toSeq.zipWithIndex
      if bad(f, line)
    } yield s"${mainRoot.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
  }

  /** The operators choose each physical plan from their input (sizes,
    * sketch probes, layouts): a plan switch read from the environment
    * or a session conf key is a hidden option that tests and benchmarks
    * must then cover in every setting. */
  test("no operator reads an environment variable or a graft conf key") {
    val violations = lint(scalaFiles(new java.io.File(mainRoot, "graft/operators"))) {
      (_, line) => line.contains("sys.env") || line.contains("\"graft.")
    }
    assert(violations.isEmpty, violations.mkString("\n", "\n", "\n"))
  }

  /** A fixture table is read through `Tables`, which takes its schema
    * from one footer on the driver. A direct `read.parquet` of it infers
    * the schema with a one-task Spark job at query-build time. `sources/`
    * exercises the readers themselves and is exempt. */
  test("no builder outside Tables and sources/ reads a fixture table with read.parquet") {
    val files = scalaFiles(new java.io.File(mainRoot, "graft")).filterNot { f =>
      f.getName == "Tables.scala" || f.getParentFile.getName == "sources" }
    val fixtureRead = ("""read\b.*\.parquet\(\s*s"[^"]*/(""" +
      Tables.all.mkString("|") + """)\.parquet"""").r.unanchored
    val violations = lint(files)((_, line) => fixtureRead.matches(line))
    assert(violations.isEmpty, violations.mkString("\n", "\n", "\n"))
  }

  /** graft writes its own data only under the session's warehouse
    * (`Tables.workDir`): a fixed host path is shared by every session on
    * the host and is the driver's local disk on a cluster. A JVM-wide
    * system property leaks across sessions the same way, and the
    * stream sink, its state sizing and its output all follow the data
    * with no environment switch. ScaleUp's default output path is the
    * one `/tmp` literal: a command-line default, not scratch. */
  test("src/main writes no fixed /tmp path, sets no system property, reads no retired stream knob") {
    val retired = Seq("SPARK_GRAFT_STREAM_FILE_SINK",
      "SPARK_GRAFT_STREAM_STATE_PARTITIONS", "SPARK_GRAFT_STREAM_STATE_TARGET_MB")
    val violations = lint(scalaFiles(mainRoot)) { (f, line) =>
      (line.contains("\"/tmp") &&
        !(f.getName == "ScaleUp.scala" && line.contains("\"/tmp/sf1\""))) ||
        line.contains("System.setProperty") || retired.exists(line.contains)
    }
    assert(violations.isEmpty, violations.mkString("\n", "\n", "\n"))
  }
}
