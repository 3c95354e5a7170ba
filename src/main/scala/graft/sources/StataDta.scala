package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_stata / to_stata (pandas io/stata.py:2100 StataWriter,
  * :1023 StataReader) as a distributed source/sink over `.dta`
  * version-118 files — PURE JDK. The dta format is publicly
  * documented (Stata's own `help dta` spec): XML-ish ASCII section
  * tags around little/big-endian binary payloads, fixed-width
  * row-major data.
  *
  * Distributed shape is the package's [[ChunkFiles]]: one capped file
  * per partition chunk on write (each a complete, independently
  * readable dta), one file per task on read.
  *
  * Type mapping (write):
  *   - string  -> str{w}, w = max UTF-8 byte width in the chunk
  *     (Stata's native fixed-width strings; ≤2045 enforced loudly)
  *   - byte/boolean -> dta byte; short -> dta int. Values in the
  *     missing-code space (byte >100 or <-127, short >32740 or
  *     <-32767) widen the column frame-wide — byte->int, short->long —
  *     exactly as pandas (`io/stata.py:473-477`); writing them raw
  *     would silently read back as NULL
  *   - int/long -> dta long (int32) — Stata HAS NO int64. Exactly as
  *     pandas (`io/stata.py:406` `_cast_to_stata_types`), integral
  *     columns whose values exceed the int32 long range are SIDECAST
  *     to double, decided frame-wide by one min/max aggregate before
  *     the write (the distributed form of pandas' column max scan);
  *     beyond 2^53, where doubles stop being integer-exact, the write
  *     fails loudly (pandas warns and silently loses precision — a
  *     deliberate divergence: a distributed writer must not corrupt
  *     quietly)
  *   - float -> dta float, double/decimal -> dta double
  *   - timestamp -> dta double with %tc format (ms since 1960-01-01)
  *   - date -> dta long with %td format (days since 1960-01-01)
  *
  * Read restores real types (dta is binary-typed, unlike the
  * stringly-typed CSV/XML/HTML/XLSX wire formats): %tc doubles come
  * back as timestamps, %td longs as dates, missing sentinels
  * (`.`..`.z`) as NULL. Nulls write as the base missing value per
  * type; null/empty strings are interchangeable on the wire (Stata
  * has no string missing — same as pandas, io/stata.py:625).
  */
object StataDta {

  private val epoch1960Ms = -315619200000L // 1960-01-01T00:00Z in unix ms
  private val epoch1960Day = java.time.LocalDate.of(1960, 1, 1)

  // dta 118 type codes
  private val T_DOUBLE = 65526
  private val T_FLOAT = 65527
  private val T_LONG = 65528
  private val T_INT = 65529
  private val T_BYTE = 65530

  // base ('.') missing values; codes .a..ment .z lie above the base
  private val MISS_DOUBLE = java.lang.Double.longBitsToDouble(0x7fe0000000000000L)
  private val MISS_FLOAT = java.lang.Float.intBitsToFloat(0x7f000000)
  private val MISS_LONG = 2147483621
  private val MISS_INT = 32741
  private val MISS_BYTE = 101

  private val maxLong = 2147483620L // Stata long upper bound

  /** Stata variable name: ≤32 chars of [A-Za-z0-9_], not digit-led. */
  private def stataName(c: String): String = {
    val s = c.map(ch => if (ch.isLetterOrDigit && ch < 128 || ch == '_') ch else '_')
      .take(32)
    if (s.isEmpty || s.head.isDigit) "_" + s.take(31) else s
  }

  private case class VarPlan(name: String, dtaType: Int, fmt: String, width: Int)

  /** Per-column dta plan; string widths are per-chunk (computed at
    * write time), so `width` here is 0 for strings. */
  private def planOf(f: StructField): VarPlan = f.dataType match {
    case StringType => VarPlan(stataName(f.name), 0, "", 0) // width per chunk
    case ByteType | BooleanType => VarPlan(stataName(f.name), T_BYTE, "%8.0g", 1)
    case ShortType => VarPlan(stataName(f.name), T_INT, "%8.0g", 2)
    case IntegerType | LongType => VarPlan(stataName(f.name), T_LONG, "%12.0g", 4)
    case FloatType => VarPlan(stataName(f.name), T_FLOAT, "%9.0g", 4)
    case DoubleType | _: DecimalType => VarPlan(stataName(f.name), T_DOUBLE, "%10.0g", 8)
    case TimestampType => VarPlan(stataName(f.name), T_DOUBLE, "%tc", 8)
    case DateType => VarPlan(stataName(f.name), T_LONG, "%td", 4)
    case other => throw new IllegalArgumentException(
      s"StataDta.write: no dta mapping for column '${f.name}': $other — " +
        "cast to string/numeric/timestamp first (Stata's type system, like pandas to_stata)")
  }

  // ---- little-endian primitives over OutputStream ----
  private def w2(o: java.io.OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >>> 8) & 0xff)
  }
  private def w4(o: java.io.OutputStream, v: Int): Unit = {
    w2(o, v & 0xffff); w2(o, v >>> 16)
  }
  private def w8(o: java.io.OutputStream, v: Long): Unit = {
    w4(o, (v & 0xffffffffL).toInt); w4(o, (v >>> 32).toInt)
  }
  private def wAscii(o: java.io.OutputStream, s: String): Unit =
    o.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  private def wPadded(o: java.io.OutputStream, s: String, width: Int): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(b.length < width, s"StataDta: '$s' exceeds $width-byte field")
    o.write(b); o.write(new Array[Byte](width - b.length))
  }

  /** Write df as dta-118 files under `path` (overwrite semantics),
    * ≤ `cap` rows each, parallel across partitions. */
  def write(df: DataFrame, path: String, cap: Int = ChunkFiles.rowsPerFile): Unit = {
    val fields = df.schema.fields.toSeq
    // pandas io/stata.py:473-481 — integral columns whose values escape
    // their native Stata range (the top of each range is missing-code
    // space: byte >100, int >32740, long >2147483620) are widened:
    // byte -> int, short -> long, int/long -> double. Decided
    // frame-wide by ONE min/max aggregate so every chunk agrees;
    // without this, e.g. a byte value of 101 would silently read back
    // as NULL (it IS Stata's '.' for bytes).
    val intCols = fields.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val widened: Map[String, VarPlan] = if (intCols.isEmpty) Map.empty else {
      import org.apache.spark.sql.functions.{col, min, max}
      val aggs = intCols.flatMap(f => Seq(min(col(f.name)), max(col(f.name))))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      intCols.zipWithIndex.flatMap { case (f, i) =>
        if (r.isNullAt(2 * i)) None
        else {
          val lo = r.getAs[Number](2 * i).longValue
          val hi = r.getAs[Number](2 * i + 1).longValue
          f.dataType match {
            case ByteType if hi > 100L || lo < -127L =>
              Some(f.name -> VarPlan(stataName(f.name), T_INT, "%8.0g", 2))
            case ShortType if hi > 32740L || lo < -32767L =>
              Some(f.name -> VarPlan(stataName(f.name), T_LONG, "%12.0g", 4))
            case IntegerType | LongType if hi > maxLong || lo < -2147483647L =>
              Some(f.name -> VarPlan(stataName(f.name), T_DOUBLE, "%10.0g", 8))
            case _ => None
          }
        }
      }.toMap
    }
    val plans = fields.map(f => widened.getOrElse(f.name, planOf(f)))
    // an empty frame writes one zero-observation dta (valid per the
    // format: N=0 with full descriptors)
    ChunkFiles.write(df, path, "dta", cap)(writeDta(_, fields, plans, _))
  }

  private def writeDta(rows: Seq[Row], fields: Seq[StructField],
      plans: Seq[VarPlan], o: java.io.OutputStream): Unit = {
    // chunk pass 1: per-column max UTF-8 width for str{w} types
    val widths = plans.zipWithIndex.map { case (pl, i) =>
      if (fields(i).dataType != StringType) pl.width
      else math.max(1, rows.iterator.map { r =>
        if (r.isNullAt(i)) 0
        else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      }.foldLeft(0)(math.max)) match {
        case w if w > 2045 => throw new IllegalArgumentException(
          s"StataDta.write: column '${fields(i).name}' has a $w-byte value; " +
            "Stata fixed strings cap at 2045 bytes (strL blobs not emitted by this sink)")
        case w => w
      }
    }
    val types = plans.zipWithIndex.map { case (pl, i) =>
      if (fields(i).dataType == StringType) widths(i) else pl.dtaType
    }
    val fmts = plans.zipWithIndex.map { case (pl, i) =>
      if (fields(i).dataType == StringType) s"%${widths(i)}s" else pl.fmt
    }
    val k = fields.length
    val n = rows.length.toLong
    val rowWidth = widths.sum.toLong
    // section lengths are all fixed once K/N/rowWidth are known,
    // so the <map> offsets are exact (readers seek through them)
    val offHeader = 0L
    val lenHeader = 11 + 8 + 22 + 26 + (3 + 2 + 4) + (3 + 8 + 4) +
      (7 + 2 + 8) + (11 + 1 + 12) + 9
    val offMap = offHeader + lenHeader
    val lenMap = 5 + 14 * 8 + 6
    val offTypes = offMap + lenMap
    val lenTypes = 16 + 2L * k + 17
    val offNames = offTypes + lenTypes
    val lenNames = 10 + 129L * k + 11
    val offSort = offNames + lenNames
    val lenSort = 10 + 2L * (k + 1) + 11
    val offFmts = offSort + lenSort
    val lenFmts = 9 + 57L * k + 10
    val offVln = offFmts + lenFmts
    val lenVln = 19 + 129L * k + 20
    val offVlab = offVln + lenVln
    val lenVlab = 17 + 321L * k + 18
    val offChars = offVlab + lenVlab
    val lenChars = 17 + 18
    val offData = offChars + lenChars
    val lenData = 6 + n * rowWidth + 7
    val offStrls = offData + lenData
    val lenStrls = 7 + 8
    val offVl = offStrls + lenStrls
    val lenVl = 14 + 15
    val offClose = offVl + lenVl
    val offEof = offClose + 12

    wAscii(o, "<stata_dta><header><release>118</release><byteorder>LSF</byteorder><K>")
    w2(o, k); wAscii(o, "</K><N>"); w8(o, n); wAscii(o, "</N><label>")
    w2(o, 0); wAscii(o, "</label><timestamp>"); o.write(0)
    wAscii(o, "</timestamp></header>")
    wAscii(o, "<map>")
    Seq(offHeader, offMap, offTypes, offNames, offSort, offFmts, offVln,
      offVlab, offChars, offData, offStrls, offVl, offClose, offEof)
      .foreach(w8(o, _))
    wAscii(o, "</map>")
    wAscii(o, "<variable_types>"); types.foreach(w2(o, _))
    wAscii(o, "</variable_types>")
    wAscii(o, "<varnames>"); plans.foreach(pl => wPadded(o, pl.name, 129))
    wAscii(o, "</varnames>")
    wAscii(o, "<sortlist>"); (0 to k).foreach(_ => w2(o, 0))
    wAscii(o, "</sortlist>")
    wAscii(o, "<formats>"); fmts.foreach(wPadded(o, _, 57))
    wAscii(o, "</formats>")
    wAscii(o, "<value_label_names>"); plans.foreach(_ => wPadded(o, "", 129))
    wAscii(o, "</value_label_names>")
    wAscii(o, "<variable_labels>"); plans.foreach(_ => wPadded(o, "", 321))
    wAscii(o, "</variable_labels>")
    wAscii(o, "<characteristics></characteristics>")
    wAscii(o, "<data>")
    rows.foreach { r =>
      var i = 0
      while (i < k) {
        fields(i).dataType match {
          case StringType =>
            val b = if (r.isNullAt(i)) Array.empty[Byte]
              else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            o.write(b); o.write(new Array[Byte](widths(i) - b.length))
          case ByteType if plans(i).dtaType == T_INT => // widened: value escaped byte range
            w2(o, if (r.isNullAt(i)) MISS_INT else r.getByte(i).toInt)
          case ByteType =>
            if (r.isNullAt(i)) o.write(MISS_BYTE)
            else {
              val v = r.getByte(i).toInt
              require(v >= -127 && v <= 100, s"StataDta.write: ${fields(i).name}=$v " +
                "is in Stata's byte missing-code space — the frame-wide widening " +
                "scan should have upcast this column (data changed mid-write?)")
              o.write(v)
            }
          case BooleanType =>
            o.write(if (r.isNullAt(i)) MISS_BYTE else if (r.getBoolean(i)) 1 else 0)
          case ShortType if plans(i).dtaType == T_LONG => // widened: value escaped int range
            w4(o, if (r.isNullAt(i)) MISS_LONG else r.getShort(i).toInt)
          case ShortType =>
            if (r.isNullAt(i)) w2(o, MISS_INT)
            else {
              val v = r.getShort(i).toInt
              require(v >= -32767 && v <= 32740, s"StataDta.write: ${fields(i).name}=$v " +
                "is in Stata's int missing-code space — the frame-wide widening " +
                "scan should have upcast this column (data changed mid-write?)")
              w2(o, v)
            }
          case IntegerType if plans(i).dtaType == T_DOUBLE => // sidecast
            w8(o, java.lang.Double.doubleToLongBits(
              if (r.isNullAt(i)) MISS_DOUBLE else r.getInt(i).toDouble))
          case IntegerType =>
            if (r.isNullAt(i)) w4(o, MISS_LONG)
            else {
              val v = r.getInt(i)
              require(v >= -2147483647 && v <= maxLong, s"StataDta.write: " +
                s"${fields(i).name}=$v exceeds Stata's int32 long — the frame-wide " +
                "widening scan should have sidecast this column (data changed mid-write?)")
              w4(o, v)
            }
          case LongType if plans(i).dtaType == T_DOUBLE => // sidecast
            if (r.isNullAt(i))
              w8(o, java.lang.Double.doubleToLongBits(MISS_DOUBLE))
            else {
              val v = r.getLong(i)
              require(math.abs(v) <= (1L << 53), s"StataDta.write: " +
                s"${fields(i).name}=$v exceeds a double's exact-integer " +
                "range — pandas would silently lose precision here; " +
                "cast to double explicitly to accept the rounding")
              w8(o, java.lang.Double.doubleToLongBits(v.toDouble))
            }
          case LongType =>
            if (r.isNullAt(i)) w4(o, MISS_LONG)
            else {
              val v = r.getLong(i)
              // [-2147483647, 2147483620]: Stata's valid long range — the
              // same bounds the widening scan checked, so a scan-passed
              // value can never trip this
              require(v >= -2147483647L && v <= maxLong, s"StataDta.write: " +
                s"${fields(i).name}=$v exceeds Stata's int32 long — the frame-wide " +
                "widening scan should have sidecast this column (data changed mid-write?)")
              w4(o, v.toInt)
            }
          case FloatType =>
            w4(o, java.lang.Float.floatToIntBits(
              if (r.isNullAt(i)) MISS_FLOAT else r.getFloat(i)))
          case DoubleType =>
            w8(o, java.lang.Double.doubleToLongBits(
              if (r.isNullAt(i)) MISS_DOUBLE else r.getDouble(i)))
          case _: DecimalType =>
            w8(o, java.lang.Double.doubleToLongBits(
              if (r.isNullAt(i)) MISS_DOUBLE
              else r.getDecimal(i).doubleValue()))
          case TimestampType =>
            w8(o, java.lang.Double.doubleToLongBits(
              if (r.isNullAt(i)) MISS_DOUBLE
              else (r.getTimestamp(i).getTime - epoch1960Ms).toDouble))
          case DateType =>
            w4(o, if (r.isNullAt(i)) MISS_LONG
              else java.time.temporal.ChronoUnit.DAYS
                .between(epoch1960Day, r.getDate(i).toLocalDate).toInt)
          case other => throw new IllegalStateException(s"unreachable: $other")
        }
        i += 1
      }
    }
    wAscii(o, "</data>")
    wAscii(o, "<strls></strls><value_labels></value_labels></stata_dta>")
  }

  // ---- reader ----

  private class Cursor(bytes: Array[Byte]) {
    val buf: java.nio.ByteBuffer = java.nio.ByteBuffer.wrap(bytes)
    def expect(tag: String): Unit = {
      val b = new Array[Byte](tag.length); buf.get(b)
      val got = new String(b, java.nio.charset.StandardCharsets.US_ASCII)
      require(got == tag, s"StataDta.read: expected '$tag', got '$got' at ${buf.position() - tag.length}")
    }
    def ascii(n: Int): String = {
      val b = new Array[Byte](n); buf.get(b)
      new String(b, java.nio.charset.StandardCharsets.US_ASCII)
    }
    def utf8z(n: Int): String = {
      val b = new Array[Byte](n); buf.get(b)
      val end0 = b.indexOf(0.toByte)
      val end = if (end0 < 0) n else end0
      new String(b, 0, end, java.nio.charset.StandardCharsets.UTF_8)
    }
    def skip(n: Int): Unit = buf.position(buf.position() + n)
    def peek(tag: String): Boolean = {
      val p = buf.position()
      val ok = bytes.length - p >= tag.length &&
        tag.indices.forall(i => bytes(p + i) == tag.charAt(i).toByte)
      ok
    }
  }

  private case class DtaMeta(types: Array[Int], names: Array[String],
      fmts: Array[String], order: java.nio.ByteOrder)

  /** Parse header + descriptors, leaving the cursor at the first data
    * byte; returns row count alongside the metadata. */
  private def openData(c: Cursor): (DtaMeta, Long) = {
    c.expect("<stata_dta><header><release>")
    val rel = c.ascii(3)
    require(rel == "118", s"StataDta.read: only dta 118 supported, got $rel")
    c.expect("</release><byteorder>")
    val order = c.ascii(3) match {
      case "LSF" => java.nio.ByteOrder.LITTLE_ENDIAN
      case "MSF" => java.nio.ByteOrder.BIG_ENDIAN
      case o => throw new IllegalArgumentException(s"StataDta.read: byteorder $o")
    }
    c.buf.order(order)
    c.expect("</byteorder><K>")
    val k = c.buf.getShort & 0xffff
    c.expect("</K><N>")
    val n = c.buf.getLong
    c.expect("</N><label>")
    val labLen = c.buf.getShort & 0xffff
    c.skip(labLen)
    c.expect("</label><timestamp>")
    val tsLen = c.buf.get() & 0xff
    c.skip(tsLen)
    c.expect("</timestamp></header>")
    c.expect("<map>"); c.skip(14 * 8); c.expect("</map>")
    c.expect("<variable_types>")
    val types = Array.fill(k)(c.buf.getShort & 0xffff)
    c.expect("</variable_types>")
    c.expect("<varnames>")
    val names = Array.fill(k)(c.utf8z(129))
    c.expect("</varnames>")
    c.expect("<sortlist>"); c.skip(2 * (k + 1)); c.expect("</sortlist>")
    c.expect("<formats>")
    val fmts = Array.fill(k)(c.utf8z(57))
    c.expect("</formats>")
    c.expect("<value_label_names>"); c.skip(129 * k); c.expect("</value_label_names>")
    c.expect("<variable_labels>"); c.skip(321 * k); c.expect("</variable_labels>")
    c.expect("<characteristics>")
    while (c.peek("<ch>")) { // externally-authored files may carry these
      c.expect("<ch>")
      val len = c.buf.getInt
      c.skip(len)
      c.expect("</ch>")
    }
    c.expect("</characteristics>")
    c.expect("<data>")
    (DtaMeta(types, names, fmts, order), n)
  }

  private def sparkType(t: Int, fmt: String): DataType = t match {
    case w if w >= 1 && w <= 2045 => StringType
    case T_DOUBLE => if (fmt.startsWith("%tc")) TimestampType else DoubleType
    case T_FLOAT => FloatType
    case T_LONG => if (fmt.startsWith("%td")) DateType else IntegerType
    case T_INT => ShortType
    case T_BYTE => ByteType
    case other => throw new IllegalArgumentException(
      s"StataDta.read: unsupported dta type $other (strL blobs not supported)")
  }

  private def schemaOf(m: DtaMeta): StructType =
    StructType(m.types.indices.map(i =>
      StructField(m.names(i), sparkType(m.types(i), m.fmts(i)), nullable = true)))

  private def parseRows(bytes: Array[Byte]): Iterator[Row] = {
    val c = new Cursor(bytes)
    val (m, n) = openData(c)
    val k = m.types.length
    (0L until n).iterator.map { _ =>
      val vals = new Array[Any](k)
      var i = 0
      while (i < k) {
        val t = m.types(i)
        vals(i) =
          if (t >= 1 && t <= 2045) { val s = c.utf8z(t); if (s.isEmpty) null else s }
          else t match {
            case T_DOUBLE =>
              val v = c.buf.getDouble
              if (v >= MISS_DOUBLE) null
              else if (m.fmts(i).startsWith("%tc"))
                new java.sql.Timestamp(v.toLong + epoch1960Ms)
              else java.lang.Double.valueOf(v)
            case T_FLOAT =>
              val v = c.buf.getFloat
              if (v >= MISS_FLOAT) null else java.lang.Float.valueOf(v)
            case T_LONG =>
              val v = c.buf.getInt
              if (v >= MISS_LONG) null
              else if (m.fmts(i).startsWith("%td"))
                java.sql.Date.valueOf(epoch1960Day.plusDays(v))
              else java.lang.Integer.valueOf(v)
            case T_INT =>
              val v = c.buf.getShort
              if (v >= MISS_INT) null else java.lang.Short.valueOf(v)
            case T_BYTE =>
              val v = c.buf.get()
              if (v >= MISS_BYTE) null else java.lang.Byte.valueOf(v)
          }
        i += 1
      }
      Row.fromSeq(vals.toIndexedSeq)
    }
  }

  /** Parse every dta file under `path` (one per task); schema (names,
    * types, %tc/%td restores) from the descriptors of the first file
    * — all chunks share it by construction. */
  def read(s: SparkSession, path: String): DataFrame =
    ChunkFiles.read(s, path, "dta") { in =>
      schemaOf(openData(new Cursor(in.readAllBytes()))._1)
    }((bytes, _) => parseRows(bytes))
}
