package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_sas format="xport" (pandas io/sas/sas_xport.py:253, reading
  * the publicly documented SAS Transport TS-140 format) as a
  * distributed source — plus the writer pandas lacks, so the pair
  * round-trips. PURE JDK: 80-byte card images, big-endian NAMESTR
  * descriptors, IBM 360 hex-float numerics.
  *
  * Distributed shape is the package's [[ChunkFiles]]: one capped
  * `.xpt` member per partition chunk on write, one file per task on
  * read.
  *
  * - XPORT numerics are IBM hex floats (base-16 exponent, 56-bit
  *   fraction). IEEE→IBM here is EXACT (the base-16 alignment shift
  *   is at most 3 bits, and 53+3 ≤ 56), so numeric round-trips are
  *   bit-faithful; overflow beyond IBM's ~16^63 range fails loudly.
  * - Variable names cap at 8 bytes with no long-name record in v5;
  *   the 40-byte LABEL field carries the real column name (free text
  *   per the spec), and this reader restores names from it. pandas'
  *   reader would surface the 8-byte short names (V1..Vk) with the
  *   real name visible as the label — documented, standards-clean.
  * - Timestamps ride DATETIME format (seconds since 1960-01-01),
  *   dates DATE (days since 1960-01-01), restored by format name.
  * - Char fields are fixed-width space-padded (width = chunk max,
  *   ≤200 per the v5 spec); empty/all-blank reads back as NULL.
  *   Numeric missing is the SAS '.' sentinel (0x2E + zeros).
  * - The observation stream pads to the 80-byte card boundary with
  *   blanks, which makes trailing all-blank rows ambiguous (a known
  *   xport quirk — pandas guesses via 8-byte blank words). This
  *   writer removes the ambiguity by recording NOBS=n in the member
  *   label; the reader uses it when present and falls back to the
  *   pandas heuristic otherwise.
  */
object SasXport {

  private val epoch1960Sec = -315619200L // 1960-01-01T00:00Z in unix sec
  private val epoch1960Day = java.time.LocalDate.of(1960, 1, 1)
  private val MISSING = 0x2e00000000000000L // '.' + zeros

  // ---- IBM 360 hex float <-> IEEE 754 ----

  /** Exact: value = 1.m * 2^e2 rewritten as F * 16^E, F in [1/16,1),
    * F's 56-bit fraction absorbs the ≤3-bit alignment shift. */
  private[graft] def ieeeToIbm(v: Double): Long = {
    if (v == 0.0) return 0L
    require(!v.isNaN && !v.isInfinite, s"SasXport: cannot encode $v")
    val bits = java.lang.Double.doubleToLongBits(v)
    val sign = bits >>> 63
    val rawExp = ((bits >>> 52) & 0x7ff).toInt
    require(rawExp != 0, s"SasXport: subnormal $v below IBM float range")
    val exp2 = rawExp - 1023
    val frac53 = (bits & 0xfffffffffffffL) | (1L << 52)
    val e16 = Math.floorDiv(exp2 + 4, 4) // ceil((exp2+1)/4)
    require(e16 >= -64 && e16 <= 63, s"SasXport: $v outside IBM exponent range")
    val shift = exp2 - 52 - 4 * e16 + 56 // in [0, 3]
    (sign << 63) | ((e16 + 64).toLong << 56) | ((frac53 << shift) & 0x00ffffffffffffffL)
  }

  private[graft] def ibmToIeee(bits: Long): Double = {
    if (bits == 0L) return 0.0
    val sign = if ((bits >>> 63) != 0) -1.0 else 1.0
    val e16 = ((bits >>> 56) & 0x7f).toInt - 64
    val frac = bits & 0x00ffffffffffffffL
    sign * frac.toDouble * math.pow(2.0, 4.0 * e16 - 56)
  }

  // ---- card-image constants (io/sas/sas_xport.py:36-47 layout) ----
  private val libHeader =
    "HEADER RECORD*******LIBRARY HEADER RECORD!!!!!!!000000000000000000000000000000  "
  private val memberHeader =
    "HEADER RECORD*******MEMBER  HEADER RECORD!!!!!!!000000000000000001600000000140  "
  private val dscrptrHeader =
    "HEADER RECORD*******DSCRPTR HEADER RECORD!!!!!!!000000000000000000000000000000  "
  private val obsHeader =
    "HEADER RECORD*******OBS     HEADER RECORD!!!!!!!000000000000000000000000000000  "
  private def namestrHeader(k: Int) =
    f"HEADER RECORD*******NAMESTR HEADER RECORD!!!!!!!000000$k%04d00000000000000000000  "
  private val fixedStamp = "01JAN70:00:00:00" // deterministic output

  private def pad(s: String, w: Int): String = {
    require(s.length <= w, s"SasXport: '$s' exceeds $w chars")
    s + " " * (w - s.length)
  }

  private case class XVar(longName: String, shortName: String,
      isChar: Boolean, width: Int, sasFmt: String)

  private def planOf(f: StructField, short: String, width: Int): XVar = f.dataType match {
    case StringType => XVar(f.name, short, isChar = true, math.max(1, width), "")
    case TimestampType => XVar(f.name, short, isChar = false, 8, "DATETIME")
    case DateType => XVar(f.name, short, isChar = false, 8, "DATE")
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | _: DecimalType =>
      XVar(f.name, short, isChar = false, 8, "")
    case other => throw new IllegalArgumentException(
      s"SasXport.write: no xport mapping for column '${f.name}': $other — cast first")
  }

  private def numOf(r: Row, i: Int, dt: DataType, name: String): Double = dt match {
    case ByteType => r.getByte(i).toDouble
    case ShortType => r.getShort(i).toDouble
    case IntegerType => r.getInt(i).toDouble
    case LongType =>
      val v = r.getLong(i)
      require(math.abs(v) <= (1L << 53), s"SasXport.write: $name=$v exceeds a " +
        "double's exact-integer range (xport numerics are 8-byte floats) — " +
        "cast to double explicitly to accept the rounding")
      v.toDouble
    case FloatType => r.getFloat(i).toDouble
    case DoubleType => r.getDouble(i)
    case BooleanType => if (r.getBoolean(i)) 1d else 0d
    case _: DecimalType => r.getDecimal(i).doubleValue()
    case TimestampType => (r.getTimestamp(i).getTime / 1000.0) - epoch1960Sec
    case DateType => java.time.temporal.ChronoUnit.DAYS
      .between(epoch1960Day, r.getDate(i).toLocalDate).toDouble
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  /** Write df as TS-140 xport members under `path` (overwrite
    * semantics), ≤ `cap` rows each, parallel across partitions. */
  def write(df: DataFrame, path: String, cap: Int = ChunkFiles.rowsPerFile): Unit = {
    val fields = df.schema.fields.toSeq
    require(fields.forall(_.name.getBytes("UTF-8").length <= 40),
      "SasXport.write: column names ride the 40-byte LABEL field; rename longer columns first")
    val shorts = (1 to fields.length).map(i => s"V$i")
    // an empty frame writes one zero-observation member (NOBS=0)
    ChunkFiles.write(df, path, "xpt", cap)(writeXpt(_, fields, shorts, _))
  }

  private def writeXpt(rows: Seq[Row], fields: Seq[StructField],
      shorts: IndexedSeq[String], o: java.io.OutputStream): Unit = {
    val vars = fields.zipWithIndex.map { case (f, i) =>
      val w = if (f.dataType == StringType) {
        val m = rows.iterator.map(r =>
          if (r.isNullAt(i)) 0
          else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
          .foldLeft(1)(math.max)
        require(m <= 200, s"SasXport.write: column '${f.name}' has a $m-byte " +
          "value; xport v5 char fields cap at 200 bytes")
        m
      } else 0
      planOf(f, shorts(i), w)
    }
    val rowWidth = vars.map(_.width).sum
    val wb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
    def wAscii(s: String): Unit = o.write(s.getBytes("US-ASCII"))
    def w8(v: Long): Unit = {
      wb.clear(); wb.putLong(v); o.write(wb.array(), 0, 8)
    }
    wAscii(libHeader)
    wAscii(pad("SAS     SAS     SASLIB", 24) + pad("9.4", 8) +
      pad("Linux", 8) + " " * 24 + fixedStamp)
    wAscii(pad(fixedStamp, 80))
    wAscii(memberHeader)
    wAscii(dscrptrHeader)
    wAscii(pad("SAS", 8) + pad("GRAFT", 8) + pad("SASDATA", 8) +
      pad("9.4", 8) + pad("Linux", 8) + " " * 24 + fixedStamp)
    // NOBS=<n> in the 40-char dataset label disambiguates
    // blank-padded tails (see scaladoc)
    wAscii(pad(fixedStamp, 16) + " " * 16 + pad(s"NOBS=${rows.length}", 40) +
      pad("", 8))
    wAscii(namestrHeader(vars.length))
    // NAMESTR records, 140 bytes big-endian, packed then padded to 80
    val ns = java.nio.ByteBuffer.allocate(((vars.length * 140 + 79) / 80) * 80)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    var pos = 0
    vars.zipWithIndex.foreach { case (v, i) =>
      ns.putShort(if (v.isChar) 2 else 1) // ntype
      ns.putShort(0)                      // nhfun
      ns.putShort(v.width.toShort)        // field length
      ns.putShort((i + 1).toShort)        // varnum
      ns.put(pad(v.shortName, 8).getBytes("US-ASCII"))
      // label = real name; pad in BYTES (a 40-char pad of a
      // multi-byte UTF-8 name would overflow the fixed field)
      val lb = v.longName.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ns.put(lb)
      (lb.length until 40).foreach(_ => ns.put(' '.toByte))
      ns.put(pad(v.sasFmt, 8).getBytes("US-ASCII")) // format name
      ns.putShort(0); ns.putShort(0); ns.putShort(0) // nfl/nfd/nfj
      ns.put(pad("", 2).getBytes("US-ASCII"))        // nfill
      ns.put(pad("", 8).getBytes("US-ASCII"))        // informat
      ns.putShort(0); ns.putShort(0)                 // nifl/nifd
      ns.putInt(pos)                                 // npos
      ns.put(new Array[Byte](52))
      pos += v.width
    }
    while (ns.hasRemaining) ns.put(' '.toByte)
    o.write(ns.array())
    wAscii(obsHeader)
    var outLen = 0L
    rows.foreach { r =>
      vars.zipWithIndex.foreach { case (v, i) =>
        if (v.isChar) {
          val b = if (r.isNullAt(i)) Array.empty[Byte]
            else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          o.write(b)
          var j = b.length
          while (j < v.width) { o.write(' '); j += 1 }
        } else {
          w8(if (r.isNullAt(i)) MISSING
            else ieeeToIbm(numOf(r, i, fields(i).dataType, fields(i).name)))
        }
      }
      outLen += rowWidth
    }
    while (outLen % 80 != 0) { o.write(' '); outLen += 1 }
  }

  // ---- reader ----

  private case class XMeta(vars: IndexedSeq[XVar], nobs: Long, dataAt: Int)

  private def openMeta(bytes: Array[Byte]): XMeta = {
    def card(i: Int): String = new String(bytes, i * 80, 80, "US-ASCII")
    require(card(0) == libHeader, "SasXport.read: not an XPORT library header")
    require(card(3).startsWith(memberHeader.take(75)), "SasXport.read: member header missing")
    val label = card(6).substring(32, 72).trim
    val nobsHint = if (label.startsWith("NOBS=")) label.drop(5).toLong else -1L
    val nsHead = card(7)
    require(nsHead.startsWith("HEADER RECORD*******NAMESTR"), "SasXport.read: NAMESTR header missing")
    val k = nsHead.substring(54, 58).trim.toInt
    // NAMESTR record length is DECLARED in the member header card —
    // 140 on most platforms but 136 (or 135) on VAX/VMS-authored
    // files. pandas reads it from header1[-5:-2] (sas_xport.py:319-320)
    // and pads each record to 140 before decoding; hardcoding 140
    // would parse such files at the wrong stride into garbage.
    val nsLen = {
      val declared = card(3).substring(75, 78).trim
      val v = if (declared.isEmpty) 140 else declared.toInt
      require(v == 140 || v == 136 || v == 135,
        s"SasXport.read: NAMESTR record length $v not one of 135/136/140")
      v
    }
    val nsBytes = ((k * nsLen + 79) / 80) * 80
    val base = 8 * 80
    val vars = (0 until k).map { i =>
      val rec = java.util.Arrays.copyOfRange(bytes, base + i * nsLen, base + i * nsLen + nsLen)
      val padded = if (nsLen == 140) rec else java.util.Arrays.copyOf(rec, 140)
      val bb = java.nio.ByteBuffer.wrap(padded).order(java.nio.ByteOrder.BIG_ENDIAN)
      val ntype = bb.getShort
      bb.getShort // nhfun
      val width = bb.getShort
      bb.getShort // varnum
      val nb = new Array[Byte](8); bb.get(nb)
      val short = new String(nb, "US-ASCII").trim
      val lb = new Array[Byte](40); bb.get(lb)
      val label = new String(lb, "UTF-8").trim
      val fb = new Array[Byte](8); bb.get(fb)
      val fmtName = new String(fb, "US-ASCII").trim
      XVar(if (label.nonEmpty) label else short, short, ntype == 2, width, fmtName)
    }
    val dataAt = base + nsBytes + 80
    require(new String(bytes, dataAt - 80, 80, "US-ASCII") == obsHeader,
      "SasXport.read: OBS header missing")
    val rowWidth = vars.map(_.width).sum
    val totalLen = bytes.length - dataAt
    val nobs = if (nobsHint >= 0) nobsHint
      else { // pandas' 8-byte-blank-word heuristic (sas_xport.py:413)
        var tail = 0
        while (tail + 8 <= math.min(80, totalLen) &&
          (1 to 8).forall(j => bytes(bytes.length - tail - j) == ' ')) tail += 8
        (totalLen - tail) / rowWidth
      }
    XMeta(vars, nobs, dataAt)
  }

  private def parseRows(bytes: Array[Byte]): Iterator[Row] = {
    val m = openMeta(bytes)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.position(m.dataAt)
    (0L until m.nobs).iterator.map { _ =>
      val vals = m.vars.map { v =>
        if (v.isChar) {
          val b = new Array[Byte](v.width); bb.get(b)
          val s = new String(b, "UTF-8").replaceAll("\\s+$", "")
          if (s.isEmpty) null else s
        } else {
          val raw = bb.getLong
          // SAS missing sentinels ('.', '._', '.A'..'.Z') are the
          // IBM "dirty zero" patterns: sentinel first byte + all-zero
          // fraction. The zero-fraction requirement matters — a real
          // float can carry 0x41..0x5A as its sign+exponent byte
          val b0 = (raw >>> 56).toInt
          if ((raw & 0x00ffffffffffffffL) == 0L && raw != 0L &&
              (b0 == 0x2e || b0 == 0x5f || (b0 >= 0x41 && b0 <= 0x5a))) null
          else {
            val d = ibmToIeee(raw)
            v.sasFmt match {
              case "DATETIME" =>
                new java.sql.Timestamp(((d + epoch1960Sec) * 1000.0).round)
              case "DATE" =>
                java.sql.Date.valueOf(epoch1960Day.plusDays(d.round))
              case _ => java.lang.Double.valueOf(d)
            }
          }
        }
      }
      Row.fromSeq(vals)
    }
  }

  private def sparkType(v: XVar): DataType =
    if (v.isChar) StringType
    else v.sasFmt match {
      case "DATETIME" => TimestampType
      case "DATE" => DateType
      case _ => DoubleType
    }

  /** Parse every xport member under `path` (one per task); schema
    * from the first file's NAMESTR block — all chunks share it by
    * construction. */
  def read(s: SparkSession, path: String): DataFrame =
    ChunkFiles.read(s, path, "xpt") { in =>
      StructType(openMeta(in.readAllBytes()).vars.map(v =>
        StructField(v.longName, sparkType(v), nullable = true)))
    }((bytes, _) => parseRows(bytes))
}
