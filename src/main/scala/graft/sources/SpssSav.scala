package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** read_spss (pandas io/spss.py:17) as a distributed source — plus
  * the writer pandas lacks, so the pair round-trips. PURE JDK over
  * the publicly documented SPSS system-file format (the PSPP manual's
  * "System File Format" appendix): `$FL2` header, 32-byte variable
  * records, type-7 extension records, dictionary terminator, 8-byte
  * element cases.
  *
  * Distributed shape is the package's [[ChunkFiles]]: one capped
  * `.sav` per partition chunk on write, one file per task on read.
  *
  * - sav stores ONE numeric type: double (so every numeric column
  *   widens to double, exactly what pandas' read_spss surfaces as
  *   float64; integral values beyond 2^53 fail loudly).
  * - Variable names cap at 8 bytes; real column names ride the
  *   long-variable-names extension record (type 7 subtype 13), the
  *   same mechanism SPSS itself uses, so reads restore them.
  * - Timestamps/dates ride the sav date system (seconds since
  *   1582-10-14 GMT) with DATETIME/DATE print formats, restored on
  *   read by format code.
  * - Strings are fixed-width 8-byte-element chunks (width = chunk
  *   max, ≤255); sav has no string missing — null and empty
  *   interchange on the wire, read back as NULL.
  * - The writer emits uncompressed cases (compression 0); the READER
  *   also handles bias-compressed files (compression 1, the
  *   bytecode stream SPSS/pyreadstat write by default), so
  *   externally-authored files load.
  */
object SpssSav {

  private val SYSMIS = -java.lang.Double.MAX_VALUE
  /** Seconds from the sav epoch (1582-10-14T00:00 GMT) to unix epoch. */
  private val epochOffsetSec = 12219379200L

  // print-format type codes (PSPP manual, "Variable Record")
  private val FMT_A = 1
  private val FMT_F = 5
  private val FMT_DATE = 20
  private val FMT_DATETIME = 22

  private def fmt(tpe: Int, w: Int, d: Int): Int = (tpe << 16) | (w << 8) | d

  private case class SavVar(longName: String, shortName: String,
      strWidth: Int, fmtType: Int) {
    def elems: Int = if (strWidth == 0) 1 else (strWidth + 7) / 8
  }

  /** 8-byte-unique uppercase short names (V1..Vk never collide). */
  private def shortNames(n: Int): IndexedSeq[String] = (1 to n).map(i => s"V$i")

  private def w4(o: java.io.OutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write((v >>> 8) & 0xff)
    o.write((v >>> 16) & 0xff); o.write((v >>> 24) & 0xff)
  }
  private def w8d(o: java.io.OutputStream, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    var i = 0
    while (i < 8) { o.write(((bits >>> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def wPad(o: java.io.OutputStream, s: String, width: Int): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(b.length <= width, s"SpssSav: '$s' exceeds $width bytes")
    o.write(b)
    var i = b.length
    while (i < width) { o.write(' '); i += 1 }
  }

  private def planOf(f: StructField, short: String, width: Int): SavVar = f.dataType match {
    case StringType => SavVar(f.name, short, math.max(1, width), FMT_A)
    case TimestampType => SavVar(f.name, short, 0, FMT_DATETIME)
    case DateType => SavVar(f.name, short, 0, FMT_DATE)
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | _: DecimalType =>
      SavVar(f.name, short, 0, FMT_F)
    case other => throw new IllegalArgumentException(
      s"SpssSav.write: no sav mapping for column '${f.name}': $other — cast first")
  }

  private def numOf(r: Row, i: Int, dt: DataType, name: String): Double = dt match {
    case ByteType => r.getByte(i).toDouble
    case ShortType => r.getShort(i).toDouble
    case IntegerType => r.getInt(i).toDouble
    case LongType =>
      val v = r.getLong(i)
      require(math.abs(v) <= (1L << 53), s"SpssSav.write: $name=$v exceeds a " +
        "double's exact-integer range (sav stores only doubles, as pandas " +
        "read_spss surfaces) — cast to double explicitly to accept the rounding")
      v.toDouble
    case FloatType => r.getFloat(i).toDouble
    case DoubleType => r.getDouble(i)
    case BooleanType => if (r.getBoolean(i)) 1d else 0d
    case _: DecimalType => r.getDecimal(i).doubleValue()
    case TimestampType =>
      (r.getTimestamp(i).getTime / 1000.0) + epochOffsetSec
    case DateType =>
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(1970, 1, 1), r.getDate(i).toLocalDate) * 86400.0 +
        epochOffsetSec
    case other => throw new IllegalStateException(s"unreachable: $other")
  }

  /** Write df as uncompressed sav files under `path` (overwrite
    * semantics), ≤ `cap` rows each, parallel across partitions. */
  def write(df: DataFrame, path: String, cap: Int = ChunkFiles.rowsPerFile): Unit = {
    val fields = df.schema.fields.toSeq
    val shorts = shortNames(fields.length)
    // an empty frame writes one zero-case sav (ncases=0 with full
    // dictionary)
    ChunkFiles.write(df, path, "sav", cap)(writeSav(_, fields, shorts, _))
  }

  private def writeSav(rows: Seq[Row], fields: Seq[StructField],
      shorts: IndexedSeq[String], o: java.io.OutputStream): Unit = {
    val vars = fields.zipWithIndex.map { case (f, i) =>
      val w = if (f.dataType == StringType) {
        val m = rows.iterator.map(r =>
          if (r.isNullAt(i)) 0
          else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
          .foldLeft(1)(math.max)
        require(m <= 255, s"SpssSav.write: column '${f.name}' has a $m-byte " +
          "value; sav fixed strings cap at 255 bytes")
        m
      } else 0
      planOf(f, shorts(i), w)
    }
    val caseSize = vars.map(_.elems).sum
    // --- file header record ($FL2, 176 bytes) ---
    wPad(o, "$FL2", 4)
    wPad(o, "@(#) SPSS DATA FILE - graft Spark-native writer", 60)
    w4(o, 2)                 // layout_code: endianness sentinel
    w4(o, caseSize)          // nominal_case_size (8-byte elements)
    w4(o, 0)                 // compression: none
    w4(o, 0)                 // weight_index
    w4(o, rows.length)       // ncases
    w8d(o, 100.0)            // compression bias (unused here)
    wPad(o, "01 Jan 70", 9)  // creation date (fixed: deterministic files)
    wPad(o, "00:00:00", 8)
    wPad(o, "", 64)          // file label
    wPad(o, "", 3)           // padding
    // --- variable records (type 2), one + continuations ---
    vars.foreach { v =>
      w4(o, 2)
      w4(o, v.strWidth)      // 0 numeric, >0 string width
      w4(o, 0); w4(o, 0)     // no label, no missing values
      val f = v.fmtType match {
        case FMT_A => fmt(FMT_A, v.strWidth, 0)
        case FMT_DATETIME => fmt(FMT_DATETIME, 20, 0)
        case FMT_DATE => fmt(FMT_DATE, 11, 0)
        case _ => fmt(FMT_F, 8, 2)
      }
      w4(o, f); w4(o, f)     // print + write formats
      wPad(o, v.shortName, 8)
      // string vars wider than 8 bytes span ceil(w/8) elements;
      // each extra element is a continuation record (type -1)
      (1 until v.elems).foreach { _ =>
        w4(o, 2); w4(o, -1); w4(o, 0); w4(o, 0); w4(o, 0); w4(o, 0)
        wPad(o, "", 8)
      }
    }
    // --- type-7 subtype-13: SHORT=Long name map (tab-joined) ---
    val nameMap = vars.map(v => s"${v.shortName}=${v.longName}")
      .mkString("\t").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    w4(o, 7); w4(o, 13); w4(o, 1); w4(o, nameMap.length)
    o.write(nameMap)
    // --- type-7 subtype-20: character encoding ---
    val enc = "UTF-8".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    w4(o, 7); w4(o, 20); w4(o, 1); w4(o, enc.length)
    o.write(enc)
    // --- dictionary terminator ---
    w4(o, 999); w4(o, 0)
    // --- cases: 8-byte elements, uncompressed ---
    rows.foreach { r =>
      vars.zipWithIndex.foreach { case (v, i) =>
        if (v.strWidth > 0) {
          val b = if (r.isNullAt(i)) Array.empty[Byte]
            else r.getString(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          o.write(b)
          var j = b.length
          val padded = v.elems * 8
          while (j < padded) { o.write(' '); j += 1 }
        } else {
          w8d(o, if (r.isNullAt(i)) SYSMIS
            else numOf(r, i, fields(i).dataType, fields(i).name))
        }
      }
    }
  }

  // ---- reader ----

  private case class SavMeta(vars: IndexedSeq[SavVar], compressed: Boolean,
      bias: Double, dataAt: Int, order: java.nio.ByteOrder)

  private def openMeta(bytes: Array[Byte]): SavMeta = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bytes.length >= 176 && new String(bytes, 0, 4, "US-ASCII") == "$FL2",
      "SpssSav.read: not a $FL2 system file")
    bb.position(64)
    bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val layout = bb.getInt
    val order = if (layout == 2 || layout == 3) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN
    bb.order(order)
    bb.position(72)
    val compression = bb.getInt
    bb.position(84)
    val bias = bb.getDouble
    bb.position(176)
    var vars = Vector.empty[SavVar]
    var nameMap = Map.empty[String, String]
    var done = false
    while (!done) {
      bb.getInt match {
        case 2 =>
          val tpe = bb.getInt
          val hasLabel = bb.getInt
          val nMissing = bb.getInt
          val printFmt = bb.getInt
          bb.getInt // write format
          val nb = new Array[Byte](8); bb.get(nb)
          val short = new String(nb, "UTF-8").trim
          if (hasLabel != 0) {
            val len = bb.getInt
            bb.position(bb.position() + ((len + 3) / 4) * 4)
          }
          if (nMissing != 0) bb.position(bb.position() + 8 * math.abs(nMissing))
          if (tpe >= 0) // continuation records (-1) describe no new var
            vars :+= SavVar(short, short, tpe, (printFmt >>> 16) & 0xff)
        case 7 =>
          val subtype = bb.getInt
          val size = bb.getInt
          val count = bb.getInt
          val payload = new Array[Byte](size * count); bb.get(payload)
          if (subtype == 13)
            nameMap = new String(payload, "UTF-8").split("\t").iterator
              .map(_.split("=", 2)).collect { case Array(s, l) => s -> l }.toMap
        case 3 =>
          // value-label record (PSPP manual, "Value Labels Records"):
          // count pairs of {8-byte value, 1-byte label length, label
          // padded so len+1 is a multiple of 8}. Very common in
          // SPSS/pyreadstat-authored files; labels carry no data, skip.
          val count = bb.getInt
          (0 until count).foreach { _ =>
            bb.position(bb.position() + 8) // labeled value
            val len = bb.get() & 0xff
            bb.position(bb.position() + ((len + 1 + 7) / 8) * 8 - 1)
          }
        case 4 =>
          // companion variable-index record (always follows type 3):
          // n int32 dictionary indexes
          val n = bb.getInt
          bb.position(bb.position() + 4 * n)
        case 6 =>
          // document record: n lines x 80 bytes of free text
          val n = bb.getInt
          bb.position(bb.position() + 80 * n)
        case 999 =>
          bb.getInt // filler
          done = true
        case other =>
          throw new IllegalArgumentException(s"SpssSav.read: record type $other")
      }
    }
    val named = vars.map(v => v.copy(longName = nameMap.getOrElse(v.shortName, v.shortName)))
    SavMeta(named, compression != 0, bias, bb.position(), order)
  }

  private def sparkType(v: SavVar): DataType =
    if (v.strWidth > 0) StringType
    else v.fmtType match {
      case FMT_DATETIME => TimestampType
      case FMT_DATE | 29 | 38 => DateType // DATE/ADATE/EDATE all day-valued
      case _ => DoubleType
    }

  /** Iterate the case stream as raw 8-byte elements, transparently
    * decompressing the bias bytecode (PSPP manual, "Data Record"):
    * command bytes 1..251 = (code - bias) literal, 252 = EOF,
    * 253 = full 8-byte element follows, 254 = 8 spaces, 255 = SYSMIS. */
  private def elements(bytes: Array[Byte], m: SavMeta): Iterator[Array[Byte]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(m.order)
    bb.position(m.dataAt)
    if (!m.compressed) new Iterator[Array[Byte]] {
      override def hasNext: Boolean = bb.remaining() >= 8
      override def next(): Array[Byte] = { val a = new Array[Byte](8); bb.get(a); a }
    } else new Iterator[Array[Byte]] {
      private val cmds = new java.util.ArrayDeque[Int]()
      private var eof = false
      private var nextEl: Array[Byte] = _
      private val spaces = "        ".getBytes("US-ASCII")
      private def numEl(v: Double): Array[Byte] = {
        val a = new Array[Byte](8)
        java.nio.ByteBuffer.wrap(a).order(m.order).putDouble(v)
        a
      }
      private def advance(): Unit = {
        nextEl = null
        while (nextEl == null && !eof) {
          if (cmds.isEmpty) {
            if (bb.remaining() < 8) { eof = true; return }
            var i = 0
            while (i < 8) { cmds.add(bb.get() & 0xff); i += 1 }
          }
          cmds.poll() match {
            case 0 => // padding
            case 252 => eof = true
            case 253 =>
              if (bb.remaining() < 8) eof = true
              else { val a = new Array[Byte](8); bb.get(a); nextEl = a }
            case 254 => nextEl = spaces
            case 255 => nextEl = numEl(SYSMIS)
            case code => nextEl = numEl(code - m.bias)
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextEl != null
      override def next(): Array[Byte] = { val r = nextEl; advance(); r }
    }
  }

  private def parseRows(bytes: Array[Byte]): Iterator[Row] = {
    val m = openMeta(bytes)
    val els = elements(bytes, m)
    new Iterator[Row] {
      override def hasNext: Boolean = els.hasNext
      override def next(): Row = {
        val vals = m.vars.map { v =>
          if (v.strWidth > 0) {
            val sb = new java.io.ByteArrayOutputStream(v.elems * 8)
            (0 until v.elems).foreach(_ => sb.write(els.next()))
            val s = new String(sb.toByteArray, "UTF-8")
            val t = s.replaceAll("\\s+$", "") // sav right-pads with spaces
            if (t.isEmpty) null else t
          } else {
            val d = java.nio.ByteBuffer.wrap(els.next()).order(m.order).getDouble
            if (d == SYSMIS) null
            else v.fmtType match {
              case FMT_DATETIME =>
                new java.sql.Timestamp(((d - epochOffsetSec) * 1000.0).round)
              case FMT_DATE | 29 | 38 =>
                java.sql.Date.valueOf(java.time.LocalDate.of(1970, 1, 1)
                  .plusDays(((d - epochOffsetSec) / 86400.0).round))
              case _ => java.lang.Double.valueOf(d)
            }
          }
        }
        Row.fromSeq(vals)
      }
    }
  }

  /** Parse every sav file under `path` (one per task); schema from
    * the first file's dictionary — all chunks share it by
    * construction. */
  def read(s: SparkSession, path: String): DataFrame =
    ChunkFiles.read(s, path, "sav") { in =>
      StructType(openMeta(in.readAllBytes()).vars.map(v =>
        StructField(v.longName, sparkType(v), nullable = true)))
    }((bytes, _) => parseRows(bytes))
}
