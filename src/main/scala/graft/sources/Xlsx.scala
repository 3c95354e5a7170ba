package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** read_excel / to_excel (pandas io/excel/_base.py:93,478) as a
  * distributed source/sink over `.xlsx` workbooks — PURE JDK, no
  * spark-excel dependency: an xlsx file is a ZIP (`java.util.zip`) of
  * SpreadsheetML parts, and the worksheet XML is parsed with streaming
  * StAX exactly like [[HtmlTable]].
  *
  * pandas reads one workbook on one machine; the honest distributed
  * shape is "a directory of many workbooks, one per task":
  *
  *  - WRITE: each partition writes its rows as self-contained
  *    workbooks of at most `cap` rows ([[ChunkFiles]]; row 1 carries
  *    the column names — pandas' `header=True`), ZIP-compressed
  *    straight onto the filesystem stream. Cells are written as INLINE
  *    strings (`t="inlineStr"`) — a shared-strings table would need a
  *    second pass plus an unbounded dedup map per task; inline cells
  *    keep the writer single-pass and are read by Excel, openpyxl and
  *    pandas alike.
  *  - READ: each workbook's bytes go to one task ([[ChunkFiles]]);
  *    the sheet entry is StAX-parsed (constant memory beyond the
  *    compressed input). Externally-authored files
  *    are supported too: shared-string cells (`t="s"`), formula
  *    strings (`t="str"`), booleans (`t="b"`) and sparse rows
  *    (position recovered from the `r="BC12"` cell reference) all
  *    resolve. Every value surfaces as a string — spreadsheets are
  *    stringly-typed on the wire like CSV/XML/HTML, so callers apply
  *    a schema by casting, the same discipline as the other
  *    round-trips.
  *
  * Nulls round-trip as empty cells (`<c/>`), restored to NULL by the
  * cast-back. Cell text is entity-escaped on write, so markup in
  * values survives.
  */
object Xlsx {

  /** True at `i` when `s` carries a literal `_xHHHH_` sequence — the
    * OOXML escape pattern — which must itself be escaped on write so
    * the read side stays unambiguous. */
  private def looksEscaped(s: String, i: Int): Boolean =
    i + 6 < s.length && s.charAt(i + 1) == 'x' && s.charAt(i + 6) == '_' &&
      (2 to 5).forall { j =>
        val c = s.charAt(i + j)
        c.isDigit || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')
      }

  /** Entity-escape markup AND `_xHHHH_`-encode characters XML 1.0
    * cannot carry at all (U+0000-U+0008, U+000B/C, U+000E-U+001F) —
    * the standard SpreadsheetML escape (ECMA-376; openpyxl does the
    * same). Without it a  in a cell writes a workbook whose
    * sheet XML no parser accepts — corruption found only at read
    * time. A literal `_xHHHH_` in the data gets its underscore
    * encoded (`_x005F_`) so decode is unambiguous. */
  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '&') sb.append("&amp;")
      else if (ch == '<') sb.append("&lt;")
      else if (ch == '>') sb.append("&gt;")
      // \r is XML-legal but parsers NORMALIZE it to \n (XML 1.0 §2.11),
      // so it must be encoded to round-trip — Excel does the same.
      // Surrogate code UNITS and U+FFFE/U+FFFF are equally illegal in
      // XML 1.0 (Char excludes them) — a lone surrogate or BOM-swap
      // char written raw corrupts the workbook for the read-side SAX
      // parser exactly like a control char (openpyxl rejects them
      // too); encoding each UTF-16 unit separately also keeps PAIRED
      // surrogates (legal astral chars) round-tripping, matching how
      // Excel itself emits _xD83D__xDE00_ for emoji (round-12 ADVICE)
      else if (ch < 0x20 && ch != '\t' && ch != '\n')
        sb.append(f"_x${ch.toInt}%04X_")
      else if (Character.isSurrogate(ch) || ch == 0xFFFE.toChar || ch == 0xFFFF.toChar)
        sb.append(f"_x${ch.toInt}%04X_")
      else if (ch == '_' && looksEscaped(s, i)) sb.append("_x005F_")
      else sb.append(ch)
      i += 1
    }
    sb.toString
  }

  /** Decode `_xHHHH_` escapes (the inverse of [[esc]]; also what
    * openpyxl/Excel-authored files carry for control characters). */
  private def unesc(s: String): String = {
    if (s.indexOf("_x") < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '_' && looksEscaped(s, i)) {
        sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
        i += 7
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** 0-based column index -> A1-style column letters (0->A, 26->AA). */
  private[graft] def colLetters(i: Int): String = {
    var n = i
    val sb = new StringBuilder
    while (n >= 0) {
      sb.insert(0, ('A' + n % 26).toChar)
      n = n / 26 - 1
    }
    sb.toString
  }

  /** A1-style cell ref -> 0-based column index ("BC12" -> 54). */
  private def colOf(ref: String): Int = {
    var i = 0
    var c = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      c = c * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    c - 1
  }

  // SpreadsheetML boilerplate parts (identical for every workbook this
  // sink writes): content types, package rels, workbook, workbook rels.
  private val contentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""".stripMargin
  private val pkgRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin
  private val workbook =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
  private val wbRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin

  /** Render df (all columns cast to string) as xlsx workbooks under
    * `path` (overwrite semantics), ≤ `cap` rows each (well under the
    * 1,048,576-row sheet cap), parallel across partitions. An empty
    * frame writes one header-only workbook, as pandas' to_excel does. */
  def write(df: DataFrame, path: String, cap: Int = ChunkFiles.rowsPerFile): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = df.columns.toSeq
    val strDf = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val header = cols.zipWithIndex.map { case (c, i) =>
      s"""<c r="${colLetters(i)}1" t="inlineStr"><is><t xml:space="preserve">${esc(c)}</t></is></c>"""
    }.mkString(s"""<row r="1">""", "", "</row>")
    ChunkFiles.write(strDf, path, "xlsx", cap)(writeWorkbook(_, header, _))
  }

  private def writeWorkbook(rows: Seq[Row], header: String,
      out: java.io.OutputStream): Unit = {
    val zos = new java.util.zip.ZipOutputStream(out)
    val w = new java.io.OutputStreamWriter(zos, java.nio.charset.StandardCharsets.UTF_8)
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      w.write(body); w.flush(); zos.closeEntry()
    }
    entry("[Content_Types].xml", contentTypes)
    entry("_rels/.rels", pkgRels)
    entry("xl/workbook.xml", workbook)
    entry("xl/_rels/workbook.xml.rels", wbRels)
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    w.write(header)
    var r = 2L
    rows.foreach { row =>
      w.write(s"""<row r="$r">""")
      var i = 0
      while (i < row.length) {
        val ref = s"${colLetters(i)}$r"
        if (row.isNullAt(i)) w.write(s"""<c r="$ref"/>""")
        else w.write(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(row.getString(i))}</t></is></c>""")
        i += 1
      }
      w.write("</row>")
      r += 1
    }
    w.write("</sheetData></worksheet>")
    w.flush(); zos.closeEntry(); zos.close()
  }

  /** Shared-strings table of a workbook, if present (empty for files
    * this sink writes; needed for Excel/openpyxl-authored files).
    * Rich-text runs (`<si><r><t>`) concatenate like openpyxl. */
  private def sharedStrings(bytes: Array[Byte]): Array[String] = {
    val entryBytes = zipEntry(bytes, "xl/sharedStrings.xml")
    if (entryBytes == null) return Array.empty
    val rd = staxReader(entryBytes)
    import javax.xml.stream.XMLStreamConstants._
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var cur: StringBuilder = null
    var inT = false
    while (rd.hasNext) rd.next() match {
      case START_ELEMENT => rd.getLocalName match {
        case "si" => cur = new StringBuilder
        case "t" => inT = true
        case _ =>
      }
      case CHARACTERS if inT && cur != null => cur.append(rd.getText)
      case END_ELEMENT => rd.getLocalName match {
        case "t" => inT = false
        case "si" => out += cur.toString; cur = null
        case _ =>
      }
      case _ =>
    }
    out.toArray
  }

  private def zipEntry(bytes: Array[Byte], name: String): Array[Byte] = {
    val zis = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    var e = zis.getNextEntry
    while (e != null) {
      if (e.getName == name) return zis.readAllBytes()
      e = zis.getNextEntry
    }
    null
  }

  private def staxReader(bytes: Array[Byte]) = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new java.io.ByteArrayInputStream(bytes), "UTF-8")
  }

  /** Streaming-parse one workbook's sheet1 into rows of `width`
    * string cells (null-padded; sparse rows placed by cell ref). */
  private def parseRows(bytes: Array[Byte], width: Int): Iterator[Array[String]] = {
    val shared = sharedStrings(bytes)
    val sheet = zipEntry(bytes, "xl/worksheets/sheet1.xml")
    require(sheet != null, "Xlsx.read: no xl/worksheets/sheet1.xml entry")
    val rd = staxReader(sheet)
    import javax.xml.stream.XMLStreamConstants._
    new Iterator[Array[String]] {
      private var nextRow: Array[String] = _
      private def advance(): Unit = {
        nextRow = null
        var cells: Array[String] = null
        var colIdx = -1
        var cellType: String = null
        var text: StringBuilder = null
        var capture = false
        while (nextRow == null && rd.hasNext) rd.next() match {
          case START_ELEMENT => rd.getLocalName match {
            case "row" =>
              cells = new Array[String](width)
              colIdx = -1
            case "c" if cells != null =>
              val ref = rd.getAttributeValue(null, "r")
              // sparse rows carry refs; our own files do too. Fall
              // back to sequential position when absent (legal OOXML)
              colIdx = if (ref != null) colOf(ref) else colIdx + 1
              cellType = rd.getAttributeValue(null, "t")
            case "v" | "t" if cells != null && colIdx >= 0 =>
              capture = true; text = new StringBuilder
            case _ =>
          }
          case CHARACTERS if capture => text.append(rd.getText)
          case END_ELEMENT => rd.getLocalName match {
            case "v" | "t" => capture = false
            case "c" if cells != null && colIdx >= 0 && colIdx < width =>
              if (text != null) {
                val raw = text.toString
                cells(colIdx) = cellType match {
                  case "s" => unesc(shared(raw.toInt)) // shared-strings cell
                  case "b" => if (raw == "1") "true" else "false"
                  case "n" => raw // numeric: never escaped
                  case _ => unesc(raw) // inlineStr/str: decode _xHHHH_
                }
              }
              text = null; cellType = null
            case "row" if cells != null =>
              nextRow = cells; cells = null
            case _ =>
          }
          case _ =>
        }
      }
      advance()
      override def hasNext: Boolean = nextRow != null
      override def next(): Array[String] = { val r = nextRow; advance(); r }
    }
  }

  /** Header (row 1) of one workbook. */
  private def headerOf(bytes: Array[Byte]): Seq[String] = {
    // width unknown before the header is read: parse row 1 twice —
    // once wide to find the rightmost populated cell, then trim
    val wide = parseRows(bytes, 16384) // sheet column hard cap XFD
    if (!wide.hasNext) return Seq.empty
    val h = wide.next()
    val last = h.lastIndexWhere(_ != null)
    h.take(last + 1).toSeq.map(c => if (c == null) "" else c)
  }

  /** Parse every workbook under `path` (one per task) into a
    * DataFrame of strings named by the row-1 header — pandas
    * `read_excel(header=0)`. */
  def read(s: SparkSession, path: String): DataFrame =
    ChunkFiles.read(s, path, "xlsx") { in =>
      val names = headerOf(in.readAllBytes())
      require(names.nonEmpty, s"Xlsx.read: empty header row in $path")
      StructType(names.map(StructField(_, StringType, nullable = true)))
    } { (bytes, schema) =>
      parseRows(bytes, schema.length).drop(1) // drop per-file header
        .map(a => Row.fromSeq(a.toSeq))
    }
}
