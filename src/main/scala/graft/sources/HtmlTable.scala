package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** read_html / to_html (pandas io/html.py:1023, io/formats/html.py) as
  * a distributed source/sink over WELL-FORMED XHTML tables.
  *
  * pandas' read_html is a scraping tool for small in-page tables;
  * its honest distributed shape is "a directory of many HTML
  * documents, one parsed per task", not "one 100 TB HTML file":
  *
  *  - WRITE: each partition renders its rows as a sequence of
  *    self-contained XHTML documents of at most 65,536 rows, one
  *    `.html` file each ([[ChunkFiles]]; thead carries the column
  *    names, tbody one tr per row), parallel across partitions. The
  *    cap is load-bearing: one-doc-per-partition looked fine at
  *    sf0.01 and OOMed at sf10, where a 600k-row partition became a
  *    60 MB document (caught by the round-11 scaled differential).
  *    An empty frame writes one header-only document.
  *  - READ: each `.html` document goes to one task; parsing is
  *    STREAMING StAX (JDK `javax.xml.stream`) — constant memory per
  *    document regardless of row count, where a DOM parse explodes a
  *    60 MB doc into GBs of Node objects. Header names come from
  *    thead; every cell is a string — HTML is stringly-typed on the
  *    wire, so callers apply a schema by casting, the same discipline
  *    as the CSV/XML round-trips.
  *
  * Nulls round-trip as empty cells (cast back to NULL for non-string
  * types). Cell text is entity-escaped on write, so values containing
  * markup survive.
  */
object HtmlTable {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Render df (all columns as strings) to XHTML docs under `path`
    * (overwrite semantics), ≤ [[ChunkFiles.rowsPerFile]] rows each. */
  def write(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = df.columns.toSeq
    val strDf = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
    val head = cols.map(c => s"<th>${esc(c)}</th>").mkString
    ChunkFiles.write(strDf, path, "html", ChunkFiles.rowsPerFile) { (rows, o) =>
      val w = new java.io.OutputStreamWriter(o, java.nio.charset.StandardCharsets.UTF_8)
      w.write("<html><body><table><thead><tr>")
      w.write(head)
      w.write("</tr></thead><tbody>")
      rows.foreach { r =>
        w.write("<tr>")
        (0 until r.length).foreach { i =>
          w.write("<td>")
          if (!r.isNullAt(i)) w.write(esc(r.getString(i)))
          w.write("</td>")
        }
        w.write("</tr>")
      }
      w.write("</tbody></table></body></html>")
      w.flush()
    }
  }

  private def staxReader(in: java.io.InputStream) = {
    import javax.xml.stream.XMLInputFactory
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(in, "UTF-8")
  }

  /** Scan events only until </thead>: the column names. */
  private def headerOf(in: java.io.InputStream): Seq[String] = {
    import javax.xml.stream.XMLStreamConstants
    val rd = staxReader(in)
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var done = false
    while (!done && rd.hasNext) rd.next() match {
      case XMLStreamConstants.START_ELEMENT if rd.getLocalName == "th" =>
        names += rd.getElementText
      case XMLStreamConstants.END_ELEMENT if rd.getLocalName == "thead" =>
        done = true
      case _ =>
    }
    names.toSeq
  }

  /** Streaming-parse one XHTML doc's tbody rows. Constant memory
    * beyond the input bytes and one row. */
  private def parseRows(doc: Array[Byte]): Iterator[Row] = {
    import javax.xml.stream.XMLStreamConstants
    val rd = staxReader(new java.io.ByteArrayInputStream(doc))
    var inHead = false
    // one forward scan over the event stream, no DOM
    new Iterator[Row] {
      private var nextRow: Row = _
      private def advance(): Unit = {
        nextRow = null
        var cells: scala.collection.mutable.ArrayBuffer[String] = null
        var cell: StringBuilder = null
        while (nextRow == null && rd.hasNext) {
          rd.next() match {
            case XMLStreamConstants.START_ELEMENT => rd.getLocalName match {
              case "thead" => inHead = true
              case "tr" if !inHead => cells = scala.collection.mutable.ArrayBuffer[String]()
              case "td" => cell = new StringBuilder
              case _ =>
            }
            case XMLStreamConstants.CHARACTERS if cell != null =>
              cell.append(rd.getText)
            case XMLStreamConstants.END_ELEMENT => rd.getLocalName match {
              case "thead" => inHead = false
              case "td" if cells != null =>
                cells += cell.toString; cell = null
              case "tr" if cells != null =>
                nextRow = Row.fromSeq(cells.toSeq.map(c => if (c.isEmpty) null else c))
                cells = null
              case _ =>
            }
            case _ =>
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextRow != null
      override def next(): Row = { val r = nextRow; advance(); r }
    }
  }

  /** Parse every XHTML doc under `path` (one doc per task) into a
    * DataFrame of strings named by the thead header. */
  def read(s: SparkSession, path: String): DataFrame =
    ChunkFiles.read(s, path, "html") { in =>
      val names = headerOf(in)
      require(names.nonEmpty, s"HtmlTable.read: no <thead> header in $path")
      StructType(names.map(StructField(_, StringType, nullable = true)))
    }((doc, _) => parseRows(doc))
}
