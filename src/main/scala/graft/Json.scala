package graft

/** JSON string literals for the harness outputs (Bench's stage log,
  * Verify's failed.json and oracle_sql.json). */
object Json {

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in builder-authored SQL or a
    * stage name must not make the reader's json.load fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
