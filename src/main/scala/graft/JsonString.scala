package graft

/** JSON string literals for the one-line JSON written outside Spark's
  * writers (Bench's artifact, Verify's `oracle_sql.json`, the sink's
  * `_meta` sidecar). Escapes the quote, the backslash and every control
  * character below 0x20, so a tab, CR or newline in a value can neither
  * split the line nor make a strict JSON parser reject it. Other text,
  * non-ASCII included, passes through and is encoded by the writer.
  */
object JsonString {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** `s` as a quoted JSON string literal. */
  def quote(s: String): String = "\"" + esc(s) + "\""
}
