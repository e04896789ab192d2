package graft

/** The harness's one JSON string writer: every name, SQL text and
  * free-form value `Bench` and `Verify` print goes through [[str]]. */
object Json {
  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in builder-authored SQL or a
    * quote in a query name would otherwise make a consumer's
    * `json.load` fail on the whole record. */
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
