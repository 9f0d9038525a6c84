package graft.tools

/** `s` as a JSON string literal: quote, backslash and every control
  * character (< 0x20) escaped. Verify's oracle_sql.json and BenchSlice's
  * result line hold hand-written or user-supplied text (SQL, conf values,
  * paths); one unescaped `"`, `\` or tab there makes the reader's
  * `json.load` reject the whole file. */
object JsonStr {
  def apply(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
