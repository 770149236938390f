package graft

/** JSON text for the mains' artifacts (bench lines, oracle SQL dumps). */
object Json {
  /** `s` as a JSON string literal: quote, backslash and every control
    * char below U+0020 escaped, so any gate name, path or oracle SQL
    * parses under a strict reader such as Python's `json.loads`.
    */
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
