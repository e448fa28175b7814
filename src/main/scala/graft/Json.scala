package graft

/** The JSON string writer behind every one-line JSON record graft prints
  * or sends: the gateway protocol and client, `running_jobs`' JSON columns,
  * and the mains' stdout records. */
object Json {
  /** JSON string literal: quotes, backslashes and every control character
    * escaped, so a value never breaks the one-object-per-line framing. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
