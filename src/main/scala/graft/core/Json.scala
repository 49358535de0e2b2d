package graft.core

object Json {
  /** A JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped, the common ones by name. A tab or CR left raw in
    * builder-authored SQL would make a reader's `json.load` fail. */
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
