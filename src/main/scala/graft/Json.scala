package graft

/** Minimal JSON string escaping shared by the harness mains. */
private[graft] object Json {
  /** Quote + escape: backslash, quote, and ALL control chars (<0x20) —
    * a tab or CR in builder-authored SQL or an exception message would
    * otherwise make a downstream json.load fail. */
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
