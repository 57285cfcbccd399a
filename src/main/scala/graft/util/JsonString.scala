package graft.util

/** JSON string literal for the hand-built JSON that Verify and Bench
  * write. Escapes quote, backslash and ALL control chars (< 0x20):
  * a tab or CR in oracle SQL or an exception message would otherwise
  * make the reader's json.load fail and lose the whole artifact.
  */
object JsonString {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
