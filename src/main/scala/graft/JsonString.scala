package graft

/** JSON string literals: quoted, with `"`, `\` and every control character
  * below U+0020 escaped, so a tab, CR or NUL in a row value, error message
  * or SQL text still yields valid JSON. The one escaper for the http sink's
  * rows, body templates, task-server bodies and Verify's `oracle_sql.json`. */
object JsonString {

  /** Appends `s` as a quoted JSON string literal (the http sink's per-row path). */
  def append(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var j = 0
    while (j < s.length) {
      s.charAt(j) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      j += 1
    }
    sb.append('"')
  }

  /** `s` as a quoted JSON string literal. */
  def apply(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    append(sb, s)
    sb.toString
  }
}
