package graft

/** JSON string escaping shared by the Verify and Bench emitters:
  * backslash, quote, and ALL control chars (<0x20) — a tab or CR in a
  * builder-authored SQL string or path would otherwise make the
  * driver's json.load fail and silently zero the round.
  */
object JsonOut {
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Locale.ROOT 2-decimal seconds formatter shared by the Bench and
    * ScaleProbe JSON lines: a comma-decimal default locale (de_DE …)
    * would format 34.123 as "34,123" and corrupt the line. */
  def cs(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** A failed query's cause for the Bench and Verify logs: the
    * exception's class and message (`Throwable.toString`) and its top
    * stack frames. */
  def cause(e: Throwable): String =
    (e.toString +: e.getStackTrace.take(8).map(f => s"  at $f")).mkString("\n")
}
