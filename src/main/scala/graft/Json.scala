package graft

/** The one JSON writer behind the program's artifacts: `oracle_sql.json`,
  * the bench artifact and [[Profiler.Record]]s. */
private[graft] object Json {

  /** String literal: backslash, quote, and ALL control chars (<0x20) — a
    * tab or CR in an oracle SQL string would otherwise make the
    * consumer's json.load fail and silently zero the correctness run. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Array of values that are already JSON. */
  def arr(xs: Seq[Any]): String = xs.mkString("[", ",", "]")

  /** Object over values that are already JSON (numbers, nested objects). */
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
