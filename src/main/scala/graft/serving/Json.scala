package graft.serving

/**
 * The JSON bodies shared by the serving endpoints ([[RestServer]],
 * [[RetrievalServer]], [[PlanServer]]): the reference's `Message` and
 * `ErrorMessage` envelopes, and minimal string escaping. Error bodies
 * serialize exception messages, and Spark exception text routinely carries
 * newlines, tabs and other control characters — RFC 8259 requires every
 * char below 0x20 be escaped or the body is malformed JSON and the
 * client's parser (not the user's eyes) sees the failure first.
 */
private[graft] object Json {

  /** The reference's `Message` envelope (`model/Message.java:7-16`):
    * `{"columns":[...],"data":[row,...],"metadata":{"metric":...}}`, with
    * each of `dataRows` already a JSON array. */
  def message(columns: Seq[String], dataRows: Seq[String], metric: String): String =
    s"""{"columns":[${columns.map(c => s""""$c"""").mkString(",")}],""" +
      s""""data":[${dataRows.mkString(",")}],""" +
      s""""metadata":{"metric":"$metric"}}"""

  /** The reference's `ErrorMessage` body (`model/ErrorMessage.java:3-5`). */
  def error(msg: String, code: Int): String =
    s"""{"errorMessage":"${escape(msg)}","errorCode":$code}"""

  /** A result cell as a JSON number; null, NaN and infinities as `null`. */
  def number(v: Any): String = v match {
    case null      => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other     => other.toString
  }

  /** Escape `s` for embedding inside a JSON string literal: backslash,
    * quote, the named control escapes, and `\u00XX` for the rest of the
    * C0 range. */
  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
