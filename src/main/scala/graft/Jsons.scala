package graft

/** JSON string escaping shared by every artifact writer (Verify's
  * manifests, Bench's query names and data dir). One escaper, not
  * per-file copies: round 5 lost a correctness report to an unescaped
  * control char in builder SQL, and round 15's Bench grew a second
  * ad-hoc escaper that missed control chars entirely (ADVICE r15) — a
  * newline inside a captured process command line would have emitted a
  * literal control char inside a JSON string and made the whole
  * BENCH_r*.json line unparseable downstream.
  */
object Jsons {
  /** Quote + escape `s` as a JSON string literal: backslash, quote, and
    * ALL control chars (<0x20).
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
