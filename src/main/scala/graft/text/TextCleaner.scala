package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** O2/O3 — `clean_text_for_json` / `preprocess_text` re-expressed as a pure
  * Spark Column expression chain (codegen'd, no UDF).
  *
  * Reference semantics (inception/utils.py:38-81), in order:
  *   1. keep only `\n`, `\t`, printable ASCII 0x20-0x7E — strips ALL other
  *      control chars and ALL non-ASCII including unicode (utils.py:51-55).
  *      Note: this removes `\r`, so the reference's subsequent CRLF→LF
  *      replacement (utils.py:61) is a no-op; we preserve the same
  *      observable behavior by simply not needing it.
  *   2. `\t` → space (utils.py:58-59)
  *   3. strip each line (after 1+2 only spaces remain strippable)
  *      (utils.py:63-64)
  *   4. collapse 3+ consecutive newlines to 2 (utils.py:66-67)
  *   5. trim leading/trailing whitespace (utils.py:69-70)
  *
  * Every step is a plain `regexp_replace`, so the whole cleaner inlines into
  * whole-stage codegen and — being deterministic — can be replicated
  * verbatim in the DuckDB oracle (see SparkEntry.oracleSql("clean_text")).
  */
object TextCleaner {

  /** The full O2 chain as a Column → Column transform. */
  def cleanTextForJson(text: Column): Column = {
    val ascii   = regexp_replace(text, "[^\\n\\t\\x20-\\x7E]", "")
    val noTabs  = regexp_replace(ascii, "\\t", " ")
    val stripped = regexp_replace(noTabs, "(?m)^ +| +$", "")
    val collapsed = regexp_replace(stripped, "\\n{3,}", "\n\n")
    regexp_replace(collapsed, "^[\\n ]+|[\\n ]+$", "")
  }

  /** O3 — cleaned text is valid iff non-empty after cleaning
    * (utils.py:73-81 raises "Text is empty after cleaning.").
    * Expressed as a predicate so callers can filter or error-route.
    */
  def isNonEmptyAfterCleaning(cleaned: Column): Column = length(cleaned) > 0

  /** Whitespace-insensitive trimmed length used by O1 validation
    * (utils.py:95 `len(text.strip())`). Python's strip() removes UNICODE
    * whitespace — Java's bare `\s` is ASCII-only and would accept a doc
    * padded with NBSP/ideographic space that the reference rejects, so
    * the (?U) flag widens `\s` to \p{IsWhite_Space}. The DuckDB oracle
    * mirrors it as the RE2 class `[\s\p{Z}\x{85}]` (same code points).
    * A null text has length 0, so every validation branch sees it as too
    * short — like the scalar `Validation.validateQueryLength`.
    */
  def strippedLength(text: Column): Column =
    length(regexp_replace(coalesce(text, lit("")), "(?U)^\\s+|\\s+$", ""))

  /** Plain-Scala twin of [[cleanTextForJson]] for pure-function call sites
    * (chunker tests, single-query path). Kept in lockstep with the Column
    * version; CleanerSpec asserts they agree.
    */
  def cleanString(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (ch == '\n' || ch == '\t' || (ch >= 32 && ch < 127)) sb.append(ch)
      i += 1
    }
    val kept = sb.toString.replace('\t', ' ')
    val strippedLines = kept.split("\n", -1).map { line =>
      var s = 0; var e = line.length
      while (s < e && line.charAt(s) == ' ') s += 1
      while (e > s && line.charAt(e - 1) == ' ') e -= 1
      line.substring(s, e)
    }
    val collapsed = strippedLines.mkString("\n").replaceAll("\\n{3,}", "\n\n")
    collapsed.replaceAll("^[\\n ]+|[\\n ]+$", "")
  }
}
