package graft.text

/** O5 — deterministic, self-contained tokenizer standing in for the HF
  * ModernBERT BPE tokenizer (reference: inception/main.py:53-55 and uses in
  * embedding_service.py:86-91,105-107,124-126,132,136,144).
  *
  * The real BPE vocabulary is unavailable offline (SURVEY.md §7.4.2), so we
  * re-specify the token cost model while preserving every property the
  * chunker relies on:
  *
  *   - `encode` → sequence of token pieces; `count = pieces.length`
  *   - `encode(s).mkString == s` for trimmed `s` (exact round-trip — BPE
  *     has the same property for already-clean text)
  *   - token counts are CONTEXT-FREE and ADDITIVE:
  *     `count(a + " " + b) == count(a) + count(b)` — this makes the
  *     chunker's budget arithmetic exact: it sums per-sentence counts
  *     where the reference re-encodes joined overlap text
  *     (embedding_service.py:124-126).
  *   - truncation to n tokens can cut inside a long word at a subword
  *     boundary, like BPE.
  *
  * Cost model (BPE-ish): a word run `[A-Za-z0-9_]+` costs
  * `ceil(len/4)` tokens (~4 chars/token mirrors observed BPE fertility on
  * English prose); every other non-space char costs 1; whitespace is
  * carried on the following token and costs 0. `addSpecialTokens` adds 2
  * ([CLS]/[SEP] analog) to the COUNT only — mirroring the reference, which
  * includes special tokens in the lead budget (embedding_service.py:90-95)
  * but never decodes them.
  */
object SimpleTokenizer {

  val SubwordLen = 4
  val NumSpecialTokens = 2

  @inline def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  @inline def isWs(c: Char): Boolean = Character.isWhitespace(c)

  /** First non-whitespace index at or after `i` (`text.length` if none). */
  @inline def skipWs(text: String, i: Int): Int = {
    var j = i
    while (j < text.length && isWs(text.charAt(j))) j += 1
    j
  }

  /** End (exclusive) of the piece that starts at the non-whitespace index
    * `i`: a word-char run capped at [[SubwordLen]] chars, else one char.
    * With [[skipWs]] this is the whole piece rule — every scan over
    * tokens (encode, count, the embedding kernel, the chunker) walks
    * `i = skipWs(t, pieceEnd(t, i))` and allocates nothing.
    */
  @inline def pieceEnd(text: String, i: Int): Int =
    if (isWordChar(text.charAt(i))) {
      val cap = math.min(i + SubwordLen, text.length)
      var j = i + 1
      while (j < cap && isWordChar(text.charAt(j))) j += 1
      j
    } else i + 1

  /** Tokenize into pieces; concatenation of pieces == input minus trailing
    * whitespace. Each piece carries its leading whitespace.
    */
  def encode(text: String): Vector[String] = {
    if (text == null) return Vector.empty
    val out = Vector.newBuilder[String]
    var from = 0
    var i = skipWs(text, 0)
    while (i < text.length) {
      val e = pieceEnd(text, i)
      out += text.substring(from, e)
      from = e
      i = skipWs(text, e)
    }
    out.result()
  }

  def countTokens(text: String, addSpecialTokens: Boolean = false): Int = {
    var n = if (addSpecialTokens) NumSpecialTokens else 0
    if (text != null) {
      var i = skipWs(text, 0)
      while (i < text.length) {
        n += 1
        i = skipWs(text, pieceEnd(text, i))
      }
    }
    n
  }
}
