package graft.text

/** O6 — `split_text_into_chunks`, the one genuinely custom operator
  * (reference: inception/embedding_service.py:80-150). Pure function over a
  * sentence list so every reference chunker invariant
  * (tests/test_embedding_service.py:265-476) is testable without Spark.
  *
  * Faithful control flow, branch by branch:
  *   - budget starts at the lead's token count WITH special tokens
  *     (embedding_service.py:90-95);
  *   - a single sentence over `maxTokens - leadLen`: flush the current
  *     chunk if non-empty, hard-truncate the sentence to
  *     `maxTokens - leadLen` tokens, emit it as its own chunk, and reset
  *     with NO overlap (lines 100-113);
  *   - overflow when appending: flush, then carry the last
  *     `numOverlapSentences` sentences into the next chunk — unless
  *     lead + overlap + sentence would itself overflow, in which case
  *     start clean (lines 116-141). The reference re-encodes the overlap
  *     sentences joined with " " (lines 124-126); our token counts are
  *     additive, so summing the carried sentences' counts is exact;
  *   - final partial chunk is emitted (lines 147-149);
  *   - every chunk is `lead + sentences.mkString(" ")` where each sentence
  *     is whitespace-trimmed — the reference's decode(encode(sentence))
  *     (lines 103,122,144,149).
  *
  * Each sentence is scanned once with the tokenizer's piece rule for its
  * count and trimmed body; no token strings are built.
  */
object Chunker {

  val LeadText = "search_document: "
  val QueryLead = "search_query: "

  /** The lead's token cost WITH special tokens (embedding_service.py:90-95). */
  private val LeadLen =
    SimpleTokenizer.countTokens(LeadText, addSpecialTokens = true)

  /** Greedy packing on per-sentence token counts. Returns full chunk
    * strings (lead-prefixed).
    */
  def splitSentences(
      sentences: Seq[String],
      maxTokens: Int,
      numOverlapSentences: Int
  ): Vector[String] = {
    val chunks = Vector.newBuilder[String]
    // current chunk as (trimmed sentence, token count), mirrors `current_chunks`
    var current = Vector.empty[(String, Int)]
    var currentCount = LeadLen

    def flushCurrent(): Unit =
      if (current.nonEmpty)
        chunks += (LeadText + current.iterator.map(_._1).mkString(" "))

    sentences.foreach { sentence =>
      // one scan: token count and the whitespace-trimmed body [start, end)
      val start = SimpleTokenizer.skipWs(sentence, 0)
      var end = start
      var sentLen = 0
      var i = start
      while (i < sentence.length) {
        end = SimpleTokenizer.pieceEnd(sentence, i)
        sentLen += 1
        i = SimpleTokenizer.skipWs(sentence, end)
      }
      val body = sentence.substring(start, end)
      if (LeadLen + sentLen > maxTokens) {
        // oversized sentence: flush, emit truncated as its own chunk, reset
        flushCurrent()
        chunks += (LeadText + truncate(body, maxTokens - LeadLen))
        current = Vector.empty
        currentCount = LeadLen
      } else if (currentCount + sentLen > maxTokens) {
        val overlap = current.takeRight(math.max(0, numOverlapSentences))
        flushCurrent()
        // counts are additive, so the joined overlap's count is their sum
        val overlapCount = overlap.iterator.map(_._2).sum
        if (LeadLen + overlapCount + sentLen > maxTokens) {
          current = Vector(body -> sentLen)
          currentCount = LeadLen + sentLen
        } else {
          current = overlap :+ (body -> sentLen)
          currentCount = LeadLen + overlapCount + sentLen
        }
      } else {
        current = current :+ (body -> sentLen)
        currentCount += sentLen
      }
    }
    flushCurrent()
    chunks.result()
  }

  /** The first `n` tokens of a whitespace-trimmed `body`, cut at the end
    * offset of its `n`-th piece (empty when `n <= 0`).
    */
  private[graft] def truncate(body: String, n: Int): String = {
    var end = 0
    var i = 0
    var k = 0
    while (k < n && i < body.length) {
      end = SimpleTokenizer.pieceEnd(body, i)
      k += 1
      i = SimpleTokenizer.skipWs(body, end)
    }
    body.substring(0, end)
  }

  /** Full O4→O5→O6 path: sentence-split then pack. */
  def split(text: String, maxTokens: Int, numOverlapSentences: Int): Vector[String] =
    splitSentences(SentenceSplitter.split(text), maxTokens, numOverlapSentences)
}
