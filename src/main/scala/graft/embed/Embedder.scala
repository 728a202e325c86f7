package graft.embed

import graft.text.SimpleTokenizer

/** O7/O8 — the default [[EmbeddingModel]] instance (registry name
  * `hashing-768`): a deterministic embedding kernel standing in for
  * SentenceTransformer("freelawproject/modernbert-embed-base_finetune_512")
  * (reference: inception/embedding_service.py:152-165,207-213; model name
  * inception/config.py:6-9). The real weights are unavailable offline
  * (SURVEY.md §7.4.1); we preserve the pipeline CONTRACT:
  *
  *   - input is the full prefixed chunk/query text — the asymmetric
  *     "search_document: " / "search_query: " prefixes participate in the
  *     vector (embedding_service.py:90,162), so a query and an identical
  *     document chunk embed differently, as in the nomic-style reference;
  *   - output is a 768-dim L2-normalized Float vector
  *     (README.md:15 — ModernBERT-base hidden size);
  *   - fully deterministic: same text → same vector on any JVM/executor.
  *
  * Kernel: feature hashing. Each token (and each adjacent-token bigram, so
  * word order matters) is hashed with splitmix64 into 3 (dimension, sign)
  * pairs; contributions accumulate and the result is L2-normalized.
  * Pure JVM arithmetic — safe inside whole-stage codegen / mapPartitions,
  * no per-call allocation beyond the output array.
  */
object Embedder extends EmbeddingModel {

  val Dim = 768
  override def dim: Int = Dim
  private val FeaturesPerToken = 3

  // splitmix64 + FNV-1a: ONE definition in graft.util.Hashing
  import graft.util.Hashing.{mix64, fnvRange => hashRange}

  @inline private def addFeature(vec: Array[Float], tokenHash: Long): Unit = {
    var h = tokenHash
    var k = 0
    while (k < FeaturesPerToken) {
      h = mix64(h)
      val d = java.lang.Long.remainderUnsigned(h, Dim.toLong).toInt
      val sign = if ((h >>> 62 & 1L) == 0L) 1.0f else -1.0f
      vec(d) += sign
      k += 1
    }
  }

  /** Embed one text (already prefixed by the caller).
    *
    * Single allocation-free scan over the tokenizer's pieces
    * ([[SimpleTokenizer.skipWs]] / [[SimpleTokenizer.pieceEnd]]): each
    * piece's char range is hashed in place — byte-identical to hashing
    * SimpleTokenizer.encode's whitespace-trimmed token strings
    * (EmbedderProps asserts the equivalence). This is the per-row hot
    * loop of the 100-TB embed pass, so it must not allocate per token.
    */
  def embed(text0: String): Array[Float] = {
    val text = if (text0 == null) "" else text0
    val vec = new Array[Float](Dim)
    var prev = 0L
    var first = true
    var i = SimpleTokenizer.skipWs(text, 0)
    while (i < text.length) {
      val e = SimpleTokenizer.pieceEnd(text, i)
      val h = hashRange(text, i, e)
      addFeature(vec, h)
      if (!first) addFeature(vec, mix64(prev) ^ h) // order-sensitive bigram
      first = false
      prev = h
      i = SimpleTokenizer.skipWs(text, e)
    }
    l2Normalize(vec)
    vec
  }

  private def l2Normalize(vec: Array[Float]): Unit = {
    var ss = 0.0
    var i = 0
    while (i < vec.length) { ss += vec(i).toDouble * vec(i); i += 1 }
    if (ss > 0) {
      val inv = (1.0 / math.sqrt(ss)).toFloat
      i = 0
      while (i < vec.length) { vec(i) *= inv; i += 1 }
    }
  }

  /** Cosine similarity between two dense vectors (shared by the ANN and
    * near-dup operators).
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }
}
