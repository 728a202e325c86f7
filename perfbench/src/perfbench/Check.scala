package perfbench

import org.apache.spark.sql.catalyst.InternalRow

import graft.embed.Embedder
import graft.text.Chunker

/** Output checks that run inside the Spark job consuming an ingest pass.
  * They read the engine's encoded rows directly, the way a writer would,
  * so the engine's Dataset encoding stays inside the measured work.
  */
object Check {

  /** What one partition of `embedDocuments` output held. */
  final case class Summary(
      docs: Long = 0,
      chunks: Long = 0,
      badVectors: Long = 0,
      badOrder: Long = 0,
      plantedSeen: Long = 0,
      sampleDigest: Long = 0,
      checkNs: Long = 0
  ) {
    def merge(o: Summary): Summary = Summary(docs + o.docs, chunks + o.chunks,
      badVectors + o.badVectors, badOrder + o.badOrder, plantedSeen + o.plantedSeen,
      sampleDigest + o.sampleDigest, checkNs + o.checkNs)
  }

  val NormTolerance = 1e-3

  /** A vector is good when it is 768-d and unit-norm. */
  def goodVector(dim: Int, get: Int => Float): Boolean =
    dim == Embedder.Dim && {
      var ss = 0.0
      var i = 0
      while (i < dim) { val f = get(i).toDouble; ss += f * f; i += 1 }
      math.abs(math.sqrt(ss) - 1.0) <= NormTolerance
    }

  /** Checks rows shaped `(doc_id, embeddings: array<struct<chunk_number,
    * chunk, embedding>>)`: every vector good, chunk numbers 1..n in order,
    * no planted-invalid document present, and a digest over the sampled
    * documents. Time spent here is returned so it can be taken out of the
    * engine's share of task time.
    */
  def partition(rows: Iterator[InternalRow], sample: Set[Long], planted: Set[Long]): Summary = {
    var docs, chunks, bad, badOrder, plantedSeen, digest, ns = 0L
    while (rows.hasNext) {
      val row = rows.next()
      val t0 = System.nanoTime()
      val id = row.getLong(0)
      val embs = row.getArray(1)
      val n = embs.numElements()
      docs += 1
      chunks += n
      if (planted.contains(id)) plantedSeen += 1
      val inSample = sample.contains(id)
      var i = 0
      while (i < n) {
        val s = embs.getStruct(i, 3)
        if (s.getInt(0) != i + 1) badOrder += 1
        val v = s.getArray(2)
        if (!goodVector(v.numElements(), v.getFloat)) bad += 1
        if (inSample) digest += Digest.chunk(id, s.getInt(0), s.getUTF8String(1).toString, v.toFloatArray())
        i += 1
      }
      ns += System.nanoTime() - t0
    }
    Summary(docs, chunks, bad, badOrder, plantedSeen, digest, ns)
  }

  /** Single-thread replay of what the engine must return for one document:
    * `Chunker.split` then the embedding model, digested like [[partition]].
    */
  def replayDigest(id: Long, text: String, maxTokens: Int, overlap: Int, batch: Int): Long = {
    val chunks = Chunker.split(text, maxTokens, overlap)
    val vecs = chunks.grouped(batch).flatMap(Embedder.embedBatch).toVector
    chunks.indices.map { i =>
      Digest.chunk(id, i + 1, chunks(i).replace(Chunker.LeadText, ""), vecs(i))
    }.sum
  }

  /** Cosine exactly as the engine's `graft_cosine` computes it (same
    * accumulation order, in double), rounded to 4 places half-up like the
    * engine's ranking key.
    */
  def roundedCosine(x: Array[Float], y: Array[Float], yNormSq: Double): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i).toDouble
      dot += xi * y(i).toDouble; na += xi * xi
      i += 1
    }
    val c = if (na == 0.0 || yNormSq == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(yNormSq))
    java.math.BigDecimal.valueOf(c).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Exact top-k ids: rounded cosine descending, id ascending. */
  def exactTopK(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float], k: Int): Seq[Long] = {
    var nb = 0.0
    q.foreach { f => nb += f.toDouble * f }
    // best k so far, kept sorted by rank
    val topS = Array.fill(k)(Double.NegativeInfinity)
    val topI = Array.fill(k)(Long.MaxValue)
    var size = 0
    var i = 0
    while (i < ids.length) {
      val s = roundedCosine(vecs(i), q, nb)
      val id = ids(i)
      def before(j: Int) = s > topS(j) || (s == topS(j) && id < topI(j))
      if (size < k || before(k - 1)) {
        var j = math.min(size, k - 1)
        while (j > 0 && before(j - 1)) { topS(j) = topS(j - 1); topI(j) = topI(j - 1); j -= 1 }
        topS(j) = s; topI(j) = id
        if (size < k) size += 1
      }
      i += 1
    }
    topI.take(size).toSeq
  }
}
