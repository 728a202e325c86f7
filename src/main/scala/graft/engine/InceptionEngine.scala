package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.config.EngineConfig
import graft.text.{Chunker, SentenceSplitter, TextCleaner}

/** One chunk's result — reference `ChunkEmbedding` (inception/schemas.py:46-59). */
final case class ChunkEmbedding(
    chunk_number: Int,
    chunk: String,
    embedding: Array[Float]
)

/** Reference `TextRequest` (inception/schemas.py:4-15). */
final case class Document(doc_id: Long, text: String)

/** Reference `TextResponse` (inception/schemas.py:62-84). */
final case class DocumentEmbeddings(
    doc_id: Long,
    embeddings: Seq[ChunkEmbedding]
)

final case class EmbeddedChunk(
    doc_id: Long,
    chunk_number: Int,
    chunk: String,
    embedding: Array[Float]
)

/** The engine — every reference entry point (SURVEY.md §2.2) as a DataFrame
  * op. Batch-first; the streaming variant reuses the same transforms via
  * Structured Streaming (graft.streaming).
  *
  * Scale design notes (100 TB target):
  *   - [[embedDocuments]] is the flagship and is a ZERO-SHUFFLE narrow
  *     plan: scan → mapPartitions → done. Chunking + embedding happen
  *     inside one pipelined stage and per-document results are assembled
  *     in place, so the largest intermediate (embedding vectors) never
  *     crosses the network. The reference's positional-zip reassembly
  *     (embedding_service.py:220-257) disappears entirely.
  *   - [[embedDocumentsExploded]] produces the long-format chunk table for
  *     downstream relational use; it runs the same per-document
  *     chunk → embed → number function inside the same kind of
  *     mapPartitions, flattened to one row per chunk, so it is equally
  *     narrow — any groupBy a consumer adds is their shuffle, keyed on
  *     doc_id with bounded rows per key (max_text_length caps a doc at
  *     ~5k chunks, SURVEY.md §4).
  *   - Per-doc work is bounded by `maxTextLength`, so task skew is capped;
  *     documents are hash-distributed across partitions by the scan.
  */
class InceptionEngine(
    val conf: EngineConfig = EngineConfig.default,
    val metrics: Option[Metrics] = None,
    modelOverride: Option[graft.embed.EmbeddingModel] = None
) extends Serializable {

  /** The pluggable embedding kernel (the reference's
    * `transformer_model_name` seam, inception/config.py:6-9): resolved
    * from `conf.modelName` via the [[graft.embed.EmbeddingModel]]
    * registry, or injected directly for unregistered models. Every embed
    * path below goes through this value — swapping in a real model
    * touches zero engine code.
    */
  val model: graft.embed.EmbeddingModel =
    modelOverride.getOrElse(graft.embed.EmbeddingModel.forName(conf.modelName))

  /** O13 REQUEST_COUNT/CHUNK_COUNT hooks (metrics.py:3-32): accumulators
    * increment inside executor tasks and aggregate on the driver, like
    * the reference's counters aggregate across workers. None = zero
    * overhead.
    */
  // O13 MODEL_LOAD_TIME (metrics.py:28-32, embedding_service.py:52):
  // observed once at engine construction — the kernel's "load" is a
  // warmup call (a real model swap-in times its weight load here)
  metrics.foreach { m =>
    val t0 = System.nanoTime()
    model.embed("warmup")
    m.modelLoadHistogram.observe((System.nanoTime() - t0) / 1000000L)
  }

  private def countRequest(endpoint: String): Unit =
    metrics.foreach(_.requestCount(endpoint).add(1L))

  /** O13 ERROR_COUNT (utils.py:96, 112, 126, 135, 144, 152): wraps an
    * `error_type` expression so every non-null label increments the
    * matching accumulator as the row is evaluated on the executor.
    * Accumulators for the whole sealed taxonomy are captured up front
    * (the SparkContext itself is not serializable); with no Metrics the
    * expression passes through untouched — zero overhead on the hot path.
    */
  private def countedErrors(endpoint: String, errorType: Column): Column =
    metrics match {
      case Some(m) =>
        val accs = Seq(Validation.TextTooShort, Validation.TextTooLong,
          Validation.QueryTooLong, Validation.ValidationError,
          Validation.DecodeError, Validation.GpuError,
          Validation.ProcessingError)
          .map(e => e.label -> m.errorCount(endpoint, e.label)).toMap
        val f = udf { label: String =>
          if (label != null) accs.get(label).foreach(_.add(1L))
          label
        }.asNondeterministic() // side effect: never elide or re-evaluate
        f(errorType)
      case None => errorType
    }

  // ---- Column-level ops (pure expressions, whole-stage codegen) ----

  /** O2 (utils.py:38-70). */
  def cleanText(text: Column): Column = TextCleaner.cleanTextForJson(text)

  /** O1 error routing for document texts. */
  def textErrorType(text: Column): Column = Validation.textErrorType(text, conf)

  /** O1+O3 error routing for query texts. */
  def queryErrorType(text: Column): Column =
    Validation.queryErrorType(text, conf)

  // ---- UDFs (registered names for SQL callers) ----

  /** O4 as UDF: sentence list. */
  val sentencesUdf =
    udf((text: String) => SentenceSplitter.split(Option(text).getOrElse("")))

  /** O6 as UDF: lead-prefixed chunk list. */
  val chunksUdf = {
    val mt = conf.maxTokens
    val ov = conf.numOverlapSentences
    udf((text: String) => Chunker.split(Option(text).getOrElse(""), mt, ov))
  }

  /** O7/O8 kernel as scalar UDF (text must already carry its task prefix).
    * The model is bound to a local before closure capture so the UDF
    * ships only the (serializable) model, never the engine + metrics.
    */
  val embedUdf = {
    val mdl = model
    udf((text: String) => mdl.embed(text))
  }

  def registerFunctions(spark: SparkSession): Unit = {
    spark.udf.register("graft_sentences", sentencesUdf)
    spark.udf.register("graft_chunks", chunksUdf)
    spark.udf.register("graft_embed", embedUdf)
  }

  // ---- Endpoint equivalents ----

  /** `/api/v1/validate/text` (routes/embedding.py:129-150): never errors;
    * adds `processed_text`, `is_valid`, `error`.
    */
  def validateText(df: DataFrame, textCol: String = "text"): DataFrame = {
    countRequest("validate")
    val cleaned = cleanText(col(textCol))
    df.withColumn("processed_text", cleaned)
      .withColumn("is_valid", TextCleaner.isNonEmptyAfterCleaning(col("processed_text")))
      .withColumn(
        "error",
        when(!col("is_valid"), lit("Text is empty after cleaning."))
          .otherwise(lit(null: String))
      )
  }

  /** O1 as row routing: adds `error_type` (null = valid) and, when the
    * frame carries `idCol`, a per-document `error` message in the
    * reference's exact format ("Document {id}: Text length (…) below
    * minimum (…)", utils.py:97-116) so a batch user can find the bad row.
    * Callers split on `error_type`; [[embedDocuments]] drops invalid rows
    * (the reference fails the whole batch on the first bad doc,
    * routes/embedding.py:113-115 — a DataFrame engine routes instead,
    * SURVEY.md §2.1 O1). Each invalid row increments ERROR_COUNT.
    */
  def withValidation(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val base = df.withColumn("error_type",
      countedErrors("batch", textErrorType(col(textCol))))
    if (df.columns.contains(idCol))
      base.withColumn("error",
        Validation.textErrorMessage(col(idCol), col(textCol), conf))
    else base
  }

  /** Binary→string decode with UTF-8 validation — the reference's
    * `raw_text.decode("utf-8")` → UnicodeDecodeError → 422 "Invalid UTF-8
    * encoding in text" path (routes/embedding.py:74-76, utils.py:124-131).
    * Adds `text` (decoded, null when invalid), `error_type`
    * (`decode_error`), and `error`. Pure expressions: a binary→string cast
    * wraps the raw bytes unvalidated, and `is_valid_utf8` checks them —
    * no UDF, fully codegen'd.
    */
  def decodeUtf8(df: DataFrame, binCol: String): DataFrame = {
    val s = col(binCol).cast("string")
    val bad = !is_valid_utf8(s)
    df.withColumn("text", when(!bad, s))
      .withColumn("error_type",
        countedErrors("text",
          when(bad, Validation.DecodeError.label).otherwise(lit(null: String))))
      .withColumn("error",
        when(bad, lit("Invalid UTF-8 encoding in text"))
          .otherwise(lit(null: String)))
  }

  /** O4+O6: exploded chunk table `(doc_id, chunk_number, chunk)`, chunk
    * lead-prefixed, chunk_number 1-based in document order
    * (embedding_service.py:241-247). Narrow plan — no shuffle.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    df.select(
        col(idCol).cast(LongType).as("doc_id"),
        posexplode(chunksUdf(col(textCol))).as(Seq("pos", "chunk"))
      )
      .select(
        col("doc_id"),
        (col("pos") + 1).cast(IntegerType).as("chunk_number"),
        col("chunk")
      )

  /** The per-document ingest operator both batch endpoints share:
    * chunk → embed in `processingBatchSize` groups (the reference's
    * `model.encode(batch_size=processing_batch_size)`,
    * embedding_service.py:207-213) → strip the lead from the returned
    * chunk (ibid:221-223; the lead stays IN the embedded text, ibid:90) →
    * number chunks from 1 (ibid:241-247). Built from locals so the task
    * closure ships only the model, the three settings and the
    * accumulators, never the engine + metrics.
    */
  private def chunkAndEmbed: String => Vector[ChunkEmbedding] = {
    val mt = conf.maxTokens
    val ov = conf.numOverlapSentences
    val batchSize = conf.processingBatchSize
    val chunkAcc = metrics.map(_.chunkCount("text"))
    val timeHist = metrics.map(_.processingTimeHistogram("batch"))
    val mdl = model
    text => {
      val t0 = System.nanoTime()
      val chunks = Chunker.split(text, mt, ov)
      chunkAcc.foreach(_.add(chunks.size.toLong))
      val vecs = chunks.grouped(batchSize).flatMap(mdl.embedBatch).toVector
      timeHist.foreach(_.observe((System.nanoTime() - t0) / 1000000L))
      Vector.tabulate(chunks.length)(i =>
        ChunkEmbedding(i + 1, chunks(i).replace(Chunker.LeadText, ""), vecs(i)))
    }
  }

  /** The valid `(doc_id, text)` rows of `df` — the O1 routing step in
    * front of both batch endpoints (see [[embedDocuments]] for
    * `dedupeIds`).
    */
  private def validDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dedupeIds: Boolean = false
  ): Dataset[Document] = {
    val spark = df.sparkSession
    import spark.implicits._
    val base0 = df.select(
      col(idCol).cast(LongType).as("doc_id"),
      col(textCol).as("text")
    )
    val base =
      if (dedupeIds) base0.groupBy("doc_id").agg(max("text").as("text"))
      else base0
    withValidation(base).filter(col("error_type").isNull)
      .select("doc_id", "text").as[Document]
  }

  /** Long-format embedding table `(doc_id, chunk_number, chunk, embedding)`:
    * the same per-document operator as [[embedDocuments]], flattened to
    * one row per chunk. Still a narrow, shuffle-free plan.
    */
  def embedDocumentsExploded(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Dataset[EmbeddedChunk] = {
    val spark = df.sparkSession
    import spark.implicits._
    val valid = validDocuments(df, idCol, textCol)
    countRequest("batch")
    val perDoc = chunkAndEmbed
    valid.mapPartitions(_.flatMap { d =>
      perDoc(d.text).map(c =>
        EmbeddedChunk(d.doc_id, c.chunk_number, c.chunk, c.embedding))
    })
  }

  /** FLAGSHIP — `/api/v1/embed/batch` (routes/embedding.py:95-126 →
    * embedding_service.py:167-257): one row per document with its ordered
    * `ChunkEmbedding` array. Zero shuffles: chunk, embed, and reassemble
    * all happen inside one mapPartitions, eliminating the reference's
    * order-coupled positional zip (SURVEY.md §7.4.4).
    *
    * Duplicate ids: the reference silently last-wins via dict build
    * (routes/embedding.py:117); with no row order in a DataFrame we keep
    * one arbitrary-but-deterministic row per id via max(text) when
    * `dedupeIds` (documented divergence, SURVEY.md §7.4.4).
    */
  def embedDocuments(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      dedupeIds: Boolean = false
  ): Dataset[DocumentEmbeddings] = {
    val spark = df.sparkSession
    import spark.implicits._
    val valid = validDocuments(df, idCol, textCol, dedupeIds)
    countRequest("batch")
    val perDoc = chunkAndEmbed
    valid.mapPartitions(_.map(d => DocumentEmbeddings(d.doc_id, perDoc(d.text))))
  }

  /** `/api/v1/embed/query` (routes/embedding.py:46-65): validate (1000-char
    * cap) → clean → "search_query: " prefix → embed. Scalar path.
    */
  def embedQuery(text: String): Array[Float] = {
    countRequest("query")
    val t0 = System.nanoTime()
    try {
      Validation.validateQueryLength(text, conf, metrics)
      val processed = TextCleaner.cleanString(text)
      if (processed.isEmpty)
        throw new IllegalArgumentException("Text is empty after cleaning.")
      val out = model.embedQuery(processed)
      // PROCESSING_TIME observed on the success path only
      // (routes/embedding.py:60-63)
      metrics.foreach(_.processingTimeHistogram("query")
        .observe((System.nanoTime() - t0) / 1000000L))
      out
    } catch {
      case e: IllegalArgumentException =>
        // handle_exception's ValueError branch also counts the same error
        // as validation_error (utils.py:133-140) — the reference double-
        // counts length failures; mirrored deliberately.
        metrics.foreach(_.errorCount("query",
          Validation.ValidationError.label).add(1L))
        throw e
    }
  }

  /** `GET /health` (routes/monitoring.py:16-28). */
  def health: Map[String, Any] = Map(
    "status" -> "healthy",
    "model_loaded" -> true,
    "gpu_available" -> false // JVM kernel; CPU-only by construction
  )

  /** `GET /metrics` (routes/monitoring.py:30-35): the Prometheus
    * text-exposition body, or None — the reference 404s when
    * `settings.enable_metrics` is false (config.py:33), and None is that
    * 404's value twin (an engine built without a Metrics sink likewise
    * has no exposition to serve).
    */
  def metricsExposition: Option[String] =
    if (conf.enableMetrics) metrics.map(_.exposition) else None
}
