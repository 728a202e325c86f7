package graft.config

import org.apache.spark.sql.SparkSession

/** Engine settings mirroring the reference's `Settings`
  * (reference: inception/config.py:5-34). Defaults and ranges are identical;
  * unlike the reference we do not hard-fail outside the documented ranges
  * because the reference's own tests construct services with out-of-range
  * values (e.g. max_tokens=15, tests/test_embedding_service.py:330-345).
  *
  * Every field is overridable per-session via `spark.conf` keys
  * `spark.graft.<camelCaseName>` (reference: env-var overrides,
  * inception/config.py + .env.example).
  *
  * The reference's request cap (`max_batch_size`, config.py:26), thread
  * pool (`max_workers`, config.py:28) and CPU/GPU switch (`force_cpu`,
  * config.py:32) have no field: Spark partitioning does the first two and
  * the JVM kernel is CPU-only (SURVEY.md §4).
  */
final case class EngineConfig(
    modelName: String = "hashing-768", // config.py:6-9 transformer_model_name
    maxTokens: Int = 512,            // config.py:14-16 (ge=256 le=10000)
    overlapRatio: Double = 0.004,    // config.py:17-22 (ge=0 le=0.01)
    minTextLength: Int = 1,          // config.py:23
    maxQueryLength: Int = 1000,      // config.py:24
    maxTextLength: Int = 10000000,   // config.py:25
    processingBatchSize: Int = 8,    // config.py:27
    enableMetrics: Boolean = true    // config.py:33
) {
  /** reference: embedding_service.py:49 `int(max_tokens * overlap_ratio)` */
  def numOverlapSentences: Int = (maxTokens * overlapRatio).toInt
}

object EngineConfig {
  val default: EngineConfig = EngineConfig()

  private def key(name: String) = s"spark.graft.$name"

  /** Read overrides from the session conf; absent keys keep defaults.
    * A malformed value fails naming the offending conf KEY — a bare
    * NumberFormatException("512m") with eight candidate keys is
    * undebuggable.
    */
  def fromSpark(spark: SparkSession): EngineConfig = {
    val c = spark.conf
    def parse[A](n: String, d: A, f: String => A): A =
      c.getOption(key(n)).map { raw =>
        try f(raw)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"invalid value '$raw' for conf ${key(n)}", e)
        }
      }.getOrElse(d)
    def i(n: String, d: Int) = parse(n, d, _.toInt)
    def dd(n: String, d: Double) = parse(n, d, _.toDouble)
    def b(n: String, d: Boolean) = parse(n, d, _.toBoolean)
    val base = default
    EngineConfig(
      modelName = parse("modelName", base.modelName, identity),
      maxTokens = i("maxTokens", base.maxTokens),
      overlapRatio = dd("overlapRatio", base.overlapRatio),
      minTextLength = i("minTextLength", base.minTextLength),
      maxQueryLength = i("maxQueryLength", base.maxQueryLength),
      maxTextLength = i("maxTextLength", base.maxTextLength),
      processingBatchSize = i("processingBatchSize", base.processingBatchSize),
      enableMetrics = b("enableMetrics", base.enableMetrics)
    )
  }
}
