package perfbench

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.storage.StorageLevel

import graft.config.EngineConfig
import graft.embed.Embedder
import graft.engine.{Document, InceptionEngine}
import graft.text.{Chunker, SentenceSplitter, SimpleTokenizer}

/** The benchmark program. Runs one workload against the engine's public entry
  * points (`InceptionEngine.embedDocuments`, `InceptionEngine.embedQuery`,
  * `Similarity.bruteForceTopK`) and writes one JSON result.
  *
  * Usage: `Main --workload W --seed N --seconds S --trace 0|1 --out FILE`,
  * or `Main --list-metrics FILE`. Spark's scratch space is the JVM's
  * temporary directory; Spark gets min(4, available processors) cores.
  */
object Main {

  // ---- frozen workload constants (changing any of them changes the benchmark) ----

  /** Opinions per ingest pass (~12.8 MB). */
  val OpinionCount = 330
  /** Snippets per ingest pass. */
  val SnippetCount = 40000
  /** An ingest pass is sent as this many batch requests, one after another. */
  val BatchesPerPass = 8
  /** Batch requests sent at the end of each ingest set-up. */
  val WarmBatches = 2
  /** Opinions embedded into the searchable corpus (~17 MB). */
  val SearchCorpusDocs = 440
  /** The open-loop schedule: (arrival rate in queries/s, share of the
    * run), played in this order. A light step, the nominal step whose
    * latencies are reported, and an overload step beyond capacity whose
    * completion rate is the measured capacity.
    */
  val SearchSteps: Seq[(Double, Double)] = Seq(2.0 -> 1.0 / 12, 4.0 -> 10.0 / 12, 40.0 -> 1.0 / 12)
  val NominalRate = 4.0
  /** Tail-latency limit for a rate step to count as sustained. */
  val SloMs = 1000.0
  /** The reported tail percentile, where the sample leaves at least ten
    * samples beyond it (else the highest percentile that does).
    */
  val TailPercentile = 75.0
  val TopK = 10
  /** Concurrent queries sent at the end of each search set-up. */
  val WarmQueries = 4
  /** Concurrent queries sent, untimed, between set-up and measuring, so
    * the JIT has settled before the schedule starts.
    */
  val PrewarmQueries = 48
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Documents whose outputs are digested and compared with a replay. */
  val SampleDocs = 48
  /** Vector id = doc_id * VecIdStride + chunk_number. */
  val VecIdStride = 1000000L

  // ---- metric catalogue (BENCHMARK.json lists the same names) ----

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "text.split.busy_s" -> "s", "text.split.sentences" -> "count",
    "text.chunk.busy_s" -> "s", "text.chunk.chunks" -> "count",
    "text.chunk.truncated" -> "count", "text.chunk.fill_ratio" -> "ratio",
    "text.chunk.overlap_share" -> "ratio",
    "embed.busy_s" -> "s", "embed.calls" -> "count", "embed.texts" -> "count",
    "embed.chars" -> "count", "embed.query_us" -> "us",
    "engine.validate.busy_s" -> "s", "engine.rejected" -> "count",
    "engine.self_s" -> "s", "engine.parallel_efficiency" -> "ratio",
    "similarity.topk_ms" -> "ms", "similarity.vectors_scanned" -> "count",
    "similarity.overhead_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.deser_s" -> "s", "spark.result_ser_s" -> "s",
    "spark.scheduler_delay_ms" -> "ms", "spark.task_skew" -> "ratio",
    "spark.shuffle_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.peak_exec_mem_mb" -> "MB", "spark.core_busy_share" -> "ratio",
    "search.queue_wait_ms" -> "ms", "search.service_ms" -> "ms",
    "search.generator_lag_ms" -> "ms", "search.backlog_end" -> "count",
    "search.recall_at_10" -> "ratio", "search.index_mb" -> "MB",
    "search.qps_at_slo" -> "1/s",
    "bench.check_s" -> "s", "trace.overhead_share" -> "ratio")

  val Workloads = Seq("opinions_ingest", "snippets_ingest", "search_open_loop")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, work: String, cores: Int)

  /** Everything one run reports. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    var correct = true
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--list-metrics")) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(argv(1)),
        Json.write(Map("end_to_end" -> EndToEnd.toMap, "per_layer" -> PerLayer.toMap)))
      return
    }
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("out"), System.getProperty("java.io.tmpdir"),
      math.min(4, Runtime.getRuntime.availableProcessors))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    val res = new Result
    val spans = new Spans(a.trace)
    a.workload match {
      case "opinions_ingest" =>
        new Ingest(a, Gen.opinions(a.seed, OpinionCount), Set.empty, spans, res).run()
      case "snippets_ingest" =>
        val (docs, planted) = Gen.snippets(a.seed, SnippetCount)
        new Ingest(a, docs, planted, spans, res).run()
      case "search_open_loop" => new Search(a, spans, res).run()
    }
    spans.write(java.nio.file.Paths.get(a.out + ".spans.tsv"))
    val catalogue = if (a.trace) PerLayer else EndToEnd
    val metrics = catalogue.map { case (n, u) =>
      n -> Map("value" -> res.metrics.getOrElse(n, 0.0), "unit" -> u)
    }
    val out = Json.write(mutable.LinkedHashMap[String, Any](
      "correct" -> (res.correct && res.failed == 0),
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*),
      "info" -> res.info))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), out + "\n")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", a.work)
      .config("spark.sql.warehouse.dir", a.work + "/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()

  /** Progress line on standard error, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secondsSince(started)}%7.2f s] $msg")

  /** Runs `f` over `xs` on `threads` threads, keeping order. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Vector[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(() => f(x)))
      futures.map(_.get()).toVector
    } finally pool.shutdown()
  }

  /** (sentences, chunks) the engine must produce for each document, from
    * a replay of the splitter and chunker on `threads` threads.
    */
  def replayCounts(docs: Seq[Gen.Doc], threads: Int): Map[Long, (Int, Int)] = {
    val conf = EngineConfig.default
    parMap(docs, threads) { d =>
      val s = SentenceSplitter.split(d.text)
      d.id -> (s.size, Chunker.splitSentences(s, conf.maxTokens, conf.numOverlapSentences).size)
    }.toMap
  }

  /** The measured input properties recorded with every result. */
  def inputProperties(docs: Seq[Gen.Doc], planted: Set[Long],
      counts: Map[Long, (Int, Int)]): mutable.LinkedHashMap[String, Any] = {
    val lens = docs.map(_.text.length.toDouble)
    val sents = counts.values.map(_._1.toDouble).toSeq
    mutable.LinkedHashMap[String, Any](
      "documents" -> docs.size,
      "mb" -> lens.sum / 1e6,
      "length_p10" -> Stats.quantile(lens, 0.1), "length_p50" -> Stats.median(lens),
      "length_p90" -> Stats.quantile(lens, 0.9), "length_p99" -> Stats.quantile(lens, 0.99),
      "length_max" -> lens.max,
      "sentences_per_doc_p50" -> Stats.median(sents),
      "sentences_per_doc_mean" -> sents.sum / sents.size,
      "duplicate_share" -> (1.0 - docs.map(_.text).distinct.size.toDouble / docs.size),
      "planted_invalid_share" -> planted.size.toDouble / docs.size,
      "expected_chunks" -> counts.values.map(_._2.toLong).sum)
  }

  /** (steal, total) CPU time of the host's processors from /proc/stat,
    * where the kernel reports it.
    */
  def cpuTimes(): Option[(Long, Long)] =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").slice(1, 9).map(_.toLong)
      Some((if (f.length == 8) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  /** Runs `body` and records the share of CPU time the hypervisor took
    * from this machine meanwhile, which explains slow runs on shared hosts.
    */
  def measuring[A](res: Result)(body: => A): A = {
    val before = cpuTimes()
    val out = body
    for ((s0, t0) <- before; (s1, t1) <- cpuTimes() if t1 > t0)
      res.info("host_steal_share") = (s1 - s0).toDouble / (t1 - t0)
    out
  }

  /** Set up `SetupReps` times and keep the last; returns the median time. */
  def timedSetups[S](teardown: S => Unit)(setup: () => S): (S, Double) = {
    var last: Option[S] = None
    val times = (1 to SetupReps).map { _ =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      val s = setup()
      last = Some(s)
      secondsSince(t0)
    }
    log(s"set-ups took ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (last.get, Stats.median(times))
  }

  /** Per-operation Spark counters for the groups under `prefix`, after
    * the listener has seen every event.
    */
  def sparkLayer(spark: SparkSession, listener: OpListener, prefix: String, ops: Int,
      wallS: Double, cores: Int, res: Result): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val cs = listener.groups(prefix)
    def per(f: OpCounters => Double) = cs.map(f).sum / math.max(1, ops)
    val tasks = cs.map(_.tasks).sum
    res.metrics ++= Seq(
      "spark.jobs" -> per(_.jobs), "spark.stages" -> per(_.stages), "spark.tasks" -> per(_.tasks),
      "spark.task_run_s" -> per(_.runMs / 1e3), "spark.task_cpu_s" -> per(_.cpuNs / 1e9),
      "spark.gc_s" -> per(_.gcMs / 1e3), "spark.deser_s" -> per(_.deserMs / 1e3),
      "spark.result_ser_s" -> per(_.resultSerMs / 1e3),
      "spark.scheduler_delay_ms" -> cs.map(_.schedDelayMs).sum.toDouble / math.max(1L, tasks),
      "spark.shuffle_bytes" -> per(_.shuffleBytes), "spark.input_bytes" -> per(_.inputBytes),
      "spark.peak_exec_mem_mb" -> (if (cs.isEmpty) 0.0 else cs.map(_.peakExecMem).max / 1e6),
      "spark.core_busy_share" -> cs.map(_.runMs / 1e3).sum / (wallS * cores))
    val skews = cs.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
      ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }
    res.metrics("spark.task_skew") = if (skews.isEmpty) 0.0 else Stats.median(skews)
  }

  /** Relative change of a median latency from the untraced to the traced
    * half of a traced run.
    */
  def overhead(untraced: Double, traced: Double, res: Result): Unit =
    res.metrics("trace.overhead_share") = (traced - untraced) / untraced
}

/** `opinions_ingest` and `snippets_ingest`: repeated passes of
  * `embedDocuments` over the generated documents, sent as
  * [[Main.BatchesPerPass]] batch requests per pass.
  */
final class Ingest(a: Main.Args, docs: Vector[Gen.Doc], planted: Set[Long], spans: Spans,
    res: Main.Result) {
  import Main._

  private val conf = EngineConfig.default
  private val mt = conf.maxTokens
  private val ov = conf.numOverlapSentences
  private val valid = docs.filterNot(d => planted(d.id))

  /** Expected output of one batch request. */
  final case class Batch(docs: Vector[Gen.Doc], valid: Int, chunks: Long, sampleDigest: Long)

  def run(): Unit = {
    // reference outputs, computed before and outside any timing
    val counts = replayCounts(valid, a.cores)
    val sample = new Random(a.seed + 2).shuffle(valid).take(SampleDocs).map(_.id).toSet
    val sampleDigest = parMap(valid.filter(d => sample(d.id)), a.cores) { d =>
      d.id -> Check.replayDigest(d.id, d.text, mt, ov, conf.processingBatchSize)
    }.toMap
    val batches = Gen.batches(docs, BatchesPerPass).map { bd =>
      val v = bd.filterNot(d => planted(d.id))
      Batch(bd, v.size, v.map(d => counts(d.id)._2.toLong).sum,
        v.flatMap(d => sampleDigest.get(d.id)).sum)
    }
    res.info("inputs") = inputProperties(docs, planted, counts) += ("batches_per_pass" -> BatchesPerPass)
    log("inputs and references ready")

    val ((spark, engine, dfs), setupS) = timedSetups[(SparkSession, InceptionEngine, Vector[DataFrame])](
      _._1.stop()) { () =>
      val spark = session(a)
      val engine = new InceptionEngine()
      val dfs = batches.map { b =>
        val df = spark.createDataFrame(b.docs.map(d => Document(d.id, d.text)))
          .persist(StorageLevel.MEMORY_ONLY)
        df.count()
        df
      }
      // warm-up requests, outputs checked but not counted
      (0 until WarmBatches).foreach(i => op(spark, engine, dfs(i), batches(i), sample, s"warm-$i", Spans.Off))
      (spark, engine, dfs)
    }
    res.metrics("setup_s") = setupS

    /** Batch-request latencies in ms, and chunks per second of each pass. */
    def phase(seconds: Double, tag: String, sp: Spans, minOps: Int): (Seq[Double], Seq[Double]) = {
      val lat = ArrayBuffer.empty[Double]
      val passRates = ArrayBuffer.empty[Double]
      var chunks = 0L
      var wall = 0.0
      val t0 = System.nanoTime()
      var i = 0
      // whole passes only, so every run measures the same batch mix
      while (i < minOps || i % BatchesPerPass != 0 || secondsSince(t0) < seconds) {
        val b = i % BatchesPerPass
        val (s, ok, sum) = op(spark, engine, dfs(b), batches(b), sample, s"$tag-$i", sp)
        lat += s * 1e3
        chunks += sum.chunks
        wall += s
        res.attempted += 1
        if (!ok) res.failed += 1
        i += 1
        if (i % BatchesPerPass == 0) { passRates += chunks / wall; chunks = 0; wall = 0 }
      }
      (lat.toSeq, passRates.toSeq)
    }

    if (!a.trace) {
      // enough requests that the tail percentile has ten samples beyond it
      val minOps = math.ceil(10 / (1 - TailPercentile / 100)).toInt
      val (lat, passRates) = measuring(res)(phase(a.seconds, "op", Spans.Off, minOps))
      val (tailP, tail) = Stats.tailAt(lat, TailPercentile)
      res.metrics ++= Seq("throughput_per_s" -> Stats.median(passRates),
        "latency_p50_ms" -> Stats.median(lat), "latency_tail_ms" -> tail)
      log("measured")
      res.info ++= Seq("ops" -> lat.size, "tail_percentile" -> tailP,
        "throughput_unit" -> "chunks/s, median over passes")
    } else {
      // untraced half, then traced half: their difference is the tracing overhead
      val (latA, _) = phase(a.seconds / 2, "plain", Spans.Off, BatchesPerPass)
      val listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
      val (latB, _) = phase(a.seconds / 2, "op", spans, BatchesPerPass)
      val wallB = latB.sum / 1e3
      overhead(Stats.median(latA), Stats.median(latB), res)
      log("measured")
      // ingest layer metrics are per pass: one replay covers one pass of input
      val passes = latB.size / BatchesPerPass
      sparkLayer(spark, listener, "op-", passes, wallB, a.cores, res)
      traceLayers(spark, engine, dfs, listener, passes, wallB / passes, batches.map(_.chunks).sum)
    }
    spark.stop()
  }

  /** One batch request: `embedDocuments` on a cached batch, consumed by a
    * job that checks every output row. Returns (seconds, ok, summary).
    */
  private def op(spark: SparkSession, engine: InceptionEngine, df: DataFrame, b: Batch,
      sample: Set[Long], id: String, sp: Spans): (Double, Boolean, Check.Summary) = {
    spark.sparkContext.setJobGroup(id, id)
    val pl = planted
    val t0 = System.nanoTime()
    val sum = sp("ingest.op", id) { root =>
      val ds = sp("engine.embedDocuments", id, root)(_ => engine.embedDocuments(df))
      sp("spark.collect", id, root) { _ =>
        ds.queryExecution.toRdd
          .mapPartitions(it => Iterator(Check.partition(it, sample, pl)))
          .collect().foldLeft(Check.Summary())(_ merge _)
      }
    }
    val s = secondsSince(t0)
    if (sp.enabled) {
      checkNs += sum.checkNs
      rejected += b.docs.size - sum.docs
    }
    val ok = sum.docs == b.valid && sum.chunks == b.chunks && sum.badVectors == 0 &&
      sum.badOrder == 0 && sum.plantedSeen == 0 && sum.sampleDigest == b.sampleDigest
    if (!ok) System.err.println(s"[perfbench] $id wrong output: $sum expected $b".take(400))
    (s, ok, sum)
  }
  private var checkNs = 0L
  private var rejected = 0L


  /** Traced-run layer metrics: a single-thread replay of the text and embed
    * layers over one pass of input, plus a validation-only job, all per
    * batch request so they line up with the per-request Spark counters.
    */
  private def traceLayers(spark: SparkSession, engine: InceptionEngine, dfs: Vector[DataFrame],
      listener: OpListener, passes: Int, passWallS: Double, expectedChunks: Long): Unit = {
    val leadLen = SimpleTokenizer.countTokens(Chunker.LeadText, addSpecialTokens = true)
    val leadContent = SimpleTokenizer.countTokens(Chunker.LeadText.trim)
    var sentences, chunks, truncated, packed, contentTokens, uniqueTokens = 0L
    var calls, texts, chars = 0L
    valid.foreach { d =>
      val op = s"replay-${d.id}"
      val (sents, cs) = spans("replay.doc", op) { root =>
        val s = spans("text.split", op, root)(_ => SentenceSplitter.split(d.text))
        val c = spans("text.chunk", op, root)(_ => Chunker.splitSentences(s, mt, ov))
        spans("embed", op, root)(_ => c.grouped(conf.processingBatchSize).foreach(Embedder.embedBatch))
        (s, c)
      }
      sentences += sents.size
      chunks += cs.size
      calls += (cs.size + conf.processingBatchSize - 1) / conf.processingBatchSize
      texts += cs.size
      chars += cs.iterator.map(_.length.toLong).sum
      sents.foreach { s =>
        val n = SimpleTokenizer.countTokens(s)
        if (leadLen + n > mt) truncated += 1
        uniqueTokens += math.min(n, math.max(0, mt - leadLen))
      }
      cs.foreach { c =>
        val n = SimpleTokenizer.countTokens(c) - leadContent
        contentTokens += n
        packed += leadLen + n
      }
    }
    val self = spans.selfSeconds
    val split = self("text.split")
    val chunk = self("text.chunk")
    val embed = self("embed")
    // validation alone: task time of a validation job over the same batches,
    // less that of a job that only reads every text
    def jobsTaskS(name: String)(job: DataFrame => Long): (Double, Long) = {
      val n = dfs.zipWithIndex.map { case (df, i) =>
        spark.sparkContext.setJobGroup(s"$name-$i", name)
        spans(s"engine.$name", s"$name-$i")(_ => job(df))
      }.sum
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      (listener.groups(s"$name-").map(_.runMs / 1e3).sum, n)
    }
    val (validateJobS, rejectedByJob) =
      jobsTaskS("validate")(df => engine.withValidation(df).where(col("error_type").isNotNull).count())
    val (scanS, _) = jobsTaskS("scan")(df => df.where(length(col("text")) >= 0).count())
    val validate = validateJobS - scanS
    val check = checkNs / 1e9 / passes
    res.metrics ++= Seq(
      "text.split.busy_s" -> split, "text.split.sentences" -> sentences.toDouble,
      "text.chunk.busy_s" -> chunk, "text.chunk.chunks" -> chunks.toDouble,
      "text.chunk.truncated" -> truncated.toDouble,
      "text.chunk.fill_ratio" -> packed.toDouble / (chunks * mt),
      "text.chunk.overlap_share" -> (contentTokens - uniqueTokens).toDouble / contentTokens,
      "embed.busy_s" -> embed, "embed.calls" -> calls.toDouble, "embed.texts" -> texts.toDouble,
      "embed.chars" -> chars.toDouble,
      "engine.validate.busy_s" -> validate, "engine.rejected" -> rejected.toDouble / passes,
      "engine.self_s" -> (res.metrics("spark.task_run_s") - split - chunk - embed - validate - check),
      "engine.parallel_efficiency" -> (split + chunk + embed + validate) / (passWallS * a.cores),
      "bench.check_s" -> check)
    res.info("replay_chunks") = chunks
    // the replay and the engine must agree on the pass's chunks and rejections
    if (chunks != expectedChunks || rejected != planted.size.toLong * passes ||
        rejectedByJob != planted.size)
      res.correct = false
  }
}
