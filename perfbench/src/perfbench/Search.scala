package perfbench

import java.util.concurrent.{Executors, Future}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.config.EngineConfig
import graft.embed.Embedder
import graft.engine.{Document, InceptionEngine}
import graft.ops.Similarity
import graft.text.{Chunker, TextCleaner}

/** `search_open_loop`: a cached corpus of chunk vectors is searched by
  * independent users whose queries arrive on a seeded open-loop schedule,
  * at each rate of [[Main.SearchSteps]] in turn. Each request is
  * `embedQuery` then `bruteForceTopK(k = 10).collect()`, timed from when
  * it was due.
  */
final class Search(a: Main.Args, spans: Spans, res: Main.Result) {
  import Main._

  private val conf = EngineConfig.default
  private val mt = conf.maxTokens
  private val ov = conf.numOverlapSentences

  /** One request of the schedule; times are System.nanoTime values. */
  final class Req(val id: String, val query: String, val due: Long) {
    @volatile var submitted, started, ended = 0L
    @volatile var qvec: Array[Float] = null
    @volatile var ids: Seq[Long] = Nil
    @volatile var error: Throwable = null
    @volatile var wrong = false
    def latencyMs: Double = (ended - due) / 1e6
  }

  final case class StepRun(rate: Double, reqs: Vector[Req], backlogEnd: Int) {
    def step: Stats.Step = Stats.Step(rate, reqs.size,
      reqs.count(r => r.error != null || r.wrong), reqs.map(_.latencyMs), backlogEnd)
  }

  def run(): Unit = {
    val docs = Gen.opinions(a.seed * 7919 + 17, SearchCorpusDocs)
    val queries = Gen.queries(a.seed, 6000)
    val counts = replayCounts(docs, a.cores)
    val expected = counts.values.map(_._2.toLong).sum
    val sample = new Random(a.seed + 2).shuffle(docs).take(SampleDocs)
    val sampleVecs = parMap(sample, a.cores) { d =>
      val cs = Chunker.split(d.text, mt, ov)
      cs.indices.map(i => (d.id * VecIdStride + i + 1) -> Embedder.embed(cs(i)))
    }.flatten.toMap
    res.info("inputs") = inputProperties(docs, Set.empty, counts) +=
      ("query_words_p50" -> Stats.median(queries.map(_.split(' ').length.toDouble)))
    log("inputs and references ready")
    var nextQuery = 0
    def takeQuery(): String = { val q = queries(nextQuery % queries.size); nextQuery += 1; q }

    val ((spark, engine, corpus), setupS) = timedSetups[(SparkSession, InceptionEngine, DataFrame)](
      _._1.stop()) { () =>
      val spark = session(a)
      val engine = new InceptionEngine()
      val input = spark.createDataFrame(docs.map(d => Document(d.id, d.text)))
      val corpus = engine.embedDocumentsExploded(input)
        .select((col("doc_id") * VecIdStride + col("chunk_number")).as("vec_id"), col("embedding"))
        .persist(StorageLevel.MEMORY_ONLY)
      corpus.count()
      burst(engine, corpus, Vector.fill(WarmQueries)(takeQuery()))
      (spark, engine, corpus)
    }
    res.metrics("setup_s") = setupS
    burst(engine, corpus, Vector.fill(PrewarmQueries)(takeQuery()))

    // the exact reference: every corpus vector, held in this process
    val (ids, vecs) = corpus.queryExecution.toRdd
      .map(r => (r.getLong(0), r.getArray(1).toFloatArray())).collect().unzip
    val idIndex = ids.zipWithIndex.toMap
    val corpusOk = ids.length == expected &&
      vecs.forall(v => Check.goodVector(v.length, v(_))) &&
      sampleVecs.forall { case (id, v) => idIndex.get(id).exists(i => java.util.Arrays.equals(vecs(i), v)) }
    if (!corpusOk) {
      System.err.println(s"[perfbench] corpus differs from the replay (${ids.length} vectors, expected $expected)")
      res.correct = false
    }
    log("reference vectors collected")
    res.info("index_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

    def verify(runs: Seq[StepRun]): Unit = {
      val reqs = runs.flatMap(_.reqs).filter(_.error == null)
      val exact = parMap(reqs, a.cores)(r => Check.exactTopK(ids, vecs, r.qvec, TopK))
      var hits = 0L
      reqs.lazyZip(exact).foreach { (r, e) =>
        val qOk = java.util.Arrays.equals(r.qvec, Embedder.embedQuery(TextCleaner.cleanString(r.query)))
        r.wrong = !qOk || r.ids != e
        hits += r.ids.toSet.intersect(e.toSet).size
      }
      runs.flatMap(_.reqs).foreach { r =>
        res.attempted += 1
        if (r.error != null || r.wrong) res.failed += 1
      }
      res.info("recall_at_10") = hits.toDouble / math.max(1, reqs.size * TopK)
    }

    def phase(seconds: Double, tag: String, sp: Spans): Seq[StepRun] = {
      val runs = openLoop(spark, engine, corpus, seconds, tag, sp, takeQuery _)
      verify(runs)
      res.info(s"${tag}_steps") = runs.map { r =>
        val s = r.step
        val (tailP, tail) = Stats.tail(s.latenciesMs)
        mutable.LinkedHashMap[String, Any]("rate" -> s.rate, "sent" -> s.sent, "failed" -> s.failed,
          "p50_ms" -> Stats.median(s.latenciesMs), "tail_percentile" -> tailP, "tail_ms" -> tail,
          "backlog_end" -> s.backlogEnd, "meets_slo" -> Stats.meetsSlo(s, SloMs, a.cores))
      }
      runs
    }
    def nominal(runs: Seq[StepRun]): StepRun = runs.find(_.rate == NominalRate).get

    if (!a.trace) {
      val runs = measuring(res)(phase(a.seconds, "op", Spans.Off))
      log("measured and verified")
      val lat = nominal(runs).step.latenciesMs
      val (tailP, tail) = Stats.tailAt(lat, TailPercentile)
      res.metrics ++= Seq("throughput_per_s" -> capacity(runs.last),
        "latency_p50_ms" -> Stats.median(lat), "latency_tail_ms" -> tail)
      res.info ++= Seq("tail_percentile" -> tailP, "nominal_samples" -> lat.size,
        "nominal_latencies_ms" -> lat.map(x => math.round(x).toInt),
        "qps_at_slo" -> Stats.qpsAtSlo(runs.map(_.step), SloMs, a.cores),
        "throughput_unit" -> "queries/s completed under overload")
    } else {
      val runsA = phase(a.seconds / 2, "plain", Spans.Off)
      val listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
      val runsB = phase(a.seconds / 2, "op", spans)
      val nomB = nominal(runsB)
      overhead(Stats.median(nominal(runsA).step.latenciesMs), Stats.median(nomB.step.latenciesMs), res)
      val allB = runsB.flatMap(_.reqs)
      val wallB = (allB.map(_.ended).max - allB.map(_.due).min) / 1e9
      sparkLayer(spark, listener, "op-", allB.size, wallB, a.cores, res)
      res.metrics ++= Seq(
        "search.queue_wait_ms" -> Stats.median(nomB.reqs.map(r => (r.started - r.submitted) / 1e6)),
        "search.service_ms" -> Stats.median(nomB.reqs.map(r => (r.ended - r.started) / 1e6)),
        "search.generator_lag_ms" -> nomB.reqs.map(r => (r.submitted - r.due) / 1e6).max,
        "search.backlog_end" -> nomB.backlogEnd.toDouble,
        "search.recall_at_10" -> res.info("recall_at_10").asInstanceOf[Double],
        "search.index_mb" -> res.info("index_mb").asInstanceOf[Double],
        "search.qps_at_slo" -> Stats.qpsAtSlo(runsB.map(_.step), SloMs, a.cores))
      probes(spark, corpus, listener, takeQuery _)
    }
    spark.stop()
  }

  /** Requests completed per second during the overload step. Its queue
    * stays non-empty until the last completion, so this is the rate the
    * system sustains.
    */
  private def capacity(overload: StepRun): Double = {
    // completions after the first round of clients, over the time they took
    val ends = overload.reqs.map(_.ended).sorted
    (ends.size - a.cores) / ((ends.last - ends(a.cores - 1)) / 1e9)
  }

  /** Plays [[Main.SearchSteps]] in order. Each step's arrivals are seeded
    * and its request count fixed; the next step starts once every request
    * of the previous one has completed.
    */
  private def openLoop(spark: SparkSession, engine: InceptionEngine, corpus: DataFrame,
      seconds: Double, tag: String, sp: Spans, takeQuery: () => String): Seq[StepRun] = {
    val clients = Executors.newFixedThreadPool(a.cores)
    try SearchSteps.zipWithIndex.map { case ((rate, share), si) =>
      val stepS = seconds * share
      val base = System.nanoTime() + 20000000L
      val reqs = Stats.arrivals(new Random(a.seed * 1009 + si), math.round(rate * stepS).toInt, stepS)
        .zipWithIndex.map { case (t, i) => new Req(s"$tag-$si-$i", takeQuery(), base + (t * 1e9).toLong) }
      val done = new AtomicInteger(0)
      val futures: Seq[Future[_]] = reqs.map { r =>
        sleepUntil(r.due)
        r.submitted = System.nanoTime()
        clients.submit(new Runnable { def run(): Unit = serve(spark, engine, corpus, r, sp, done) })
      }
      sleepUntil(base + (stepS * 1e9).toLong)
      val backlog = reqs.size - done.get
      futures.foreach(_.get())
      StepRun(rate, reqs, backlog)
    } finally clients.shutdown()
  }

  private def serve(spark: SparkSession, engine: InceptionEngine, corpus: DataFrame, r: Req,
      sp: Spans, done: AtomicInteger): Unit = {
    r.started = System.nanoTime()
    try {
      spark.sparkContext.setJobGroup(r.id, "search")
      sp("search.request", r.id) { root =>
        r.qvec = sp("engine.embedQuery", r.id, root)(_ => engine.embedQuery(r.query))
        r.ids = sp("similarity.topk", r.id, root) { _ =>
          Similarity.bruteForceTopK(corpus, "vec_id", "embedding", r.qvec, TopK)
            .collect().map(_.getLong(0)).toSeq
        }
      }
    } catch { case e: Throwable => r.error = e }
    r.ended = System.nanoTime()
    done.incrementAndGet()
  }

  /** Sends `queries` from all clients at once, outputs unchecked. */
  private def burst(engine: InceptionEngine, corpus: DataFrame, queries: Vector[String]): Unit =
    parMap(queries, a.cores) { q =>
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding", engine.embedQuery(q), TopK).collect()
    }

  private def sleepUntil(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) { LockSupport.parkNanos(left); left = t - System.nanoTime() }
  }

  /** Unloaded single-layer timings for the traced run: the query embedding
    * alone, and top-k with a precomputed query vector, one at a time.
    */
  private def probes(spark: SparkSession, corpus: DataFrame, listener: OpListener,
      takeQuery: () => String): Unit = {
    val qs = Vector.fill(200)(TextCleaner.cleanString(takeQuery()))
    qs.take(20).foreach(Embedder.embedQuery) // JIT warm-up for the timed calls
    val embedUs = qs.map { q =>
      spans("embed.query", "probe")(_ => {
        val t0 = System.nanoTime(); Embedder.embedQuery(q); (System.nanoTime() - t0) / 1e3
      })
    }
    val vecs = qs.take(16).map(Embedder.embedQuery)
    var scanned = 0L
    val topk = vecs.zipWithIndex.map { case (v, i) =>
      val id = s"probe-$i"
      spark.sparkContext.setJobGroup(id, "top-k probe")
      val t0 = System.nanoTime()
      val df = spans("similarity.topk", id) { _ =>
        val df = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", v, TopK)
        df.collect()
        df
      }
      val ms = (System.nanoTime() - t0) / 1e6
      scanned += rowsScanned(df.queryExecution.executedPlan)
      id -> ms
    }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val overheads = topk.map { case (id, ms) =>
      ms - listener.group(id).map(_.stageTaskMs.values.map(_.max).sum).getOrElse(0L)
    }
    res.metrics ++= Seq(
      "embed.query_us" -> Stats.median(embedUs),
      "similarity.topk_ms" -> Stats.median(topk.map(_._2)),
      "similarity.overhead_ms" -> Stats.median(overheads),
      "similarity.vectors_scanned" -> scanned.toDouble / topk.size)
  }

  /** Rows read by the leaves of an executed plan, from their SQL metrics. */
  private def rowsScanned(plan: SparkPlan): Long = {
    val p = plan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    p.collectLeaves().flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
}
