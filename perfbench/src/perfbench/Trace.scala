package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder. Spans are taken from the benchmark's side of
  * each layer call; nothing inside the engine is instrumented. A disabled
  * recorder only runs the body, so untraced runs pay nothing for it.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)

  /** Runs `body` inside a span; `body` receives the span's id so it can
    * open child spans under it.
    */
  def apply[A](name: String, op: String, parent: Int = -1)(body: Int => A): A =
    if (!enabled) body(-1)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally buf.add(Span(id, name, t0, System.nanoTime(), parent, op))
    }

  def all: Vector[Span] = buf.asScala.toVector

  /** Self time per span name in seconds: a span's duration minus the part
    * of it that its child spans cover.
    */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Spans.covered(children.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  /** Writes one tab-separated line per span: id, parent, op, name, start
    * and end in nanoseconds relative to the first span.
    */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val spans = all.sortBy(_.start)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id\tparent\top\tname\tstart_ns\tend_ns\n")
      spans.foreach { s =>
        w.write(s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.start - t0}\t${s.end - t0}\n")
      }
    } finally w.close()
  }
}

object Spans {
  /** A recorder that records nothing. */
  val Off = new Spans(false)

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: String)

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark counters for one operation, summed over the jobs it caused. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var resultSerMs = 0L
  var schedDelayMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var peakExecMem = 0L
  /** Task run times per stage, for skew and the critical path. */
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
}

/** Listener the benchmark registers itself. Each operation runs under its
  * own Spark job group; jobs, stages and tasks are attributed to the
  * group of the job that submitted them.
  */
final class OpListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, OpCounters]()

  private def counters(g: String): OpCounters = byGroup.computeIfAbsent(g, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    val c = counters(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = counters(g)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("none")
    val m = e.taskMetrics
    if (m == null) return
    val c = counters(g)
    val info = e.taskInfo
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.deserMs += m.executorDeserializeTime
      c.resultSerMs += m.resultSerializationTime
      // the scheduler delay as Spark's UI derives it
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      c.inputBytes += m.inputMetrics.bytesRead
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.stageTaskMs.getOrElseUpdate(e.stageId, scala.collection.mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Counters of the group with exactly this id. */
  def group(id: String): Option[OpCounters] = Option(byGroup.get(id))

  /** Counters of every group whose id starts with `prefix`. */
  def groups(prefix: String): Seq[OpCounters] =
    byGroup.asScala.iterator.collect { case (g, c) if g.startsWith(prefix) => c }.toSeq
}
