package bdtbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory spans around the calls the benchmark makes into each layer.
  *
  * A span's id travels to Spark as a local property, so every job a span
  * causes — including jobs on threads the engine spawns, which inherit
  * local properties — is attributed to it. Spans are only recorded while
  * `on`; an untraced operation runs the same code with no bookkeeping.
  */
final class Tracer {
  import Tracer._

  final case class Span(id: Int, parent: Int, name: String, start: Long, var end: Long)

  private val spans = mutable.ArrayBuffer[Span]()
  // One client thread issues operations; the stream thread runs the batch
  // callback while the client blocks on it, so a single current pointer
  // is enough to parent spans across the two.
  @volatile private var current = 0
  @volatile var on = false
  @volatile var sc: SparkContext = _

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = spans.synchronized {
        val s = Span(spans.size + 1, current, name, System.nanoTime(), 0L)
        spans += s
        s
      }
      current = s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        current = s.parent
        sc.setLocalProperty(SpanKey, if (s.parent == 0) null else s.parent.toString)
      }
    }

  /** Point the calling thread's jobs at the current span (for callbacks
    * that run on a thread other than the one that opened it).
    */
  def adopt(): Unit =
    if (on) sc.setLocalProperty(SpanKey, if (current == 0) null else current.toString)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span: its duration minus the union of its children's
    * intervals (clipped to the span).
    */
  def selfTimes: Map[Int, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> (s.end - s.start - unionLength(iv))
    }.toMap
  }

  /** Spans as JSON lines, written out once the run ends. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "bdtbench.span"

  /** Length of the union of [a, b) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** Scheduler-side counters of the traced operations: jobs (with the span
  * that caused each), stages and task metrics.
  */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, span: Int, start: Long, var end: Long = -1L)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var schedDelayMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt)
      .getOrElse(0)
    jobs(e.jobId) = Job(e.jobId, span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      schedDelayMs += math.max(0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }

  /** Wall time during which at least one job ran (jobs overlap when the
    * engine runs independent actions on concurrent threads).
    */
  def busyMs: Long = synchronized {
    Tracer.unionLength(jobs.values.filter(_.end >= 0).map(j => (j.start, j.end)).toSeq)
  }
}

/** Catalyst planning phases of every query execution, read from the
  * execution's planning tracker.
  */
final class PlanProbe extends QueryExecutionListener {
  var executions = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  private def record(qe: QueryExecution): Unit = synchronized {
    executions += 1
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Attaches the probes around one traced operation and detaches them
  * once every event it caused has been delivered.
  */
final class Probes(val jobs: JobProbe, val plans: PlanProbe) {
  private var sessions = List.empty[SparkSession]

  def attach(sc: SparkContext, ss: Seq[SparkSession]): Unit = {
    sc.addSparkListener(jobs)
    sessions = ss.distinct.toList
    sessions.foreach(_.listenerManager.register(plans))
  }

  def detach(sc: SparkContext): Unit = {
    drain(sc)
    sc.removeSparkListener(jobs)
    sessions.foreach(_.listenerManager.unregister(plans))
    sessions = Nil
  }

  /** Wait until the listener bus has delivered every queued event. The
    * bus is not public API; reflection keeps this file out of Spark's
    * package namespace.
    */
  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }
}
