package bdtbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Times the workload's operations. With tracing requested, the
  * operations the workload picks are traced (probes attached, spans recorded)
  * and the rest run bare, so the same run yields per-layer numbers and
  * the tracing overhead on the same state.
  */
final class Clock(trace: Boolean, w: Workload, session: SparkSession, val tracer: Tracer, probes: Probes) {
  final case class Sample(kind: String, ns: Long, traced: Boolean)

  val samples = mutable.ArrayBuffer[Sample]()
  /** Whether the latest operation was traced (counters follow it). */
  @volatile var lastTraced = false
  var filesWritten = 0L
  var gcMs = 0L

  def timed[T](kind: String)(body: => T): T = {
    val traced = trace && w.traced(samples.size)
    lastTraced = traced
    val sc = tracer.sc
    val files0 = if (traced) w.outputFiles else 0L
    val gc0 = if (traced) Clock.gcMs else 0L
    if (traced) {
      probes.attach(sc, w.sessions(session))
      tracer.on = true
    }
    val t0 = System.nanoTime()
    try {
      if (traced) tracer.span("op")(body) else body
    } finally {
      samples += Sample(kind, System.nanoTime() - t0, traced)
      if (traced) {
        tracer.on = false
        gcMs += Clock.gcMs - gc0
        probes.detach(sc)
        filesWritten += w.outputFiles - files0
      }
    }
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def ms(kind: String => Boolean, traced: Boolean): Seq[Double] =
    samples.filter(s => kind(s.kind) && s.traced == traced).map(_.ns / 1e6).toSeq
}

object Clock {
  import scala.jdk.CollectionConverters._

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p50/p90/p99/p99.9 with at least ten samples above
    * it; p50 when there are fewer than twenty samples.
    */
  def tailQuantile(n: Int): Double =
    Seq(999, 990, 900, 500).find(pm => n * (1000 - pm) / 1000 >= 10).getOrElse(500) / 1000.0
}
