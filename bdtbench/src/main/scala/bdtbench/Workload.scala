package bdtbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Headline numbers of one run, computed from untraced samples. */
final case class EndToEnd(opP50Ms: Double, opTailMs: Double, tailQ: Double, samples: Int, workPerS: Double)

/** One benchmark workload: a closed loop of operations issued by one
  * client thread against state prepared by repeated set-up rounds.
  */
trait Workload {
  def name: String

  /** Per-layer counters the workload measures itself (pairs, rows, ...). */
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  /** Write the run's seeded inputs as parquet under `dir` (once per run). */
  def makeInputs(spark: SparkSession, dir: String): Unit

  /** Load the inputs through `graft.Tables`; returns nothing, times itself. */
  def load(spark: SparkSession, dir: String): Unit

  /** Build persistent state (indexes) under `roundDir`; no-op by default. */
  def build(spark: SparkSession, roundDir: String): Unit = ()

  def warmup(spark: SparkSession): Unit

  /** Operation `i` of the measured loop; returns the errors its checks found. */
  def step(i: Int, clock: Clock): Seq[String]

  /** Checks made after the loop; each error is one failed attempt. */
  def finish(spark: SparkSession): Seq[String]

  /** How many attempts `finish` checks beyond the loop's operations. */
  def endChecks: Int = 0

  /** Release per-round resources before the session stops. */
  def stopRound(): Unit = ()

  def endToEnd(clock: Clock, loopWallS: Double): EndToEnd

  /** Whether `ops` operations complete a measurement, once time is up. */
  def enough(ops: Int): Boolean = ops >= 3

  /** Whether operations of `kind` give the headline latency. */
  def headline(kind: String): Boolean = true

  /** In a traced run, whether operation `n` is traced (the rest run bare). */
  def traced(n: Int): Boolean = n % 2 == 1

  /** Sessions whose query executions the plan probe should see. */
  def sessions(spark: SparkSession): Seq[SparkSession] = Seq(spark)

  /** Files under the round's output directories (0 when it writes none). */
  def outputFiles: Long = 0L

  protected def fromSamples(ms: Seq[Double], workPerS: Double): EndToEnd = {
    val q = Stats.tailQuantile(ms.size)
    EndToEnd(Stats.median(ms), Stats.quantile(ms, q), q, ms.size, workPerS)
  }
}

object Workload {
  def apply(name: String, seed: Long): Workload = name match {
    case "bdt_query"     => new BdtQuery(seed)
    case "dedup_batch"   => new DedupBatch(seed)
    case "stream_ingest" => new StreamIngest(seed)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names = Seq("bdt_query", "dedup_batch", "stream_ingest")
}
