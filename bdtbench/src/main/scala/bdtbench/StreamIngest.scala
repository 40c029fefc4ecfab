package bdtbench

import graft.{CacheUtil, Tables}
import graft.operators.{Dedup, IdempotentSink, Quantization}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream_ingest`: seeded micro-batches through a streaming query's
  * `foreachBatch`. Each batch holds 200 fresh documents, 50 near-copies
  * of already-ingested documents, 80 fresh embeddings and 20 exact copies
  * of already-ingested embeddings. The callback folds the documents into
  * a MinHash index (pairs committed through `IdempotentSink` before the
  * index appends) and the embeddings into an IVF-SQ8 semantic-dedup
  * index, both built in set-up from 1,000 docs and 1,000 vectors. Every
  * 2nd batch is delivered again under the same batch id, the
  * at-least-once replay, which must emit and append nothing. A batch
  * costs about 50 jobs whatever its size, so the sizes are kept small.
  */
final class StreamIngest(seed: Long) extends Workload {
  import StreamIngest._
  val name = "stream_ingest"

  private var docsInit: DataFrame = _
  private var embInit: DataFrame = _
  private var roundDir: String = _
  private var idx: Dedup.MinHashIndex = _
  private var mem: MemoryStream[In] = _
  private var query: StreamingQuery = _
  @volatile private var streamSession: SparkSession = _

  // hand-off between the client and the batch callback
  @volatile private var pending: Delivery = _
  @volatile private var emitted: DataFrame = _
  @volatile private var callbackError: Throwable = _
  @volatile private var sinkCommitted: Option[Boolean] = None
  private var clock: Option[Clock] = None

  // delivery schedule: every ReplayEvery-th batch is delivered twice
  private var nextBatch = 0
  private var replayDue = false

  private def ivfPath = s"$roundDir/ivf"
  private def sinkDir = s"$roundDir/sink"

  def makeInputs(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    (0L until NInitDocs).map(i => Gen.Doc(i, Gen.docText(seed, i))).toDS()
      .repartition(4).write.parquet(s"$dir/documents.parquet")
    (0L until NInitEmb).map(i => Gen.Emb(i, Gen.embedding(seed, i))).toDS()
      .repartition(4).write.parquet(s"$dir/embeddings.parquet")
  }

  def load(spark: SparkSession, dir: String): Unit = {
    docsInit = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    embInit = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
  }

  override def build(spark: SparkSession, dir: String): Unit = {
    roundDir = dir
    idx = Dedup.writeMinHashIndex(docsInit, "text", "doc_id", "ingest_idx", bands = Bands, buckets = 8)
    Quantization.ivfSq8Build(embInit, "embedding", "vec_id", ivfPath, nCentroids = 16)
    nextBatch = 0
    replayDue = false
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[In]
    query = mem.toDF().writeStream
      .option("checkpointLocation", s"$roundDir/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(batch) }
      .start()
  }

  def warmup(spark: SparkSession): Unit = deliver(spark, None)

  def step(i: Int, clock: Clock): Seq[String] = {
    this.clock = Some(clock)
    deliver(SparkSession.active, Some(clock))
  }

  override def stopRound(): Unit = if (query != null) { query.stop(); query = null }

  override def sessions(spark: SparkSession): Seq[SparkSession] =
    Seq(spark) ++ Option(streamSession)

  override def outputFiles: Long =
    Seq(sinkDir, ivfPath, s"$roundDir/warehouse").map(countFiles).sum

  // ----------------------------------------------------------- batches

  /** Deliver the next scheduled batch (or replay) and check its effects. */
  private def deliver(spark: SparkSession, clock: Option[Clock]): Seq[String] = {
    val replay = replayDue
    val b = if (replay) nextBatch - 1 else nextBatch
    val before = indexRows(spark, replay)
    val sinkBefore = IdempotentSink.committedBatches(spark, sinkDir)
    pending = Delivery(b, replay)
    emitted = null
    callbackError = null
    sinkCommitted = None
    val rows = batchRows(b)
    def run(): Unit = {
      mem.addData(rows)
      query.processAllAvailable()
    }
    clock match {
      case Some(c) => c.timed(if (replay) "replay" else "batch")(c.span("stream.batch")(run()))
      case None    => run()
    }
    if (replay) replayDue = false
    else {
      nextBatch += 1
      replayDue = b % ReplayEvery == ReplayEvery - 1
    }
    val after = indexRows(spark, replay)
    val pairs = Option(emitted).map { p => val n = p.count(); CacheUtil.release(p); n }
    def counted(name: String, v: Double): Unit = if (clock.exists(_.lastTraced)) counters(name) += v
    counted("stream.batches", 1)
    counted("sink.commits", if (sinkCommitted.contains(true)) 1 else 0)
    counted("sink.skipped", if (sinkCommitted.contains(false)) 1 else 0)
    if (replay) {
      counted("fold.replay_rows_emitted", pairs.getOrElse(0L).toDouble + (after.codes - before.codes))
      counted("stream.replays", 1)
    } else {
      counted("fold.pairs_emitted", pairs.getOrElse(0L).toDouble)
      counted("fold.admitted_rows", (after.codes - before.codes).toDouble)
    }
    val committedNow = IdempotentSink.committedBatches(spark, sinkDir)
    Seq(
      Option(callbackError).map(e => s"batch $b callback failed: $e"),
      if (pairs.isEmpty) Some(s"batch $b: the fold returned no emission frame") else None,
      if (!replay && !committedNow.contains(b.toLong)) Some(s"batch $b: sink did not commit") else None,
      if (!replay && sinkCommitted.contains(false)) Some(s"batch $b: first attempt found the sink committed") else None,
      if (!replay && after.codes - before.codes != FreshEmb)
        Some(s"batch $b: admitted ${after.codes - before.codes} vectors, want the $FreshEmb fresh ones")
      else None,
      if (replay && pairs.exists(_ != 0L)) Some(s"replay of batch $b re-emitted ${pairs.get} pairs") else None,
      if (replay && after != before) Some(s"replay of batch $b changed the index rows: $before -> $after") else None,
      if (replay && committedNow != sinkBefore) Some(s"replay of batch $b changed the sink's committed batches") else None
    ).flatten
  }

  private def onBatch(batch: DataFrame): Unit = {
    val d = pending
    clock.foreach(_.tracer.adopt())
    streamSession = batch.sparkSession
    def span[T](n: String)(b: => T): T = clock.fold(b)(_.span(n)(b))
    val delta = batch.localCheckpoint(true)
    try {
      val docs = delta.filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      val embs = delta.filter(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
      val sink: DataFrame => Unit = df => span("sink.write") {
        sinkCommitted = Some(IdempotentSink.writeBatch(df, sinkDir, d.batch.toLong))
      }
      def folds(minhash: String, ivf: String): DataFrame = {
        val pairs = span(minhash)(
          Dedup.minHashNearDupsIncrementalFold(docs, "text", "doc_id", Threshold, idx, Some(sink)))
        span(ivf)(Quantization.ivfSq8SemanticDedupFold(
          batch.sparkSession, embs, ivfPath, "embedding", "vec_id", tau = 0L, nProbe = 4))
        pairs
      }
      emitted =
        if (d.replay) span("fold.replay")(folds("fold.replay.minhash", "fold.replay.ivfsq8"))
        else folds("fold.minhash", "fold.ivfsq8")
    } catch {
      case e: Throwable => callbackError = e
    } finally CacheUtil.release(delta)
  }

  private final case class Rows(bands: Long, shingles: Long, codes: Long)

  /** Row counts of the index tables; the MinHash tables only around a
    * replay, which must leave them unchanged.
    */
  private def indexRows(spark: SparkSession, all: Boolean): Rows = {
    def rows(t: String) = if (!all) -1L else { spark.catalog.refreshTable(t); spark.table(t).count() }
    Rows(rows(idx.bandTable), rows(idx.shingleTable), spark.read.parquet(s"$ivfPath/codes").count())
  }

  // ------------------------------------------------------------- inputs

  /** Docs ingested before batch `b`, indexed 0 until n. */
  private def ingestedDoc(r: Int): Long =
    if (r < NInitDocs) r.toLong
    else DocFresh + ((r - NInitDocs) / FreshDocs) * 1000L + (r - NInitDocs) % FreshDocs

  private def ingestedEmb(r: Int): Long =
    if (r < NInitEmb) r.toLong
    else EmbFresh + ((r - NInitEmb) / FreshEmb) * 1000L + (r - NInitEmb) % FreshEmb

  /** Planted copies of batch `b`: (copy id, source id). */
  private def docCopies(b: Int): Seq[(Long, Long)] = (0 until CopyDocs).map { k =>
    val id = DocCopy + b * 1000L + k
    id -> ingestedDoc(Gen.below(seed, Gen.StreamS, id, 0, NInitDocs + b * FreshDocs))
  }

  private def embCopies(b: Int): Seq[(Long, Long)] = (0 until CopyEmb).map { k =>
    val id = EmbCopy + b * 1000L + k
    id -> ingestedEmb(Gen.below(seed, Gen.StreamS, id, 0, NInitEmb + b * FreshEmb))
  }

  private def freshDocs(b: Int): Seq[Long] = (0 until FreshDocs).map(k => DocFresh + b * 1000L + k)

  private def batchRows(b: Int): Seq[In] =
    freshDocs(b).map(id => In(id, Gen.docText(seed, id), -1L, null)) ++
      docCopies(b).map { case (id, src) => In(id, Gen.nearCopyText(Gen.docText(seed, src), id), -1L, null) } ++
      (0 until FreshEmb).map { k => val id = EmbFresh + b * 1000L + k; In(-1L, null, id, Gen.embedding(seed, id)) } ++
      embCopies(b).map { case (id, src) => In(-1L, null, id, Gen.embedding(seed, src)) }

  // ------------------------------------------------------------- checks

  /** The union of committed sink batches equals a batch MinHash pass over
    * every ingested document (restricted to pairs that touch a streamed
    * one), and it holds every planted (source, copy) pair.
    */
  def finish(spark: SparkSession): Seq[String] = {
    stopRound()
    import spark.implicits._
    val batches = 0 until nextBatch
    val streamed = batches.flatMap(b =>
      freshDocs(b).map(id => Gen.Doc(id, Gen.docText(seed, id))) ++
        docCopies(b).map { case (id, src) => Gen.Doc(id, Gen.nearCopyText(Gen.docText(seed, src), id)) })
    val all = docsInit.unionByName(streamed.toDS().toDF())
    val batch = Dedup.minHashNearDups(all, "text", "doc_id", Threshold, bands = Bands)
    val want = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => math.max(a, b) >= DocFresh }.toSet
    CacheUtil.release(batch)
    val gotRows = IdempotentSink.read(spark, sinkDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = gotRows.toSet
    val planted = batches.flatMap(docCopies).map { case (id, src) => (math.min(id, src), math.max(id, src)) }
    Seq(
      if (got == want && gotRows.length == got.size) None
      else Some(s"sink union (${gotRows.length} rows, ${got.size} distinct) != batch pairs (${want.size}); " +
        s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}"),
      planted.find(!got.contains(_)).map(p => s"planted near-dup pair $p missing from the sink")
    ).flatten
  }

  override def endChecks: Int = 2

  /** Batch 1, its replay, batches 2 and 3 (batch 0 is the warm-up). */
  override def enough(ops: Int): Boolean = ops >= 4

  /** In each group of three deliveries the first runs bare, so a traced
    * run traces both a first attempt and a replay.
    */
  override def traced(n: Int): Boolean = n % 3 != 0

  override def headline(kind: String): Boolean = kind == "batch"

  def endToEnd(clock: Clock, loopWallS: Double): EndToEnd = {
    val first = clock.ms(headline, traced = false)
    val all = clock.ms(_ => true, traced = false)
    fromSamples(first, first.size * (FreshDocs + CopyDocs) / (all.sum / 1000.0))
  }
}

object StreamIngest {
  val NInitDocs = 1000
  val NInitEmb = 1000
  val FreshDocs = 200
  val CopyDocs = 50
  val FreshEmb = 80
  val CopyEmb = 20
  val ReplayEvery = 2
  val Threshold = 0.7
  val Bands = 16
  val DocFresh = 10000000L
  val DocCopy = 20000000L
  val EmbFresh = 30000000L
  val EmbCopy = 40000000L

  /** One streamed row: a document (embedding null) or a vector (text null). */
  final case class In(doc_id: Long, text: String, vec_id: Long, embedding: Array[Float])

  final case class Delivery(batch: Int, replay: Boolean)

  def countFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }
}
