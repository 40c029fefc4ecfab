package bdtbench

import graft.{CacheUtil, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `dedup_batch`: repeated full passes of exact dedup → MinHash near-dup
  * pairs → SimHash near-dup pairs over a seeded corpus of 5,000 generated
  * documents plus 10% planted copies (half exact, half near). Each pass
  * is a few long jobs; the checks recompute every emitted pair's
  * similarity on the driver and require every planted pair.
  */
final class DedupBatch(seed: Long) extends Workload {
  import DedupBatch._
  val name = "dedup_batch"

  private var corpus: DataFrame = _
  private val plants: Seq[Gen.Plant] = (0 until NPlants).map { j =>
    val src = Gen.below(seed, Gen.PlantS, j.toLong, 0, NDocs).toLong
    Gen.Plant(PlantBase + j, src, exact = j % 2 == 0)
  }
  private val texts: Map[Long, String] = {
    val base = (0L until NDocs).map(i => i -> Gen.docText(seed, i)).toMap
    base ++ plants.map(p =>
      p.id -> (if (p.exact) base(p.src) else Gen.nearCopyText(base(p.src), p.id)))
  }
  private var simhash: Map[Long, Long] = _

  def makeInputs(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    texts.toSeq.sortBy(_._1).map { case (id, t) => Gen.Doc(id, t) }.toDS()
      .repartition(4).write.parquet(s"$dir/documents.parquet")
  }

  def load(spark: SparkSession, dir: String): Unit =
    corpus = Tables.documents(spark, dir).select(col("doc_id"), col("text"))

  def warmup(spark: SparkSession): Unit =
    (1 to 2).foreach(_ => release(pass(corpus, None)))

  def step(i: Int, clock: Clock): Seq[String] = {
    val r = clock.timed("pass")(pass(corpus, Some(clock)))
    try check(r)
    finally release(r)
  }

  def finish(spark: SparkSession): Seq[String] = Nil

  override def enough(ops: Int): Boolean = ops >= 4

  def endToEnd(clock: Clock, loopWallS: Double): EndToEnd = {
    val ms = clock.ms(_ => true, traced = false)
    fromSamples(ms, texts.size / (Stats.median(ms) / 1000.0))
  }

  // -------------------------------------------------------------- pass

  private final case class Pass(kept: DataFrame, keptN: Long, minhash: DataFrame, simhash: DataFrame,
      mhPairs: Array[(Long, Long, Double)], shPairs: Array[(Long, Long, Int)])

  private def pass(docs: DataFrame, clock: Option[Clock]): Pass = {
    def span[T](n: String)(b: => T): T = clock.fold(b)(_.span(n)(b))
    val (kept, keptN) = span("dedup.exact") {
      val k = Dedup.exactDedup(docs, "text", "doc_id").localCheckpoint(true)
      (k, k.count())
    }
    val (mh, mhPairs) = span("dedup.minhash") {
      val p = Dedup.minHashNearDups(kept, "text", "doc_id", Threshold, bands = Bands)
      (p, p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val (sh, shPairs) = span("dedup.simhash") {
      val p = Dedup.simHashNearDups(kept, "text", "doc_id", maxHamming = MaxHamming)
      (p, p.select("id_a", "id_b", "hamming").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))))
    }
    if (clock.exists(_.lastTraced)) {
      counters("dedup.pairs") += mhPairs.length + shPairs.length
      counters("dedup.passes") += 1
    }
    Pass(kept, keptN, mh, sh, mhPairs, shPairs)
  }

  private def release(p: Pass): Unit = {
    CacheUtil.release(p.minhash)
    CacheUtil.release(p.simhash)
    CacheUtil.release(p.kept)
  }

  // ------------------------------------------------------------ checks

  private def check(p: Pass): Seq[String] = {
    val keptIds = p.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val wantKept = texts.keySet -- plants.filter(_.exact).map(_.id)
    if (simhash == null)
      simhash = p.kept.select(col("doc_id"), Dedup.simHash(col("text")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = p.mhPairs.map(x => (x._1, x._2)).toSet
    Seq(
      if (p.keptN == keptIds.size && keptIds == wantKept) None
      else Some(s"exact dedup kept ${keptIds.size} docs, want ${wantKept.size}"),
      plants.filter(!_.exact).map(x => (x.src, x.id)).find(!pairs.contains(_))
        .map(x => s"planted near-dup pair $x not found"),
      p.mhPairs.find { case (a, b, j) =>
        val jj = Gen.jaccard(texts(a), texts(b))
        !(a < b) || jj < Threshold || math.abs(jj - j) > 1e-9
      }.map(x => s"minhash pair $x fails the recomputed Jaccard"),
      p.shPairs.find { case (a, b, h) =>
        !(a < b) || h > MaxHamming || !keptIds(a) || !keptIds(b) ||
        java.lang.Long.bitCount(simhash(a) ^ simhash(b)) != h
      }.map(x => s"simhash pair $x fails the recomputed Hamming distance")
    ).flatten
  }
}

object DedupBatch {
  val NDocs = 2500
  val NPlants = 250 // 10% of the corpus: 125 exact and 125 near copies
  val PlantBase = 1000000L
  val Threshold = 0.7
  val Bands = 16 // 16 bands of 2 rows: a 6/7-Jaccard pair is missed with p < 1e-8
  val MaxHamming = 3
}
