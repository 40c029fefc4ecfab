package bdtbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded inputs. Every value is a pure function of (seed, stream, row,
  * field), so the executors that write a table and the driver-side oracle
  * that checks results against it derive identical rows without sharing
  * any state.
  */
object Gen {

  // ------------------------------------------------------------ randomness

  /** Draw `field` of row `i`: Spark's xxhash64 of (seed, stream, i, field),
    * so the same draw is available as a column ([[belowCol]]).
    */
  def bits(seed: Long, stream: Long, i: Long, field: Int): Long =
    XXH64.hashLong(field.toLong, XXH64.hashLong(i, XXH64.hashLong(stream, XXH64.hashLong(seed, 42L))))

  def below(seed: Long, stream: Long, i: Long, field: Int, n: Int): Int =
    Math.floorMod(bits(seed, stream, i, field), n.toLong).toInt

  /** [[below]] as a column over a LONG row-number column. */
  def belowCol(seed: Long, stream: Long, i: Column, field: Int, n: Int): Column =
    pmod(xxhash64(lit(seed), lit(stream), i, lit(field.toLong)), lit(n.toLong))

  def unit(seed: Long, stream: Long, i: Long, field: Int): Double =
    (bits(seed, stream, i, field) >>> 11).toDouble / (1L << 53).toDouble

  // streams: one per input family, so sizes can change independently
  val LineitemS = 1L
  val OrdersS = 2L
  val DocS = 3L
  val PlantS = 4L
  val EmbS = 5L
  val StreamS = 6L
  val QueryS = 7L
  val WarmS = 8L

  // ------------------------------------------------------------- lineitem

  val NLineitem = 600000
  val NOrders = 150000
  val NPart = 20000
  val NSupp = 1000
  val Day0 = 9131 // 1995-01-01 as epoch days
  val NDays = 2500
  val Flags = Array("A", "N", "R")
  val Statuses = Array("F", "O")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val OrderStatuses = Array("F", "O", "P")

  def dayTs(day: Int): java.sql.Timestamp = new java.sql.Timestamp(day.toLong * 86400000L)

  private def pick(values: Array[String], draw: Column): Column =
    element_at(array(values.map(lit): _*), (draw + 1).cast("int"))

  /** The lineitem table, generated by executors; [[BdtQuery.Oracle]]
    * derives the same values on the driver with [[below]].
    */
  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    def b(f: Int, n: Int) = belowCol(seed, LineitemS, col("id"), f, n)
    val qty = (b(4, 50) + 1).cast("double")
    spark.range(0, NLineitem, 1, 8).select(
      b(0, NOrders).as("l_orderkey"),
      b(1, NPart).as("l_partkey"),
      b(2, NSupp).as("l_suppkey"),
      (b(3, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (b(5, 100000) + 900).cast("double") / 100.0).as("l_extendedprice"),
      (b(6, 11).cast("double") / 100.0).as("l_discount"),
      (b(7, 9).cast("double") / 100.0).as("l_tax"),
      pick(Flags, b(8, Flags.length)).as("l_returnflag"),
      pick(Statuses, b(9, Statuses.length)).as("l_linestatus"),
      timestamp_seconds((b(10, NDays) + Day0) * 86400L).as("l_shipdate"))
  }

  def orders(spark: SparkSession, seed: Long): DataFrame = {
    def b(f: Int, n: Int) = belowCol(seed, OrdersS, col("id"), f, n)
    spark.range(0, NOrders, 1, 4).select(
      col("id").as("o_orderkey"),
      b(0, 15000).as("o_custkey"),
      pick(OrderStatuses, b(1, OrderStatuses.length)).as("o_orderstatus"),
      ((b(2, 50000000) + 100000).cast("double") / 100.0).as("o_totalprice"),
      timestamp_seconds((b(3, NDays) + Day0) * 86400L).as("o_orderdate"),
      pick(Priorities, b(4, Priorities.length)).as("o_orderpriority"))
  }

  // ------------------------------------------------------------ documents

  final case class Doc(doc_id: Long, text: String)

  private val Stems = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "index", "shard",
    "node", "plan", "task", "stage", "cache", "block", "fold", "sink")

  /** 2,000 words: each stem bare and with 49 numeric suffixes. Wide enough
    * that long documents do not all share one token set (with only the
    * 40 stems, every long document would have the same SimHash, and the
    * pair count, hence the work, would swing with the seed).
    */
  private val Vocab: Array[String] =
    Array.tabulate(2000)(k => Stems(k % Stems.length) + (if (k < Stems.length) "" else (k / Stems.length).toString))

  /** Text of a generated (non-copy) document: 8 to 97 words. */
  def docText(seed: Long, id: Long): String = {
    val n = 8 + below(seed, DocS, id, 0, 90)
    val sb = new StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(Vocab(below(seed, DocS, id, 1 + k, Vocab.length)))
      k += 1
    }
    sb.toString
  }

  /** A near-duplicate copy: the source text plus one token no other
    * document carries, so the copy's 3-shingle Jaccard to its source is
    * m/(m+1) for a source with m shingles — at least 6/7.
    */
  def nearCopyText(src: String, copyId: Long): String = s"$src z$copyId"

  /** A planted copy `id` of generated document `src`: exact or near. */
  final case class Plant(id: Long, src: Long, exact: Boolean)

  // ----------------------------------------------------------- embeddings

  val Dim = 64
  private val Centers = 16

  final case class Emb(vec_id: Long, embedding: Array[Float])

  /** Clustered vectors: one of 16 seeded centres plus per-row noise. */
  def embedding(seed: Long, id: Long): Array[Float] = {
    val c = below(seed, EmbS, id, 0, Centers)
    Array.tabulate(Dim) { d =>
      val centre = unit(seed, EmbS, -1L - c, d) * 2.0 - 1.0
      val noise = (unit(seed, EmbS, id, 1 + d) - 0.5) * 0.4
      (centre + noise).toFloat
    }
  }

  // ------------------------------------------------------- shingle oracle

  /** Distinct word 3-shingles, the engine's documented shingling rule
    * (split on single spaces; a doc of at most 3 tokens is one shingle).
    */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length <= k) Set(t.mkString(" "))
    else (0 to t.length - k).map(i => t.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a)
    val sb = shingles(b)
    (sa intersect sb).size.toDouble / (sa union sb).size.toDouble
  }
}
