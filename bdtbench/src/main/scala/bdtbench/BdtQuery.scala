package bdtbench

import graft.{BigDataTable, OuterAgg, Tables}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `bdt_query`: a seeded sequence of reference-surface calls on a
  * 600k-row lineitem table sharded by order key, the way a user issues
  * them — each call builds its expression, runs, and collects a small
  * result. The benchmark caches nothing. Results are checked after the
  * loop against a plain-Scala oracle over the generated columns, which
  * shares no code path with the engine.
  */
final class BdtQuery(seed: Long) extends Workload {
  import BdtQuery._
  val name = "bdt_query"

  private var li: BigDataTable = _
  private var ord: BigDataTable = _
  private lazy val oracle = new Oracle(seed)
  private val results = mutable.ArrayBuffer[(Call, Any)]()

  def makeInputs(spark: SparkSession, dir: String): Unit = {
    Gen.lineitem(spark, seed).write.parquet(s"$dir/lineitem.parquet")
    Gen.orders(spark, seed).write.parquet(s"$dir/orders.parquet")
    oracle // build the driver-side columns with the inputs
  }

  def load(spark: SparkSession, dir: String): Unit = {
    li = BigDataTable.fromDF(Tables.lineitem(spark, dir), "li", partitionBy = Seq("l_orderkey"))
    ord = BigDataTable.fromDF(Tables.orders(spark, dir), "ord", partitionBy = Seq("o_orderkey"))
  }

  /** One block of calls, the same mix the loop measures. */
  def warmup(spark: SparkSession): Unit =
    Kinds.indices.foreach(i => invoke(call(Gen.WarmS, i.toLong)))

  def step(i: Int, clock: Clock): Seq[String] = {
    val c = call(Gen.QueryS, i.toLong)
    val r = clock.timed(c.kind)(clock.span(s"bdt.${c.kind}")(invoke(c)))
    results += c -> r
    Nil
  }

  /** Every collected result against the oracle, after the timed loop. */
  def finish(spark: SparkSession): Seq[String] =
    results.toSeq.flatMap { case (c, r) => check(c, r).map(e => s"${c.kind}${c.args.mkString("(", ",", ")")}: $e") }

  override def enough(ops: Int): Boolean = ops >= 3 * Kinds.size && ops % Kinds.size == 0

  /** Whole blocks alternate, so every call kind is traced. */
  override def traced(n: Int): Boolean = (n / Kinds.size) % 2 == 1

  def endToEnd(clock: Clock, loopWallS: Double): EndToEnd = {
    val ms = clock.ms(_ => true, traced = false)
    fromSamples(ms, ms.size / loopWallS)
  }

  // ------------------------------------------------------------- calls

  /** Call `i`: calls come in blocks holding each kind once, in a seeded
    * order, so every run measures the same mix.
    */
  private def call(stream: Long, i: Long): Call = {
    def b(f: Int, n: Int) = Gen.below(seed, stream, i, f, n)
    val block = i / Kinds.size
    val order = Kinds.indices.sortBy(k => Gen.bits(seed, stream, block, 100 + k))
    val k = order((i % Kinds.size).toInt)
    val args: Seq[Long] = Kinds(k) match {
      case "query"   => val d = Gen.Day0 + b(1, Gen.NDays - 400); Seq(d, d + 30 + b(2, 300))
      case "keyby"   => Seq(b(1, 11), b(2, 9))
      case "pernode" => Seq(1 + b(1, 50))
      case "fn"      => Seq(b(1, Gen.NPart))
      case "filter"  => Seq(b(1, Gen.NOrders - 5))
      case "dims"    => Seq(b(1, Gen.NSupp))
      case "join"    => val a = b(1, Gen.NOrders - 3000); Seq(a, a + 1000 + b(2, 2000))
    }
    Call(Kinds(k), args)
  }

  private def invoke(c: Call): Any = {
    val a = c.args
    c.kind match {
      case "query" => li.query(
          i = col("l_shipdate") >= lit(Gen.dayTs(a(0).toInt)) && col("l_shipdate") < lit(Gen.dayTs(a(1).toInt)),
          j = Seq(sum("l_quantity").as("sq"), sum("l_extendedprice").as("sp"), count(lit(1)).as("n")),
          by = Seq(col("l_returnflag"), col("l_linestatus"))).collect()
      case "keyby" => li.query(
          i = col("l_discount") >= lit(a(0) / 100.0) && col("l_tax") <= lit(a(1) / 100.0),
          j = Seq(sum("l_quantity").as("sq"), count(lit(1)).as("n")),
          keyBy = Seq(col("l_linenumber"))).collect()
      case "pernode" => li.query(
          i = col("l_quantity") < lit(a(0).toDouble),
          j = Seq(count(lit(1)).as("n"), sum("l_extendedprice").as("sp")),
          by = Seq(col("l_returnflag")), outer = OuterAgg.PerNode).collect()
      case "fn" => li.query(
          i = col("l_partkey") < lit(a(0)),
          j = Seq(sum("l_extendedprice").as("sp"), count(lit(1)).as("n")),
          by = Seq(col("l_linestatus")),
          outer = OuterAgg.Fn(p => p.groupBy("l_linestatus").agg(sum("sp").as("sp"), sum("n").as("n"))))
        .collect()
      case "filter" => li.filter(col("l_orderkey").between(a(0), a(0) + 4)).toLocal()
      case "dims"   => li.filter(col("l_suppkey") === lit(a(0))).dims
      case "join" => li.sql(
          s"""SELECT o.o_orderpriority AS pri, count(*) AS n, sum(l.l_extendedprice) AS sp
             |FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey
             |WHERE l.l_orderkey BETWEEN ${a(0)} AND ${a(1)}
             |GROUP BY o.o_orderpriority""".stripMargin).collect()
    }
  }

  // ------------------------------------------------------------ checks

  private def check(c: Call, r: Any): Option[String] = {
    val o = oracle
    val a = c.args
    def rows = r.asInstanceOf[Array[Row]].toSeq
    c.kind match {
      case "query" =>
        val want = o.agg(i => o.day(i) >= a(0) && o.day(i) < a(1),
          i => (Gen.Flags(o.flag(i)), Gen.Statuses(o.status(i))), i => Seq(o.qty(i), o.price(i)))
        sameGroups(rows.map(x => (x.getString(0), x.getString(1)) -> (Seq(x.getDouble(2), x.getDouble(3)), x.getLong(4))), want)
      case "keyby" =>
        val want = o.agg(i => o.disc(i) >= a(0) / 100.0 && o.tax(i) <= a(1) / 100.0,
          i => o.line(i).toInt, i => Seq(o.qty(i)))
        val got = rows.map(x => x.getInt(0) -> (Seq(x.getDouble(1)), x.getLong(2)))
        if (got.map(_._1) != got.map(_._1).sorted) Some("keyby result not sorted by key")
        else sameGroups(got, want)
      case "pernode" =>
        val want = o.agg(i => o.qty(i) < a(0).toDouble, i => Gen.Flags(o.flag(i)), i => Seq(o.price(i)))
        val keys = rows.map(x => (x.getInt(0), x.getString(1)))
        if (keys.distinct.size != keys.size) Some("duplicate (node, group) partial")
        else sameGroups(
          rows.groupBy(_.getString(1)).toSeq.map { case (g, xs) =>
            g -> (Seq(xs.map(_.getDouble(3)).sum), xs.map(_.getLong(2)).sum) },
          want)
      case "fn" =>
        val want = o.agg(i => o.pk(i) < a(0), i => Gen.Statuses(o.status(i)), i => Seq(o.price(i)))
        sameGroups(rows.map(x => x.getString(0) -> (Seq(x.getDouble(1)), x.getLong(2))), want)
      case "filter" =>
        val got = rows.map(x => Seq(x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3).toLong,
          x.getDouble(4), x.getDouble(5), x.getDouble(6), x.getDouble(7), x.getString(8),
          x.getString(9), x.getTimestamp(10).getTime / 86400000L).mkString("|")).sorted
        val want = o.rows.filter(i => o.ok(i) >= a(0) && o.ok(i) <= a(0) + 4).map(i => Seq(
          o.ok(i).toLong, o.pk(i).toLong, o.sk(i).toLong, o.line(i).toLong, o.qty(i), o.price(i),
          o.disc(i), o.tax(i), Gen.Flags(o.flag(i)), Gen.Statuses(o.status(i)), o.day(i).toLong)
          .mkString("|")).sorted
        if (got == want) None else Some(s"filter rows differ: ${got.size} vs ${want.size}")
      case "dims" =>
        val want = (o.rows.count(i => o.sk(i) == a(0)).toLong, 11)
        if (r == want) None else Some(s"dims $r, want $want")
      case "join" =>
        val want = o.agg(i => o.ok(i) >= a(0) && o.ok(i) <= a(1),
          i => Gen.Priorities(o.priority(o.ok(i))), i => Seq(o.price(i)))
        sameGroups(rows.map(x => x.getString(0) -> (Seq(x.getDouble(2)), x.getLong(1))), want)
    }
  }
}

object BdtQuery {
  val Kinds = IndexedSeq("query", "keyby", "pernode", "fn", "filter", "dims", "join")

  final case class Call(kind: String, args: Seq[Long])

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Group → (double sums, count), compared with a relative tolerance on
    * the sums (summation order differs between engine and oracle).
    */
  def sameGroups[K](got: Seq[(K, (Seq[Double], Long))], want: Map[K, (Seq[Double], Long)]): Option[String] = {
    val g = got.toMap
    if (g.size != got.size) Some("duplicate groups")
    else if (g.keySet != want.keySet) Some(s"groups ${g.keySet.take(5)} vs ${want.keySet.take(5)}")
    else want.collectFirst {
      case (k, (ws, wn)) if g(k)._2 != wn || g(k)._1.size != ws.size ||
          !g(k)._1.zip(ws).forall { case (x, y) => close(x, y) } =>
        s"group $k: ${g(k)} vs ${(ws, wn)}"
    }
  }

  /** The generated tables as driver-side columns. */
  final class Oracle(seed: Long) {
    private val n = Gen.NLineitem
    val ok = new Array[Int](n); val pk = new Array[Int](n); val sk = new Array[Int](n)
    val line = new Array[Byte](n); val flag = new Array[Byte](n); val status = new Array[Byte](n)
    val qty = new Array[Double](n); val price = new Array[Double](n)
    val disc = new Array[Double](n); val tax = new Array[Double](n); val day = new Array[Int](n)
    (0 until n).foreach { i =>
      def b(f: Int, m: Int) = Gen.below(seed, Gen.LineitemS, i.toLong, f, m)
      ok(i) = b(0, Gen.NOrders); pk(i) = b(1, Gen.NPart); sk(i) = b(2, Gen.NSupp)
      line(i) = (b(3, 7) + 1).toByte; qty(i) = (b(4, 50) + 1).toDouble
      price(i) = qty(i) * (b(5, 100000) + 900).toDouble / 100.0
      disc(i) = b(6, 11).toDouble / 100.0; tax(i) = b(7, 9).toDouble / 100.0
      flag(i) = b(8, Gen.Flags.length).toByte; status(i) = b(9, Gen.Statuses.length).toByte
      day(i) = Gen.Day0 + b(10, Gen.NDays)
    }
    val priority: Array[Byte] = Array.tabulate(Gen.NOrders)(o =>
      Gen.below(seed, Gen.OrdersS, o.toLong, 4, Gen.Priorities.length).toByte)

    def rows: Range = 0 until n

    def agg[K](keep: Int => Boolean, key: Int => K, vals: Int => Seq[Double]): Map[K, (Seq[Double], Long)] = {
      val acc = mutable.HashMap[K, (Array[Double], Array[Long])]()
      var i = 0
      while (i < n) {
        if (keep(i)) {
          val v = vals(i)
          val (s, c) = acc.getOrElseUpdate(key(i), (new Array[Double](v.size), Array(0L)))
          v.indices.foreach(j => s(j) += v(j))
          c(0) += 1
        }
        i += 1
      }
      acc.map { case (k, (s, c)) => k -> (s.toSeq, c(0)) }.toMap
    }
  }
}
