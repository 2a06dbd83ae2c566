package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.AggregationClient
import graft.filter.ParseFilter
import graft.model.Fixtures
import graft.read.{GScan, GTable}
import graft.read.Resolve.TimeRange

/** A seeded ParseFilter string with its model semantics: which of a
  * row's (qualifier, value) cells it keeps. */
sealed trait FilterSpec {
  def text: String
  def keep(cells: Map[String, String]): Seq[(String, String)]
}
final case class QualEq(q: String) extends FilterSpec {
  def text = s"QualifierFilter(=, 'binary:$q')"
  def keep(c: Map[String, String]) = c.toSeq.filter(_._1 == q)
}
final case class ValueEq(v: String) extends FilterSpec {
  def text = s"ValueFilter(=, 'binary:$v')"
  def keep(c: Map[String, String]) = c.toSeq.filter(_._2 == v)
}
final case class ColPrefix(p: String) extends FilterSpec {
  def text = s"ColumnPrefixFilter('$p')"
  def keep(c: Map[String, String]) = c.toSeq.filter(_._1.startsWith(p))
}
final case class Scvf(q: String, v: String) extends FilterSpec {
  def text = s"SingleColumnValueFilter('d', '$q', =, 'binary:$v', true, true)"
  def keep(c: Map[String, String]) = if (c.get(q).contains(v)) c.toSeq else Nil
}
final case class QualAndValue(q: String, v: String) extends FilterSpec {
  def text = s"QualifierFilter(=, 'binary:$q') AND ValueFilter(=, 'binary:$v')"
  def keep(c: Map[String, String]) = c.toSeq.filter(x => x._1 == q && x._2 == v)
}

object ServeRead {
  final case class Get(key: String) extends Op { val kind = "get"; val group = "get" }
  final case class MultiGet(keys: Seq[String]) extends Op { val kind = "multiget"; val group = "get" }
  final case class Scan(start: String, stop: String, filter: Option[FilterSpec]) extends Op {
    val kind = "scan"; val group = "scan"
  }
  final case class PrefixScan(prefix: String) extends Op { val kind = "prefix_scan"; val group = "scan" }
  final case class Versioned(start: String, stop: String, maxVersions: Int,
      range: Option[(Long, Long)]) extends Op { val kind = "versioned"; val group = "scan" }
  final case class Agg(fn: String, start: String, stop: String) extends Op {
    val kind = s"agg_$fn"; val group = "agg"
  }
}

/** serve_read: one client issuing small reads against the cached cell
  * stores (cells_orders, cells_events_v). Fixed cost per op dominates,
  * so it isolates the driver, Catalyst, read, filter and agg layers. */
final class ServeRead extends Workload {
  import ServeRead._

  val name = "serve_read"
  val clients = 1

  private var orders: Models.OrdersModel = _
  private var eventsV: scala.collection.immutable.TreeMap[String, Seq[C]] = _
  private var cells: DataFrame = _
  private var events: DataFrame = _

  def prepareModels(spark: SparkSession, dataDir: String): Unit = {
    orders = Models.orders(spark, dataDir)
    eventsV = Models.eventsV(spark, dataDir)
  }

  private var modelLoadMs = 0.0

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    cells = ctx.trace.span("read.Fixtures.cellsOrders")(Fixtures.cellsOrders(ctx.spark, ctx.dataDir))
    events = ctx.trace.span("read.Fixtures.cellsEventsV")(Fixtures.cellsEventsV(ctx.spark, ctx.dataDir))
    Util.check(cells.count() == Data.Orders * 5L, "cells_orders cell count")
    Util.check(events.count() > 0, "cells_events_v is empty")
    modelLoadMs = (System.nanoTime() - t0) / 1e6
  }

  override def finish(ctx: Ctx): Map[String, Double] = Map("model_load_ms" -> modelLoadMs)

  /** One cycle of 20 ops: the kinds and their order are fixed, only
    * the parameters are seeded, so every seed runs the same mix in any
    * window of the loop. */
  private val kinds = Seq("get", "scan", "get", "versioned", "agg", "get", "multiget", "scan",
    "get", "prefix_scan", "agg", "get", "scan", "versioned", "get", "multiget", "scan", "agg",
    "prefix_scan", "versioned")

  def cycle(client: Int): Int = kinds.size

  def ops(client: Int, seed: Long): IndexedSeq[Op] = {
    val rnd = new java.util.Random(seed * 1000003L + client)
    val n = Data.Orders
    val zipf = new Util.Zipf(n, 1.1)
    def key(): String =
      if (rnd.nextInt(10) == 0) Data.pad(2L * (1 + rnd.nextInt(n - 1))) // absent: even keys
      else Data.pad(Data.orderKey(Util.scatter(zipf.sample(rnd), n)))
    def range(lo: Int, hi: Int): (String, String) = {
      val w = Util.logUniform(rnd, lo, hi)
      val i = rnd.nextInt(n - w)
      (Data.pad(Data.orderKey(i)), Data.pad(Data.orderKey(i + w)))
    }
    def filter(): Option[FilterSpec] = rnd.nextInt(6) match {
      case 0 => None
      case 1 => Some(QualEq(Seq("o_custkey", "o_totalprice", "o_orderdate")(rnd.nextInt(3))))
      case 2 => Some(ValueEq(Data.statuses(rnd.nextInt(3))))
      case 3 => Some(ColPrefix(Seq("o_order", "o_cust", "o_total")(rnd.nextInt(3))))
      case 4 => Some(Scvf("o_orderpriority", Data.priorities(rnd.nextInt(5))))
      case _ => Some(QualAndValue("o_orderstatus", Data.statuses(rnd.nextInt(3))))
    }
    val aggs = Seq("sum", "avg", "std", "median", "rowcount")
    Iterator.continually(kinds).flatten.take(4000).map {
        case "get" => Get(key())
        case "multiget" => MultiGet(Seq.fill(5 + rnd.nextInt(46))(key()).distinct)
        case "scan" => val (a, b) = range(5, 500); Scan(a, b, filter())
        case "prefix_scan" =>
          PrefixScan(Data.pad(Data.orderKey(rnd.nextInt(n))).take(7 + rnd.nextInt(2)))
        case "versioned" =>
          val u = 1 + rnd.nextInt(Data.Users - 20)
          val w = 1 + rnd.nextInt(20)
          val tr = if (rnd.nextBoolean()) None else {
            val lo = 1L + rnd.nextInt(3); Some((lo, lo + 1 + rnd.nextInt(5)))
          }
          Versioned(Data.pad(u), Data.pad(u + w), Seq(1, 2, 3, 5)(rnd.nextInt(4)), tr)
        case _ => val (a, b) = range(20, 5000); Agg(aggs(rnd.nextInt(aggs.size)), a, b)
      }.toIndexedSeq
  }

  def run(ctx: Ctx, op: Op): Unit = {
    val t = ctx.trace
    op match {
      case Get(k) =>
        val got = Util.cells(t.collect("read.get", t.span("read.get")(GTable.get(cells, k))))
        checkRows(got.map(c => (c.row, c.qualifier, c.value)),
          orders.cells(k).map(c => (c.row, c.qualifier, c.value)), op)
      case MultiGet(keys) =>
        val df = t.span("read.multiGet")(GTable.multiGet(cells, Util.keysFrame(ctx.spark, keys)))
        val got = Util.cells(t.collect("read.multiGet", df))
        checkRows(got.map(c => (c.row, c.qualifier, c.value)),
          keys.flatMap(orders.cells).map(c => (c.row, c.qualifier, c.value)), op)
      case Scan(a, b, f) =>
        val scan = GScan(startRow = Some(a), stopRow = Some(b))
        val df = f match {
          case None => t.span("read.scan")(GTable.scan(cells, scan))
          case Some(spec) =>
            val parsed = t.span("filter.parse")(ParseFilter.parse(spec.text))
            if (t.on) t.span("filter.compile")(graft.filter.FilterCompiler.cellPredicate(parsed))
            t.span("read.scanFiltered")(GTable.scanFiltered(cells, scan, parsed))
        }
        val got = Util.cells(t.collect(if (f.isEmpty) "read.scan" else "read.scanFiltered", df))
        val want = orders.range(a, b).flatMap { case (row, m) =>
          f.fold(m.toSeq)(_.keep(m)).map { case (q, v) => (row, q, v) }
        }.toSeq
        checkRows(got.map(c => (c.row, c.qualifier, c.value)), want, op)
      case PrefixScan(p) =>
        val df = t.span("read.scan")(GTable.scan(cells, GScan(rowPrefix = Some(p))))
        val got = Util.cells(t.collect("read.scan", df))
        val want = orders.prefix(p).flatMap { case (row, m) => m.toSeq.map { case (q, v) => (row, q, v) } }.toSeq
        checkRows(got.map(c => (c.row, c.qualifier, c.value)), want, op)
      case Versioned(a, b, mv, tr) =>
        val scan = GScan(startRow = Some(a), stopRow = Some(b), maxVersions = mv,
          timeRange = tr.map { case (lo, hi) => TimeRange(lo, hi) })
        val df = t.span("read.scan")(GTable.scan(events, scan))
        val got = Util.cells(t.collect("read.versioned", df))
        val want = eventsV.range(a, b).values.flatMap(Models.resolve(_, mv, tr))
        checkRows(got.map(c => (c.row, c.qualifier + "@" + c.ts, c.value)),
          want.map(c => (c.row, c.qualifier + "@" + c.ts, c.value)).toSeq, op)
      case Agg(fn, a, b) =>
        val pred = Some(col("row") >= a && col("row") < b)
        val prices = cells.filter(col("qualifier") === "o_totalprice")
        val v = col("value").cast("double")
        val df = t.span(s"agg.$fn")(fn match {
          case "sum" => AggregationClient.sum(prices, v, pred)
          case "avg" => AggregationClient.avg(prices, v, pred)
          case "std" => AggregationClient.std(prices, v, pred)
          case "median" => AggregationClient.median(prices, v, pred)
          case _ => AggregationClient.rowCount(cells, pred)
        })
        val row = t.collect("agg.collect", df).head
        val xs = orders.range(a, b).map(_._2("o_totalprice").toDouble).toArray
        val want: Double = fn match {
          case "sum" => xs.sum
          case "avg" => xs.sum / xs.length
          case "std" =>
            val m = xs.sum / xs.length
            math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.length)
          case "median" =>
            val s = xs.sorted
            val pos = 0.5 * (s.length - 1)
            val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
            lo + (hi - lo) * (pos - pos.toInt)
          case _ => xs.length.toDouble
        }
        val got = row.get(0) match { case l: Long => l.toDouble; case d: Double => d; case x => sys.error(s"$x") }
        Util.check(math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want)),
          s"$op: got $got want $want")
    }
  }

  private def checkRows(got: Seq[(String, String, String)], want: Seq[(String, String, String)], op: Op): Unit = {
    val g = got.sorted; val w = want.sorted
    Util.check(g == w, s"$op: ${g.size} cells, expected ${w.size}; first difference " +
      g.zipAll(w, null, null).find(p => p._1 != p._2).getOrElse("none"))
  }
}
