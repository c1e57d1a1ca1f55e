package graft.cdcbench

import scala.collection.mutable

/** One row of the orders fact table. */
final case class Order(id: Long, cust: Long, amount: Long, status: String)

/** One row of the customer dimension. */
final case class Customer(id: Long, segment: String, name: String)

/** How the generator draws order keys from its key universe. */
sealed trait KeyDist
object KeyDist {
  case object Uniform extends KeyDist
  /** Zipf over key ranks with exponent `s`: a few hot keys take most
    * events, so per-key compaction collapses many events into one row.
    */
  final case class Zipf(s: Double) extends KeyDist
}

/** Deterministic Maxwell change-stream generator with an in-memory model
  * of the source tables.
  *
  * Every event is drawn from a `SplittableRandom(seed)`, so one seed gives
  * the same initial tables and the same files, byte for byte. The model
  * applies each event as it is drawn; after the last file it holds the
  * exact state the synced stores must reach.
  *
  * The initial tables hold all [[Generator.Customers]] customers and a
  * [[Generator.InitialLive]] share of the [[Generator.OrderKeys]] order
  * keys. Event mix: with probability `custShare` a customer changes
  * segment, which moves all of that customer's orders to another MV group.
  * Otherwise an order key is drawn from `keys`: a live key is deleted with
  * probability `deleteShare` and else updated (amount always, status and
  * customer sometimes); a dead key is inserted.
  */
final class Generator(seed: Long, keys: KeyDist, custShare: Double, deleteShare: Double) {
  import Generator._

  private val rnd = new java.util.SplittableRandom(seed)
  val orders: mutable.LongMap[Order] = mutable.LongMap.empty
  val custs: Array[Customer] = new Array[Customer](Customers)
  private var eventNo = 0L

  private val zipfCdf: Array[Double] = keys match {
    case KeyDist.Zipf(s) =>
      val w = Array.tabulate(OrderKeys)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    case KeyDist.Uniform => Array.empty
  }

  for (c <- 0 until Customers)
    custs(c) = Customer(c + 1L, Segments(rnd.nextInt(Segments.size)), s"C${c + 1}")
  for (k <- 1L to OrderKeys.toLong if rnd.nextDouble() < InitialLive)
    orders(k) = newOrder(k)

  /** The tables as loaded before streaming starts. */
  val initialOrders: Seq[Order] = orders.values.toSeq.sortBy(_.id)
  val initialCustomers: Seq[Customer] = custs.toSeq

  private def newOrder(k: Long): Order =
    Order(k, 1L + rnd.nextInt(Customers), 1L + rnd.nextInt(100000),
      Statuses(rnd.nextInt(Statuses.size)))

  private def drawKey(): Long = keys match {
    case KeyDist.Uniform => 1L + rnd.nextInt(OrderKeys)
    case KeyDist.Zipf(_) =>
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      1L + math.min(if (i >= 0) i else -i - 1, OrderKeys - 1)
  }

  /** Draw one event, apply it to the model, return its Maxwell JSON line. */
  def nextEvent(): String = {
    eventNo += 1
    val ts = eventNo
    if (rnd.nextDouble() < custShare) {
      val i = rnd.nextInt(Customers)
      val c = custs(i)
      var seg = Segments(rnd.nextInt(Segments.size))
      if (seg == c.segment) seg = Segments((Segments.indexOf(seg) + 1) % Segments.size)
      val n = c.copy(segment = seg)
      custs(i) = n
      maxwell("customer", "update", ts, customerJson(n), s"""{"c_segment":"${c.segment}"}""")
    } else {
      val k = drawKey()
      orders.get(k) match {
        case Some(o) if rnd.nextDouble() < deleteShare =>
          orders.remove(k)
          maxwell("orders", "delete", ts, orderJson(o), null)
        case Some(o) =>
          val r = rnd.nextDouble()
          val n = o.copy(
            amount = 1L + rnd.nextInt(100000),
            status = if (r < 0.3) Statuses(rnd.nextInt(Statuses.size)) else o.status,
            cust = if (r > 0.9) 1L + rnd.nextInt(Customers) else o.cust)
          orders(k) = n
          val old = Seq(
            Some(s""""o_amount":${o.amount}"""),
            if (n.status != o.status) Some(s""""o_status":"${o.status}"""") else None,
            if (n.cust != o.cust) Some(s""""o_cust":${o.cust}""") else None).flatten
          maxwell("orders", "update", ts, orderJson(n), old.mkString("{", ",", "}"))
        case None =>
          val n = newOrder(k)
          orders(k) = n
          maxwell("orders", "insert", ts, orderJson(n), null)
      }
    }
  }

  /** `n` files of `perFile` events each, in stream order. */
  def files(n: Int, perFile: Int): IndexedSeq[IndexedSeq[String]] =
    IndexedSeq.fill(n)(IndexedSeq.fill(perFile)(nextEvent()))
}

object Generator {
  val Database = "shop"
  val OrderKeys = 5000
  val Customers = 500
  val InitialLive = 0.75
  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTO", "BUILD", "FURN", "HOUSE", "MACH", "RETAIL", "FOOD", "TECH")
  val Statuses: IndexedSeq[String] = IndexedSeq("O", "P", "F", "R")

  private def orderJson(o: Order): String =
    s"""{"o_id":${o.id},"o_cust":${o.cust},"o_amount":${o.amount},"o_status":"${o.status}"}"""
  private def customerJson(c: Customer): String =
    s"""{"c_id":${c.id},"c_segment":"${c.segment}","c_name":"${c.name}"}"""

  private def maxwell(table: String, op: String, ts: Long, data: String,
      old: String): String = {
    val oldPart = if (old == null) "" else s""","old":$old"""
    s"""{"database":"$Database","table":"$table","type":"$op","ts":$ts,"data":$data$oldPart}"""
  }
}
