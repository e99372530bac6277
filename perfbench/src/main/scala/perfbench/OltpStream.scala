package perfbench

import java.time.LocalDate
import scala.collection.mutable

/** One lineitem row as the statement stream knows it; `day` is the ship
  * date as an epoch day.
  */
final case class Line(orderkey: Long, partkey: Long, suppkey: Long,
    linenumber: Int, quantity: Double, extendedprice: Double,
    discount: Double, tax: Double, returnflag: String, linestatus: String,
    day: Int) {
  def month: LocalDate = LocalDate.ofEpochDay(day).withDayOfMonth(1)
  /** The columns a point read returns, in the form the check compares. */
  def readKey: String =
    s"$orderkey|$linenumber|$quantity|${LocalDate.ofEpochDay(day)}"
  def values: String =
    s"($orderkey, $partkey, $suppkey, $linenumber, $quantity, " +
      s"$extendedprice, $discount, $tax, '$returnflag', '$linestatus', " +
      s"TIMESTAMP '${LocalDate.ofEpochDay(day)} 00:00:00')"
}

/** One operation of the stream: its statements run in order; a read
  * expects exactly `rows` (as [[Line.readKey]]), a write expects
  * `count` affected rows from its single statement.
  */
final case class Op(kind: String, cls: String, stmts: Seq[String],
    rows: Seq[String] = Nil, count: Long = -1, changed: Long = 0)

/** The seeded statement stream of `lake_oltp`, with the model of the
  * table it is run against. Each block of twenty operations has the same
  * shape: 3 single-row INSERTs, 1 UPDATE, 2 DELETEs and 2 two-table
  * transactions in a fixed order, with one or two pruned point reads
  * before each (12 in all). The seed picks the keys and values. That is
  * eight commits on the lineitem table per block; with an autovacuum
  * every fourth commit, both runs of it ride on the two transactions, and
  * every read sees the table at the same stage of the cycle, whatever
  * the seed.
  *
  * The stream depends only on the seed and the initial rows: the model
  * assumes every statement does what it says, and a program that does
  * otherwise fails the read and count checks.
  */
final class OltpStream(seed: Long, initial: Seq[Line], initialOrders: Long,
    val maxOrderKey: Long, lineitem: String, orders: String) {
  private val rng = new scala.util.Random(seed)
  private val byKey = mutable.LinkedHashMap.empty[Long, Vector[Line]]
  initial.foreach(l => byKey(l.orderkey) = byKey.getOrElse(l.orderkey, Vector.empty) :+ l)
  // every live row, for uniform picks; compacted when deletes pile up
  private var rows = mutable.ArrayBuffer.from(initial)
  private var dead = 0
  private var nextKey = maxOrderKey + 1
  private val days = initial.map(_.day)
  private val (minDay, maxDay) = (days.min, days.max)
  var orderRows: Long = initialOrders
  var orderKeySum: Long = 0L

  def lineCount: Long = byKey.valuesIterator.map(_.size.toLong).sum
  def keySum: Long = byKey.valuesIterator.flatten.map(_.orderkey).sum
  def quantitySum: Double = byKey.valuesIterator.flatten.map(_.quantity).sum
  def liveRows: Iterator[Line] = byKey.valuesIterator.flatten

  val Shape: Seq[String] = Seq(
    "read", "read", "insert", "read", "delete", "read", "read", "insert",
    "read", "tx", "read", "read", "update", "read", "delete", "read", "read",
    "insert", "read", "tx")

  def block(): Seq[Op] = Shape.map(next)

  private def monthRange(l: Line): String = {
    val m = l.month
    s"l_shipdate >= TIMESTAMP '$m 00:00:00' AND " +
      s"l_shipdate < TIMESTAMP '${m.plusMonths(1)} 00:00:00'"
  }

  private def pickLive(): Line = {
    if (dead > rows.size / 4) {
      rows = mutable.ArrayBuffer.from(liveRows)
      dead = 0
    }
    var l = rows(rng.nextInt(rows.size))
    while (!byKey.get(l.orderkey).exists(_.contains(l)))
      l = rows(rng.nextInt(rows.size))
    l
  }

  private def newLine(key: Long): Line = Line(key, rng.nextInt(2000).toLong,
    rng.nextInt(100).toLong, 1, (1 + rng.nextInt(50)).toDouble,
    (90000 + rng.nextInt(10400000)) / 100.0, rng.nextInt(11) / 100.0,
    rng.nextInt(9) / 100.0, Seq("A", "N", "R")(rng.nextInt(3)),
    Seq("F", "O")(rng.nextInt(2)), minDay + rng.nextInt(maxDay - minDay + 1))

  private def add(l: Line): Unit = {
    byKey(l.orderkey) = byKey.getOrElse(l.orderkey, Vector.empty) :+ l
    rows += l
  }

  private def next(kind: String): Op = kind match {
    case "read" =>
      val l = pickLive()
      val hits = byKey(l.orderkey).filter(_.month == l.month)
      Op(kind, "read", Seq(
        s"SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate " +
          s"FROM $lineitem WHERE l_orderkey = ${l.orderkey} AND ${monthRange(l)}"),
        rows = hits.map(_.readKey).sorted)
    case "insert" =>
      val l = newLine(nextKey)
      nextKey += 1
      add(l)
      Op(kind, "write", Seq(s"INSERT INTO $lineitem VALUES ${l.values}"),
        count = 1, changed = 1)
    case "update" =>
      val l = pickLive()
      val (hit, miss) = byKey(l.orderkey).partition(r =>
        r.linenumber == l.linenumber && r.month == l.month)
      byKey(l.orderkey) = miss ++ hit.map(r => r.copy(quantity = r.quantity + 1))
      dead += hit.size
      hit.foreach(r => rows += r.copy(quantity = r.quantity + 1))
      Op(kind, "write", Seq(
        s"UPDATE $lineitem SET l_quantity = l_quantity + 1 " +
          s"WHERE l_orderkey = ${l.orderkey} AND l_linenumber = ${l.linenumber} " +
          s"AND ${monthRange(l)}"), count = hit.size, changed = hit.size)
    case "delete" =>
      val l = pickLive()
      val (hit, miss) = byKey(l.orderkey).partition(_.month == l.month)
      if (miss.isEmpty) byKey.remove(l.orderkey) else byKey(l.orderkey) = miss
      dead += hit.size
      Op(kind, "write", Seq(
        s"DELETE FROM $lineitem WHERE l_orderkey = ${l.orderkey} " +
          s"AND ${monthRange(l)}"), count = hit.size, changed = hit.size)
    case "tx" =>
      val key = nextKey
      nextKey += 1
      val l = newLine(key)
      add(l)
      orderRows += 1
      orderKeySum += key
      val order = s"($key, ${rng.nextInt(1500)}, 'O', ${l.extendedprice}, " +
        s"TIMESTAMP '${LocalDate.ofEpochDay(l.day)} 00:00:00', '3-MEDIUM')"
      Op(kind, "tx", Seq("BEGIN", s"INSERT INTO $orders VALUES $order",
        s"INSERT INTO $lineitem VALUES ${l.values}", "COMMIT"), changed = 2)
  }
}
