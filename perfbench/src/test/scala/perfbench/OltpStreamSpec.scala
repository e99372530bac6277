package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OltpStreamSpec extends AnyFunSuite {
  private val initial = (0 until 500).map { i =>
    Line(i / 3, i % 97, i % 11, 1 + i % 7, (1 + i % 50).toDouble,
      1000.0 + i, (i % 11) / 100.0, (i % 9) / 100.0, "ANR".substring(i % 3, i % 3 + 1),
      "FO".substring(i % 2, i % 2 + 1), 9862 + (i * 7) % 730)
  }

  private def stream(seed: Long, blocks: Int): Array[Byte] = {
    val s = new OltpStream(seed, initial, 200, 1000, "li", "ord")
    (1 to blocks).flatMap(_ => s.block()).map(_.toString).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  test("the same seed gives a byte-identical statement stream") {
    assert(stream(7, 50).sameElements(stream(7, 50)))
  }

  test("a different seed gives a different stream") {
    assert(!stream(7, 50).sameElements(stream(8, 50)))
  }

  test("every block has the same mix") {
    val s = new OltpStream(3, initial, 200, 1000, "li", "ord")
    (1 to 20).foreach { _ =>
      val kinds = s.block().groupBy(_.kind).map { case (k, ops) => k -> ops.size }
      assert(kinds == Map("read" -> 12, "insert" -> 3, "update" -> 1,
        "delete" -> 2, "tx" -> 2))
    }
  }

  test("the model follows the statements") {
    val s = new OltpStream(5, initial, 200, 1000, "li", "ord")
    val ops = (1 to 30).flatMap(_ => s.block())
    val inserted = ops.count(o => o.kind == "insert" || o.kind == "tx")
    val deleted = ops.filter(_.kind == "delete").map(_.count).sum
    assert(s.lineCount == initial.size + inserted - deleted)
    assert(s.orderRows == 200 + ops.count(_.kind == "tx"))
    ops.filter(_.kind == "read").foreach(o => assert(o.rows.nonEmpty, o))
  }

  test("the generator starts no threads: it runs on the caller's, within nproc") {
    val before = Thread.activeCount()
    stream(11, 200)
    assert(Thread.activeCount() <= before)
  }
}
