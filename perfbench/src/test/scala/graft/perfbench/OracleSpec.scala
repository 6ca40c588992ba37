package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {
  private def img(v: Int) = Img(v, v * 10L, v + 0.25, s"note-$v")
  private def c(k: Long, ts: Long, v: Int) = Event(k, 'c', ts, null, img(v))
  private def u(k: Long, ts: Long, v: Int) = Event(k, 'u', ts, img(v - 1), img(v))
  private def d(k: Long, ts: Long) = Event(k, 'd', ts, img(0), null)

  test("the newest ts wins whatever order events arrive in") {
    val o = new Oracle
    o.putAll(Array(c(1, 10, 1), u(1, 20, 2)))
    o.putAll(Array(u(1, 15, 3))) // one batch late
    assert(o.get(1).contains(OrderRow(1, 2, 20L, 2.25, "note-2", 20)))
  }

  test("a re-delivered event changes nothing") {
    val o = new Oracle
    val e = u(2, 30, 4)
    o.putAll(Array(c(2, 5, 1), e, e))
    o.putAll(Array(e))
    assert(o.get(2).map(_.lastTs).contains(30L))
    assert(o.count == 1)
  }

  test("a delete removes the key and a later insert brings it back") {
    val o = new Oracle
    o.putAll(Array(c(3, 10, 1), d(3, 20)))
    assert(o.get(3).isEmpty)
    o.putAll(Array(c(3, 40, 7)))
    assert(o.get(3).map(_.grp).contains(7))
    assert(o.count == 1)
  }

  test("a late event older than a delete stays deleted") {
    val o = new Oracle
    o.putAll(Array(c(4, 10, 1), d(4, 50)))
    o.putAll(Array(u(4, 45, 2)))
    assert(o.get(4).isEmpty)
    assert(o.count == 0)
  }

  test("without tombstones a late event after a committed delete comes back") {
    val o = new Oracle
    o.putAll(Array(c(4, 10, 1), d(4, 50)))
    assert(o.resurrected(4).isEmpty)
    o.putAll(Array(u(4, 45, 2)))
    assert(o.resurrected(4).contains(OrderRow(4, 2, 20L, 2.25, "note-2", 45)))
    assert(o.resurrectedCount == 1)
    assert(o.untombedChecksum._1 == 1 && o.checksum._1 == 0)
    // an older late event loses to the resurrected row, a newer insert
    // ends the difference
    o.putAll(Array(u(4, 40, 3)))
    assert(o.resurrected(4).map(_.lastTs).contains(45L))
    o.putAll(Array(c(4, 60, 5)))
    assert(o.resurrected(4).isEmpty && o.resurrectedCount == 0)
    assert(o.checksum == o.untombedChecksum)
  }

  test("within one batch the newest event wins in both views") {
    val o = new Oracle
    o.putAll(Array(c(5, 10, 1)))
    o.putAll(Array(d(5, 50), u(5, 45, 2), u(5, 45, 2)))
    assert(o.get(5).isEmpty && o.resurrected(5).isEmpty)
    assert(o.checksum == o.untombedChecksum)
  }

  test("preloaded rows lose to any event") {
    val o = new Oracle
    o.preload(Array(img(1), img(2)), ts = 0)
    o.putAll(Array(d(0, 1)))
    assert(o.get(0).isEmpty && o.get(1).map(_.lastTs).contains(0L))
  }

  test("the row hash is Spark's xxhash64 over the table's columns") {
    val r = OrderRow(42L, 7, 123456L, 9876.54, "n12-abc", 1700000000123L)
    val lits = Seq(Literal(r.id), Literal(r.grp), Literal(r.qty), Literal(r.price),
      Literal(r.note), Literal(r.lastTs))
    assert(XxHash64(lits, 42L).eval() == Oracle.rowHash(r))
  }

  test("the checksum is order-free and splits the hash into halves") {
    val a = new Oracle
    val b = new Oracle
    val es = Array(c(1, 1, 1), c(2, 2, 2), c(3, 3, 3))
    a.putAll(es)
    b.putAll(es.reverse)
    assert(a.checksum == b.checksum)
    val hs = (1L to 3L).map(k => Oracle.rowHash(a.get(k).get))
    assert(a.checksum == ((3L, hs.map(_ >>> 32).sum, hs.map(_ & 0xFFFFFFFFL).sum)))
  }
}
