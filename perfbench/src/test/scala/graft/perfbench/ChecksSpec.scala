package graft.perfbench

import graft.perfbench.PipelineBench.{Checks, lookupMatches, scanMatches}
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private def img(v: Int) = Img(v, v * 10L, v + 0.25, s"note-$v")
  private def c(k: Long, ts: Long, v: Int) = Event(k, 'c', ts, null, img(v))
  private def u(k: Long, ts: Long, v: Int) = Event(k, 'u', ts, img(v - 1), img(v))
  private def d(k: Long, ts: Long) = Event(k, 'd', ts, img(0), null)
  private def row(k: Long, ts: Long, v: Int) =
    OrderRow(k, v, v * 10L, v + 0.25, s"note-$v", ts)

  /** Key 1 live at ts 20; key 2 deleted at 50, then brought back by the
    * late update at 45 under a merge without tombstones; key 3 deleted.
    */
  private def oracle: Oracle = {
    val o = new Oracle
    o.putAll(Array(c(1, 10, 1), c(2, 11, 1), c(3, 12, 1)))
    o.putAll(Array(u(1, 20, 2), d(2, 50), d(3, 51)))
    o.putAll(Array(u(2, 45, 3)))
    o
  }

  test("a lookup equal to the oracle passes and counts nothing") {
    val checks = new Checks
    assert(lookupMatches(oracle, Seq(1L, 2L, 3L), Seq(row(1, 20, 2)), checks))
    assert(checks.resurrectedRows == 0)
  }

  test("the row a merge without tombstones brings back passes and is counted") {
    val checks = new Checks
    assert(lookupMatches(oracle, Seq(1L, 2L, 3L), Seq(row(1, 20, 2), row(2, 45, 3)), checks))
    assert(checks.resurrectedRows == 1)
  }

  test("a lost, stale, duplicated or unasked-for row fails") {
    val o = oracle
    val checks = new Checks
    assert(!lookupMatches(o, Seq(1L), Nil, checks))
    assert(!lookupMatches(o, Seq(1L), Seq(row(1, 10, 1)), checks))
    assert(!lookupMatches(o, Seq(1L), Seq(row(1, 20, 2), row(1, 20, 2)), checks))
    assert(!lookupMatches(o, Seq(1L), Seq(row(1, 20, 2), row(3, 12, 1)), checks))
    assert(!lookupMatches(o, Seq(2L), Seq(row(2, 11, 1)), checks))
    assert(!lookupMatches(o, Seq(3L), Seq(row(3, 12, 1)), checks))
    assert(checks.resurrectedRows == 0)
  }

  test("a scan passes on either checksum and counts the rows brought back") {
    val o = oracle
    val checks = new Checks
    assert(scanMatches(o, o.checksum, checks))
    assert(checks.resurrectedRows == 0)
    assert(scanMatches(o, o.untombedChecksum, checks))
    assert(checks.resurrectedRows == 1)
    val (n, hi, lo) = o.checksum
    assert(!scanMatches(o, (n, hi, lo + 1), checks))
  }
}
