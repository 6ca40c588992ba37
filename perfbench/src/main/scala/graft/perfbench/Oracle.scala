package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** A table row as the oracle expects to read it back. */
final case class OrderRow(id: Long, grp: Int, qty: Long, price: Double,
                          note: String, lastTs: Long)

/** The expected table, folded in plain Scala from the delivered events:
  * per key the event with the highest ts wins, and a winning delete removes
  * the key. Nothing here touches Spark's changelog or merge code; the
  * tombstones it keeps are what lets a late event lose to a newer delete.
  *
  * It also folds a second view, `untombed`: the same stream under the rule
  * of a MERGE that keeps no tombstones (per batch the newest event per key
  * applies unless the key holds a row with a newer ts; a delete leaves
  * nothing behind). The two differ only on keys a late upsert brings back
  * after a newer delete was committed: [[resurrected]] names those rows.
  */
final class Oracle {
  private val latestTs = mutable.LongMap.empty[Long]
  private val live = mutable.LongMap.empty[OrderRow]
  private val untombed = mutable.LongMap.empty[OrderRow]

  private def row(e: Event) =
    OrderRow(e.key, e.after.grp, e.after.qty, e.after.price, e.after.note, e.ts)

  def preload(rows: Array[Img], ts: Long): Unit =
    putAll(Array.tabulate(rows.length)(k => Event(k.toLong, 'c', ts, null, rows(k))))

  private def put(e: Event): Unit =
    if (e.ts > latestTs.getOrElse(e.key, Long.MinValue)) {
      latestTs.update(e.key, e.ts)
      if (e.op == 'd') live.remove(e.key) else live.update(e.key, row(e))
    }

  /** Folds one delivered batch into both views. */
  def putAll(batch: Array[Event]): Unit = {
    batch.foreach(put)
    val newest = mutable.LongMap.empty[Event]
    batch.foreach(e => if (newest.get(e.key).forall(_.ts < e.ts)) newest.update(e.key, e))
    newest.valuesIterator.foreach { e =>
      if (untombed.get(e.key).forall(e.ts >= _.lastTs)) {
        if (e.op == 'd') untombed.remove(e.key) else untombed.update(e.key, row(e))
      }
    }
  }

  def get(key: Long): Option[OrderRow] = live.get(key)

  /** The row a MERGE without tombstones holds for a key this oracle says
    * is deleted.
    */
  def resurrected(key: Long): Option[OrderRow] =
    if (live.contains(key)) None else untombed.get(key)

  def resurrectedCount: Long = untombed.keysIterator.count(k => !live.contains(k)).toLong

  def count: Long = live.size.toLong

  /** (count, sum of high halves, sum of low halves) of the per-row
    * checksum, matching [[Oracle.rowHash]] evaluated by Spark.
    */
  def checksum: (Long, Long, Long) = Oracle.checksum(live.valuesIterator)

  /** The checksum of the `untombed` view. */
  def untombedChecksum: (Long, Long, Long) = Oracle.checksum(untombed.valuesIterator)
}

object Oracle {
  val Columns: Seq[(String, DataType)] = Seq("id" -> LongType,
    "grp" -> IntegerType, "qty" -> LongType, "price" -> DoubleType,
    "note" -> StringType, "last_ts" -> LongType)
  /** Spark's `xxhash64` default seed. */
  private val Seed = 42L

  def checksum(rows: Iterator[OrderRow]): (Long, Long, Long) = {
    var n, hi, lo = 0L
    rows.foreach { r =>
      val h = rowHash(r)
      n += 1
      hi += h >>> 32
      lo += h & 0xFFFFFFFFL
    }
    (n, hi, lo)
  }

  /** Spark's `xxhash64(id, grp, qty, price, note, last_ts)`, computed with
    * the same interpreted hash function Spark falls back to.
    */
  def rowHash(r: OrderRow): Long = {
    val values: Seq[Any] = Seq(r.id, r.grp, r.qty, r.price,
      UTF8String.fromString(r.note), r.lastTs)
    values.zip(Columns).foldLeft(Seed) { case (h, (v, (_, t))) =>
      XxHash64Function.hash(v, t, h)
    }
  }
}
