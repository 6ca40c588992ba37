package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** One row image of the benchmark table `orders(id, grp, qty, price, note)`. */
final case class Img(grp: Int, qty: Long, price: Double, note: String)

/** One Debezium change event as delivered: `op` is 'c', 'u' or 'd';
  * `before` is null for 'c', `after` is null for 'd'. `ts` is unique per
  * generated event, so two events share a ts only when one is a
  * re-delivery of the other.
  */
final case class Event(key: Long, op: Char, ts: Long, before: Img, after: Img)

/** How a batch picks its keys. */
sealed trait KeyDraw
/** Events draw keys with replacement from the `hot` lowest ids, skewed to
  * the lowest: key = floor(hot * u^exponent), so many events share a key.
  */
final case class Skewed(hot: Int, exponent: Double) extends KeyDraw
/** Every fresh event of a batch has its own key, uniform over a window of
  * `width` keys that starts `step` keys further each batch, wrapping
  * around the key space.
  */
final case class Window(width: Int, step: Int) extends KeyDraw

/** A workload: table shape, traffic shape and the fixed offered rate.
  *
  * `rate` is in events per second and sits below capacity on purpose:
  * batch k holds events [kB, (k+1)B) whatever the clock says, and a rate
  * below capacity keeps the schedule from feeding back into batch size.
  */
final case class Spec(name: String, mor: Boolean, keySpace: Int,
                      preloadFiles: Int, batchEvents: Int, rate: Double,
                      warmupBatches: Int, draw: KeyDraw,
                      lateShare: Double, redeliverShare: Double,
                      deleteShare: Double, lateAfterDeleteShare: Double) {
  def lateCount: Int = math.round(lateShare * batchEvents).toInt
  def lateAfterDeleteCount: Int = math.round(lateAfterDeleteShare * batchEvents).toInt
  def redeliverCount: Int = math.round(redeliverShare * batchEvents).toInt
  /** Seconds between the due times of consecutive batches' last events. */
  def intervalS: Double = batchEvents / rate
  /** The first timed batch is due as the timed phase starts, so n batches
    * take n - 1 intervals plus the last batch's own time.
    */
  def timedBatches(seconds: Int): Int = 1 + math.floor(seconds / intervalS).toInt
}

object Workload {
  val BaseTs = 1700000000000L
  /** Late events arrive 1, 2 or 3 batches after the batch that made them. */
  val MaxDelay = 3

  val specs: Seq[Spec] = Seq(
    Spec("dup_burst", mor = false, keySpace = 32000, preloadFiles = 32,
      batchEvents = 1500, rate = 560.0, warmupBatches = 4,
      draw = Skewed(2000, 3.0), lateShare = 0.10, redeliverShare = 0.10,
      deleteShare = 0.02, lateAfterDeleteShare = 0.01),
    Spec("range_mor", mor = true, keySpace = 2000, preloadFiles = 16,
      batchEvents = 400, rate = 58.0, warmupBatches = 2,
      draw = Window(400, 400), lateShare = 0.0, redeliverShare = 0.0,
      deleteShare = 0.02, lateAfterDeleteShare = 0.0))

  def byName(name: String): Spec =
    specs.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${specs.map(_.name).mkString(", ")})"))

  val fieldsJson: String = graft.cdc.Envelope.schemaBlockJson(Seq(
    graft.cdc.Envelope.FieldInfo("id", "int64", optional = false),
    graft.cdc.Envelope.FieldInfo("grp", "int32"),
    graft.cdc.Envelope.FieldInfo("qty", "int64"),
    graft.cdc.Envelope.FieldInfo("price", "double"),
    graft.cdc.Envelope.FieldInfo("note", "string")))

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  def image(key: Long, ts: Long, rng: SplittableRandom): Img = {
    val sb = new StringBuilder("n").append(ts - BaseTs).append('-')
    var i = 0
    while (i < 20) { sb.append(Alphabet.charAt(rng.nextInt(Alphabet.length))); i += 1 }
    Img((key % 97).toInt, rng.nextInt(1000000).toLong,
      rng.nextInt(10000000) / 100.0, sb.toString)
  }

  /** The rows the table holds before the first batch: every key of the
    * key space, stamped one millisecond before the first event.
    */
  def preload(spec: Spec, seed: Long): Array[Img] = {
    val rng = new SplittableRandom(seed * 31 + spec.name.hashCode)
    Array.tabulate(spec.keySpace)(k => image(k.toLong, BaseTs - 1, rng))
  }

  private def appendImg(sb: java.lang.StringBuilder, key: Long, img: Img): Unit =
    if (img == null) sb.append("null")
    else sb.append("{\"id\":").append(key).append(",\"grp\":").append(img.grp)
      .append(",\"qty\":").append(img.qty).append(",\"price\":")
      .append(java.lang.Double.toString(img.price)).append(",\"note\":\"")
      .append(img.note).append("\"}")

  /** One event as a Debezium JSON line (schema block included, as
    * Kafka Connect's JsonConverter writes it with schemas enabled).
    */
  def json(e: Event): String = {
    val sb = new java.lang.StringBuilder(1200)
    sb.append("{\"schema\":").append(fieldsJson).append(",\"payload\":{\"before\":")
    appendImg(sb, e.key, e.before)
    sb.append(",\"after\":")
    appendImg(sb, e.key, e.after)
    sb.append(",\"source\":{\"version\":\"2.2\",\"connector\":\"postgresql\",")
      .append("\"name\":\"bench\",\"ts_ms\":").append(e.ts)
      .append(",\"db\":\"postgres\",\"schema\":\"public\",\"table\":\"orders\"},")
      .append("\"op\":\"").append(e.op).append("\",\"ts_ms\":").append(e.ts)
      .append(",\"transaction\":null}}")
    sb.toString
  }

  def writeBatch(path: Path, batch: Array[Event]): Unit = {
    val sb = new java.lang.StringBuilder(batch.length * 1100)
    batch.foreach(e => sb.append(json(e)).append('\n'))
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** The delivered stream: `nBatches` batches of exactly `batchEvents`
    * events each, cut by count.
    *
    * Each batch makes fresh events in ts order. Of these, `lateCount` are
    * held back and delivered 1, 2 or 3 batches later (the three delays in
    * fixed thirds, so from batch [[MaxDelay]] on every batch receives
    * exactly `lateCount` late events), and `redeliverCount` slots repeat an
    * event this batch already delivers. The batch is then shuffled.
    *
    * Deletes and held-back events are drawn independently, so a late event
    * may reach a key whose newer delete is already committed. On top of
    * that, `lateAfterDeleteCount` of the upserts held back one batch each
    * have their key deleted by an extra on-time event at the end of their
    * own batch, so every batch from the second on delivers at least that
    * many late events older than a committed delete.
    */
  def generate(spec: Spec, seed: Long, nBatches: Int): Generated = {
    val rng = new SplittableRandom(seed * 1000003L + spec.name.hashCode)
    val pre = preload(spec, seed)
    val state = mutable.LongMap.empty[Img] // generator's view, in ts order
    var k = 0
    while (k < pre.length) { state.update(k.toLong, pre(k)); k += 1 }
    val arrivals = Array.fill(nBatches + MaxDelay + 1)(mutable.ArrayBuffer.empty[Event])
    var nextTs = BaseTs
    val nLate = spec.lateCount
    val nDup = spec.redeliverCount
    val nLad = spec.lateAfterDeleteCount
    val delayCut = Array(nLate / 3 + (if (nLate % 3 > 0) 1 else 0),
      nLate / 3 + (if (nLate % 3 > 1) 1 else 0))

    def drawKeys(b: Int, n: Int): Array[Long] = spec.draw match {
      case Skewed(hot, a) =>
        Array.fill(n)(math.min(hot - 1, math.floor(hot * math.pow(rng.nextDouble(), a)).toLong))
      case Window(width, step) =>
        val start = b.toLong * step
        distinct(n, width).map(k => (start + k) % spec.keySpace)
    }
    def distinct(n: Int, width: Long): Array[Long] = {
      require(n <= width, s"cannot draw $n distinct keys from $width")
      val seen = mutable.LongMap.empty[Unit]
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        val key = rng.nextLong(width)
        if (!seen.contains(key)) { seen.update(key, ()); out(i) = key; i += 1 }
      }
      out
    }

    val firstTs = new Array[Long](nBatches + 1)
    val batches = Array.tabulate(nBatches) { b =>
      firstTs(b) = nextTs
      val arrived = arrivals(b)
      val nDrawn = spec.batchEvents - nDup - arrived.size + nLate - nLad
      val keys = drawKeys(b, nDrawn)
      val drawn = keys.map { key =>
        val ts = nextTs; nextTs += 1
        val cur = state.getOrNull(key)
        val e =
          if (cur == null) Event(key, 'c', ts, null, image(key, ts, rng))
          else if (rng.nextDouble() < spec.deleteShare) Event(key, 'd', ts, cur, null)
          else Event(key, 'u', ts, cur, image(key, ts, rng))
        if (e.op == 'd') state.remove(key) else state.update(key, e.after)
        e
      }
      // hold back nLate of the drawn events, chosen uniformly
      val order = drawn.indices.toArray
      val held = new Array[Boolean](nDrawn)
      var h = 0
      while (h < nLate) {
        val j = h + rng.nextInt(nDrawn - h)
        val i = order(j); order(j) = order(h); order(h) = i
        held(i) = true
        val delay = if (h < delayCut(0)) 1 else if (h < delayCut(0) + delayCut(1)) 2 else 3
        arrivals(b + delay) += drawn(i)
        h += 1
      }
      // delete the keys of the first nLad upserts held back one batch whose
      // keys are still live, one on-time event each, newer than the held one
      val doomed = order.take(delayCut(0)).map(drawn).filter(e => e.op != 'd' &&
        state.contains(e.key)).map(_.key).distinct.take(nLad)
      require(doomed.length == nLad,
        s"batch $b: only ${doomed.length} held-back upserts can be deleted, need $nLad")
      val deletes = doomed.map { key =>
        val e = Event(key, 'd', nextTs, state(key), null)
        nextTs += 1
        state.remove(key)
        e
      }
      val onTime = drawn.indices.filterNot(held).map(drawn) ++ deletes
      val delivered = mutable.ArrayBuffer.empty[Event]
      delivered ++= onTime
      delivered ++= arrived
      val base = delivered.size
      var d = 0
      while (d < nDup) { delivered += delivered(rng.nextInt(base)); d += 1 }
      val out = delivered.toArray
      var i = out.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = out(i); out(i) = out(j); out(j) = t
        i -= 1
      }
      out
    }
    firstTs(nBatches) = nextTs
    Generated(batches, firstTs)
  }
}

/** The delivered batches, and for each batch the ts of the first event it
  * made: an event of batch b with a smaller ts is late.
  */
final case class Generated(batches: Array[Array[Event]], firstTs: Array[Long])
