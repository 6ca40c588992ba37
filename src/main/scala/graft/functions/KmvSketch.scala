package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-memory distinct-count (NDV) sketching for the manifest's
  * per-file column statistics — the K-Minimum-Values estimator
  * (Bar-Yossef et al.): keep the k smallest distinct 64-bit hashes of a
  * column's values; the k-th smallest, read as a fraction of the hash
  * space, estimates NDV as (k-1)/frac. Why KMV and not HLL here: KMV
  * sketches UNION exactly (merge the value sets, re-truncate to k), and
  * the per-file state is O(k) longs regardless of file size, so the
  * clustered task writer folds one per column while it writes. Error is
  * ~1/sqrt(k) (k=128 -> ~9%), which is exactly what cost-based join
  * sizing needs: the order of magnitude, never the exact count.
  *
  * Hashing runs over the column's CATALYST-INTERNAL value via one shared
  * [[KmvSketch.hasherFor]] per type (XXH64 of the long bits for numerics
  * — no per-row string render on the write hot path; UTF-8
  * bytes for strings), so identical values hash to identical bits in
  * every file and per-file sketches union soundly.
  */
object KmvSketch {
  /** k = 128: 1 KiB of longs per column per file, ~9% standard error. */
  val DefaultK = 128
  private val Seed = 0x6b6d7631L // "kmv1"
  private val TwoTo64 = 1.8446744073709552e19

  /** Hash a column's catalyst-internal values (the form
    * `InternalRow.get` yields in the task writer), or null for a
    * type the sketch doesn't cover (complex/binary — callers skip the
    * column). -0.0 normalizes to 0.0 so the two float encodings of zero
    * count once, matching SQL DISTINCT.
    */
  def hasherFor(dt: DataType): Any => Long = dt match {
    case ByteType    => v => XXH64.hashLong(v.asInstanceOf[Byte].toLong, Seed)
    case ShortType   => v => XXH64.hashLong(v.asInstanceOf[Short].toLong, Seed)
    case IntegerType | DateType =>
      v => XXH64.hashLong(v.asInstanceOf[Int].toLong, Seed)
    case LongType | TimestampType =>
      v => XXH64.hashLong(v.asInstanceOf[Long], Seed)
    case BooleanType =>
      v => XXH64.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L, Seed)
    case FloatType => v => {
      val f = v.asInstanceOf[Float]
      val d = if (f == 0.0f) 0.0 else f.toDouble
      XXH64.hashLong(java.lang.Double.doubleToLongBits(d), Seed)
    }
    case DoubleType => v => {
      val d0 = v.asInstanceOf[Double]
      val d = if (d0 == 0.0) 0.0 else d0
      XXH64.hashLong(java.lang.Double.doubleToLongBits(d), Seed)
    }
    case StringType => v => XXH64.hashUTF8String(v.asInstanceOf[UTF8String], Seed)
    case _: DecimalType => v => XXH64.hashUTF8String(
      UTF8String.fromString(v.asInstanceOf[Decimal].toJavaBigDecimal
        .stripTrailingZeros.toPlainString), Seed)
    case _ => null
  }

  def supported(dt: DataType): Boolean = hasherFor(dt) != null

  /** The k smallest DISTINCT unsigned hashes seen so far: a max-heap
    * (unsigned order) plus a membership set, both O(k). Also counts NULL
    * inputs — the CBO's join estimation refuses to use a key's distinct
    * count unless a null count rides along (`ColumnStat.hasCountStats`),
    * and the key's nulls aren't tracked anywhere else.
    */
  final class State(val k: Int) extends Serializable {
    var nulls: Long = 0L
    private val heap = new java.util.PriorityQueue[java.lang.Long](
      math.max(1, k),
      (a: java.lang.Long, b: java.lang.Long) =>
        java.lang.Long.compareUnsigned(b, a)) // max-heap in unsigned order
    private val members = new java.util.HashSet[java.lang.Long]()
    def add(h: Long): Unit = {
      // fast path first: once saturated, a random hash almost always
      // exceeds the threshold — one unsigned compare per row, no boxing
      if (heap.size >= k &&
        java.lang.Long.compareUnsigned(h, heap.peek()) >= 0) return
      val boxed = java.lang.Long.valueOf(h)
      if (members.contains(boxed)) return
      if (heap.size < k) { heap.add(boxed); members.add(boxed); () }
      else {
        members.remove(heap.poll())
        heap.add(boxed); members.add(boxed); ()
      }
    }
    def mergeFrom(hashes: Array[Long]): Unit = hashes.foreach(add)
    def saturated: Boolean = heap.size >= k
    /** ascending UNSIGNED order */
    def toSortedArray: Array[Long] = {
      val a = new Array[Long](heap.size)
      val it = heap.iterator()
      var i = 0
      while (it.hasNext) { a(i) = it.next(); i += 1 }
      sortUnsigned(a)
      a
    }
  }

  private def sortUnsigned(a: Array[Long]): Unit = {
    var i = 0
    while (i < a.length) { a(i) ^= Long.MinValue; i += 1 }
    java.util.Arrays.sort(a)
    i = 0
    while (i < a.length) { a(i) ^= Long.MinValue; i += 1 }
  }

  /** Single-column blob: [int k][long nullCount][int count]
    * [long x count] (ascending unsigned) — the aggregate's serialization
    * AND its eval output.
    */
  def encode(k: Int, nulls: Long, sorted: Array[Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream(16 + sorted.length * 8)
    val out = new DataOutputStream(bytes)
    out.writeInt(k); out.writeLong(nulls); out.writeInt(sorted.length)
    sorted.foreach(out.writeLong)
    out.flush(); bytes.toByteArray
  }

  /** (k, nullCount, hashes ascending unsigned) */
  def decode(blob: Array[Byte]): (Int, Long, Array[Long]) = {
    val in = new DataInputStream(new ByteArrayInputStream(blob))
    val k = in.readInt(); val nulls = in.readLong(); val n = in.readInt()
    (k, nulls, Array.fill(n)(in.readLong()))
  }

  /** Multi-column SIDECAR blob (one `.kmv` file per data file):
    * [int magic][int numCols], then per column [utf name][single-column
    * blob length][blob]. Column names are the manifest's PHYSICAL names,
    * the same keying as the zone-map stats.
    */
  private val Magic = 0x4b4d5631 // "KMV1"

  def encodeMulti(cols: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(Magic); out.writeInt(cols.size)
    cols.foreach { case (name, blob) =>
      out.writeUTF(name); out.writeInt(blob.length); out.write(blob)
    }
    out.flush(); bytes.toByteArray
  }

  def decodeMulti(blob: Array[Byte]): Map[String, Array[Byte]] = {
    val in = new DataInputStream(new ByteArrayInputStream(blob))
    require(in.readInt() == Magic, "not a KMV sidecar")
    val n = in.readInt()
    (0 until n).map { _ =>
      val name = in.readUTF()
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      name -> b
    }.toMap
  }

  private def unsignedFrac(h: Long): Double = {
    val d = if (h >= 0L) h.toDouble else h.toDouble + TwoTo64
    d / TwoTo64
  }

  /** NDV of the UNION of the sketched sets. Union completeness holds up
    * to tau = the smallest saturation threshold among SATURATED sketches
    * (an unsaturated sketch holds its whole set, threshold infinity):
    * every union hash <= tau is present, so the bottom-k estimator
    * applies at k' = |union <= tau|. With no saturated sketch the union
    * IS the distinct set (64-bit collisions negligible at file grain).
    */
  def estimateNdv(sketches: Seq[(Int, Array[Long])]): Long = {
    if (sketches.isEmpty) return 0L
    val all = sketches.flatMap(_._2).distinct.toArray
    if (all.isEmpty) return 0L
    sortUnsigned(all)
    val taus = sketches.collect { case (k, a) if a.length >= k => a.last }
    if (taus.isEmpty) all.length.toLong
    else {
      val tau = taus.minBy(_ ^ Long.MinValue)
      // all is ascending unsigned; count entries <= tau unsigned
      var kPrime = 0
      while (kPrime < all.length &&
        java.lang.Long.compareUnsigned(all(kPrime), tau) <= 0) kPrime += 1
      val frac = unsignedFrac(tau)
      if (frac <= 0.0 || kPrime <= 1) kPrime.toLong
      else math.max(kPrime.toLong, math.round((kPrime - 1) / frac))
    }
  }

  /** (merged NDV estimate, summed null count) over raw sidecar
    * single-column blobs.
    */
  def estimateNdvBlobs(blobs: Seq[Array[Byte]]): (Long, Long) = {
    val decoded = blobs.map(decode)
    (estimateNdv(decoded.map(d => (d._1, d._3))), decoded.map(_._2).sum)
  }
}
