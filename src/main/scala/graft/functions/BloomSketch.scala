package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bloom-filter build as a native Catalyst aggregate — the set-membership
  * primitive a 100 TB decontamination / semi-join pass needs: an exact
  * `IN (SELECT ...)` shuffles the probe side on the join key, while a
  * Bloom filter is a fixed-size bitset (O(numBits/8) bytes per partial
  * buffer, OR-merged associatively) that every corpus partition can probe
  * LOCALLY, so only the maybe-hits — true matches plus the configured
  * false-positive residue — ever reach a shuffle.
  *
  * Layout of the emitted blob (also the shuffle serialization):
  * `[int numBits][int numHashes][long × numBits/64]`, so the probe side is
  * self-describing and daily blobs of the same shape OR together.
  *
  * Hashing is Kirsch–Mitzenmacher double hashing over two fixed-seed
  * XXH64 runs (bit_i = (h1 + i·h2) mod numBits) — deterministic across
  * JVMs and partitionings, which is what lets the `bloom_*` oracles pin
  * exact outputs: a Bloom filter over the same item SET is the same
  * bitset no matter how the build was partitioned (OR is commutative and
  * each item sets the same bits).
  *
  * Guarantee the queries gate on: NO FALSE NEGATIVES — every inserted
  * item probes true — so `probe == false` proves non-membership and the
  * exact verification join only sees the maybe-hits.
  *
  * The role the reference fills with whole-table `isin`/merge re-selects
  * (ref: spark_client/src/cdc_stream.py:610-652's per-batch key joins) —
  * re-expressed as constant-state set membership.
  */
case class BloomBuild(
    first: Expression, second: Expression, third: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with TernaryLike[Expression] {

  private lazy val numBits: Int = second.eval().asInstanceOf[Number].intValue
  private lazy val numHashes: Int = third.eval().asInstanceOf[Number].intValue

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_build expects a string item column, got ${first.dataType.catalogString}")
    else if (!second.foldable || second.dataType != IntegerType ||
      second.eval() == null || second.eval().asInstanceOf[Number].intValue < 64 ||
      second.eval().asInstanceOf[Number].intValue % 64 != 0)
      TypeCheckResult.TypeCheckFailure(
        "bloom_build numBits must be an int literal, a positive multiple of 64")
    else if (!third.foldable || third.dataType != IntegerType ||
      third.eval() == null || third.eval().asInstanceOf[Number].intValue < 1 ||
      third.eval().asInstanceOf[Number].intValue > 32)
      TypeCheckResult.TypeCheckFailure(
        "bloom_build numHashes must be an int literal in [1, 32]")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = first.eval(input)
    if (v != null) BloomSketch.add(buf, numBits, numHashes, v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomSketch.encode(buf, numBits, numHashes)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomSketch.encode(buf, numBits, numHashes)
  override def deserialize(storage: Array[Byte]): Array[Long] =
    BloomSketch.decode(storage)._1

  override def withNewMutableAggBufferOffset(offset: Int): BloomBuild =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomBuild =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BloomBuild =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "bloom_build"
}

/** Membership probe against a FOLDABLE Bloom blob (a collected literal —
  * O(numBits/8) driver bytes, the same bounded-broadcast discipline as the
  * PQ codebooks). The decoded bitset is referenced once per task via
  * `addReferenceObj`, so the per-row work inside whole-stage codegen is
  * `numHashes` multiply-mod-test probes — no per-row decode, no UDF
  * boundary.
  */
case class BloomMaybeContains(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || !left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_maybe_contains expects a foldable binary Bloom blob")
    else if (right.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_maybe_contains expects a string probe, got ${right.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = BooleanType

  @transient private lazy val decoded: BloomSketch.Decoded = {
    val blob = left.eval().asInstanceOf[Array[Byte]]
    require(blob != null, "bloom blob literal must not be null")
    val (words, bits, hashes) = BloomSketch.decode(blob)
    new BloomSketch.Decoded(words, bits, hashes)
  }

  override def nullSafeEval(blob: Any, v: Any): Any =
    decoded.contains(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftBloom", decoded,
      classOf[BloomSketch.Decoded].getName)
    nullSafeCodeGen(ctx, ev, (_, vCode) => s"${ev.value} = $ref.contains($vCode);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : BloomMaybeContains = copy(left = l, right = r)
  override def prettyName: String = "bloom_maybe_contains"
}

object BloomSketch {
  private val Seed1 = 0x9747b28cL
  private val Seed2 = 0x5bd1e995L

  /** Set the `numHashes` double-hashed bits of `v` in `words`. */
  def add(words: Array[Long], numBits: Int, numHashes: Int, v: UTF8String): Unit = {
    val h1 = XXH64.hashUTF8String(v, Seed1)
    val h2 = XXH64.hashUTF8String(v, Seed2)
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) & Long.MaxValue) % numBits).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
  }

  def encode(words: Array[Long], numBits: Int, numHashes: Int): Array[Byte] = {
    val bytes = new ByteArrayOutputStream(8 + words.length * 8)
    val out = new DataOutputStream(bytes)
    out.writeInt(numBits); out.writeInt(numHashes)
    words.foreach(out.writeLong)
    out.flush(); bytes.toByteArray
  }

  /** Probe an ENCODED blob in place — the exact bit layout [[encode]]
    * produces (big-endian ints, then big-endian longs), read byte-wise so
    * no long array materializes per probe. Bit j of word w lives at byte
    * `8 + w*8 + (7 - (j >>> 3))` (big-endian long), bit `j & 7` within it.
    * Must agree with [[add]]/[[Decoded.contains]] bit-for-bit — pinned by
    * a property spec over random items.
    */
  def containsBlob(blob: Array[Byte], v: UTF8String): Boolean = {
    def readInt(off: Int): Int =
      ((blob(off) & 0xff) << 24) | ((blob(off + 1) & 0xff) << 16) |
        ((blob(off + 2) & 0xff) << 8) | (blob(off + 3) & 0xff)
    val numBits = readInt(0)
    val numHashes = readInt(4)
    val h1 = XXH64.hashUTF8String(v, Seed1)
    val h2 = XXH64.hashUTF8String(v, Seed2)
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) & Long.MaxValue) % numBits).toInt
      val inLong = bit & 63
      val b = blob(8 + (bit >>> 6) * 8 + (7 - (inLong >>> 3)))
      if (((b >> (inLong & 7)) & 1) == 0) return false
      i += 1
    }
    true
  }

  def decode(blob: Array[Byte]): (Array[Long], Int, Int) = {
    val in = new DataInputStream(new ByteArrayInputStream(blob))
    val numBits = in.readInt(); val numHashes = in.readInt()
    val words = Array.fill(numBits / 64)(in.readLong())
    (words, numBits, numHashes)
  }

  /** The (h1, h2) double-hash pair of `v` — precompute ONCE per probe
    * value when the same value probes many blobs (the driver-side
    * oversized-IN pass: O(files x values) probes would otherwise re-hash
    * the value per file).
    */
  def probeHashes(v: UTF8String): (Long, Long) =
    (XXH64.hashUTF8String(v, Seed1), XXH64.hashUTF8String(v, Seed2))

  /** [[containsBlob]] with the value's double-hash pair already computed
    * ([[probeHashes]]) — per call only numHashes byte reads remain.
    */
  def containsBlobHashed(blob: Array[Byte], h1: Long, h2: Long): Boolean = {
    def readInt(off: Int): Int =
      ((blob(off) & 0xff) << 24) | ((blob(off + 1) & 0xff) << 16) |
        ((blob(off + 2) & 0xff) << 8) | (blob(off + 3) & 0xff)
    val numBits = readInt(0)
    val numHashes = readInt(4)
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) & Long.MaxValue) % numBits).toInt
      val inLong = bit & 63
      val b = blob(8 + (bit >>> 6) * 8 + (7 - (inLong >>> 3)))
      if (((b >> (inLong & 7)) & 1) == 0) return false
      i += 1
    }
    true
  }

  /** Decoded probe-side bitset; public + Serializable because generated
    * code calls `contains` and the codegen reference ships to executors.
    */
  class Decoded(words: Array[Long], numBits: Int, numHashes: Int)
    extends Serializable {
    def contains(v: UTF8String): Boolean = {
      val h1 = XXH64.hashUTF8String(v, Seed1)
      val h2 = XXH64.hashUTF8String(v, Seed2)
      var i = 0
      while (i < numHashes) {
        val bit = (((h1 + i * h2) & Long.MaxValue) % numBits).toInt
        if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }
}
