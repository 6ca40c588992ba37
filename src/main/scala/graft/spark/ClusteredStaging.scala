package graft.spark

import graft.cdc.ManifestStore
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.graft.ParquetWriteBridge
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** The 1x-write staging machinery shared by every write: the rows are
  * clustered BEFORE the tasks run, and each task writes store-grade
  * output directly — nothing is staged anonymously and re-read.
  *
  *   1. Clustering: a DSv2 `Write` implements
  *      `RequiresDistributionAndOrdering` ([[ClusterWriteSpec.distribution]]),
  *      so Spark range-partitions and sorts the rows by (partition
  *      columns..., key) — Delta/Iceberg use the same contract;
  *      `ManifestStore.writeDataFiles` imposes the identical clustering
  *      itself and drives the task writers as one internal job.
  *   2. Each task's [[GraftClusteredTaskWriter]] rolls to a new file at
  *      every partition-cell boundary (cell-PURE files by construction,
  *      the invariant partition pruning and wholesale partition drops
  *      rely on) and folds min/max/null-count stats, Bloom filters and
  *      KMV sketches for the key and every zone-map column WHILE writing,
  *      using Spark's own interpreted orderings — no post-hoc stats scan.
  *   3. Commit hands the staged stats to `ManifestStore.adoptStagedFiles`,
  *      which serializes them through the store's exact stat casts and
  *      RENAMES the files into `files/` — the task output IS the table.
  *
  * Bucketed tables promote too (since round 12): the distribution flips
  * to CLUSTERED-by-key into exactly N partitions (= the store's bucket
  * placement) and the task writer rolls files on its OWN per-row bucket
  * computation, so bucket purity never rests on the engine's partitioner.
  *
  * A DSv2 write plans stage-and-commit instead (spec = None) when the
  * table's shape needs the store's own write: column-mapped tables (the
  * query's rows carry logical names; the store renames them to physical
  * before its task write) and CHECK constraints (enforced row-by-row
  * inside the store's write). The commit then runs `writeDataFiles`,
  * which uses the same task writer. A stat column of a type
  * [[statSupported]] does not list also plans stage-and-commit, where the
  * store's type gate refuses it loudly.
  */
object ClusteredStaging {

  /** The ONE list of stat-column types: every type
    * `ManifestStore.statSerialize` round-trips whose catalyst form the
    * task writer can compare and deep-copy. `ManifestStore`'s stats-type
    * gate (`requireStatKeyType`) reads it too, so every column the store
    * admits folds while writing and the two gates cannot drift.
    * TimestampNTZ's ordering, external converter and string cast are all
    * zone-free, so its stats need no epoch-micros detour. */
  private[graft] def statSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | BooleanType | StringType | DateType | TimestampType |
         TimestampNTZType =>
      true
    case _: DecimalType => true
    case _ => false
  }

  /** The write spec for table `root`, or None when the promotion path
    * cannot reproduce the store's layout invariants and the caller must
    * stage and commit through the store's own write. `statsCols` must be
    * the MANIFEST's stats columns (they include the partition columns).
    */
  def specFor(root: String, schema: StructType, key: String,
              statsCols: Seq[String], nFiles: Int): Option[ClusterWriteSpec] = {
    val props = ManifestStore.readTableProps(root)
    if (props.keys.exists(_.startsWith("check."))) return None
    if (!schema.fieldNames.contains(key)) return None
    // BUCKETED tables promote too: the write asks for CLUSTERED-by-key
    // distribution into exactly N partitions — Spark satisfies that with
    // HashPartitioning(key, N), whose placement (pmod(murmur3(key), N))
    // IS the store's bucket function, so each task receives one whole
    // bucket. The task writer still computes every row's bucket itself
    // and rolls on change, so bucket-PURITY (the storage-partitioned-join
    // invariant) holds even if the engine's placement ever differs — a
    // mismatch only costs extra files, never a mixed bucket.
    val bucketsN = props.get("buckets").flatMap(_.toIntOption).filter(_ > 0)
    val partCols = props.get("partitioncol").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .filter(_ => bucketsN.isEmpty)
    if (partCols.exists(pc => !schema.fieldNames.contains(pc))) return None
    // stats columns may be DOTTED struct-leaf paths ("meta.lang"): the
    // task writer reaches into nested rows through the same
    // [[ManifestStore.leafType]] resolution the store's stats gate uses
    // (a verbatim top-level field wins), so leaf-statted tables promote
    // too — no 2x-write fallback for the documents/multimodal shape
    val sCols = statsCols.filter(c => c != key &&
      ManifestStore.leafType(schema, c).isDefined)
    val typed = (key +: (partCols ++ sCols)).distinct
    if (typed.exists(c =>
      !statSupported(ManifestStore.leafType(schema, c).get))) return None
    // secondary bloom columns fold in-task like the key's; a column the
    // store's write would REFUSE (not a zone-map column) falls back so
    // the loud error fires there, not a silent promoted no-op
    val (bcRaw, bcCfg) = ManifestStore.bloomColParams(props)
    val bloomCols = bcRaw.filter(c =>
      ManifestStore.leafType(schema, c).isDefined)
    if (bloomCols.exists(c => c == key || !sCols.contains(c))) return None
    Some(ClusterWriteSpec(key, partCols, sCols,
      bucketsN.getOrElse(math.max(1, nFiles)),
      ManifestStore.bloomParams(props),
      if (bloomCols.isEmpty) Nil else bloomCols.map(_ -> bcCfg),
      buckets = bucketsN))
  }
}

/** How the write must cluster for direct promotion: ordered (range)
  * distribution on (partCols..., key) — mirroring the store's
  * `repartitionByRange + sortWithinPartitions` — into `nFiles` partitions.
  * `bloom` = (numBits, numHashes) when the table's `bloomfilter` property
  * asks for per-file key Bloom filters: the task writers fold them while
  * writing, over the key's manifest stat strings — the strings the
  * pruner's probes hash. A table partitioned BY its key orders on the key
  * once.
  */
final case class ClusterWriteSpec(key: String, partCols: Seq[String],
                                  statsCols: Seq[String], nFiles: Int,
                                  bloom: Option[(Int, Int)] = None,
                                  bloomCols: Seq[(String, (Int, Int))] = Nil,
                                  buckets: Option[Int] = None) {
  def sortOrders: Array[SortOrder] =
    (partCols :+ key).distinct.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  /** Bucketed: co-locate same-key rows (hash) into exactly `buckets`
    * partitions — one whole bucket per task; rows key-sorted within.
    * Unbucketed: the store's (partCols, key) RANGE clustering.
    */
  def distribution: Distribution =
    if (buckets.isDefined)
      Distributions.clustered(Array(Expressions.column(key)))
    else Distributions.ordered(sortOrders)
}

/** One task's commit message: the staged files it wrote, with their
  * writer-folded stats. `paths`-only consumers (the merge path of the
  * streaming sink) read `files.map(_.path)`.
  */
final case class GraftStagedFilesMessage(files: Seq[ManifestStore.StagedFile])
  extends WriterCommitMessage

/** Cell-rolling, stats-folding task writer. Rows arrive clustered by
  * (partCols..., key) (the Write's required distribution); the writer
  * opens a new file whenever the partition cell changes, so every staged
  * file is cell-pure even if the engine ever delivered unsorted rows (the
  * roll is on CHANGE, not on order — unsorted input only costs extra
  * files, never a mixed cell... for single-valued runs; a revisited cell
  * yields a second pure file for the same cell, which the manifest
  * tolerates). Stats fold with Spark's own interpreted orderings, so
  * min/max agree exactly with Spark's min/max aggregates over the file.
  */
final class GraftClusteredTaskWriter(stageDir: String,
                                     writers: ParquetWriteBridge.TaskWriters,
                                     spec: ClusterWriteSpec,
                                     partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val schema = StructType.fromDDL(writers.schemaDDL)
  private val keyIdx = schema.fieldIndex(spec.key)
  private val keyDt = schema(spec.key).dataType
  private val keyOrd = ParquetWriteBridge.orderingFor(keyDt)
  private val partIdx = spec.partCols.map(schema.fieldIndex).toArray
  private val partDts = spec.partCols.map(schema(_).dataType).toArray
  private val partOrds = partDts.map(ParquetWriteBridge.orderingFor)
  /** Catalyst accessor + leaf type for a (possibly dotted) stats path: a
    * top-level field wins verbatim (even with a literal dot in its name),
    * else the dotted path walks struct ordinals — a NULL at ANY step
    * yields SQL NULL, matching the Column traversal
    * ([[ManifestStore.leafCol]]) a plain read of the file uses.
    */
  private def leafOf(path: String): (InternalRow => Any, DataType) =
    if (schema.fieldNames.contains(path)) {
      val i = schema.fieldIndex(path)
      val dt = schema(i).dataType
      ((r: InternalRow) => if (r.isNullAt(i)) null else r.get(i, dt), dt)
    } else {
      def steps(st: StructType, ps: List[String]): List[(Int, DataType)] =
        ps match {
          case Nil => Nil
          case p :: rest =>
            val i = st.fieldIndex(p)
            st(i).dataType match {
              case s: StructType if rest.nonEmpty =>
                (i, s) :: steps(s, rest)
              case dt =>
                require(rest.isEmpty,
                  s"stats path '$path' descends through non-struct '$p'")
                List((i, dt))
            }
        }
      val chain = steps(schema, path.split('.').toList).toArray
      val leafDt = chain.last._2
      val get = (r: InternalRow) => {
        var cur = r
        var v: Any = null
        var i = 0
        var miss = false
        while (i < chain.length && !miss) {
          val (idx, dt) = chain(i)
          if (cur.isNullAt(idx)) miss = true
          else if (i == chain.length - 1) v = cur.get(idx, dt)
          else cur = cur.getStruct(idx,
            dt.asInstanceOf[StructType].fields.length)
          i += 1
        }
        v
      }
      (get, leafDt)
    }

  private case class ColTrack(name: String, get: InternalRow => Any,
                              dt: DataType, ord: Ordering[Any]) {
    var min: Any = _
    var max: Any = _
    var nulls: Long = 0L
    def reset(): Unit = { min = null; max = null; nulls = 0L }
    def update(row: InternalRow): Unit = {
      val v = get(row)
      if (v == null) nulls += 1
      else {
        if (min == null || ord.compare(v, min) < 0) min = deepCopy(v)
        if (max == null || ord.compare(v, max) > 0) max = deepCopy(v)
      }
    }
  }
  private val colTracks: Array[ColTrack] = spec.statsCols.toArray.map { c =>
    val (get, dt) = leafOf(c)
    ColTrack(c, get, dt, ParquetWriteBridge.orderingFor(dt))
  }

  // a catalyst value detached from the (buffer-reusing) incoming row
  private def deepCopy(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
    case d: org.apache.spark.sql.types.Decimal =>
      org.apache.spark.sql.types.Decimal(d.toJavaBigDecimal)
    case a: Array[Byte] => a.clone()
    case other => other // primitives box immutably
  }

  private var out: ParquetWriteBridge.RowFileWriter = _
  private var path: String = ""
  private var fileSeq = 0
  private var rows = 0L
  private var keyMin: Any = _
  private var keyMax: Any = _
  private var cell: Array[Any] = _ // copied catalyst values, null slots ok
  // bucketed layout: the writer computes every row's bucket itself
  // (catalyst murmur3, the exact expression `pmod(hash(key), n)`) and
  // rolls on change — purity by construction
  private val bucketHash: org.apache.spark.sql.catalyst.expressions.Murmur3Hash =
    if (spec.buckets.isDefined)
      org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          keyIdx, keyDt, nullable = true)), 42)
    else null
  private var curBucket: Int = -1
  private def bucketOf(row: InternalRow): Int = {
    val n = spec.buckets.get
    val h = bucketHash.eval(row).asInstanceOf[Int]
    ((h % n) + n) % n
  }
  // per-file key Bloom fold (spec.bloom): key catalyst value -> its
  // manifest stat string (what the pruner's probes hash) -> bitset
  private val keyStr: Any => org.apache.spark.unsafe.types.UTF8String =
    if (spec.bloom.isDefined) ParquetWriteBridge.statStringifier(keyDt)
    else null
  private var bloomWords: Array[Long] = _
  // secondary-column Bloom folds (spec.bloomCols): leaf accessor,
  // type-matched stringifier and per-file bitset per column — dotted
  // struct-leaf paths fold exactly like top-level columns
  private case class ColBloom(name: String, get: InternalRow => Any,
                              bits: Int, hashes: Int, dt: DataType,
                              str: Any => org.apache.spark.unsafe.types.UTF8String) {
    var words: Array[Long] = _
    def reset(): Unit = words = new Array[Long](bits / 64)
  }
  private val colBlooms: Array[ColBloom] = spec.bloomCols.toArray.map {
    case (c, (bits, hashes)) =>
      val (get, dt) = leafOf(c)
      ColBloom(c, get, bits, hashes, dt,
        ParquetWriteBridge.statStringifier(dt))
  }
  // per-file KMV NDV sketches (key + every stats column the hasher
  // covers), folded per row like the stats and Blooms — O(k) state per
  // column, a hash + one unsigned compare per row once saturated. Every
  // file hashes catalyst-internal values through KmvSketch.hasherFor, so
  // all files' sketches share one hash domain and union soundly.
  private case class ColKmv(name: String, get: InternalRow => Any,
                            dt: DataType, hasher: Any => Long) {
    var state: graft.functions.KmvSketch.State = _
    def reset(): Unit =
      state = new graft.functions.KmvSketch.State(
        graft.functions.KmvSketch.DefaultK)
  }
  private val kmvTracks: Array[ColKmv] =
    (spec.key +: spec.statsCols).distinct.toArray
      .map(c => (c, leafOf(c)))
      .collect { case (c, (get, dt))
          if graft.functions.KmvSketch.supported(dt) =>
        ColKmv(c, get, dt, graft.functions.KmvSketch.hasherFor(dt)) }

  private val done = scala.collection.mutable.ArrayBuffer
    .empty[ManifestStore.StagedFile]

  private def sameCell(row: InternalRow): Boolean = {
    var i = 0
    while (i < partIdx.length) {
      val have = cell(i)
      if (row.isNullAt(partIdx(i))) { if (have != null) return false }
      else {
        if (have == null) return false
        if (partOrds(i).compare(row.get(partIdx(i), partDts(i)), have) != 0)
          return false
      }
      i += 1
    }
    true
  }

  private def closeCurrent(): Unit = if (out != null) {
    out.close()
    val toScalaKey = ParquetWriteBridge.toScalaConverter(keyDt)
    val partConv = partDts.map(ParquetWriteBridge.toScalaConverter)
    done += ManifestStore.StagedFile(path, rows,
      partVals = cell.toSeq.zip(partConv).map { case (v, c) =>
        if (v == null) null else c(v) },
      keyMin = if (keyMin == null) null else toScalaKey(keyMin),
      keyMax = if (keyMax == null) null else toScalaKey(keyMax),
      cols = colTracks.toSeq.map { t =>
        val conv = ParquetWriteBridge.toScalaConverter(t.dt)
        ManifestStore.StagedColStat(t.name,
          if (t.min == null) null else conv(t.min),
          if (t.max == null) null else conv(t.max), t.nulls)
      },
      // the Bloom blob stages as a SIDECAR next to the data file (never
      // through the commit message — a production blob is MBs) and
      // adoption renames both into files/
      bloomPath = spec.bloom.map { case (bits, hashes) =>
        val bp = s"$path.bloom"
        Files.write(Paths.get(bp),
          graft.functions.BloomSketch.encode(bloomWords, bits, hashes))
        bp
      },
      colBloomPaths = colBlooms.map { cb =>
        val bp = s"$path.${cb.name}.bloom"
        Files.write(Paths.get(bp),
          graft.functions.BloomSketch.encode(cb.words, cb.bits, cb.hashes))
        cb.name -> bp
      }.toMap,
      bucket = spec.buckets.map(_ => curBucket),
      kmvPath = if (kmvTracks.isEmpty) None else {
        val kp = s"$path.kmv"
        Files.write(Paths.get(kp), graft.functions.KmvSketch.encodeMulti(
          kmvTracks.toSeq.map(t => t.name ->
            graft.functions.KmvSketch.encode(
              graft.functions.KmvSketch.DefaultK, t.state.nulls,
              t.state.toSortedArray))))
        Some(kp)
      })
    out = null
    path = ""
  }

  private def roll(row: InternalRow): Unit = {
    closeCurrent()
    Files.createDirectories(Paths.get(stageDir))
    path = s"$stageDir/part-$partitionId-$taskId-$fileSeq${writers.extension()}"
    fileSeq += 1
    out = writers.open(path, partitionId, taskId)
    rows = 0L
    keyMin = null; keyMax = null
    spec.bloom.foreach { case (bits, _) =>
      bloomWords = new Array[Long](bits / 64) }
    colBlooms.foreach(_.reset())
    colTracks.foreach(_.reset())
    kmvTracks.foreach(_.reset())
    cell = partIdx.indices.map(i =>
      if (row.isNullAt(partIdx(i))) null
      else deepCopy(row.get(partIdx(i), partDts(i)))).toArray
    if (bucketHash != null) curBucket = bucketOf(row)
  }

  override def write(row: InternalRow): Unit = {
    if (out == null || !sameCell(row) ||
      (bucketHash != null && bucketOf(row) != curBucket)) roll(row)
    rows += 1
    if (row.isNullAt(keyIdx)) () // key nulls: no range contribution
    else {
      val k = row.get(keyIdx, keyDt)
      if (keyMin == null || keyOrd.compare(k, keyMin) < 0) keyMin = deepCopy(k)
      if (keyMax == null || keyOrd.compare(k, keyMax) > 0) keyMax = deepCopy(k)
      spec.bloom.foreach { case (bits, hashes) =>
        graft.functions.BloomSketch.add(bloomWords, bits, hashes, keyStr(k))
      }
    }
    var i = 0
    while (i < colTracks.length) { colTracks(i).update(row); i += 1 }
    i = 0
    while (i < colBlooms.length) {
      val cb = colBlooms(i)
      val v = cb.get(row)
      if (v != null)
        graft.functions.BloomSketch.add(cb.words, cb.bits, cb.hashes,
          cb.str(v))
      i += 1
    }
    i = 0
    while (i < kmvTracks.length) {
      val t = kmvTracks(i)
      val v = t.get(row)
      if (v != null) t.state.add(t.hasher(v))
      else t.state.nulls += 1
      i += 1
    }
    out.write(row)
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    GraftStagedFilesMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    (done.map(_.path) ++ Some(path).filter(_.nonEmpty)).foreach { p =>
      Files.deleteIfExists(Paths.get(p))
      Files.deleteIfExists(Paths.get(s"$p.bloom"))
      Files.deleteIfExists(Paths.get(s"$p.kmv"))
      colBlooms.foreach(cb =>
        Files.deleteIfExists(Paths.get(s"$p.${cb.name}.bloom")))
    }
    ()
  }

  override def close(): Unit = ()
}
