package graft.cdc

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetReadBridge
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** File-manifest snapshot storage — the Delta-log architecture itself and
  * the engine's one storage engine: a commit rewrites only the FILES a
  * batch's keys hit, and carries every other file into the new version BY
  * REFERENCE — zero I/O for the untouched part of the table.
  *
  * This is how Delta's MERGE actually scales (ref: cdc_stream.py:664-671
  * rides on it): a version is not a directory of data, it is a LIST of
  * immutable shared files plus per-file min/max key statistics.
  *
  *   root/files/<uuid>.parquet   immutable data files, SHARED across
  *                               versions (a file is never rewritten,
  *                               only dropped from later manifests)
  *   root/_LOG/<n>.json          version n's manifest: schema + the file
  *                               list with per-file key min/max/rows
  *   root/_CURRENT               "<version>,<batchId>,<streamId>" —
  *                               atomic swap (tmp file + ATOMIC_MOVE; a
  *                               conditional PUT on object stores)
  *
  * Commits cluster rows by key (`repartitionByRange` + sort) so each file
  * owns a tight, disjoint key range; [[merge]] then intersects the batch's
  * key set with the per-file ranges and rewrites only intersecting files.
  * With F files and a batch touching k of them, merge I/O is
  * O(table·k/F + batch) — on a 100 TB table where a micro-batch touches a
  * handful of key ranges, that is the difference between seconds and hours.
  * Old versions time-travel for free (their manifests still name live
  * files) until [[vacuum]] reclaims unreferenced files.
  *
  * Key stats are TYPED: min/max are serialized as strings in the manifest
  * and re-interpreted through the key column's own type (recorded in the
  * manifest's schema DDL) at pruning time, so long, string/UUID, date,
  * timestamp and decimal keys all prune in their native ordering — the
  * reference's Mongo path defaults to a STRING `_id`
  * (ref: cdc_stream.py:1018), which a long-only store could not serve.
  * The round-trip is exact and SESSION-INDEPENDENT for every supported
  * type: zone-free string casts for most atomics, EPOCH MICROS for
  * TimestampType (whose string cast renders in the session time zone — a
  * store written under one zone must prune identically under another), so
  * pruning can never miss a file that holds one of the batch's keys.
  */
object ManifestStore {
  /** One immutable data file and its key statistics. `minKey`/`maxKey` are
    * the manifest serialization of the key column's min/max (zone-free
    * string cast; epoch micros for TimestampType); compare them only after
    * parsing through the key's real type (see
    * [[ManifestStore.pruneDomain]]) — raw string comparison is wrong for
    * unpadded numerics ("9" > "10").
    *
    * `dv` is the file's DELETION VECTOR sidecar (Delta's merge-on-read
    * idea, key-based instead of positional): a tiny parquet of
    * `(_file, _key)` rows naming the keys of THIS file that later merges
    * superseded. The data file stays byte-identical; readers subtract the
    * sidecar. `dvRows` counts the masked keys, so `rows - dvRows` is the
    * live contribution. A rewrite of the file (copy-on-write merge,
    * optimize, recluster) applies the sidecar and drops it.
    */
  /** `colNulls`: per-column NULL counts for the `statsCols` zone-map
    * columns (keyed by PHYSICAL name, like `cols`) — what makes
    * stats-answered aggregates exact: min/max stats ignore nulls, so a
    * "pure" (min = max) file can still hide null rows, and a filtered
    * count answered from stats alone would overcount them. Recorded since
    * round 11; absent on older vintages (readers must treat missing as
    * unknown and fall back to scanning).
    */
  /** `bucket`: the file's hash bucket on a BUCKETED table (table property
    * `buckets=N`): every row's key satisfies
    * pmod(murmur3(key), N) == bucket. Bucket-pure files are what lets the
    * DSv2 scan report KeyGroupedPartitioning and Spark plan
    * storage-partitioned (shuffle-free) joins. None on unbucketed tables.
    */
  /** `bloom`: the name of the file's KEY Bloom-filter SIDECAR under
    * `files/` (a raw [[graft.functions.BloomSketch]] blob), present when
    * the table property `bloomfilter` was set at write time — Delta's
    * Bloom index / Iceberg's Puffin idea, stored like the deletion-vector
    * sidecars: the MANIFEST carries only the name, the blob is a separate
    * immutable binary loaded lazily (and LRU-cached) by the pruners, so a
    * production-sized filter (MBs per 1M-key file) never bloats the
    * commit log or its parse cost. Built over the manifest STRING
    * serialization of every key the file holds, so probes serialize
    * through the same [[ManifestStore.statSerialize]] cast and NO FALSE
    * NEGATIVES holds: a point lookup / merge prune may keep a file the
    * key isn't in (the configured false-positive residue costs a wasted
    * read), never skip one it is. DV-masked keys stay in the filter (a
    * superset is safe). Absent on files written before the property was
    * set — they simply never Bloom-skip; a vacuumed/missing sidecar
    * degrades the same way. The payoff is where zone maps go blind:
    * BUCKETED tables (hash buckets scatter key ranges, so every file's
    * [min,max] covers almost any probe) and merge-grown overlapping
    * files.
    */
  /** `colBlooms`: sidecar names of SECONDARY-column Bloom filters (table
    * property `bloomfiltercols`), keyed by PHYSICAL column name like the
    * stats — same storage, probing, lifecycle, and no-false-negative
    * contract as the key's `bloom`.
    */
  final case class FileEntry(name: String, minKey: String, maxKey: String,
                             rows: Long, dv: Option[String] = None,
                             dvRows: Long = 0L,
                             cols: Map[String, (String, String)] = Map.empty,
                             bytes: Long = 0L,
                             colNulls: Map[String, Long] = Map.empty,
                             bucket: Option[Int] = None,
                             bloom: Option[String] = None,
                             colBlooms: Map[String, String] = Map.empty,
                             kmv: Option[String] = None) {
    def liveRows: Long = rows - dvRows
  }

  /** Parse the `bloomfilter` table property: `true` (default sizing) or
    * the bits-per-file as an int (rounded up to a multiple of 64, floored
    * at 64). Returns (numBits, numHashes). Default 65536 bits (8 KiB/file)
    * at 6 hashes ≈ 1.5% FPP at 8 bits/key (~8k keys/file); larger files
    * degrade gracefully (more false positives, never false negatives).
    */
  /** Resolve a (possibly dotted) stats-column path to its leaf type:
    * a top-level field wins verbatim (so a column literally named "a.b"
    * keeps working), else the dotted path walks struct fields at any
    * depth. Array/map steps don't resolve — no per-file scalar range
    * exists through them.
    */
  def leafType(schema: org.apache.spark.sql.types.StructType, path: String)
      : Option[org.apache.spark.sql.types.DataType] =
    schema.fields.find(_.name == path).map(_.dataType).orElse {
      if (!path.contains('.')) None
      else {
        def walk(dt: org.apache.spark.sql.types.DataType,
                 parts: List[String])
            : Option[org.apache.spark.sql.types.DataType] = (dt, parts) match {
          case (d, Nil) => Some(d)
          case (s: org.apache.spark.sql.types.StructType, p :: rest) =>
            s.fields.find(_.name == p).flatMap(f => walk(f.dataType, rest))
          case _ => None
        }
        walk(schema, path.split('.').toList)
      }
    }

  /** The Column selecting `path` — backticked for a literal top-level
    * name, dotted traversal for a struct leaf.
    */
  def leafCol(schema: org.apache.spark.sql.types.StructType, path: String)
      : Column =
    if (schema.fieldNames.contains(path)) col(s"`$path`") else col(path)

  /** The least string STRICTLY GREATER than every string with prefix `p`
    * (in UTF-8 binary order, which equals code-point order): drop trailing
    * max code points, then increment the last remaining one; None when `p`
    * is empty or all max code points (no finite upper bound — prefix
    * pruning then keeps only the lower bound). The surrogate gap is jumped
    * (0xD7FF + 1 -> 0xE000): valid UTF-8 data can't hold a lone surrogate,
    * so the bound stays sound and tight.
    */
  def prefixSuccessor(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val next0 = cps(i) + 1
      val head = java.util.Arrays.copyOf(cps, i + 1)
      head(i) = if (next0 >= 0xD800 && next0 <= 0xDFFF) 0xE000 else next0
      Some(new String(head, 0, i + 1))
    }
  }

  def bloomParams(props: Map[String, String]): Option[(Int, Int)] =
    props.get("bloomfilter").map(_.trim).flatMap {
      case v if v.equalsIgnoreCase("false") || v.equalsIgnoreCase("off") =>
        None // the natural way to disable — not a parse error
      case v if v.equalsIgnoreCase("true") => Some((65536, 6))
      case v =>
        val bits = v.toIntOption.getOrElse(throw new IllegalArgumentException(
          s"table property bloomfilter must be true/false/off or a bit " +
            s"count, got '$v'"))
        Some((math.max(64, ((bits + 63) / 64) * 64), 6))
    }

  /** SECONDARY-column Bloom filters (table property `bloomfiltercols` — a
    * comma list of LOGICAL column names, Delta's per-column Bloom index):
    * each listed column gets its own per-file sidecar, probed by the scan
    * pruner for pushed `=`/`IN` predicates on that column. Sized by the
    * same `bloomfilter` value (or the 65536-bit default when only
    * `bloomfiltercols` is set). Listed columns must be zone-map columns
    * (`statsCols`) — the pruner only consults stats-tracked columns, so a
    * bloom on an untracked column could never fire ([[writeDataFiles]]
    * enforces this loudly).
    */
  def bloomColParams(props: Map[String, String]): (Seq[String], (Int, Int)) = {
    val cols = props.get("bloomfiltercols").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    (cols, bloomParams(props).getOrElse((65536, 6)))
  }

  /** Parse the `stats.truncate` table property: the UTF-8 byte budget a
    * STRING zone-map stat may occupy in the manifest (Iceberg's
    * `write.metadata.metrics.*=truncate(N)`). Without it, string min/max
    * store FULL values — on a 100 TB text corpus whose zone map tracks a
    * document column, that puts two document-sized strings per file into
    * every checkpoint (100k files x KBs = GB-scale manifests whose parse
    * IS the planning cost). With it, over-budget values store WIDENED
    * bounds: min truncates to a codepoint-boundary prefix (<= the real
    * min), max truncates and INCREMENTS its last codepoint (> every value
    * sharing the prefix, [[truncMax]]) — so every range/prefix/equality
    * pruning consumer stays sound by over-keeping, while consumers that
    * need EXACT values (string MIN/MAX aggregate pushdown) refuse via
    * [[aggFromStats]]' gate. One-way: the catalog refuses UNSET, because
    * files already carrying widened bounds would then be trusted as
    * exact. Partition columns are exempt ([[adoptStagedFiles]]): their
    * per-file min==max purity is load-bearing for overwrite
    * classification and grouped pushdown, and a pure file stores one
    * value either way. Validated by [[validateTableProps]].
    */
  def statsTruncate(props: Map[String, String]): Option[Int] =
    props.get("stats.truncate").flatMap(_.trim.toIntOption).filter(_ > 0)

  /** The longest codepoint-boundary prefix of `s` whose UTF-8 encoding
    * fits `n` bytes — a sound LOWER bound (binary UTF-8 order, which is
    * codepoint order) for `s` and every string extending the prefix. A
    * value that already fits returns unchanged (exact).
    */
  def truncMin(s: String, n: Int): String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder
    var bytes = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val w = if (cp < 0x80) 1 else if (cp < 0x800) 2
              else if (cp < 0x10000) 3 else 4
      if (bytes + w > n) return sb.toString
      sb.appendCodePoint(cp)
      bytes += w
      i += Character.charCount(cp)
    }
    s // fits — exact
  }

  /** A sound UPPER bound for `s` within ~`n` UTF-8 bytes: truncate to the
    * codepoint-boundary prefix, then increment the last incrementable
    * codepoint and drop everything after it — the result sorts strictly
    * ABOVE every string sharing the prefix (so above `s`). Values that
    * fit return unchanged (exact); a prefix of all-U+10FFFF codepoints
    * (no increment possible) falls back to the FULL value — soundness
    * over size. The increment skips the surrogate hole (U+D7FF bumps to
    * U+E000) so the stored stat stays valid UTF-8. Because an
    * incremented bound is strictly greater than the real max while a
    * truncated min is strictly smaller than the real min, a widened
    * file can NEVER report min == max — so min==max keeps implying the
    * stats are exact, which is what keeps group-purity and
    * single-value-file reasoning sound with no extra gate.
    */
  def truncMax(s: String, n: Int): String = {
    if (s == null) return null
    val p = truncMin(s, n)
    if (p eq s) return s // fits — exact
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < Character.MAX_CODE_POINT) {
        val inc = if (cps(i) == 0xD7FF) 0xE000 else cps(i) + 1
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < i) { sb.appendCodePoint(cps(j)); j += 1 }
        sb.appendCodePoint(inc)
        return sb.toString
      }
      i -= 1
    }
    s // un-incrementable prefix — keep the full value (sound)
  }

  /** A data file STAGED by a clustered task writer, carrying the
    * stats the writer folded while writing: raw EXTERNAL JVM values
    * (String/Long/java.sql.Timestamp/...), min/max per statted column with
    * its null count, plus the file's partition cell. [[ManifestStore
    * .adoptStagedFiles]] turns these into manifest [[FileEntry]]s by
    * serializing the values through the store's exact stat casts and
    * RENAMING the bytes into `files/` — every write path's commit: the
    * task output IS the table file, nothing is re-read or re-written.
    */
  final case class StagedColStat(col: String, min: Any, max: Any,
                                 nulls: Long)
  /** `bloomPath`: the task-side STAGED Bloom sidecar (written next to the
    * staged data file); adoption renames it into `files/` beside the data.
    * `colBloomPaths`: same, per SECONDARY bloom column (the name the
    * staged file carries it under).
    */
  /** `bucket`: the file's hash bucket on a bucketed table — computed by
    * the TASK WRITER itself (pmod(murmur3(key), N) per row, rolling to a
    * new file on change), so bucket-purity never depends on how Spark
    * satisfied the required distribution.
    */
  final case class StagedFile(path: String, rows: Long,
                              partVals: Seq[Any],
                              keyMin: Any, keyMax: Any,
                              cols: Seq[StagedColStat],
                              bloomPath: Option[String] = None,
                              colBloomPaths: Map[String, String] = Map.empty,
                              bucket: Option[Int] = None,
                              kmvPath: Option[String] = None)

  /** Process-lifetime count of staged files ADOPTED by rename — an
    * observable for specs and bench forensics: every write that lands
    * data files (internal commits and rewrites, promoted DSv2 writes)
    * moves it.
    */
  val adoptedFiles = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Process-wide manifest LRU (see [[ManifestStore.manifest]]): access-
    * ordered, bounded by ENTRY COUNT of cached file lists (a checkpoint
    * manifest is O(#files) objects — bounding by manifests alone would let
    * a few 100k-file tables pin arbitrary memory). Hits validate against
    * the log file's (size, mtime) — one stat — before trusting the entry.
    */
  private val ManifestCacheMaxFileEntries = 1000000L
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long),
      (Long, java.nio.file.attribute.FileTime, AnyRef, Manifest)](64, 0.75f, true)
  private var manifestCacheEntries = 0L
  private[cdc] val manifestCacheHits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** A cached manifest occupies max(1, files) entry slots in the LRU
    * bound: counting raw file entries alone would let a long-lived process
    * touching many EMPTY tables/versions accumulate unbounded zero-cost
    * manifests (schema DDL strings and all).
    */
  private def manifestWeight(m: Manifest): Long = math.max(1L, m.files.size.toLong)

  private[cdc] def manifestCacheGet(key: (String, Long), size: Long,
                                    mtime: java.nio.file.attribute.FileTime,
                                    fileKey: AnyRef)
      : Option[Manifest] = manifestCache.synchronized {
    Option(manifestCache.get(key)) match {
      // fileKey (inode identity, null on filesystems that don't expose
      // one) guards the coarse-mtime hole: a deleted-and-recreated root
      // can re-mint a same-size log file (UUID names are fixed-length)
      // inside one mtime tick — size+mtime alone would then serve a stale
      // manifest referencing reclaimed data files.
      case Some((s, t, fk, m)) if s == size && t == mtime && fk == fileKey =>
        manifestCacheHits.incrementAndGet()
        Some(m)
      case Some(_) => // stale identity: recreated root or rewritten log
        manifestCacheEntries -= manifestWeight(manifestCache.remove(key)._4)
        None
      case None => None
    }
  }

  /** Process-wide LRU for Bloom SIDECAR blobs, keyed (canonical root,
    * sidecar name) — sidecar files are immutable and fresh-named per
    * write, so no per-hit validation is needed (a recreated root mints
    * new names). Byte-bounded: production blobs are MBs each; the cap
    * keeps a wide prune (hundreds of candidate files) from pinning
    * unbounded heap. A missing sidecar (vacuumed early, partial copy)
    * loads as None and the file simply never Bloom-skips.
    */
  private val BloomCacheMaxBytes = 256L * 1024 * 1024
  private val bloomCache =
    new java.util.LinkedHashMap[(String, String), Array[Byte]](64, 0.75f, true)
  private var bloomCacheBytes = 0L

  private[cdc] def loadBloom(rootKey: String, dir: java.nio.file.Path,
                             name: String): Option[Array[Byte]] =
    loadBloomBilled(rootKey, dir, name)._1

  /** [[loadBloomBilled]] that REFUSES a cache-miss load bigger than the
    * caller's remaining budget instead of overshooting it (r16: the
    * oversized-IN fold previously overspent by up to one sidecar): the
    * size check is one file stat, cache hits still load free, and a
    * refused load returns (None, 0) — the caller keeps the file on its
    * range verdict, conservative as ever. A stat failure refuses too
    * (the load would have failed the same way).
    */
  private[cdc] def loadBloomBilledCapped(rootKey: String,
                                         dir: java.nio.file.Path,
                                         name: String, maxBytes: Long)
      : (Option[Array[Byte]], Long) = {
    val cached = bloomCache.synchronized(
      Option(bloomCache.get((rootKey, name))))
    if (cached.isDefined) (cached, 0L)
    else {
      val fits =
        try java.nio.file.Files.size(dir.resolve(name)) <= maxBytes
        catch { case _: Exception => false }
      if (!fits) (None, 0L) else loadBloomBilled(rootKey, dir, name)
    }
  }

  /** [[loadBloom]] plus the bytes actually READ — 0 on a cache hit — so
    * work-budgeted callers (the oversized-IN fold) can bill cold sidecar
    * I/O against the same budget as their probes.
    */
  private[cdc] def loadBloomBilled(rootKey: String, dir: java.nio.file.Path,
                                   name: String)
      : (Option[Array[Byte]], Long) = {
    val key = (rootKey, name)
    bloomCache.synchronized(Option(bloomCache.get(key))) match {
      case hit @ Some(_) => (hit, 0L)
      case None =>
        val bytes =
          try Some(Files.readAllBytes(dir.resolve(name)))
          catch { case _: Exception => None }
        bytes.foreach { b =>
          bloomCache.synchronized {
            Option(bloomCache.put(key, b))
              .foreach(old => bloomCacheBytes -= old.length)
            bloomCacheBytes += b.length
            val it = bloomCache.entrySet().iterator()
            while (bloomCacheBytes > BloomCacheMaxBytes &&
              bloomCache.size() > 1 && it.hasNext) {
              bloomCacheBytes -= it.next().getValue.length
              it.remove()
            }
          }
        }
        (bytes, bytes.fold(0L)(_.length.toLong))
    }
  }

  /** Test hook: drop every cached sidecar blob so a spec can measure the
    * CACHE-COLD path (the oversized-IN fold's I/O bill).
    */
  private[graft] def clearBloomCache(): Unit = bloomCache.synchronized {
    bloomCache.clear()
    bloomCacheBytes = 0L
  }

  private[cdc] def manifestCachePut(key: (String, Long), size: Long,
                                    mtime: java.nio.file.attribute.FileTime,
                                    fileKey: AnyRef, m: Manifest): Unit =
    manifestCache.synchronized {
      Option(manifestCache.put(key, (size, mtime, fileKey, m)))
        .foreach(old => manifestCacheEntries -= manifestWeight(old._4))
      manifestCacheEntries += manifestWeight(m)
      val it = manifestCache.entrySet().iterator()
      while (manifestCacheEntries > ManifestCacheMaxFileEntries &&
        manifestCache.size() > 1 && it.hasNext) {
        manifestCacheEntries -= manifestWeight(it.next().getValue._4)
        it.remove()
      }
    }

  /** `from` can be read through a reader schema of `to` without loss —
    * the same widening lattice the streaming drift path accepts
    * ([[graft.cdc.Envelope.isLosslessWidening]]), at Spark-type grain.
    * The parquet reader upcasts these natively, so a manifest-only schema
    * commit suffices: no data file changes.
    */
  def losslessWidening(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case _ if from == to                              => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)          => true
      case (IntegerType, LongType | DoubleType)         => true
      case (FloatType, DoubleType)                      => true
      case _                                            => false
    }
  }

  /** What a stats-pruned read ([[ManifestStore.readWhere]]) scanned vs
    * skipped: `rowsRead` is the live-row count of the surviving files —
    * the read amplification a zone-map reader pays.
    */
  final case class SkipStats(nFiles: Int, nRead: Int, nSkipped: Int,
                             rowsRead: Long)

  /** What [[ManifestStore.mergeOnRead]] did: no data file was rewritten —
    * `maskedFiles` gained sidecars covering `maskedRows` superseded keys,
    * `newFiles` hold the batch's after-images, everything else carried.
    */
  final case class MorStats(version: Long, maskedFiles: Int, maskedRows: Long,
                            newFiles: Int, carriedFiles: Int)

  /** `statsCols`: non-key columns whose per-file min/max the manifest also
    * tracks — the zone map [[ManifestStore.readWhere]] prunes with. Chosen
    * at the initial commit; every later commit (merge, optimize,
    * recluster) maintains them.
    */
  /** `keyField`: the store's key column as recorded at write time — lets a
    * reader that has only the table path (the DSv2 connector) recover the
    * key without an option; "" on manifests written before the field
    * existed.
    */
  /** `cdcFile`: the version's CHANGE-DATA file (a parquet directory under
    * `files/`, schema = the version's table columns + `_change_type` ∈
    * insert | update_preimage | update_postimage | delete) — written at
    * commit time by the merge/delete paths when the table property
    * `cdf=true` is set (Delta's `delta.enableChangeDataFeed`), O(changed
    * rows) extra I/O per commit. The streaming change-feed source reads
    * these directly instead of diffing snapshots. None on append-only /
    * maintenance / pre-CDF commits.
    */
  /** `colMap`: COLUMN MAPPING (Delta's name-mapping mode) — logical column
    * name → the PHYSICAL name stored in parquet files, holding only
    * non-identity entries. RENAME COLUMN changes the logical name and maps
    * it to the unchanged physical name (zero data I/O); DROP COLUMN
    * removes the logical column and tombstones its physical name in
    * `droppedPhys`, so a later re-ADD of the same name gets a FRESH
    * physical name and old bytes can never resurrect. Every read
    * translates at the parquet boundary; every write renames to physical
    * before staging. Empty for tables never renamed/dropped — the
    * identity fast path.
    */
  final case class Manifest(version: Long, batchId: Long, streamId: String,
                            tsMillis: Long, schemaDDL: String,
                            files: Seq[FileEntry],
                            statsCols: Seq[String] = Nil,
                            keyField: String = "",
                            cdcFile: Option[String] = None,
                            cdcRows: Long = 0L,
                            colMap: Map[String, String] = Map.empty,
                            droppedPhys: Seq[String] = Nil,
                            cdcMinKey: Option[String] = None,
                            cdcMaxKey: Option[String] = None,
                            cdcCols: Map[String, (String, String)] =
                              Map.empty) {
    /** The physical (on-disk) name of logical column `c`. */
    def phys(c: String): String = colMap.getOrElse(c, c)
  }

  /** A commit's captured change file: directory name, feed row count,
    * and the captured KEY RANGE (manifest stat serialization, same
    * typed round-trip as [[FileEntry]] min/max) — what lets a keyed
    * change-feed consumer skip whole captured versions at planning
    * time. None range on empty captures and pre-r14 vintages: readers
    * keep those conservatively.
    */
  /** `cols` (r16): per-column min/max over the capture rows for the
    * table's zone-map columns, keyed by PHYSICAL name exactly like
    * [[FileEntry.cols]] — what lets a NON-key-filtered feed consumer
    * prune (and the paced walk free-ride) whole captured versions.
    */
  final case class CdcCapture(name: String, rows: Long,
                              minKey: Option[String] = None,
                              maxKey: Option[String] = None,
                              cols: Map[String, (String, String)] = Map.empty)

  /** What [[ManifestStore.merge]] did, for observability and the pruning
    * gate in specs: `reusedFiles` moved to the new version with ZERO I/O.
    */
  final case class MergeStats(version: Long, rewrittenFiles: Int,
                              reusedFiles: Int, newFiles: Int)

  /** What [[ManifestStore.optimize]] did: `carriedFiles` crossed into the
    * new version by reference (zero I/O); only `compactedFiles` were read
    * and rewritten as `newFiles`.
    */
  final case class OptimizeStats(version: Long, compactedFiles: Int,
                                 carriedFiles: Int, newFiles: Int)

  /** Above this many TOTAL deletion-vector rows across the files being
    * read, the sidecar anti-join is left to AQE instead of a forced
    * `broadcast()`: the per-file fold trigger (`dvRows*2 >= rows`) bounds
    * each file's mask, but a table whose files all sit just under it can
    * carry up to rows/4 table-wide — a forced broadcast of that is a
    * driver OOM at 100×. The manifest records `dvRows` per file, so the
    * gate costs nothing. Override with spark conf
    * `spark.graft.manifest.dvBroadcastMaxRows`.
    */
  val DvBroadcastMaxRows = 4000000L

  /** Commits write FULL manifests (type "checkpoint") only every this many
    * versions; in between they write DELTAS (files added/removed vs the
    * parent) — Delta's checkpoint+log shape. A full manifest is O(table
    * files): at 100 TB / ~1 GB files that is ~100k JSON entries per 30 s
    * trigger; a delta is O(changed files). Reconstruction walks back at
    * most this many log entries to a checkpoint.
    */
  val CheckpointInterval = 10L

  /** Validate the typed table properties at the WRITE boundary — a
    * malformed `autocompact.files` must fail the CREATE/ALTER that set
    * it, not silently disable maintenance at ingest time (the same
    * fail-fast contract `bloomfilter` got in round 13's ADVICE fix).
    * Unknown keys pass through: user metadata is legal.
    */
  /** Bounded deletion pool for vacuum reclaims: the unlinks are
    * independent, and on an object store each is a round-trip — a serial
    * driver loop makes vacuum wall time O(dead files). A small fixed
    * daemon pool caps in-flight deletes (never a thundering herd against
    * the store) while cutting wall time ~poolwise; the caller still
    * blocks until EVERY victim is gone, so the returned reclaim list and
    * the retention guards are exactly the serial semantics. Tiny victim
    * sets (and `-Dgraft.vacuum.serial=true`, the bench's A/B control)
    * stay on the serial loop.
    */
  private val DeletePoolSize = 12
  private lazy val deletePool =
    java.util.concurrent.Executors.newFixedThreadPool(DeletePoolSize,
      (r: Runnable) => {
        val t = new Thread(r, "graft-vacuum-delete")
        t.setDaemon(true)
        t
      })

  private[graft] def deleteAll(paths: Seq[Path])(delete: Path => Unit): Unit =
    if (paths.sizeIs <= 2 ||
      sys.props.get("graft.vacuum.serial").exists(_.toBoolean))
      paths.foreach(delete)
    else {
      // chunked, not per-file: one pool task per ~(size / 4x pool) slice
      // keeps submission overhead negligible on fast filesystems while a
      // latency-bound store still sees the full pool width in flight
      val chunkSize = math.max(1, paths.size / (DeletePoolSize * 4))
      val futures = paths.grouped(chunkSize).toSeq.map(chunk =>
        deletePool.submit(new Runnable {
          override def run(): Unit = chunk.foreach(delete)
        }))
      futures.foreach { f =>
        try f.get()
        catch { // surface the I/O error as the serial loop would
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    }

  private def validateTableProps(props: Map[String, String]): Unit = {
    def posInt(k: String): Unit = props.get(k).foreach(v =>
      require(v.toIntOption.exists(_ > 0),
        s"table property $k must be a positive integer, got '$v'"))
    posInt("autocompact.files")
    posInt("retention.versions")
    posInt("buckets")
    posInt("stats.truncate")
    posInt("clustering.bits")
    props.get("clustering.cols").foreach(v => require(
      v.split(",").map(_.trim).count(_.nonEmpty) >= 2,
      s"table property clustering.cols must list >= 2 comma-separated " +
        s"columns, got '$v'"))
    // internal drift counter (files written by clustered maintenance
    // folds since the last full re-zorder) — non-negative integer
    props.get("clustering.foldfiles").foreach(v =>
      require(v.toLongOption.exists(_ >= 0L),
        s"table property clustering.foldfiles must be a non-negative " +
          s"integer, got '$v'"))
    // internal measured-tightness debt (foldDebt accrual since the last
    // full re-zorder) — non-negative number
    props.get("clustering.folddebt").foreach(v =>
      require(v.toDoubleOption.exists(_ >= 0.0),
        s"table property clustering.folddebt must be a non-negative " +
          s"number, got '$v'"))
    props.get("clustering.refreshratio").foreach(v => require(
      v.equalsIgnoreCase("off") || v.equalsIgnoreCase("false") ||
        v.toDoubleOption.exists(_ > 0),
      s"table property clustering.refreshratio must be a positive ratio " +
        s"or off/false, got '$v'"))
    props.get("retention.minagems").foreach(v =>
      require(v.toLongOption.exists(_ >= 0L),
        s"table property retention.minagems must be a non-negative " +
          s"integer of milliseconds, got '$v'"))
    bloomParams(props) // throws its own typed error on junk
    // `bloomfiltercols` entries may be dotted struct-LEAF paths
    // ("meta.lang") or top-level columns whose name literally contains a
    // dot — only a schema can tell them apart, so validation happens at
    // write time ([[writeDataFiles]] resolves through [[leafType]], where
    // a top-level field wins verbatim); no shape check here.
    ()
  }

  /** Table properties live in `<root>/_TBLPROPS` as one `k=v` per line
    * (keys lowercased) — table metadata IS the filesystem, like the rest
    * of the store. Shared by the SQL catalog (TBLPROPERTIES) and the store
    * API (`cdf`, `mor`, ... flags).
    */
  def writeTableProps(root: String, props: Map[String, String]): Unit =
    if (props.nonEmpty) {
      validateTableProps(props.map { case (k, v) => k.toLowerCase -> v })
      Files.createDirectories(Paths.get(root))
      Files.write(Paths.get(root, "_TBLPROPS"),
        props.map { case (k, v) => s"${k.toLowerCase}=$v" }
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
      ()
    }

  /** Hardlink (copy on filesystems without link support) every artifact a
    * manifest entry references — data file, DV sidecar (a directory),
    * Bloom blobs, KMV sketch — from `fromRoot/files` into `toRoot/files`,
    * skipping names already present (shared files). Zero data I/O on any
    * POSIX filesystem; the clone/publish metadata paths ride on it.
    */
  private[cdc] def linkEntryArtifacts(fromRoot: String, toRoot: String,
                                      f: FileEntry): Unit = {
    def linkOne(src: Path, dst: Path): Unit =
      if (!Files.exists(dst)) {
        try { Files.createLink(dst, src); () }
        catch {
          case _: UnsupportedOperationException | _: SecurityException =>
            Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING); ()
        }
      }
    def link(rel: String): Unit = {
      val src = Paths.get(fromRoot, "files", rel)
      val dst = Paths.get(toRoot, "files", rel)
      if (Files.isDirectory(src)) { // a deletion-vector sidecar directory
        Files.createDirectories(dst)
        val s = Files.list(src)
        try s.iterator().asScala.foreach(p =>
          linkOne(p, dst.resolve(p.getFileName.toString)))
        finally s.close()
      } else linkOne(src, dst)
    }
    link(f.name); f.dv.foreach(link); f.bloom.foreach(link)
    f.colBlooms.values.foreach(link); f.kmv.foreach(link)
  }

  def readTableProps(root: String): Map[String, String] = {
    val p = Paths.get(root, "_TBLPROPS")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.flatMap { line =>
      line.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => Some(k -> v)
        case _ => None
      }
    }.toMap
  }

  /** Epoch day of a date in the store's serialized form (Spark's
    * date→string cast: `[+|-]y+-MM-dd` with a sign for BCE and an
    * unbounded year width), parsed by splitting fields rather than a
    * fixed-width pattern so any year the cast can emit round-trips.
    */
  private[cdc] def parseIsoDateToEpochDay(s: String): Long = {
    val neg = s.startsWith("-")
    val body = if (neg || s.startsWith("+")) s.substring(1) else s
    val parts = body.split("-")
    require(parts.length == 3, s"not an ISO date stat: $s")
    java.time.LocalDate.of(
      parts(0).toInt * (if (neg) -1 else 1), parts(1).toInt, parts(2).toInt
    ).toEpochDay
  }

  /** Apply a column mapping to `logical`, producing the PHYSICAL (on-disk)
    * schema: top-level names map via their own entries; STRUCT FIELDS map
    * via dotted full-path entries at ANY depth ("a.b.c" — the mapping
    * Delta calls nested column mapping; map/array element contents never
    * map, their DDL is refused at the ALTER surface). Columns without an
    * entry pass through unchanged, so the helper is safe on pruned
    * subsets and on frames carrying writer-internal columns.
    */
  def toPhysical(logical: StructType, colMap: Map[String, String]): StructType =
    if (colMap.isEmpty) logical
    else {
      // recursive: entries key the FULL dotted logical path at any struct
      // depth ("a.b.c" -> physical leaf name); map/array element contents
      // never map (their DDL is refused at the ALTER surface)
      def mapStruct(st: StructType, prefix: String): StructType =
        StructType(st.fields.map { f =>
          val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
          val dt = f.dataType match {
            case s: StructType => mapStruct(s, path)
            case other         => other
          }
          f.copy(name = colMap.getOrElse(path, f.name), dataType = dt)
        })
      mapStruct(logical, "")
    }

  /** Typed driver-side interpretation of ONE column's serialized zone-map
    * stats — the one evaluator behind planning's stats consumers
    * ([[ManifestStore.prunedFiles]], exactness, stats-answered aggregates,
    * top-N, optimize's overlap groups), none of which runs a Spark job:
    * `parse` brings a recorded stat string into the column's comparison
    * domain (the exact inverse of `statSerialize` — timestamps are epoch
    * micros, dates epoch days, strings UTF8String so ordering is Spark's
    * binary collation); `convert` brings a pushed predicate value into
    * the SAME domain (mirroring `lit(v).cast(dt)` for the value shapes
    * Spark's filter pushdown actually produces — anything else refuses
    * with None and [[probeValue]] evaluates the cast itself); `ord` is
    * the comparison Spark itself would run (NaN-greatest total orders for
    * floats); `render` maps a domain value to the exact string
    * `statSerialize` would emit — the Bloom sidecars hashed that
    * rendering at build time, so a divergence would silently mis-prune a
    * file; values whose rendering we cannot guarantee byte-identical
    * (e.g. dates outside year 1–9999) refuse per-value.
    */
  private[cdc] final case class PruneDomain(
      parse: String => Any,
      convert: Any => Option[Any],
      ord: Ordering[Any],
      render: Any => Option[String])

  /** The pre-r17 rendering of a zero-valued float/double DOMAIN value,
    * when it differs from today's normalized one. Sidecars built before
    * the -0.0 normalization hashed the raw sign ("-0.0"); equality/IN
    * probes of a (Spark-equal) zero must test that legacy rendering TOO,
    * or a pre-r17 Bloom blob over -0.0 rows over-prunes its file. For
    * new sidecars the extra probe is a guaranteed miss — one wasted bit
    * test on the rare zero probe, never a wrong keep (Bloom keeps are
    * verified by the actual row filter anyway).
    */
  private[cdc] def legacyZeroRender(
      dt: org.apache.spark.sql.types.DataType, x: Any): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType => x match {
        case n: java.lang.Number if n.doubleValue() == 0.0d => Some("-0.0")
        case _ => None
      }
      case _ => None
    }
  }

  private[cdc] def pruneDomain(dt: org.apache.spark.sql.types.DataType)
      : Option[PruneDomain] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def ordOf[T](o: Ordering[T]): Ordering[Any] = o.asInstanceOf[Ordering[Any]]
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(PruneDomain(
          s => s.toLong,
          {
            case v: java.lang.Byte    => Some(v.longValue)
            case v: java.lang.Short   => Some(v.longValue)
            case v: java.lang.Integer => Some(v.longValue)
            case v: java.lang.Long    => Some(v.longValue)
            case _                    => None
          },
          ordOf(Ordering.Long),
          v => Some(v.toString)))
      case TimestampType =>
        Some(PruneDomain(
          s => s.toLong,
          {
            // the same micros Spark's fromJavaTimestamp / instantToMicros
            // produce — getNanos carries the sub-milli tail for Timestamp.
            // A raw Long is REFUSED: `lit(long).cast(timestamp)` reads it
            // as epoch SECONDS, not internal micros — probeValue runs
            // that cast instead.
            case t: java.sql.Timestamp =>
              Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
            case i: java.time.Instant =>
              Some(Math.addExact(
                Math.multiplyExact(i.getEpochSecond, 1000000L),
                (i.getNano / 1000).toLong))
            case _ => None
          },
          ordOf(Ordering.Long),
          v => Some(v.toString)))
      case FloatType =>
        // NOT Ordering.Float.TotalOrdering: that orders -0.0 < 0.0, but
        // Spark's comparisons (SQLOrderingUtil.compareFloats — what both
        // the Column fallback and the actual row filter run) treat
        // -0.0 == 0.0. TotalOrdering here silently over-pruned a file
        // whose max stat was -0.0 against `>= 0.0f`. NaN-greatest is
        // preserved (x == NaN is false, Float.compare puts NaN on top).
        val sparkFloatOrd: Ordering[Any] = new Ordering[Any] {
          def compare(a: Any, b: Any): Int = {
            val x = a.asInstanceOf[Float]; val y = b.asInstanceOf[Float]
            if (x == y) 0 else java.lang.Float.compare(x, y)
          }
        }
        Some(PruneDomain(
          s => s.toFloat,
          {
            case v: java.lang.Float   => Some(v.floatValue)
            case v: java.lang.Double  => Some(v.floatValue)
            case v: java.lang.Byte    => Some(v.floatValue)
            case v: java.lang.Short   => Some(v.floatValue)
            case v: java.lang.Integer => Some(v.floatValue)
            case v: java.lang.Long    => Some(v.floatValue)
            case _                    => None
          },
          sparkFloatOrd,
          v => {
            // -0.0 renders as "0.0": statSerialize normalizes the sign at
            // stat-write/Bloom-build time (Spark equality can't tell the
            // zeros apart), so the probe rendering must match the build
            val f = v.asInstanceOf[Float]
            Some((if (f == 0.0f) 0.0f else f).toString)
          }))
      case DoubleType =>
        val sparkDoubleOrd: Ordering[Any] = new Ordering[Any] {
          def compare(a: Any, b: Any): Int = {
            val x = a.asInstanceOf[Double]; val y = b.asInstanceOf[Double]
            if (x == y) 0 else java.lang.Double.compare(x, y)
          }
        }
        Some(PruneDomain(
          s => s.toDouble,
          {
            case v: java.lang.Double  => Some(v.doubleValue)
            case v: java.lang.Float   => Some(v.doubleValue)
            case v: java.lang.Byte    => Some(v.doubleValue)
            case v: java.lang.Short   => Some(v.doubleValue)
            case v: java.lang.Integer => Some(v.doubleValue)
            case v: java.lang.Long    => Some(v.doubleValue)
            case _                    => None
          },
          sparkDoubleOrd,
          v => {
            val d = v.asInstanceOf[Double]
            Some((if (d == 0.0d) 0.0d else d).toString)
          }))
      case StringType =>
        val utf8Ord: Ordering[Any] = new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
        }
        Some(PruneDomain(
          s => UTF8String.fromString(s),
          {
            case v: String => Some(UTF8String.fromString(v))
            case _         => None
          },
          utf8Ord,
          v => Some(v.toString)))
      case DateType =>
        // Spark's OWN DateFormatter — the literal renderer behind
        // `cast(date as string)` — so the rendering is byte-identical by
        // construction at ANY year (probe-verified across year 0,
        // negative years, and the "+10000-01-01" post-9999 sign form
        // that a hand-rolled ISO writer used to refuse)
        val dateFmt = org.apache.spark.sql.catalyst.util.DateFormatter()
        Some(PruneDomain(
          s => parseIsoDateToEpochDay(s),
          {
            case v: java.sql.Date       => Some(v.toLocalDate.toEpochDay)
            case v: java.time.LocalDate => Some(v.toEpochDay)
            case _                      => None
          },
          ordOf(Ordering.Long),
          v => {
            val d = v.asInstanceOf[Long]
            // DateType is Int days internally; a probe beyond that range
            // cannot be a column value — refuse: no Bloom test
            if (d == d.toInt.toLong) Some(dateFmt.format(d.toInt)) else None
          }))
      case BooleanType =>
        Some(PruneDomain(
          s => s.toBoolean,
          {
            case v: java.lang.Boolean => Some(v.booleanValue)
            case _                    => None
          },
          ordOf(Ordering.Boolean),
          v => Some(v.toString)))
      case TimestampNTZType =>
        // zone-free: stats serialize via `cast(ntz as string)` and parse
        // back through Spark's OWN parser (the one a
        // string-to-NTZ cast runs), probe values convert
        // through Spark's own localDateTimeToMicros, and renderings come
        // from Spark's own fraction formatter (the renderer behind the
        // NTZ string cast — probe-verified byte-identical across whole
        // seconds, trimmed fractions like ".12", full ".123456" micros,
        // and the year-1/9999 extremes), so Bloom probes stay jobless
        // too. All guaranteed identical by construction.
        val ntzFmt = org.apache.spark.sql.catalyst.util.TimestampFormatter
          .getFractionFormatter(java.time.ZoneOffset.UTC)
        Some(PruneDomain(
          s => org.apache.spark.sql.catalyst.util.DateTimeUtils
            .stringToTimestampWithoutTimeZone(UTF8String.fromString(s))
            .getOrElse(throw new IllegalArgumentException(
              s"unparseable timestamp_ntz stat '$s'")), // Try-guarded: null operand
          {
            case v: java.time.LocalDateTime =>
              Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
                .localDateTimeToMicros(v))
            case _ => None
          },
          ordOf(Ordering.Long),
          v => Some(ntzFmt.format(v.asInstanceOf[Long]))))
      case d: DecimalType =>
        // renders through Spark's own decimal-to-string Cast, the one the
        // stats and the Bloom builds ran (ParquetWriteBridge.statStringifier):
        // plain text under ANSI, "0E-18" / "6.00000000000E-7" for small
        // values otherwise, so no hand-rolled rendering matches both
        val toStr = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.BoundReference(0, d,
            nullable = true), StringType, Some("UTC"))
        Some(PruneDomain(
          s => BigDecimal(s),
          { v =>
            val bd = v match {
              case x: java.math.BigDecimal => Some(BigDecimal(x))
              case x: BigDecimal           => Some(x)
              case _                       => None
            }
            // exact fit only: cast-to-type rounding or precision overflow
            // would need Spark's own semantics — refuse (probeValue casts)
            bd.flatMap { x =>
              scala.util.Try(x.setScale(d.scale)).toOption
                .filter(_.precision <= d.precision)
            }
          },
          ordOf(Ordering.BigDecimal),
          // on the column's grid, as every stored value is; off it: None
          v => scala.util.Try(v.asInstanceOf[BigDecimal].setScale(d.scale))
            .toOption.filter(_.precision <= d.precision).map(x =>
              toStr.eval(org.apache.spark.sql.catalyst.InternalRow(
                Decimal(x))).toString)))
      case _ => None
    }
  }

  /** A predicate value in `dom`'s comparison domain. `dom.convert` takes
    * the shapes filter pushdown produces; any other value runs the cast a
    * Column filter's `lit(v).cast(dt)` runs — a Catalyst `Cast` evaluated
    * on the driver in the session time zone `tz`, with no job and the same
    * semantics by construction (a raw Long on a TIMESTAMP column is epoch
    * SECONDS, a String on a numeric column parses). Some(None): the cast
    * yields NULL, a SQL-null operand. None: `Literal` rejects the value
    * or the cast throws (ANSI) — callers answer conservatively.
    */
  private[cdc] def probeValue(dom: PruneDomain,
                              dt: org.apache.spark.sql.types.DataType,
                              v: Any, tz: String): Option[Option[Any]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    dom.convert(v) match {
      case Some(x) => Some(Some(x))
      case None => scala.util.Try(Cast(Literal(v), dt, Some(tz)).eval())
        .toOption.map(x => Option(x).map(domainValue(dt, _)))
    }
  }

  /** A non-null Catalyst internal value of type `dt` in `pruneDomain(dt)`'s
    * domain: what a cast evaluates to ([[probeValue]]) and what a task
    * reads from a key column ([[ManifestStore.hitFileNames]]).
    */
  private[cdc] def domainValue(dt: org.apache.spark.sql.types.DataType,
                               x: Any): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case FloatType | DoubleType | StringType | BooleanType => x
      case _: DecimalType => x.asInstanceOf[Decimal].toBigDecimal
      case _ => x.asInstanceOf[Number].longValue // ints, days, micros
    }
  }

  /** Bloom probe hashes of the domain value `x`: its `dom.render` string,
    * byte-identical to the rendering the sidecars hashed, plus the pre-r17
    * "-0.0" for a zero float/double (see [[legacyZeroRender]]). None when
    * no rendering is guaranteed: no Bloom test.
    */
  private[cdc] def bloomHashes(dom: PruneDomain,
                               dt: org.apache.spark.sql.types.DataType,
                               x: Any): Option[Seq[(Long, Long)]] =
    dom.render(x).map(s => (s +: legacyZeroRender(dt, x).toSeq).map(r =>
      graft.functions.BloomSketch.probeHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(r))))

  /** A file's key [min, max] parsed through `dom`: the one reading of key
    * stats every key probe shares ([[ManifestStore#prunedFiles]]' key
    * leaves, [[ManifestStore#hitFileNames]]' task pass). Right: the parsed
    * range. Left(false): null stats, a file of null keys only, on which no
    * comparison holds, so no key hits it. Left(true): a stat the domain
    * cannot parse (older manifests stored a null stat as the string
    * "null"), which every key hits.
    */
  private[cdc] def keyRange(f: FileEntry,
                            dom: PruneDomain): Either[Boolean, (Any, Any)] =
    if (f.minKey == null || f.maxKey == null) Left(false)
    else scala.util.Try((dom.parse(f.minKey), dom.parse(f.maxKey)))
      .toOption.toRight(true)

  /** The (file, key) test of every key probe: the sought value `x` lies in
    * the file's parsed [mn, mx] AND, when `hashes` is defined, the file's
    * Bloom `blob` may hold it. Three-valued: a null operand (`x` None) is
    * NULL. The blob is read only after the range test passes, so sidecar
    * loads stay bounded by the files a read would open; a missing blob
    * keeps the range verdict. Both [[prunedFiles]]' `=`/`in` leaves and
    * [[hitFileNames]]' task pass run it.
    */
  private[cdc] def keyHolds(ord: Ordering[Any], mn: Any, mx: Any,
                            x: Option[Any],
                            hashes: Option[Seq[(Long, Long)]],
                            blob: => Option[Array[Byte]]): Option[Boolean] =
    x.map(y => ord.lteq(mn, y) && ord.gteq(mx, y) &&
      hashes.forall(hs => blob.forall(b => hs.exists(h =>
        graft.functions.BloomSketch.containsBlobHashed(b, h._1, h._2)))))

  /** Decimal probe values canonicalized onto the column's (precision,
    * scale) GRID before any pruning or exactness pass — every stored
    * value of a `decimal(p,s)` column is an exact multiple of 10^-s, so
    * a probe of a different scale rewrites to an equivalent predicate
    * over on-grid values (`x > 1.225` on decimal(10,2) IS `x > 1.22`;
    * `x >= 1.225` IS `x >= 1.23`), and a probe beyond the type's range
    * collapses to a constant. This replaces what `lit(v).cast(dt)` would
    * do to such probes — HALF_UP rounding, which OVER-PRUNES strict
    * inequalities (`> 1.225` rounded to `> 1.23` drops a file whose max
    * is 1.23 even though its 1.23 rows match) and nulls out-of-range
    * probes (dropping every file under 3VL). Pruning and exactness both
    * consume the canonical form, so they are exact. Ops emitted beyond
    * the input set: `alwaysfalse` (no row can
    * satisfy — `= off-grid`, `> beyond-max`) and `notnull` (every
    * NON-null row satisfies — `!= off-grid`, `< beyond-max`; null rows
    * fail any comparison, which is exactly `IS NOT NULL` row semantics,
    * and the existing notnull machinery already prunes/exacts it).
    * Probes that aren't integral/BigDecimal (doubles, strings) pass
    * through untouched to [[probeValue]]'s cast.
    */
  private[cdc] def canonDecimalPreds(schema: StructType,
      preds: Seq[(String, String, Any)]): Seq[(String, String, Any)] = {
    import org.apache.spark.sql.types._
    import java.math.RoundingMode
    def toBig(v: Any): Option[java.math.BigDecimal] = v match {
      case x: java.math.BigDecimal => Some(x)
      case x: scala.math.BigDecimal => Some(x.underlying)
      case x: Decimal           => Some(x.toJavaBigDecimal)
      case x: java.lang.Byte    => Some(java.math.BigDecimal.valueOf(x.longValue))
      case x: java.lang.Short   => Some(java.math.BigDecimal.valueOf(x.longValue))
      case x: java.lang.Integer => Some(java.math.BigDecimal.valueOf(x.longValue))
      case x: java.lang.Long    => Some(java.math.BigDecimal.valueOf(x.longValue))
      case _ => None
    }
    def fits(x: java.math.BigDecimal, d: DecimalType): Boolean =
      x.precision <= d.precision
    def exactFit(v: Any, d: DecimalType): Option[java.math.BigDecimal] =
      toBig(v).flatMap(x => scala.util.Try(x.setScale(d.scale)).toOption)
        .filter(fits(_, d))
    def leaf(c: String, op: String, v: Any, d: DecimalType)
        : (String, String, Any) = op match {
      case "=" => exactFit(v, d) match {
        case Some(x) => (c, "=", x)
        case None if toBig(v).isDefined => (c, "alwaysfalse", null)
        case None => (c, op, v)
      }
      case "!=" => exactFit(v, d) match {
        case Some(x) => (c, "!=", x)
        case None if toBig(v).isDefined => (c, "notnull", null)
        case None => (c, op, v)
      }
      case ">" | ">=" | "<" | "<=" => toBig(v) match {
        case Some(b) =>
          // FLOOR keeps `>`/`<=` grid-equivalent (no grid point lies
          // strictly between floor and ceiling of an off-grid value);
          // CEILING keeps `>=`/`<`
          val x = b.setScale(d.scale,
            if (op == ">" || op == "<=") RoundingMode.FLOOR
            else RoundingMode.CEILING)
          if (fits(x, d)) (c, op, x)
          else if (x.signum > 0) // beyond the type's +max
            if (op == ">" || op == ">=") (c, "alwaysfalse", null)
            else (c, "notnull", null)
          else                   // beyond the type's -min
            if (op == "<" || op == "<=") (c, "alwaysfalse", null)
            else (c, "notnull", null)
        case None => (c, op, v)
      }
      case "in" => v match {
        case vs: Seq[_] if vs.nonEmpty && vs.forall(x => toBig(x).isDefined) =>
          val kept = vs.flatMap(x => exactFit(x, d))
          if (kept.isEmpty) (c, "alwaysfalse", null) else (c, "in", kept)
        case _ => (c, op, v)
      }
      case _ => (c, op, v)
    }
    def go(p: (String, String, Any)): (String, String, Any) = p match {
      case (n, "or", bs) =>
        (n, "or",
          bs.asInstanceOf[Seq[Seq[(String, String, Any)]]].map(_.map(go)))
      case (c, op, v) => leafType(schema, c) match {
        case Some(d: DecimalType) => leaf(c, op, v, d)
        case _ => p
      }
    }
    // cheap pre-scan: the common plan has no decimal leaves at all —
    // skip the rewrite walk entirely. (A decimal-column IN list walks
    // once per value — setScale arithmetic, ~ns each, bounded driver
    // cost even at runtime-filter sizes.)
    def hasDecimal(p: (String, String, Any)): Boolean = p match {
      case (_, "or", bs) =>
        bs.asInstanceOf[Seq[Seq[(String, String, Any)]]]
          .exists(_.exists(hasDecimal))
      case (c, _, _) =>
        leafType(schema, c).exists(_.isInstanceOf[DecimalType])
    }
    if (preds.exists(hasDecimal)) preds.map(go) else preds
  }

  /** A serialized stat string back to the EXTERNAL JVM value Spark's
    * own collect would produce for the type (java.sql.Timestamp from
    * epoch micros, java.sql.Date from epoch days — both through Spark's
    * DateTimeUtils so the conversion is literally Spark's; scaled
    * java.math.BigDecimal for decimals) — what lets the stats-answered
    * aggregate paths fold MIN/MAX driver-side instead of running a local
    * Spark job per aggregate. None = no guaranteed-identical conversion;
    * callers give no stats answer.
    */
  private[cdc] def statToExternal(dt: org.apache.spark.sql.types.DataType)
      : Option[String => Any] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    dt match {
      case ByteType      => Some(s => java.lang.Byte.valueOf(s.toByte))
      case ShortType     => Some(s => java.lang.Short.valueOf(s.toShort))
      case IntegerType   => Some(s => java.lang.Integer.valueOf(s.toInt))
      case LongType      => Some(s => java.lang.Long.valueOf(s.toLong))
      case TimestampType => Some(s => DateTimeUtils.toJavaTimestamp(s.toLong))
      case FloatType     => Some(s => java.lang.Float.valueOf(s.toFloat))
      case DoubleType    => Some(s => java.lang.Double.valueOf(s.toDouble))
      case StringType    => Some(s => s)
      case BooleanType   => Some(s => java.lang.Boolean.valueOf(s.toBoolean))
      case DateType      => Some(s =>
        DateTimeUtils.toJavaDate(parseIsoDateToEpochDay(s).toInt))
      case TimestampNTZType => Some(s =>
        DateTimeUtils.microsToLocalDateTime(
          DateTimeUtils.stringToTimestampWithoutTimeZone(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
            .getOrElse(throw new IllegalArgumentException(
              s"unparseable timestamp_ntz stat '$s'"))))
      case d: DecimalType => Some(s =>
        new java.math.BigDecimal(s).setScale(d.scale))
      case _ => None
    }
  }

  /** The change-file column naming Delta's CDF established (public
    * contract): one row per changed-row image, tagged with how it changed.
    */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CdfInsert = "insert"
  val CdfUpdatePre = "update_preimage"
  val CdfUpdatePost = "update_postimage"
  val CdfDelete = "delete"

  /** The aggregate shapes [[ManifestStore.aggFromStats]] can answer from
    * manifest metadata alone.
    */
  private[graft] sealed trait StatAgg
  private[graft] object StatAgg {
    case object CountStar extends StatAgg
    final case class CountCol(col: String) extends StatAgg
    final case class MinCol(col: String) extends StatAgg
    final case class MaxCol(col: String) extends StatAgg
  }

  /** Outcome of [[ManifestStore.mergeOnReadOptimistic]] — the
    * deletion-vector twin of [[MergeOutcome]].
    */
  sealed trait MorOutcome
  final case class MorApplied(stats: MorStats) extends MorOutcome
  /** This (batchId, streamId) already applied — exactly-once short-circuit. */
  case object MorReplayed extends MorOutcome
  /** All attempts lost the race on a REAL overlap (both writers masked the
    * same file, or a winner wrote rows in this batch's key range).
    */
  final case class MorConflict(currentVersion: Long, reason: String)
    extends MorOutcome

  /** Outcome of [[ManifestStore.mergeOptimistic]]. */
  sealed trait MergeOutcome
  final case class MergedAt(stats: MergeStats) extends MergeOutcome
  /** This (batchId, streamId) already applied — exactly-once short-circuit. */
  case object AlreadyMerged extends MergeOutcome
  /** All attempts lost the race on a REAL overlap (see the three checks in
    * [[ManifestStore.mergeOptimistic]]); `currentVersion` is where the
    * table was when the last attempt gave up.
    */
  final case class MergeConflict(currentVersion: Long, reason: String)
    extends MergeOutcome

  // one monitor per store root: FileLock is PROCESS-scoped (a second
  // thread in the same JVM gets OverlappingFileLockException, not
  // blocking), so same-JVM writers serialize on this monitor and the file
  // lock below only arbitrates across processes
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // roots whose commit lock THIS thread already holds: JVM FileLock is not
  // reentrant (a nested lock() on the same file throws
  // OverlappingFileLockException), so a caller composing two locked
  // operations on one root re-enters the body directly
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** The store-local commit lock: a JVM monitor per root (two threads in
    * one JVM) plus an OS file lock on `_COMMIT_LOCK` (two JVMs). Reentrant
    * per thread. On an object store the equivalent is a conditional PUT
    * of `_CURRENT`.
    */
  private[graft] def withCommitLock[A](root: String)(body: => A): A =
    if (held.get()(root)) body
    else {
      val mon = monitors.computeIfAbsent(root, _ => new Object)
      mon.synchronized {
        Files.createDirectories(Paths.get(root))
        val ch = java.nio.channels.FileChannel.open(
          Paths.get(root, "_COMMIT_LOCK"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lock = ch.lock()
          held.set(held.get() + root)
          try body finally {
            held.set(held.get() - root)
            lock.release()
          }
        } finally ch.close()
      }
    }

  /** The columns of a deletion-vector sidecar part: the masked file's
    * name and the masked key, in this order (the masked readers address
    * them by position).
    */
  private[cdc] def dvSchema(keyType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      org.apache.spark.sql.types.StructField("_file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_key", keyType)))

  /** The parquet parts of deletion-vector sidecar `dv` under table `root`
    * (a sidecar is a directory), with their sizes: one driver-side
    * listing, shared by the engine's sidecar reads and the connector's
    * input partitions ([[graft.spark.GraftPartitions]]`.forFiles`).
    */
  private[graft] def sidecarParts(root: String, dv: String): Seq[(String, Long)] = {
    val s = Files.list(Paths.get(root, "files", dv))
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => (p.toString, Files.size(p))).toList
    finally s.close()
  }

  /** One deletion-vector write TASK ([[ManifestStore]]`.applyMasks`): its
    * `(_file, _key, _new)` rows arrive sorted by (_file, _key); every
    * file's run whose rows include a `_new` one becomes one sidecar
    * directory under `stageDir` holding the file's DISTINCT keys as one
    * `(_file, _key)` parquet part — the layout every sidecar reader lists.
    * Old keys seen before a file's first new one wait in memory (at most
    * that file's old sidecar), so a file that gains no mask writes
    * nothing. Returns (file, distinct keys, staged dir) per sidecar. Null
    * keys mask nothing and are dropped.
    */
  private[cdc] def writeMaskTask(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                                 writers: org.apache.spark.sql.graft.ParquetWriteBridge.TaskWriters,
                                 keyType: org.apache.spark.sql.types.DataType,
                                 stageDir: String, partitionId: Int,
                                 attempt: Long): Seq[(String, Long, String)] = {
    import org.apache.spark.unsafe.types.UTF8String
    val keyOrd = org.apache.spark.sql.graft.ParquetWriteBridge.orderingFor(keyType)
    val ext = writers.extension()
    val base = Paths.get(stageDir, s"$partitionId-$attempt")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    val pending = scala.collection.mutable.ArrayBuffer.empty[Any]
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    var w: org.apache.spark.sql.graft.ParquetWriteBridge.RowFileWriter = null
    var file: UTF8String = null
    var prevKey: Any = null
    var n = 0L
    def write(k: Any): Unit = { row.update(0, file); row.update(1, k); w.write(row) }
    def finish(): Unit = {
      if (w != null) {
        w.close(); w = null
        out += ((file.toString, n, base.resolve(out.size.toString).toString))
      }
      pending.clear()
    }
    try {
      rows.foreach { r =>
        if (!r.isNullAt(1)) {
          val f = r.getUTF8String(0)
          if (file == null || f != file) {
            finish()
            file = f.clone()
            prevKey = null; n = 0L
          }
          val k = r.get(1, keyType)
          if (prevKey == null || keyOrd.compare(prevKey, k) != 0) {
            prevKey = k match { case u: UTF8String => u.clone(); case v => v }
            n += 1
            if (w != null) write(k) else pending += prevKey
          }
          if (w == null && r.getBoolean(2)) {
            w = writers.open(base.resolve(out.size.toString)
              .resolve(s"part-00000$ext").toString, partitionId, attempt)
            pending.foreach(write)
            pending.clear()
          }
        }
      }
      finish()
      out.toSeq
    } catch {
      case t: Throwable =>
        if (w != null) scala.util.Try(w.close())
        deleteRecursively(base)
        throw t
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  /** Table properties whose value is a comma list of column names: a
    * column rename rewrites them in place, so partitioning, secondary
    * Blooms and clustering follow the column.
    */
  private val ColumnListProps = Seq("partitioncol", "bloomfiltercols",
    "clustering.cols")

  /** `props` with `from` renamed to `to` in every column-list property
    * that names it; other entries are returned as they are.
    */
  private[cdc] def renameInColumnProps(props: Map[String, String],
                                       from: String, to: String)
      : Map[String, String] =
    props.map {
      case (k, v) if ColumnListProps.contains(k) =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty)
        if (cols.contains(from))
          k -> cols.map(c => if (c == from) to else c).mkString(",")
        else k -> v
      case kv => kv
    }
}

final class ManifestStore(val root: String, spark: SparkSession,
                          keyField: String) {
  import ManifestStore.{FileEntry, Manifest, MergeOutcome, MergeStats,
    deleteRecursively}
  private val currentFile = Paths.get(root, "_CURRENT")
  private val mapper = new ObjectMapper()

  def current: Option[(Long, Long, String)] =
    if (!Files.exists(currentFile)) None
    else Files.readString(currentFile).trim.split(",", 3) match {
      case Array(v, b, sid) => Some((v.toLong, b.toLong, sid))
      case _                => None
    }

  def exists: Boolean = current.isDefined

  // ---- named version references (Iceberg's tags) -------------------------

  private val tagsFile = Paths.get(root, "_TAGS")

  /** Named version references — immutable pointers into the retained log
    * (Iceberg's tags, ref: spark_client/src/cdc_stream.py has no
    * counterpart — beyond-parity): `versionAsOf` / SQL `VERSION AS OF`
    * accept a tag name wherever they accept a number, and [[vacuum]] PINS
    * every tagged version (its manifest chain and data files survive any
    * `keepLast`), so an audit/reproducibility read stays valid until the
    * tag is deleted — at 100 TB, "the exact table the model trained on"
    * is a tag, not a copy. Stored as `name=version` lines in
    * `<root>/_TAGS`, rewritten atomically under the commit lock —
    * O(#tags) metadata, planning-scale.
    */
  def tags: Map[String, Long] =
    if (!Files.exists(tagsFile)) Map.empty
    else Files.readAllLines(tagsFile).asScala.flatMap { line =>
      line.split("=", 2) match {
        case Array(n, v) if n.nonEmpty => v.toLongOption.map(n -> _)
        case _                         => None
      }
    }.toMap

  /** Tag `version` as `name` (re-pointing an existing name is allowed —
    * Iceberg's replace-tag). Names must not parse as a bare integer so
    * the `versionAsOf` surface stays unambiguous.
    */
  def setTag(name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*") &&
      !name.matches("[+-]?\\d+"),
      s"tag name '$name' must match [A-Za-z0-9][A-Za-z0-9._-]* and not " +
        "be a bare integer (that is a version number)")
    ManifestStore.withCommitLock(root) {
      val cur = current.map(_._1).getOrElse(throw new IllegalStateException(
        s"no current version at $root — nothing to tag"))
      require(version >= 0 && version <= cur,
        s"tag '$name' names version $version, but $root is at $cur")
      require(manifest(version).isDefined,
        s"version $version of $root is gone (vacuumed past log retention)")
      writeTags(tags + (name -> version))
    }
  }

  /** Drop tag `name`; the pinned version rejoins normal vacuum retention.
    * Unknown names are a no-op (idempotent cleanup).
    */
  def deleteTag(name: String): Unit =
    ManifestStore.withCommitLock(root) { writeTags(tags - name) }

  private def writeTags(t: Map[String, Long]): Unit = {
    if (t.isEmpty) { Files.deleteIfExists(tagsFile); () }
    else {
      val tmp = Paths.get(root, s"_TAGS.tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, t.toSeq.sortBy(_._1)
        .map { case (n, v) => s"$n=$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, tagsFile, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }
  }

  /** Replayed(batchId, streamId): the exactly-once guard. Checks the
    * CURRENT commit first (the overwhelmingly common replay shape — the
    * stream is this store's only writer), then falls back to a lineage
    * scan over the RETAINED log: if any other writer (batch append, SQL
    * DML, a second stream) committed between an epoch's apply and a crash,
    * the replayed epoch's lineage is no longer the latest commit, and the
    * latest-only check alone would re-apply it — clobbering the
    * interleaved writer's newer values when the ts guard is off. The scan
    * is O(retained log entries), one small JSON header each, no file-list
    * reconstruction. Entries vacuumed past log retention are gone, so in
    * multi-writer deployments keep vacuum's `keepLast` above the writers'
    * interleave depth (same contract as the streaming source's tail).
    */
  def replayed(batchId: Long, streamId: String): Boolean =
    current.exists { case (cur, curBatch, curStream) =>
      // same-lineage fast path decides BOTH ways: batchIds are monotonic
      // within a lineage, so when the current commit is this stream's and
      // sits below `batchId`, no older retained entry can sit at or above
      // it — the O(retained log) scan is reserved for the cross-writer
      // interleave case (another lineage holds _CURRENT), not paid on
      // every hot-path commit
      if (curStream == streamId) curBatch >= batchId
      else {
        val logDir = Paths.get(root, "_LOG")
        Files.isDirectory(logDir) && {
          val s = Files.list(logDir)
          val versions =
            try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName
              .toString.stripSuffix(".json")).flatMap(_.toLongOption)
            finally s.close()
          versions.filter(_ <= cur).exists(v => readLogNode(v).exists(n =>
            n.path("streamId").asText("default") == streamId &&
              n.path("batchId").asLong() >= batchId))
        }
      }
    }

  /** Change-data-feed capture is the table property `cdf=true`
    * (`_TBLPROPS`). When on, every merge/delete commit writes a per-version
    * change file — O(changed rows) extra I/O — that the CDF sources read
    * directly. Read per commit (one tiny file). Flipping it on starts
    * capture at the NEXT commit; earlier history is not reconstructed
    * (Delta's `enableChangeDataFeed` contract).
    */
  def cdfEnabled: Boolean = ManifestStore.readTableProps(root)
    .get("cdf").exists(_.equalsIgnoreCase("true"))

  def enableChangeFeed(): Unit = ManifestStore.writeTableProps(root,
    ManifestStore.readTableProps(root) + ("cdf" -> "true"))

  private def readLogNode(v: Long): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val p = Paths.get(root, "_LOG", v.toString + ".json")
    if (!Files.exists(p)) None else Some(mapper.readTree(Files.readString(p)))
  }

  // asText() on a numeric node yields its decimal form, so manifests
  // written by the long-only stats vintage read back unchanged
  private def parseFileEntry(f: com.fasterxml.jackson.databind.JsonNode): FileEntry = {
    val colsNode = Option(f.get("cols")).filterNot(_.isNull)
    val cols = colsNode.map { c =>
      c.fieldNames().asScala.map { fc =>
        fc -> (c.path(fc).path("min").asText(),
          c.path(fc).path("max").asText())
      }.toMap
    }.getOrElse(Map.empty[String, (String, String)])
    // "nulls" per column is a round-11 addition: absent = unknown (old
    // vintage), and readers must not treat unknown as zero
    val colNulls = colsNode.map { c =>
      c.fieldNames().asScala.flatMap { fc =>
        Option(c.path(fc).get("nulls")).filterNot(_.isNull)
          .map(n => fc -> n.asLong())
      }.toMap
    }.getOrElse(Map.empty[String, Long])
    val colBlooms = Option(f.get("colBlooms")).filterNot(_.isNull).map { cb =>
      cb.fieldNames().asScala.map(c => c -> cb.path(c).asText()).toMap
    }.getOrElse(Map.empty[String, String])
    // a file of null keys only records JSON null stats: keep them null,
    // not the string "null"
    def keyStat(field: String): String =
      Option(f.get(field)).filterNot(_.isNull).map(_.asText()).orNull
    FileEntry(f.path("name").asText(), keyStat("minKey"),
      keyStat("maxKey"), f.path("rows").asLong(),
      Option(f.get("dv")).filterNot(_.isNull).map(_.asText()),
      f.path("dvRows").asLong(0L), cols, f.path("bytes").asLong(0L),
      colNulls,
      Option(f.get("bucket")).filterNot(_.isNull).map(_.asInt()),
      Option(f.get("bloom")).filterNot(_.isNull).map(_.asText()),
      colBlooms,
      Option(f.get("kmv")).filterNot(_.isNull).map(_.asText()))
  }

  /** Reconstruct version `v`: a CHECKPOINT log entry carries the full file
    * list; a DELTA entry carries only the files added/removed vs `v-1` and
    * replays onto the parent (at most
    * [[ManifestStore.CheckpointInterval]] hops to a checkpoint). Entries
    * without a `type` field are pre-delta-log checkpoints.
    */
  /** Reconstruct version `v` with a process-wide LRU cache in front.
    * Manifests are IMMUTABLE per (root, version) — [[writeManifestAndSwap]]
    * never rewrites a log entry — so the cache is sound as long as the
    * entry still matches the log FILE's identity (size + mtime), checked
    * with one stat per hit: a vacuumed log entry or a deleted-and-
    * recreated root (tests, re-seeds) invalidates naturally. This is what
    * keeps planning cost at 100 TB sane: a 100k-file checkpoint is an
    * O(#files) JSON parse, and one query's scan build consults the
    * manifest several times (filter pushdown, aggregate probe, scan
    * construction) — with the cache those re-reads are a stat call each.
    * Delta-log reconstruction compounds the win: version v's entry parses
    * only its own O(changed) delta and takes the parent from cache.
    */
  def manifest(v: Long): Option[Manifest] = {
    val p = Paths.get(root, "_LOG", v.toString + ".json")
    val attrs =
      try Some(Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes]))
      catch { case _: Exception => None }
    attrs.flatMap { a =>
      val key = (rootKey, v)
      ManifestStore.manifestCacheGet(key, a.size, a.lastModifiedTime, a.fileKey)
        .orElse {
          val m = manifestUncached(v)
          m.foreach(mm => ManifestStore.manifestCachePut(key, a.size,
            a.lastModifiedTime, a.fileKey, mm))
          m
        }
    }
  }

  /** Canonical root for cache keys: "t" and "./t" must not alias apart. */
  private lazy val rootKey: String =
    Paths.get(root).toAbsolutePath.normalize.toString

  private def manifestUncached(v: Long): Option[Manifest] = readLogNode(v).flatMap { n =>
    val statsCols = Option(n.get("statsCols")).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val colMap = Option(n.get("colMap")).filterNot(_.isNull).map { cm =>
      cm.fieldNames().asScala.map(f => f -> cm.path(f).asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val droppedPhys = Option(n.get("droppedPhys")).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    def meta(files: Seq[FileEntry]) =
      Manifest(n.path("version").asLong(), n.path("batchId").asLong(),
        n.path("streamId").asText("default"), n.path("tsMillis").asLong(),
        n.path("schema").asText(), files, statsCols,
        n.path("keyField").asText(""),
        Option(n.get("cdc")).filterNot(_.isNull).map(_.asText()),
        n.path("cdcRows").asLong(0L), colMap, droppedPhys,
        Option(n.get("cdcMin")).filterNot(_.isNull).map(_.asText()),
        Option(n.get("cdcMax")).filterNot(_.isNull).map(_.asText()),
        Option(n.get("cdcCols")).filterNot(_.isNull).map { cc =>
          cc.fieldNames().asScala.map(f =>
            f -> (cc.path(f).path("min").asText(),
              cc.path(f).path("max").asText())).toMap
        }.getOrElse(Map.empty))
    if (n.path("type").asText("checkpoint") == "delta")
      manifest(v - 1).map { parent =>
        val removed = n.path("remove").elements().asScala.map(_.asText()).toSet
        val adds = n.path("add").elements().asScala.map(parseFileEntry).toSeq
        meta(parent.files.filterNot(f => removed(f.name)) ++ adds)
      }
    else
      Some(meta(n.path("files").elements().asScala.map(parseFileEntry).toSeq))
  }

  def currentManifest: Option[Manifest] =
    current.flatMap { case (v, _, _) => manifest(v) }

  /** The key column's type as the manifest records it — the single source
    * of truth the string-serialized stats are interpreted through.
    */
  private def keyTypeOf(m: Manifest): org.apache.spark.sql.types.DataType =
    StructType.fromDDL(m.schemaDDL)(keyField).dataType

  /** Stats require a type whose manifest serialization round-trips exactly
    * and whose ordering the pruning join can reproduce — every atomic type
    * a real table uses. Nested/binary columns fail FAST here instead of
    * silently mis-pruning (and duplicating keys) at merge time. `colName`
    * is the offending column — the key, or a `statsCols` zone-map column.
    * The type list is [[graft.spark.ClusteredStaging.statSupported]], the
    * task writer's own, so every admitted column folds while writing.
    */
  private def requireStatKeyType(colName: String,
                                 dt: org.apache.spark.sql.types.DataType): Unit =
    if (!graft.spark.ClusteredStaging.statSupported(dt))
      throw new IllegalArgumentException(
        s"ManifestStore stats column '$colName' has type ${dt.sql}, " +
          "which cannot carry per-file min/max stats; use an atomic type")

  /** Serialize a typed stat value to its manifest string. TimestampType
    * goes through EPOCH MICROS, not the string cast: `cast(ts as string)`
    * renders in `spark.sql.session.timeZone`, so a manifest written under
    * one session zone and pruned under another would mis-interpret min/max
    * — pruning could then miss a hit file and silently duplicate keys.
    * Float/double normalize -0.0 to 0.0 FIRST (`x + 0.0` is the identity
    * on every other value, NaN included): Spark's comparisons treat the
    * two zeros as equal, so a min/max stat or a Bloom build hashing
    * "-0.0" while an equality probe renders "0.0" would mis-prune a file
    * whose rows match. Every other atomic type's string cast is zone-free
    * and its own inverse.
    */
  private def statSerialize(c: Column,
                            dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(c).cast("string")
      case org.apache.spark.sql.types.FloatType =>
        (c + lit(0.0f)).cast("string")
      case org.apache.spark.sql.types.DoubleType =>
        (c + lit(0.0d)).cast("string")
      case _ => c.cast("string")
    }

  /** The deletion-vector side of the masked anti-join, broadcast ONLY
    * while the manifest-recorded total mask rows are batch-scale
    * ([[ManifestStore.DvBroadcastMaxRows]]); past the gate the join
    * strategy is AQE's call and an oversized mask set degrades to a
    * shuffled join instead of a driver OOM.
    */
  private def dvSide(dvs: Seq[String], totalDvRows: Long,
                     keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    val dvDf = readSidecars(dvs, keyType)
    val maxRows = spark.conf.getOption("spark.graft.manifest.dvBroadcastMaxRows")
      .map(_.toLong).getOrElse(ManifestStore.DvBroadcastMaxRows)
    if (totalDvRows <= maxRows) broadcast(dvDf) else dvDf
  }

  /** The deletion-vector sidecars named `dvs`, read through their schema
    * ([[ManifestStore.dvSchema]]) instead of inferring it from the part
    * footers — inference is a Spark job of its own on every read. Each
    * sidecar directory is listed on the driver
    * ([[ManifestStore.sidecarParts]]) and the scan is planned from those
    * parts ([[ParquetReadBridge.manifestScan]]): no Spark listing at any
    * sidecar count. A sidecar written under a narrower key type upcasts
    * like its data file.
    */
  private def readSidecars(dvs: Seq[String],
                           keyType: org.apache.spark.sql.types.DataType): DataFrame =
    ParquetReadBridge.manifestScan(spark, ManifestStore.dvSchema(keyType),
      dvs.flatMap(ManifestStore.sidecarParts(root, _)))

  /** The RAW rows of `entries`' data files (sidecars not applied) in one
    * scan planned from their recorded paths and sizes
    * ([[ParquetReadBridge.manifestScan]]): the manifest is the file
    * listing, so no read lists storage, whatever the file count. Data
    * files carry PHYSICAL column names; read through the physical schema
    * and surface logical names (identity when no mapping).
    */
  private def scanFiles(m: Manifest, entries: Seq[FileEntry]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDDL)
    val physSchema = ManifestStore.toPhysical(schema, m.colMap)
    val raw = ParquetReadBridge.manifestScan(spark, physSchema,
      entries.map(e => (s"$root/files/${e.name}", e.bytes)))
    if (m.colMap.isEmpty) raw
    // struct-to-struct cast is POSITIONAL: it renames nested leaves back
    // to their logical names in one expression (a no-op cast for
    // unmapped columns never reaches here)
    else raw.select(schema.fields.toSeq.zip(physSchema.fields).map {
      case (lf, pf) =>
        (if (lf.dataType == pf.dataType) col(s"`${pf.name}`")
         else col(s"`${pf.name}`").cast(lf.dataType)).as(lf.name)
    }: _*)
  }

  /** `data` — rows of `entries` tagged with their `_file` — minus every
    * (file, key) pair the sidecars of `entries` mask: ONE anti-join
    * against the union of the sidecars (broadcast while batch-scale — see
    * [[dvSide]]), matched per (file, key) — a key masked in file F may
    * legitimately live in a later upsert file, so the mask must never
    * apply globally.
    */
  private def subtractMasks(data: DataFrame, entries: Seq[FileEntry],
                            keyType: org.apache.spark.sql.types.DataType): DataFrame = {
    val dvDf = dvSide(entries.flatMap(_.dv), entries.map(_.dvRows).sum, keyType)
    data.join(dvDf, data("_file") === dvDf("_file") &&
      data(keyField) === dvDf("_key"), "left_anti")
  }

  /** The EFFECTIVE rows of `entries`: data files minus their deletion-
    * vector sidecars. Sidecar-less files stream straight through one
    * [[scanFiles]]; masked files pay [[subtractMasks]]' one anti-join.
    */
  private def readFiles(m: Manifest, entries: Seq[FileEntry]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDDL)
    if (entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val (masked, plain) = entries.partition(_.dv.isDefined)
      val plainDf = if (plain.isEmpty) None else Some(scanFiles(m, plain))
      val maskedDf = if (masked.isEmpty) None
        else Some(subtractMasks(scanFiles(m, masked).withColumn("_file", fileBasename),
          masked, schema(keyField).dataType).drop("_file"))
      (plainDf ++ maskedDf).reduce(_ unionByName _)
    }
  }

  /** basename of the physical file a row came from, for per-file sidecar
    * attribution (names are UUIDs — no URI-escaping ambiguity).
    */
  private def fileBasename =
    element_at(split(input_file_name(), "/"), -1)

  /** Full-table read. When any file carries a deletion-vector sidecar the
    * read routes through the `format("graft")` DSv2 connector, whose
    * partition readers subtract each file's OWN sidecar locally — measured
    * 4.5x faster than the anti-join below at the 60M-row table (STRESS.md,
    * round 9) and immune to table-wide mask totals by construction.
    * Pristine tables take [[readFiles]]' parquet scan, planned from the
    * manifest's recorded paths and sizes: no listing of storage, and
    * Spark's split packing rather than the connector's one input
    * partition per file. Subset reads ([[readWhere]], [[readHit]],
    * [[lookup]]) keep the anti-join: their masked sets are
    * pruned/batch-bounded, and the connector addresses whole versions.
    */
  def read(): Option[DataFrame] = currentManifest.map { m =>
    if (m.files.exists(_.dv.isDefined)) connectorRead(m.version)
    else readFiles(m, m.files)
  }

  /** The DSv2 path for a whole version; `key` passed explicitly so stores
    * created before the manifest recorded `keyField` still resolve masks.
    */
  private def connectorRead(version: Long): DataFrame =
    spark.read.format("graft")
      .option("key", keyField)
      .option("versionAsOf", version)
      .load(root)

  /** A file's recorded [min,max] for `colName`: the key column's stats are
    * always present; other columns only when the manifest tracks them
    * (`statsCols`). None = no stats = must be read (conservative).
    */
  private def colRange(m: Manifest, f: FileEntry,
                       colName: String): Option[(String, String)] =
    if (colName == keyField) Some((f.minKey, f.maxKey))
    else f.cols.get(m.phys(colName)) // stats are keyed by PHYSICAL name

  /** Data-skipping range read — Delta's zone-map file pruning, on the read
    * path: scan ONLY the files whose recorded [min,max] for `colName`
    * intersects [lo, hi], then apply the exact predicate. Works on the key
    * column of any store and on every `statsCols` column the initial
    * commit declared. The containment test is [[prunedFiles]]' driver
    * evaluation through the column's typed domain; files without
    * stats for the column are read conservatively. Returns the filtered
    * rows plus what was skipped — on a 100 TB table a selective range
    * touches a handful of files and the scan cost IS `rowsRead`, not the
    * table.
    */
  def readWhere(colName: String, lo: Any, hi: Any)
      : Option[(DataFrame, ManifestStore.SkipStats)] =
    currentManifest.map { m =>
      ManifestStore.leafType(StructType.fromDDL(m.schemaDDL), colName)
        .getOrElse(throw new IllegalArgumentException(
          s"readWhere column '$colName' does not resolve to an atomic leaf"))
      // the [lo, hi] intersection IS the (>= lo AND <= hi) conjunction —
      // delegate to [[prunedFiles]] (driver-side since r16, no local
      // job): files without stats for the column keep conservatively
      // there exactly as the old intersection pass kept them
      val toRead = prunedFiles(m,
        Seq((colName, ">=", lo), (colName, "<=", hi)))
      val df = readFiles(m, toRead)
        .filter(col(colName) >= lit(lo) && col(colName) <= lit(hi))
      (df, ManifestStore.SkipStats(m.files.size, toRead.size,
        m.files.size - toRead.size, toRead.map(_.liveRows).sum))
    }

  /** Above this, an IN prunes by its RANGE ENVELOPE [min(vs), max(vs)]
    * instead of exact membership: the per-file check stays O(1) however
    * many join keys a runtime filter hands over, at the cost of keeping
    * files that sit inside the envelope's gaps (conservative, never
    * wrong; phase 3 of [[prunedFiles]] restores the Bloom cut). Below it,
    * each value's range and Bloom test runs per file.
    */
  private val InPruneMaxValues = 10000

  /** [[ndvStats]] merges one tiny sidecar per planned file; past this
    * width the scan is table-scale (row counts already size it) and the
    * sidecar I/O would dominate planning.
    */
  private val NdvStatsMaxFiles = 8192

  /** The oversized-IN Bloom fold's total WORK budget (phase 3 of
    * [[prunedFiles]]): one unit per per-value probe AND per cache-cold
    * sidecar byte loaded (both ~ns-scale driver work) — ~20M is a few
    * hundred driver milliseconds; past it the remaining files keep
    * conservatively on their phase-1 range verdict instead of stalling
    * planning on either probing OR cold sidecar I/O.
    * `-Dgraft.inprobe.budget` is a test seam (specs pin the spent-budget
    * semantics without a 20M-unit fixture); junk falls back.
    */
  private def InProbeBudget: Long =
    sys.props.get("graft.inprobe.budget").flatMap(_.toLongOption)
      .getOrElse(20000000L)

  /** Driver-side zone-map pruning for the DSv2 connector's pushed-down
    * predicates: the files of `m` that can hold a row satisfying ALL of
    * `preds` — (column, op, value) triples with op one of > >= < <= = in
    * (for "in", value is the Seq of sought values — the shape a runtime
    * join-key filter arrives in). Columns without per-file stats (neither
    * the key nor a `statsCols` zone-map column) never prune; a file
    * lacking a usable stat for a statted column survives conservatively,
    * and a value the column's domain cannot take keeps every file for its
    * predicate. The containment test runs on the driver through each
    * column's typed domain ([[ManifestStore.pruneDomain]]) — O(#files)
    * metadata work, no Spark job.
    */
  private[graft] def prunedFiles(m: Manifest,
                                 preds0: Seq[(String, String, Any)])
      : Seq[FileEntry] = {
    import org.apache.spark.sql.types.StringType
    val schema = StructType.fromDDL(m.schemaDDL)
    // decimal probes land on the column's scale grid FIRST (see
    // [[ManifestStore.canonDecimalPreds]]), so off-grid probes prune
    // exactly instead of rounding
    val preds = ManifestStore.canonDecimalPreds(schema, preds0)
    // NULL-predicate pruning from the recorded per-file null counts —
    // pure driver-side metadata, no job: `c IS NULL` drops files whose
    // recorded null count for c is ZERO; `c IS NOT NULL` drops files
    // where every RAW row is null (masked rows only shrink the live set,
    // so both directions stay conservative under deletion vectors).
    // Unknown counts (pre-r11 vintage, untracked column) never prune.
    def leafDt(c: String): Option[org.apache.spark.sql.types.DataType] =
      ManifestStore.leafType(schema, c)
    val nullPreds = preds.filter { case (c, op, _) =>
      (op == "isnull" || op == "notnull") && m.statsCols.contains(c) &&
        leafDt(c).isDefined
    }
    val nullPruned: Seq[FileEntry] =
      if (nullPreds.isEmpty) m.files
      else m.files.filter(f => nullPreds.forall { case (c, op, _) =>
        (op, f.colNulls.get(m.phys(c))) match {
          case ("isnull", Some(0L))                   => false
          case ("notnull", Some(n)) if n >= f.rows    => false
          case _                                      => true
        }
      })
    // ---- predicate tree: a pred is either a LEAF triple (col, op, value)
    // or an OR node ("", "or", Seq[branch]) where each branch is itself a
    // Seq of preds forming a conjunction ([[graft.spark.GraftScan.conjuncts]]'
    // Or translation; nesting is arbitrary). A branch's conjunct list is
    // an OVER-approximation of the branch (lossy leaves dropped), so the
    // union of branch file sets over-approximates the disjunction — sound.
    def orBranches(v: Any): Seq[Seq[(String, String, Any)]] =
      v.asInstanceOf[Seq[Seq[(String, String, Any)]]]
    def leafCanPrune(c: String, op: String, v: Any): Boolean =
      (c == keyField || m.statsCols.contains(c)) &&
        leafDt(c).isDefined && (op match {
          case "alwaysfalse" => true // canonDecimalPreds: no row can match
          case ">" | ">=" | "<" | "<=" | "=" | "!=" => true
          case "startswith" =>
            leafDt(c).contains(StringType) && v.isInstanceOf[String]
          case "in" => v match {
            case vs: Seq[_] => vs.nonEmpty
            case _ => false
          }
          case _ => false
        })
    def canPrune(p: (String, String, Any)): Boolean = p match {
      case (_, "or", bs) =>
        // an OR prunes only if EVERY branch can reject files on its own
        // (a branch with no stats-decidable leaf admits all files, which
        // makes the whole disjunction admit all files)
        orBranches(bs).forall(_.exists(canPrune))
      case (c, op, v) => leafCanPrune(c, op, v)
    }
    val statted = preds.filter(canPrune)
    if (statted.isEmpty || nullPruned.isEmpty) return nullPruned
    val tz = sessionTimeZone
    // ---- PHASES 1+2 (driver-side, no Spark job): the conjunction —
    // ranges, prefix windows, IN membership AND Bloom probes — evaluated
    // over the driver-held stat strings through each column's typed
    // domain ([[ManifestStore.pruneDomain]]: the inverse of statSerialize,
    // Spark's own orderings). Three-valued logic mirrors SQL: None is
    // NULL, and a null conjunction DROPS a file like a WHERE does. A file
    // without a usable stat (missing, all-null or unparseable) keeps,
    // except a file of null keys only ([[ManifestStore.keyRange]]); a
    // value the domain cannot take ([[ManifestStore.probeValue]] None)
    // makes its leaf keep every file. Every pruning surface (scan
    // planning, feed planning, the skip-ahead mask, merge/delete
    // candidate derivation) funnels through here.
    // Bloom sidecars load LAZILY per file after its range test passes,
    // so loads are bounded by the files a scan would otherwise read,
    // never the table (a point lookup on a 100k-file clustered table
    // loads ~1 blob, not 100k). For IN lists the per-value (range AND
    // bloom) coupling holds jointly, so a file can't survive on one
    // value's range and another's bloom. False positives read a file;
    // false negatives are impossible (the build covers every key the
    // file ever held), so pruning stays sound. Oversized IN lists prune
    // by range alone here; phase 3 restores their Bloom cut.
    // 3VL conjunction: any false -> false, else any null -> null, else
    // true.
    def andAll(fns: Seq[FileEntry => Option[Boolean]],
               f: FileEntry): Option[Boolean] = {
      var sawNull = false
      val it = fns.iterator
      while (it.hasNext) it.next()(f) match {
        case Some(false) => return Some(false)
        case None        => sawNull = true
        case _           =>
      }
      if (sawNull) None else Some(true)
    }
    def or3(parts: Seq[FileEntry => Option[Boolean]], f: FileEntry)
        : Option[Boolean] = {
      var sawNull = false
      val it = parts.iterator
      while (it.hasNext) it.next()(f) match {
        case Some(true) => return Some(true)
        case None       => sawNull = true
        case _          =>
      }
      if (sawNull) None else Some(false)
    }
    val keep: Option[Boolean] = Some(true)
    val keepAll: FileEntry => Option[Boolean] = _ => keep
    def compileLeaf(c: String, op: String, v: Any)
        : FileEntry => Option[Boolean] = {
      if (op == "alwaysfalse") // constant-false leaf, stats irrelevant
        return _ => Some(false)
      val dt = leafDt(c).get
      val dom = ManifestStore.pruneDomain(dt).getOrElse(return keepAll)
      val phys = m.phys(c)
      val mayBlob =
        if (c == keyField) nullPruned.exists(_.bloom.isDefined)
        else nullPruned.exists(_.colBlooms.contains(phys))
      // `test` on the file's parsed (min, max). A file without a usable
      // stat keeps, but key stats follow keyRange: a null-key-only file
      // holds no comparison
      def ranged(f: FileEntry)(test: (Any, Any) => Option[Boolean])
          : Option[Boolean] = {
        val r =
          if (c == keyField)
            ManifestStore.keyRange(f, dom).left.map(Option(_))
          else colRange(m, f, c) match {
            case Some((mnS, mxS)) if mnS != null && mxS != null =>
              scala.util.Try((dom.parse(mnS), dom.parse(mxS))).toOption
                .toRight(keep)
            case _ => Left(keep)
          }
        r.fold(identity, { case (mn, mx) => test(mn, mx) })
      }
      def value(x: Any) = ManifestStore.probeValue(dom, dt, x, tz)
      def blobOf(f: FileEntry): Option[Array[Byte]] =
        (if (c == keyField) f.bloom else f.colBlooms.get(phys))
          .flatMap(loadBloomSidecar)
      // a stat against a value operand; a null operand is SQL NULL
      def lt3(a: Any, x: Option[Any]) = x.map(dom.ord.lt(a, _))
      def le3(a: Any, x: Option[Any]) = x.map(dom.ord.lteq(a, _))
      def gt3(a: Any, x: Option[Any]) = x.map(dom.ord.gt(a, _))
      def ge3(a: Any, x: Option[Any]) = x.map(dom.ord.gteq(a, _))
      // probe hashes precomputed ONCE per value (not per file); None = no
      // Bloom test (no sidecar, null operand, or a rendering that can't be
      // guaranteed byte-identical)
      def hashesFor(x: Option[Any]): Option[Seq[(Long, Long)]] =
        if (!mayBlob) None
        else x.flatMap(ManifestStore.bloomHashes(dom, dt, _))
      // range AND Bloom for one sought value
      def holds(f: FileEntry, mn: Any, mx: Any, x: Option[Any],
                hs: Option[Seq[(Long, Long)]]): Option[Boolean] =
        ManifestStore.keyHolds(dom.ord, mn, mx, x, hs, blobOf(f))
      op match {
        case ">" | ">=" | "<" | "<=" => value(v).fold(keepAll) { x =>
          (f: FileEntry) => ranged(f) { (mn, mx) =>
            op match {
              case ">"  => gt3(mx, x)
              case ">=" => ge3(mx, x)
              case "<"  => lt3(mn, x)
              case _    => le3(mn, x)
            }
          }
        }
        case "=" => value(v).fold(keepAll) { x =>
          val hs = hashesFor(x)
          (f: FileEntry) => ranged(f)(holds(f, _, _, x, hs))
        }
        case "!=" =>
          // only a SINGLE-VALUE file at exactly v prunes — its non-null
          // rows are all v and its null rows fail `!= v` too. On
          // partition/bucket-pure layouts this is `part != 'x'` skipping
          // the x-partition wholesale; under stats.truncate min == max
          // still implies exactness. A null operand prunes nothing.
          value(v).flatten.fold(keepAll) { x =>
            (f: FileEntry) => ranged(f) { (mn, mx) =>
              Some(!(dom.ord.equiv(mn, x) && dom.ord.equiv(mx, x)))
            }
          }
        case "startswith" =>
          // prefix range [p, succ(p)): a file can hold a p-prefixed string
          // iff its [min,max] intersects it. String stats compare as
          // UTF8String binary = code-point order — the order succ()
          // increments in; truncated stats only WIDEN the range.
          val p = v.asInstanceOf[String]
          dom.convert(p).fold(keepAll) { pv =>
            ManifestStore.prefixSuccessor(p).flatMap(dom.convert) match {
              case Some(uv) =>
                (f: FileEntry) => ranged(f) { (mn, mx) =>
                  Some(dom.ord.gteq(mx, pv) && dom.ord.lt(mn, uv))
                }
              case None => // all-max prefix: no upper bound
                (f: FileEntry) =>
                  ranged(f)((_, mx) => Some(dom.ord.gteq(mx, pv)))
            }
          }
        case "in" =>
          val conv = v.asInstanceOf[Seq[Any]].map(value)
          if (conv.exists(_.isEmpty)) keepAll
          else if (conv.size <= InPruneMaxValues) {
            val pairs = conv.map(x => (x.get, hashesFor(x.get)))
            (f: FileEntry) => ranged(f) { (mn, mx) =>
              // exists() 3VL: any true -> true, else any null -> null,
              // else false
              var sawNull = false
              var hit = false
              val it = pairs.iterator
              while (!hit && it.hasNext) {
                val (x, h) = it.next()
                holds(f, mn, mx, x, h) match {
                  case Some(true) => hit = true
                  case None       => sawNull = true
                  case _          =>
                }
              }
              if (hit) Some(true) else if (sawNull) None else Some(false)
            }
          } else {
            // oversized: the range test alone (phase 3 runs the Bloom
            // cut), exact at any key count — each file's min is binary-
            // searched in the non-null values, sorted once, and the file
            // holds one iff the next value up is <= its max
            val xs = conv.flatMap(_.get).toIndexedSeq.sorted(dom.ord)
            val sawNull = xs.size < conv.size
            (f: FileEntry) => ranged(f) { (mn, mx) =>
              val i = xs.search(mn)(dom.ord).insertionPoint
              if (i < xs.size && dom.ord.lteq(xs(i), mx)) Some(true)
              else if (sawNull) None else Some(false)
            }
          }
        case _ => keepAll
      }
    }
    // OR nodes recurse: a file survives the node iff it survives ANY
    // branch's decidable conjuncts (`=` leaves inside OR branches
    // Bloom-probe too); a branch without one admits every file.
    def compile(p: (String, String, Any)): FileEntry => Option[Boolean] =
      p match {
        case (_, "or", bs) =>
          val branches = orBranches(bs).map { b =>
            val fns = b.filter(canPrune).map(compile)
            (f: FileEntry) => andAll(fns, f)
          }
          (f: FileEntry) => or3(branches, f)
        case (c, op, v) => compileLeaf(c, op, v)
      }
    val conds = statted.map(compile)
    val bloomed = nullPruned.filter(f => andAll(conds, f).contains(true))
    // PHASE 3 (driver-side): IN lists past InPruneMaxValues pruned by
    // range alone above — exactly the DPP / runtime-filter case the
    // sidecars were built for (on a hash-clustered/bucketed table a
    // range test admits almost any join-key set). Probe each
    // surviving file's blob against the full key set directly:
    // double-hashes precomputed once per value, so the cost is
    // O(survivors x values x numHashes) byte reads, bounded by the
    // phase-1/2 survivors, never the table. Top-level conjuncts only —
    // inside an OR one branch's Bloom miss can't veto a file.
    val oversized = statted.collect {
      case (c, "in", vs: Seq[_]) if vs.size > InPruneMaxValues => (c, vs)
    }
    if (oversized.isEmpty || bloomed.isEmpty) bloomed
    else {
      // driver-bill cap: the worst case (a file holding NONE of the keys)
      // pays O(keys x numHashes) bit reads before it can be dropped, and
      // the fold's total is O(survivors x keys x hashes) single-threaded
      // — a 100k-key DPP filter over a 1k-file scan would otherwise stall
      // planning for seconds. One shared budget of per-value probes
      // across the WHOLE fold; once spent, the remaining files keep
      // conservatively (their range test already held — skipping the
      // probe loses pruning, never answers). A containing file exits on
      // its FIRST hit, so budget burns fastest exactly where files don't
      // contain the keys — the case worth capping. CACHE-COLD I/O bills
      // the SAME budget (r15): each sidecar LOAD charges its byte size (1
      // byte = 1 probe unit — both ~ns-scale work; cache hits charge 0),
      // so a cold pathological fold degrades to range-envelope keeps
      // after ~InProbeBudget bytes of sidecar reads. A cache-miss load
      // BIGGER than the remaining budget is refused up front (one file
      // stat, r16). Conservative keeps only — never a false negative.
      var budget = InProbeBudget
      oversized.foldLeft(bloomed) { case (files, (c, vs)) =>
        def blobOf(f: FileEntry): Option[String] =
          if (c == keyField) f.bloom else f.colBlooms.get(m.phys(c))
        if (budget <= 0L || !files.exists(blobOf(_).isDefined)) files
        else inProbes(vs, leafDt(c).get, tz) match {
          // a value without a guaranteed probe, or zero probes (an
          // all-null list): the residual filter owns the semantics
          case None => files
          case Some(probes) if probes.isEmpty => files
          case Some(probes) => files.filter { f =>
            if (budget <= 0L) true // spent: keep, range test held
            else blobOf(f) match {
              case None => true // blob-less file never Bloom-skips
              case Some(name) =>
                val (blob, readBytes) = ManifestStore.loadBloomBilledCapped(
                  rootKey, java.nio.file.Paths.get(root, "files"), name,
                  maxBytes = budget)
                budget -= readBytes
                blob match {
                  case Some(blob) =>
                    var i = 0
                    var hit = false
                    while (i < probes.length && !hit && budget > 0L) {
                      val (h1, h2) = probes(i)
                      hit = graft.functions.BloomSketch
                        .containsBlobHashed(blob, h1, h2)
                      budget -= 1L
                      i += 1
                    }
                    // an undecided file (budget died mid-probe, or the
                    // load itself spent it) keeps
                    hit || (i < probes.length && !hit)
                  case None => true
                }
            }
          }
        }
      }
    }
  }

  /** Merged KMV NDV per LOGICAL column over `files` — the scan-level
    * distinct-count estimates the DSv2 `columnStats()` reports to Spark's
    * CBO (when `files` is a pruned subset, the NDV is of exactly what the
    * scan emits). None when any file lacks a sketch sidecar (pre-KMV
    * vintage, vacuumed early): an estimate from a partial union
    * UNDERCOUNTS, and a silently-low NDV makes the optimizer size joins
    * wrong — no stat beats a wrong stat. Deletion vectors only shrink the
    * live set, so a sketch over raw rows can only OVERestimate live NDV
    * (the conservative direction for join sizing). O(#files) sidecar
    * loads through the process-wide blob LRU, capped at
    * [[ManifestStore.NdvStatsMaxFiles]] planned files — past that the
    * scan is table-scale and row counts already size it.
    */
  private[graft] def ndvStats(m: Manifest, files: Seq[FileEntry])
      : Option[Map[String, (Long, Long)]] = {
    if (files.size > NdvStatsMaxFiles) return None
    if (files.isEmpty) return Some(Map.empty)
    val blobs = files.map(f => f.kmv.flatMap(loadBloomSidecar))
    if (blobs.exists(_.isEmpty)) return None
    val perFile: Seq[Map[String, Array[Byte]]] = blobs.map { b =>
      try graft.functions.KmvSketch.decodeMulti(b.get)
      catch { case _: Exception => return None }
    }
    val logical = (keyField +: m.statsCols).distinct
      .filter(c => c.nonEmpty && perFile.forall(_.contains(m.phys(c))))
    Some(logical.map(c => c -> graft.functions.KmvSketch.estimateNdvBlobs(
      perFile.map(_(m.phys(c))))).toMap)
  }

  /** Per-FILE KMV sketch blobs per LOGICAL column over `files` — the
    * input the histogram's per-bin NDV needs: a bin's distinct count is
    * the KMV UNION of exactly the files overlapping it (union dedupes
    * values shared across files; summing per-file NDVs would not),
    * scaled by span overlap. Same abstention contract and
    * [[NdvStatsMaxFiles]] cap as [[ndvStats]]; blobs ride the same
    * process-wide LRU, so a planning pass that computed table NDV pays
    * no second I/O here.
    */
  private[graft] def perFileKmv(m: Manifest, files: Seq[FileEntry])
      : Option[Seq[Map[String, Array[Byte]]]] = {
    if (files.size > NdvStatsMaxFiles) return None
    if (files.isEmpty) return Some(Nil)
    val blobs = files.map(f => f.kmv.flatMap(loadBloomSidecar))
    if (blobs.exists(_.isEmpty)) return None
    val perFile: Seq[Map[String, Array[Byte]]] = blobs.map { b =>
      try graft.functions.KmvSketch.decodeMulti(b.get)
      catch { case _: Exception => return None }
    }
    val logical = (keyField +: m.statsCols).distinct.filter(_.nonEmpty)
    Some(perFile.map { fm =>
      logical.flatMap(c => fm.get(m.phys(c)).map(c -> _)).toMap
    })
  }

  /** An IN list's Bloom probes, as precomputed double-hash pairs: each
    * value in its column's domain ([[ManifestStore.probeValue]]), rendered
    * by `dom.render` — byte-identical to the stat serialization the
    * sidecars hashed. NULL values, given or cast, never IN-match and probe
    * nothing; a zero-valued float/double also probes the pre-r17 "-0.0"
    * rendering (see legacyZeroRender). None when some value has no domain
    * value or no guaranteed rendering: the caller keeps every file.
    */
  private def inProbes(vs: Seq[Any], dt: org.apache.spark.sql.types.DataType,
                       tz: String): Option[Array[(Long, Long)]] = {
    val dom = ManifestStore.pruneDomain(dt).getOrElse(return None)
    def hash(s: String) = graft.functions.BloomSketch.probeHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    val out = Array.newBuilder[(Long, Long)]
    var legacyZero = false
    val it = vs.iterator
    while (it.hasNext) ManifestStore.probeValue(dom, dt, it.next(), tz) match {
      case None          => return None
      case Some(None)    => ()
      case Some(Some(x)) =>
        out += hash(dom.render(x).getOrElse(return None))
        legacyZero ||= ManifestStore.legacyZeroRender(dt, x).isDefined
    }
    if (legacyZero) out += hash("-0.0")
    Some(out.result())
  }

  /** The session time zone, in which a probe value's cast evaluates
    * ([[ManifestStore.probeValue]]).
    */
  private def sessionTimeZone: String =
    spark.conf.get("spark.sql.session.timeZone")

  /** Answer simple aggregates (COUNT(*) / COUNT(col) / MIN(col) /
    * MAX(col)) from manifest METADATA alone — Delta/Iceberg's
    * stats-answered aggregate pushdown. The manifest already records
    * per-file row counts, deletion-vector counts, per-column min/max and
    * (since round 11) per-column null counts, so these queries cost
    * O(#files) driver metadata with ZERO file scans — at 100 TB the
    * difference between milliseconds and a full-table pass.
    *
    * Soundness is all-or-nothing: returns None unless EVERY aggregate is
    * EXACTLY answerable. The rules:
    *
    *   - predicates (`preds`, same conjunct triples as [[prunedFiles]],
    *     plus `notnull`) must be DECIDED at file granularity: every
    *     surviving file's [min,max] must put ALL its rows inside the
    *     predicate (a partition-pure file under `p = v`, or a key-range
    *     file wholly inside a BETWEEN), and the file must be null-free
    *     for each predicate column (min/max ignore nulls, so range
    *     containment alone says nothing about null rows — the round-11
    *     `colNulls` stat closes exactly this hole);
    *   - COUNT(*) = Σ liveRows (deletion vectors subtract exactly);
    *   - COUNT(col) additionally needs the null count recorded for every
    *     surviving file, and NO deletion vectors on them (a masked row's
    *     null-ness is not recorded);
    *   - MIN/MAX(col) need per-file stats for the column on every
    *     surviving file and NO deletion vectors (a masked row might BE
    *     the recorded extreme); all-null files are excluded (SQL min/max
    *     ignore nulls).
    *
    * Values return in Scala form (the caller converts to its row format);
    * min/max fold on the driver through the column's typed domain
    * ([[ManifestStore.pruneDomain]]) — no Spark job, and a stat that will
    * not parse gives no answer.
    */
  /** The null count of `c` in `f`, treating the key as never-null (it is
    * the row identity; [[graft.cdc.Changelog.dedupLatest]] drops null-key
    * events before a store sees them). None = unknown (old vintage).
    */
  private def nullsOf(m: Manifest, f: FileEntry, c: String): Option[Long] =
    if (c == keyField) Some(0L)
    else f.colNulls.get(m.phys(c))

  /** The files `preds` selects, WHEN the predicate is exactly decidable at
    * file granularity — Some(survivors) iff every surviving file (a) has
    * its whole [min,max] inside every range/equality/IN conjunct, so ALL
    * its rows satisfy the conjunction, and (b) is recorded null-free for
    * every predicate column (min/max ignore nulls, so containment alone
    * says nothing about null rows — which no SQL predicate matches).
    * Under that proof a whole-file scan of the survivors IS the filtered
    * result: the scan builder consumes such filters with no residual, and
    * stats-answered aggregates ([[aggFromStats]]) push through them.
    * None = not provable (unknown null counts, partial file coverage,
    * unstatted column, a value the column's domain cannot take) — callers
    * fall back to conservative pruning plus residual re-evaluation, never
    * to a wrong answer. Driver-side O(#files) metadata work through the
    * same typed domains as [[prunedFiles]], no Spark job.
    */
  private[graft] def exactlyDecidedFiles(m: Manifest,
                                         preds1: Seq[(String, String, Any)])
      : Option[Seq[FileEntry]] = {
    if (preds1.isEmpty) return Some(m.files)
    val schema = StructType.fromDDL(m.schemaDDL)
    // the same grid canonicalization as [[prunedFiles]] (idempotent — the
    // nested prunedFiles call re-applies it): an off-grid decimal probe
    // becomes exactly decidable (`>= 1.225` IS `>= 1.23` on the grid); a
    // canonical `alwaysfalse` fails the op allowlist below and the caller
    // runs the real scan (rare, correct — the scan returns zero rows)
    val preds = ManifestStore.canonDecimalPreds(schema, preds1)
    // every predicate must be on a statted column with a recognized op
    val predsOk = preds.forall { case (c, op, v) =>
      (c == keyField || m.statsCols.contains(c)) &&
        ManifestStore.leafType(schema, c).isDefined && (op match {
          case ">" | ">=" | "<" | "<=" | "=" | "!=" => true
          case "in" => v match {
            case vs: Seq[_] => vs.nonEmpty && vs.size <= InPruneMaxValues
            case _ => false
          }
          case "startswith" => v.isInstanceOf[String] &&
            ManifestStore.leafType(schema, c)
              .contains(org.apache.spark.sql.types.StringType)
          case "notnull" => true
          case _ => false
        })
    }
    if (!predsOk) return None
    val pruning = preds.filterNot(_._2 == "notnull")
    val candidates = if (pruning.isEmpty) m.files else prunedFiles(m, pruning)
    val predCols = preds.map(_._1).distinct
    val tz = sessionTimeZone
    // the all-rows-satisfy check per conjunct: a file is exact iff it
    // holds; None = a value the column's domain cannot take — not exact
    def exactTest(c: String, op: String, v: Any): Option[FileEntry => Boolean] = {
      val dt = ManifestStore.leafType(schema, c).get
      val dom = ManifestStore.pruneDomain(dt).getOrElse(return None)
      // per-side operands: None = missing stat / null / unparseable
      def stat2(f: FileEntry): (Option[Any], Option[Any]) =
        colRange(m, f, c) match {
          case None => (None, None)
          case Some((mnS, mxS)) =>
            (Option(mnS).flatMap(s => scala.util.Try(dom.parse(s)).toOption),
              Option(mxS).flatMap(s => scala.util.Try(dom.parse(s)).toOption))
        }
      op match {
        case ">" | ">=" | "<" | "<=" | "=" | "!=" =>
          ManifestStore.probeValue(dom, dt, v, tz).map {
            case None => (_: FileEntry) => false // a NULL operand never holds
            case Some(x) => (f: FileEntry) =>
              val (mn, mx) = stat2(f)
              op match {
                case ">"  => mn.exists(dom.ord.gt(_, x))
                case ">=" => mn.exists(dom.ord.gteq(_, x))
                case "<"  => mx.exists(dom.ord.lt(_, x))
                case "<=" => mx.exists(dom.ord.lteq(_, x))
                case "="  => mn.exists(dom.ord.equiv(_, x)) &&
                  mx.exists(dom.ord.equiv(_, x))
                // all rows provably differ from v iff the file's range
                // excludes v (nulls are excluded by the zero-null rule)
                case _ => mx.exists(dom.ord.lt(_, x)) ||
                  mn.exists(dom.ord.gt(_, x))
              }
          }
        case "in" =>
          val conv = v.asInstanceOf[Seq[Any]]
            .map(ManifestStore.probeValue(dom, dt, _, tz))
          if (conv.exists(_.isEmpty)) None
          else {
            val xs = conv.flatMap(_.get) // a NULL value never matches
            Some { (f: FileEntry) =>
              val (mn, mx) = stat2(f)
              mn.isDefined && mx.isDefined && dom.ord.equiv(mn.get, mx.get) &&
                xs.exists(dom.ord.equiv(mn.get, _))
            }
          }
        case "startswith" =>
          // min and max sharing the prefix pins EVERY row between them to
          // it (bytewise UTF8 order fixes the first |p| bytes) — sound
          // under stats.truncate too: widened bounds still BRACKET the
          // rows, so a shared prefix on the bounds is one on the data
          val p = org.apache.spark.unsafe.types.UTF8String
            .fromString(v.asInstanceOf[String])
          def prefixed(x: Option[Any]) = x.exists(
            _.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].startsWith(p))
          Some { (f: FileEntry) =>
            val (mn, mx) = stat2(f)
            prefixed(mn) && prefixed(mx)
          }
        case _ => None
      }
    }
    val exact =
      candidates.forall(f =>
        predCols.forall(c => nullsOf(m, f, c).contains(0L))) &&
        (candidates.isEmpty || pruning.isEmpty || {
          val tests = pruning.map { case (c, op, v) => exactTest(c, op, v) }
          tests.forall(_.isDefined) &&
            candidates.forall(f => tests.forall(_.get(f)))
        })
    if (exact) Some(candidates) else None
  }

  private[graft] def aggFromStats(m: Manifest,
                                  preds: Seq[(String, String, Any)],
                                  aggs: Seq[ManifestStore.StatAgg])
      : Option[Seq[Any]] = {
    import ManifestStore.StatAgg
    if (aggs.isEmpty) return None
    val schema = StructType.fromDDL(m.schemaDDL)
    val candidates = exactlyDecidedFiles(m, preds) match {
      case Some(cs) => cs
      case None     => return None
    }
    // a `stats.truncate` table turns string zone-map stats into WIDENED
    // bounds — fine for pruning (over-keeps), fatal for MIN/MAX answers
    // (the bound is not a value the column holds); the key's stats stay
    // exact, so only non-key string columns lose the pushdown
    lazy val truncOn = ManifestStore.statsTruncate(
      ManifestStore.readTableProps(root)).isDefined
    def minMax(c: String, isMin: Boolean): Option[Any] = {
      if (!(c == keyField || m.statsCols.contains(c)) ||
          !schema.fieldNames.contains(c)) return None
      if (c != keyField && truncOn &&
          schema(c).dataType == org.apache.spark.sql.types.StringType)
        return None
      if (candidates.exists(_.dv.isDefined)) return None
      if (!candidates.forall(f => colRange(m, f, c).isDefined &&
          nullsOf(m, f, c).isDefined)) return None
      // all-null files contribute nothing (their serialized stats are the
      // JSON round-trip of null — excluded by null count, never compared)
      val contributing = candidates.filter(f => nullsOf(m, f, c).get < f.rows)
      val strs = contributing.flatMap(f =>
        colRange(m, f, c).map(r => if (isMin) r._1 else r._2))
      if (strs.isEmpty) Some(null)
      else {
        val dt = schema(c).dataType
        // pick the extreme stat string in the column's own ordering and
        // convert through Spark's own external-value conversions
        // ([[ManifestStore.statToExternal]]); a stat that will not parse
        // gives no answer
        scala.util.Try {
          for {
            dom <- ManifestStore.pruneDomain(dt)
            toExt <- ManifestStore.statToExternal(dt)
          } yield {
            val parsed = strs.map(s => (dom.parse(s), s))
            toExt((if (isMin) parsed.minBy(_._1)(dom.ord)
                   else parsed.maxBy(_._1)(dom.ord))._2)
          }
        }.toOption.flatten
      }
    }
    val values: Seq[Option[Any]] = aggs.map {
      case StatAgg.CountStar => Some(candidates.map(_.liveRows).sum)
      case StatAgg.CountCol(c) =>
        if (!schema.fieldNames.contains(c)) None
        else if (candidates.exists(_.dv.isDefined)) None
        else {
          val nulls = candidates.map(f => nullsOf(m, f, c))
          if (nulls.exists(_.isEmpty)) None
          else Some(candidates.map(_.rows).sum - nulls.flatten.sum)
        }
      case StatAgg.MinCol(c) => minMax(c, isMin = true)
      case StatAgg.MaxCol(c) => minMax(c, isMin = false)
    }
    if (values.exists(_.isEmpty)) None else Some(values.flatten)
  }

  /** [[aggFromStats]]' GROUP BY sibling: `SELECT g1, g2, agg... GROUP BY
    * g1, g2` answered from manifest metadata alone, when every
    * exactly-decided candidate file is GROUP-PURE in every group column —
    * recorded min == max AND zero nulls (min/max ignore nulls, so the
    * null count is load-bearing), so each file belongs to exactly one
    * group. Partition-identity and bucket-pure layouts produce exactly
    * such files, which makes `SELECT pcol, count(*) ... GROUP BY pcol` on
    * a partitioned table an O(#files) metadata answer — Delta answers the
    * same shape from its add-file stats. Per-aggregate answerability
    * mirrors the ungrouped path (count(*) absorbs DV masks via liveRows;
    * count(col)/min/max need unmasked files with recorded stats). The
    * whole evaluation is one driver pass over the O(#files) stats: group
    * keys parse through their column's typed domain, mins/maxes combine
    * with all-null files excluded by their null count. Returns
    * rows shaped `groupCols ++ aggs` (Spark's complete-pushdown contract);
    * None = not provable, callers run the real scan.
    */
  private[graft] def aggFromStatsGrouped(m: Manifest,
                                         preds: Seq[(String, String, Any)],
                                         groupCols: Seq[String],
                                         aggs: Seq[ManifestStore.StatAgg])
      : Option[Seq[Seq[Any]]] = {
    import ManifestStore.StatAgg
    if (groupCols.isEmpty || aggs.isEmpty) return None
    val schema = StructType.fromDDL(m.schemaDDL)
    // Fully-masked files (liveRows == 0 — every row deleted by a DV, kept
    // by the merge-on-read commit paths) contribute no rows to ANY group:
    // a real GROUP BY scan never emits their group, so they must not seed
    // a phantom `(g, cnt=0)` row here. Drop them before purity/answerable
    // checks — a dead file's stats should neither veto nor answer.
    val candidates = exactlyDecidedFiles(m, preds) match {
      case Some(cs) => cs.filter(_.liveRows > 0L)
      case None     => return None
    }
    def statted(c: String): Boolean = c == keyField || m.statsCols.contains(c)
    // group PURITY stays sound under `stats.truncate` with no gate: a
    // widened file's min is strictly below and its max strictly above the
    // real bounds ([[ManifestStore.truncMax]]), so min == max still
    // implies the stats are exact — but a string MIN/MAX AGGREGATE would
    // combine widened bounds into a value the column never held, so
    // needRange answers refuse on truncated string columns (key exempt)
    lazy val truncOn = ManifestStore.statsTruncate(
      ManifestStore.readTableProps(root)).isDefined
    val pure = groupCols.forall(g => statted(g) &&
      schema.fieldNames.contains(g) &&
      candidates.forall(f => nullsOf(m, f, g).contains(0L) &&
        colRange(m, f, g).exists { case (mn, mx) => mn != null && mn == mx }))
    if (!pure) return None
    val masked = candidates.exists(_.dv.isDefined)
    def colAnswerable(c: String, needRange: Boolean): Boolean =
      schema.fieldNames.contains(c) && !masked &&
        (!needRange || (statted(c) && !(c != keyField && truncOn &&
          schema(c).dataType == org.apache.spark.sql.types.StringType))) &&
        candidates.forall(f => nullsOf(m, f, c).isDefined &&
          (!needRange || colRange(m, f, c).isDefined))
    val answerable = aggs.forall {
      case StatAgg.CountStar   => true
      case StatAgg.CountCol(c) => colAnswerable(c, needRange = false)
      case StatAgg.MinCol(c)   => colAnswerable(c, needRange = true)
      case StatAgg.MaxCol(c)   => colAnswerable(c, needRange = true)
    }
    if (!answerable) return None
    if (candidates.isEmpty) return Some(Seq.empty)
    val aggCols: Seq[String] = aggs.collect {
      case StatAgg.CountCol(c) => c
      case StatAgg.MinCol(c)   => c
      case StatAgg.MaxCol(c)   => c
    }.distinct
    // one pass over O(#files) metadata, no Spark job. Group keys parse
    // through their typed domains (float/double ±0.0 normalized like
    // Spark's groupBy), counts are long sums, MIN/MAX fold in the column's
    // own ordering with all-null files excluded by their null count; keys
    // and extremes convert to external values through Spark's own
    // conversions ([[ManifestStore.statToExternal]]). A stat that will not
    // parse gives no answer.
    def domFor(c: String) = for {
      dom <- ManifestStore.pruneDomain(schema(c).dataType)
      ext <- ManifestStore.statToExternal(schema(c).dataType)
    } yield (dom, ext)
    val gDoms = groupCols.map(domFor)
    if (gDoms.exists(_.isEmpty)) return None
    val rangeCols = aggs.collect {
      case StatAgg.MinCol(c) => c
      case StatAgg.MaxCol(c) => c
    }.distinct
    val rDoms = rangeCols.map(c => c -> domFor(c)).toMap
    if (rDoms.values.exists(_.isEmpty)) return None
    def normKey(v: Any): Any = v match {
      case d: java.lang.Double if d.doubleValue == 0.0 =>
        java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f.floatValue == 0.0f =>
        java.lang.Float.valueOf(0.0f)
      case other => other
    }
    scala.util.Try {
      // per group: representative group-key stat strings (purity makes
      // any file's min the group value), live rows, per-col
      // (rows - nulls), per-col best (parsed, string) min/max
      final case class GState(
          keyStrs: Seq[String], var live: Long,
          colCnt: scala.collection.mutable.Map[String, Long],
          colMin: scala.collection.mutable.Map[String, (Any, String)],
          colMax: scala.collection.mutable.Map[String, (Any, String)])
      val groups = scala.collection.mutable
        .LinkedHashMap.empty[Seq[Any], GState]
      candidates.foreach { f =>
        val keyStrs = groupCols.map(g => colRange(m, f, g).get._1)
        val key = keyStrs.zip(gDoms).map { case (s, d) =>
          normKey(d.get._1.parse(s))
        }
        val st = groups.getOrElseUpdate(key, GState(keyStrs, 0L,
          scala.collection.mutable.Map.empty,
          scala.collection.mutable.Map.empty,
          scala.collection.mutable.Map.empty))
        st.live += f.liveRows
        aggCols.foreach { c =>
          val n = nullsOf(m, f, c).getOrElse(0L)
          st.colCnt(c) = st.colCnt.getOrElse(c, 0L) + (f.rows - n)
          if (rangeCols.contains(c) && n < f.rows) {
            val dom = rDoms(c).get._1
            colRange(m, f, c).foreach { case (mnS, mxS) =>
              val mn = dom.parse(mnS); val mx = dom.parse(mxS)
              if (!st.colMin.get(c).exists(p => dom.ord.lteq(p._1, mn)))
                st.colMin(c) = (mn, mnS)
              if (!st.colMax.get(c).exists(p => dom.ord.gteq(p._1, mx)))
                st.colMax(c) = (mx, mxS)
            }
          }
        }
      }
      groups.iterator.map { case (_, st) =>
        val gVals: Seq[Any] = st.keyStrs.zip(gDoms).map { case (s, d) =>
          d.get._2(s)
        }
        val aVals: Seq[Any] = aggs.map {
          case StatAgg.CountStar   => java.lang.Long.valueOf(st.live)
          case StatAgg.CountCol(c) =>
            java.lang.Long.valueOf(st.colCnt.getOrElse(c, 0L))
          case StatAgg.MinCol(c) =>
            st.colMin.get(c).map(p => rDoms(c).get._2(p._2)).orNull
          case StatAgg.MaxCol(c) =>
            st.colMax.get(c).map(p => rDoms(c).get._2(p._2)).orNull
        }
        gVals ++ aVals
      }.toSeq
    }.toOption
  }

  /** The files that can contain the global top-`n` rows under `ORDER BY
    * colName [ASC|DESC]` — the planning-time file cut behind TopN
    * pushdown. A file F is skippable iff at least `n` live rows provably
    * sort at-or-before EVERY row of F: `covered(F)` = Σ liveRows of files
    * G whose LAST value (max for ASC, min for DESC) sorts ≤ F's FIRST
    * value, G ≠ F. On the store's key-range-clustered layout consecutive
    * files rarely overlap, so `ORDER BY key LIMIT n` keeps roughly
    * ceil(n / rowsPerFile) files out of thousands. Everything is
    * conservative toward keeping files: a file without stats for the
    * column is always kept (and contributes nothing to covered); any file
    * that may hold nulls in the column vetoes pruning entirely (min/max
    * know nothing about where null rows live, and either null ordering
    * can put them in the top-n); deletion-vector staleness only ever
    * over-keeps (a masked extreme widens F's apparent range). A driver
    * sweep through the column's typed domain, no Spark job: a sorted pass
    * over bound events (a file's last value carrying its liveRows) and
    * probe events (a file's first value), bounds sorting before probes on
    * ties — the running bound mass at each probe IS covered, minus the
    * file's own single-value contribution.
    */
  private[graft] def topNFiles(m: Manifest, files: Seq[FileEntry],
                               colName: String, asc: Boolean,
                               n: Int): Seq[FileEntry] = {
    val schema = StructType.fromDDL(m.schemaDDL)
    if (files.isEmpty || n <= 0) return files
    if (!(colName == keyField || m.statsCols.contains(colName)) ||
        !schema.fieldNames.contains(colName)) return files
    if (colName != keyField &&
        !files.forall(f => nullsOf(m, f, colName).contains(0L))) return files
    val (statted, unstatted) =
      files.partition(f => colRange(m, f, colName).isDefined)
    if (statted.size <= 1) return files
    // (file, firstStat, lastStat): first/last in the sort direction
    val pairs: Seq[(FileEntry, String, String)] = statted.map { f =>
      val (mn, mx) = colRange(m, f, colName).get
      if (mn == null || mx == null) return files // stats of an all-null file
      if (asc) (f, mn, mx) else (f, mx, mn)
    }
    // the sweep: O(F log F) driver work through the column's typed
    // domain, no Spark job; a stat that will not parse keeps every file
    val dom = ManifestStore.pruneDomain(schema(colName).dataType)
      .getOrElse(return files)
    val ord = if (asc) dom.ord else dom.ord.reverse
    // events: (value, kind) — bounds (kind 0, carrying live mass) sort
    // before probes (kind 1) on equal values
    val events: Seq[(Any, Int, FileEntry)] = scala.util.Try(pairs.flatMap {
      case (fe, first, last) =>
        Seq((dom.parse(last), 0, fe), (dom.parse(first), 1, fe))
    }).getOrElse(return files)
    val sorted = events.sortWith { case ((v1, k1, _), (v2, k2, _)) =>
      val c = ord.compare(v1, v2)
      if (c != 0) c < 0 else k1 < k2
    }
    // a single-value file's own bound sweeps before its probe: uncount
    val selfMass: Map[String, Long] = pairs.collect {
      case (fe, a, b) if a == b => fe.name -> fe.liveRows
    }.toMap
    var cum = 0L
    val kept = Set.newBuilder[String]
    sorted.foreach {
      case (_, 0, fe) => cum += fe.liveRows
      case (_, _, fe) =>
        if (cum - selfMass.getOrElse(fe.name, 0L) < n) kept += fe.name
    }
    val keptSet = kept.result()
    unstatted ++ statted.filter(f => keptSet(f.name))
  }

  /** RESTORE TABLE to `targetVersion` — Delta's RESTORE semantics: ONE
    * new commit whose file set, schema, stats columns and column mapping
    * are the target version's, so history is PRESERVED (time travel still
    * sees every version, including the pre-restore present, and a restore
    * can itself be undone by another restore). Pure metadata — zero data
    * I/O — UNLESS the table captures a change data feed: then the commit
    * also captures the keyed diff present→target (delete / update / insert
    * images), one scan of each side, so feed consumers see the restore as
    * the data change it is (Delta emits the same). Columns renamed
    * between the two versions diff through their PHYSICAL identity (same
    * storage = same column). Refuses loudly when any target file was
    * vacuumed or the target fell off the retained log.
    */
  def restore(targetVersion: Long, streamId: String = "restore"): Long =
    ManifestStore.withCommitLock(root) {
      val cur = currentManifest.getOrElse(throw new IllegalStateException(
        s"no current version at $root — nothing to restore"))
      require(targetVersion >= 0 && targetVersion < cur.version,
        s"restore target must be a past version: asked $targetVersion, " +
          s"current is ${cur.version}")
      val tgt = manifest(targetVersion).getOrElse(
        throw new IllegalArgumentException(
          s"version $targetVersion of $root is not in the retained log " +
            "(expired past the checkpoint horizon)"))
      tgt.files.foreach(f => (f.name +: f.dv.toSeq).foreach(n =>
        if (!Files.exists(Paths.get(root, "files", n)))
          throw new IllegalStateException(
            s"cannot restore $root to version $targetVersion: " +
              s"file $n was vacuumed")))
      val cdc = if (!cdfEnabled) None else {
        val sch = StructType.fromDDL(tgt.schemaDDL)
        // project BOTH sides onto the target's logical shape, resolving
        // columns by physical name (a rename between the versions is the
        // same storage; a column that genuinely didn't exist reads null)
        def proj(m: Manifest, a: String) = {
          val df = readFiles(m, m.files)
          val physToLogical: Map[String, String] = StructType
            .fromDDL(m.schemaDDL).fieldNames.map(c => m.phys(c) -> c).toMap
          df.select(sch.fieldNames.toSeq.map { c =>
            (physToLogical.get(tgt.phys(c)) match {
              case Some(lc) if df.columns.contains(lc) => col(s"`$lc`")
              case _                                   => lit(null)
            }).cast(sch(c).dataType).as(c)
          }: _*).alias(a)
        }
        val c = proj(cur, "c")
        val t = proj(tgt, "t")
        val ck = col(s"c.$keyField")
        val tk = col(s"t.$keyField")
        val joined = c.join(t, ck === tk, "full_outer")
        def side(a: String) =
          struct(sch.fieldNames.toSeq.map(f => col(s"$a.`$f`")): _*)
        def img(a: String, tag: String) =
          sch.fieldNames.toSeq.map(f => col(s"$a.`$f`").as(f)) :+
            lit(tag).as(ManifestStore.ChangeTypeCol)
        val deletes = joined.filter(tk.isNull)
          .select(img("c", ManifestStore.CdfDelete): _*)
        val inserts = joined.filter(ck.isNull)
          .select(img("t", ManifestStore.CdfInsert): _*)
        val changed = joined.filter(ck.isNotNull && tk.isNotNull &&
          !(side("c") <=> side("t")))
        writeCdcFile(deletes
          .unionByName(inserts)
          .unionByName(changed.select(img("c", ManifestStore.CdfUpdatePre): _*))
          .unionByName(changed.select(img("t", ManifestStore.CdfUpdatePost): _*)),
          tgt.colMap)
      }
      // fresh statement lineage, like every SQL write path
      writeManifestAndSwap(cur.version + 1, cur.version + 1, streamId,
        tgt.schemaDDL, tgt.files, tgt.statsCols, cdc = cdc,
        mappingOverride = Some((tgt.colMap, tgt.droppedPhys)))
      cur.version + 1
    }

  /** Validate a new CHECK constraint against the CURRENT table content —
    * what `ALTER TABLE ... SET TBLPROPERTIES ('check.<name>' = <expr>)`
    * runs BEFORE persisting the property (Delta's ADD CONSTRAINT pays the
    * same one-scan bill): stops at the first violating row. With add-time
    * validation in place, the write-path guard ([[writeDataFiles]]) only
    * ever fires on genuinely new violations — maintenance rewrites of old
    * rows stay no-ops.
    */
  def validateCheck(name: String, exprS: String): Unit =
    currentManifest.foreach { m =>
      val bad = readFiles(m, m.files)
        .filter(!coalesce(expr(exprS), lit(false))).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' ($exprS): an existing row " +
          s"violates it: ${bad.head}")
    }

  /** SHALLOW CLONE: seed a NEW table at `targetRoot` whose version 0 is
    * this table's current content — ZERO data copy. Data files and
    * deletion-vector sidecars are HARDLINKED (same filesystem: an
    * O(#files) metadata operation regardless of table size; a filesystem
    * that refuses links degrades to a per-file copy, loudly slower but
    * correct). The link makes both tables fully independent afterwards:
    * either side's writes, optimize or vacuum never touch the other
    * (deleting a link only drops its own directory entry). Table-level
    * properties (_TBLPROPS: partitioning, buckets, key, cdf) travel;
    * history and captured change files do NOT — the clone starts fresh at
    * version 0, exactly like Delta's CLONE. Refuses an existing target.
    */
  def cloneTo(targetRoot: String, streamId: String = "clone"): Long = {
    // The SOURCE commit lock covers the manifest read + link pass: a
    // concurrent vacuum could otherwise delete a data file between
    // reading currentManifest and hardlinking it, aborting the clone
    // mid-way with a partially-populated target. The pass is O(#files)
    // metadata work, so the lock hold is planning-scale, not data-scale.
    ManifestStore.withCommitLock(root) {
    val m = currentManifest.getOrElse(throw new IllegalStateException(
      s"no current version at $root — nothing to clone"))
    val tgt = Paths.get(targetRoot)
    require(!Files.exists(tgt.resolve("_CURRENT")),
      s"clone target $targetRoot is already a graft table")
    Files.createDirectories(tgt.resolve("files"))
    m.files.foreach(f =>
      ManifestStore.linkEntryArtifacts(root, targetRoot, f))
    // WAP provenance: the clone records where it was cut from and at
    // which version, so [[publishFrom]] can later adopt its audited
    // manifest back into the source iff the source has not moved
    ManifestStore.writeTableProps(targetRoot,
      ManifestStore.readTableProps(root) +
        ("wap.source" -> Paths.get(root).toAbsolutePath.normalize.toString,
          "wap.base" -> m.version.toString))
    val target = new ManifestStore(targetRoot, spark, keyField)
    target.writeManifestAndSwap(0L, 0L, streamId, m.schemaDDL, m.files,
      m.statsCols, mappingOverride = Some((m.colMap, m.droppedPhys)))
    0L
    }
  }

  /** Write-audit-publish (Iceberg's WAP, done with [[cloneTo]]'s
    * zero-copy clones instead of branches): cut a staging clone, run any
    * writes and audits against it in isolation, then PUBLISH — adopt the
    * staging table's CURRENT manifest as this table's next version. The
    * publish is pure metadata: files the staging table added are
    * hardlinked in (O(#new files) link calls, zero data I/O), files it
    * shares with this table are already here under the same names, and
    * the manifest swap is the store's usual atomic commit. Refuses
    * loudly when this table moved since the clone was cut (the audit's
    * verdict no longer describes a publishable state — re-clone,
    * re-audit), or when `stagingRoot` was not cloned from this table.
    */
  def publishFrom(stagingRoot: String): Long =
    ManifestStore.withCommitLock(root) {
      val sProps = ManifestStore.readTableProps(stagingRoot)
      val thisRoot = Paths.get(root).toAbsolutePath.normalize.toString
      val srcRec = sProps.getOrElse("wap.source",
        throw new IllegalArgumentException(
          s"$stagingRoot is not a WAP staging clone (no wap.source " +
            "recorded — cut one with cloneTo / CALL graft.system.clone)"))
      require(srcRec == thisRoot,
        s"staging clone $stagingRoot was cut from $srcRec, not $thisRoot")
      val baseV = sProps.get("wap.base").flatMap(_.toLongOption).getOrElse(
        throw new IllegalArgumentException(
          s"$stagingRoot carries no parseable wap.base version"))
      val curV = current.map(_._1).getOrElse(throw new IllegalStateException(
        s"no current version at $root — nothing to publish onto"))
      if (curV != baseV) throw new IllegalStateException(
        s"cannot publish $stagingRoot onto $root: the table moved from " +
          s"version $baseV (the clone's base) to $curV — the audited " +
          "state is stale; re-clone, re-audit, re-publish")
      val staging = new ManifestStore(stagingRoot, spark, keyField)
      val sm = staging.currentManifest.getOrElse(
        throw new IllegalStateException(
          s"staging clone $stagingRoot has no current version"))
      require(sm.keyField == keyField,
        s"staging key '${sm.keyField}' != target key '$keyField'")
      sm.files.foreach(f =>
        ManifestStore.linkEntryArtifacts(stagingRoot, root, f))
      writeManifestAndSwap(curV + 1, curV + 1, "wap-publish",
        sm.schemaDDL, sm.files, sm.statsCols,
        mappingOverride = Some((sm.colMap, sm.droppedPhys)))
      curV + 1
    }

  /** Distributed bulk lookup: the table rows from ONLY the files that may
    * hold a key of `keys` (a DataFrame with a [[Changelog.KeyCol]] column,
    * any size). The keys stream through one task pass ([[hitFileNames]])
    * against the O(#files) parsed stats shipped in its closure; nothing
    * beyond the hit file names comes back to the driver. The caller joins
    * the result against its keys; this prunes the scan. Range-clustered
    * keys prune hard; uniform hash keys (fingerprints) degrade gracefully
    * to a full scan, sharpened by key Bloom sidecars where they exist.
    */
  def readHit(keys: DataFrame): Option[DataFrame] =
    currentManifest.map { m =>
      val hit = hitFileNames(keys, m.files, keyTypeOf(m))
      readFiles(m, m.files.filter(f => hit(f.name)))
    }

  /** Point lookup: read only the files that may hold one of `keys` — the
    * O(files-hit) primary-key GET a CDC-maintained table serves. Planned
    * on the driver with no Spark job: [[prunedFiles]]' `in` leaf runs each
    * key's range and Bloom test ([[ManifestStore.keyHolds]]), the same
    * test merge pruning runs in its task pass. A key of another type goes
    * through the cast a SQL `IN` runs ([[ManifestStore.probeValue]]); a
    * null key matches nothing, and no keys read no file.
    */
  def lookup(keys: Seq[Any]): Option[DataFrame] =
    currentManifest.map { m =>
      val hit =
        if (keys.isEmpty) Nil
        else prunedFiles(m, Seq((keyField, "in", keys.distinct)))
      readFiles(m, hit).filter(col(keyField).isin(keys: _*))
    }

  /** Time travel: any version whose manifest survives AND whose files have
    * not been [[vacuum]]ed. Free until vacuum — old manifests reference the
    * same immutable files the current one does.
    */
  def readVersion(v: Long): Option[DataFrame] = current.flatMap { case (cur, _, _) =>
    if (v > cur) None // beyond _CURRENT: crashed-writer debris
    else manifest(v).filter(_.files.forall(f =>
      (f.name +: f.dv.toSeq).forall(n =>
        Files.exists(Paths.get(root, "files", n)))))
      .map(m => if (m.files.exists(_.dv.isDefined)) connectorRead(v)
                else readFiles(m, m.files))
  }

  /** Drive [[graft.spark.GraftClusteredTaskWriter]] over `input`'s
    * partitions as one internal Spark job — the write half of
    * [[writeDataFiles]]. Each task writes its partition's rows (rolling to
    * a new file at every cell/bucket boundary) while folding the per-file
    * min/max/null/Bloom/KMV state, and returns its staged files; a failed
    * task aborts its own staged output before rethrowing.
    */
  private def runClusteredWrite(input: DataFrame,
                                spec: graft.spark.ClusterWriteSpec,
                                stageDir: String)
      : Seq[ManifestStore.StagedFile] = {
    val writers = org.apache.spark.sql.graft.ParquetWriteBridge
      .taskWriters(spark, input.schema)
    spark.sparkContext.runJob(
      input.queryExecution.toRdd,
      (ctx: org.apache.spark.TaskContext,
       it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val w = new graft.spark.GraftClusteredTaskWriter(stageDir, writers,
          spec, ctx.partitionId(), ctx.taskAttemptId())
        try {
          while (it.hasNext) w.write(it.next())
          w.commit() match {
            case graft.spark.GraftStagedFilesMessage(fs) => fs
            case m => throw new IllegalStateException(
              s"unexpected task-writer commit message: $m")
          }
        } catch { case t: Throwable => w.abort(); throw t }
      }).toSeq.flatten
  }

  /** Cluster `df` by key and write it as data files with per-file stats.
    * Each output file owns a tight key range (range partition + sort), so
    * later merges can prune on [min,max]. Returns the new entries; the
    * caller links them into a manifest.
    *
    * ONE pass over the rows, for every caller (commit, merge rewrites, MoR
    * upserts, optimize, recluster): [[runClusteredWrite]] folds the stats,
    * Blooms and KMV sketches WHILE writing, and [[adoptStagedFiles]]
    * serializes them through the exact stat casts and renames the files
    * in — the staged output is never re-read.
    *
    * `clusterBy`: an alternative clustering column (by NAME — it is
    * dropped before the write, so helper columns like a Z-value never
    * reach the files). Default: range-cluster on the key.
    *
    * `colMap`: the committing version's column mapping — the incoming
    * frame carries LOGICAL names (every caller works logically); it is
    * renamed to PHYSICAL names just before the task write, so data files,
    * per-file stats and Bloom/KMV sidecars are all keyed physically
    * (stable across renames).
    */
  private def writeDataFiles(df: DataFrame, nFiles: Int,
                             statsCols: Seq[String] = Nil,
                             clusterBy: Option[String] = None,
                             colMap: Map[String, String] = Map.empty): Seq[FileEntry] = {
    requireStatKeyType(keyField, df.schema(keyField).dataType)
    require(!colMap.contains(keyField),
      s"the key column '$keyField' cannot be renamed (it is the row identity)")
    def physName(c: String) = colMap.getOrElse(c, c)
    def physicalize(d: DataFrame): DataFrame =
      if (colMap.isEmpty) d
      else {
        val physS = ManifestStore.toPhysical(d.schema, colMap)
        d.select(d.schema.fields.toSeq.zip(physS.fields).map {
          case (lf, pf) =>
            (if (lf.dataType == pf.dataType) col(s"`${lf.name}`")
             else col(s"`${lf.name}`").cast(pf.dataType)).as(pf.name)
        }: _*)
      }
    // a drift-evolved frame may not carry every tracked column yet.
    // Stats columns may be DOTTED STRUCT-LEAF paths at any depth
    // ("meta.lang" — the multimodal/text tables' shape): the leaf
    // resolves through [[ManifestStore.leafType]], and the task writer
    // walks the same path in each row.
    val sCols = statsCols.filter(c =>
      ManifestStore.leafType(df.schema, c).isDefined)
    sCols.foreach(c =>
      requireStatKeyType(c, ManifestStore.leafType(df.schema, c).get))
    val stage = Paths.get(root, s"_stage_${java.util.UUID.randomUUID()}")
    // PARTITIONED tables (table property `partitioncol`): files must be
    // partition-PURE — each data file holds exactly one partition value —
    // so dynamic partition overwrite is a file-granular metadata swap and
    // the per-file min=max stats prune partition predicates exactly.
    // Range-partition by (partition values..., key) for balance; the task
    // writer rolls to a new file whenever the cell changes, so a task
    // straddling a boundary still writes pure files (Iceberg's layout:
    // the partition columns stay in the data).
    val tableProps = ManifestStore.readTableProps(root)
    // CHECK constraints (table properties `check.<name>` = boolean SQL
    // expression over LOGICAL column names): enforced INLINE in the write
    // pass — the guard is a filter predicate that passes satisfying rows
    // and raises on the first violation, so enforcement is codegen'd and
    // costs zero extra jobs (Delta enforces its CHECK constraints the
    // same way). NULL results violate, per SQL CHECK semantics as Delta
    // applies them to enforcement. A constraint referencing a column the
    // frame doesn't carry fails the write loudly (drop constraints before
    // dropping their columns). Maintenance rewrites (optimize/recluster)
    // re-validate old rows: add-time validation keeps that a no-op.
    val checks: Seq[(String, String)] = tableProps.toSeq.collect {
      case (k, v) if k.startsWith("check.") => (k.stripPrefix("check."), v)
    }
    val dfG = checks.foldLeft(df) { case (d, (name, ex)) =>
      d.filter(coalesce(
        when(coalesce(expr(ex), lit(false)), lit(true)),
        raise_error(concat(
          lit(s"CHECK constraint '$name' ($ex) violated by row: "),
          to_json(struct(d.columns.map(c => col(s"`$c`")): _*))))
          .cast("boolean")))
    }
    // `partitioncol` is a comma list since round 11: (date, source)-style
    // composite identity partitioning, each column partition-pure per file
    val partCols: Seq[String] = tableProps
      .get("partitioncol").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .filter(_ => clusterBy.isEmpty)
      .filter(df.columns.contains)
    // BUCKETED tables (table property `buckets=N`): rows hash-bucket by
    // pmod(murmur3(key), N) and files are bucket-PURE, so the DSv2 scan
    // reports KeyGroupedPartitioning and keyed self-joins / key-grouped
    // reads run with ZERO exchange (storage-partitioned joins — Iceberg's
    // bucket transform). The trade is explicit and Iceberg's too: hash
    // buckets scatter key ranges, so zone-map RANGE pruning degrades on
    // bucketed tables; bucket a table whose traffic is keyed joins, not
    // range scans. Every writeDataFiles caller (commit, merge rewrites,
    // MoR upserts, optimize) re-buckets automatically, so the layout
    // survives the table's whole lifecycle.
    val bucketsN: Option[Int] = tableProps.get("buckets")
      .flatMap(_.toIntOption).filter(_ > 0)
      .filter(_ => clusterBy.isEmpty && partCols.isEmpty)
    // secondary-column blooms: only zone-map columns can ever be probed
    // (the pruner consults stats-tracked columns), so an unlisted column
    // is a misconfiguration, not a silent no-op. A drift-evolved frame
    // that doesn't carry the column yet skips it for THIS write.
    val (bloomColsRaw, bloomColCfg) = ManifestStore.bloomColParams(tableProps)
    // entries may be dotted struct-LEAF paths ("meta.lang") or top-level
    // columns literally named with a dot — [[ManifestStore.leafType]]
    // decides (a verbatim top-level field wins), exactly like the
    // zone-map stats columns above. Unresolvable entries skip for THIS
    // write (drift-evolution semantics, same as sCols).
    val bloomCols: Seq[String] = bloomColsRaw.filter(c =>
      ManifestStore.leafType(df.schema, c).isDefined)
    bloomCols.foreach { c =>
      require(c != keyField, s"bloomfiltercols lists the key column '$c' " +
        "— the key always gets a Bloom via the bloomfilter property")
      require(sCols.contains(c), s"bloomfiltercols column '$c' is not a " +
        s"zone-map column (statsCols = ${sCols.mkString(",")}) — the " +
        "pruner could never probe it; add it to statsCols first")
    }
    val clustered = (clusterBy, partCols, bucketsN) match {
      case (Some(zc), _, _) =>
        // the projection dropping zc is narrow: partitioning and order survive
        dfG.repartitionByRange(math.max(1, nFiles), col(zc))
          .sortWithinPartitions(zc).drop(zc)
      case (None, pcs, _) if pcs.nonEmpty =>
        // a table partitioned BY the key clusters on it once; the writer's
        // roll-on-change then gives one pure file per key value
        val cc = (pcs :+ keyField).distinct.map(col)
        dfG.repartitionByRange(math.max(1, nFiles), cc: _*)
          .sortWithinPartitions(cc: _*)
      case (None, _, Some(nB)) =>
        // hash-partition by key into exactly nB partitions — the
        // pmod(murmur3(key), nB) placement the DSv2 CLUSTERED distribution
        // asks for too, so each task receives one whole bucket; the writer
        // still recomputes every row's bucket and rolls on change, so
        // purity never rests on the partitioner
        dfG.repartition(nB, col(keyField)).sortWithinPartitions(keyField)
      case _ =>
        dfG.repartitionByRange(math.max(1, nFiles), col(keyField))
          .sortWithinPartitions(keyField)
    }
    val spec = graft.spark.ClusterWriteSpec(
      keyField,
      partCols = partCols.map(physName),
      statsCols = sCols.filterNot(_ == keyField).map(physName),
      nFiles = math.max(1, nFiles),
      bloom = ManifestStore.bloomParams(tableProps),
      bloomCols = bloomCols.map(c => physName(c) -> bloomColCfg),
      buckets = bucketsN)
    val physical = physicalize(clustered)
    val staged = runClusteredWrite(physical, spec, stage.toString)
    try adoptStagedFiles(staged, physical.schema, spec.statsCols, colMap)
    finally deleteRecursively(stage)
  }

  /** Adopt task-staged, stats-carrying data files as manifest entries:
    * the task writers already clustered the rows, split files cell-pure
    * and folded min/max/null stats while writing, so the commit's only
    * data work is RENAMING each file into `files/`. The raw stat values
    * serialize through the exact [[statSerialize]] casts in ONE O(#files)
    * local job. `schema` and `statsCols` name columns as the staged files
    * carry them — PHYSICAL names under `colMap` ([[writeDataFiles]]
    * renames before its task write); `colMap` only maps the logical
    * `partitioncol` list onto those names for the truncation exemption.
    */
  private[graft] def adoptStagedFiles(staged: Seq[ManifestStore.StagedFile],
                                      schema: StructType,
                                      statsCols: Seq[String],
                                      colMap: Map[String, String])
      : Seq[FileEntry] = {
    import org.apache.spark.sql.types.StructField
    if (staged.isEmpty) return Nil
    val keyDt = schema(keyField).dataType
    // stats columns may be dotted struct-LEAF paths — resolve their types
    // through [[ManifestStore.leafType]], the task writer's resolution
    val sCols = statsCols.filter(c => c != keyField &&
      ManifestStore.leafType(schema, c).isDefined)
    def adoptDt(c: String): org.apache.spark.sql.types.DataType =
      ManifestStore.leafType(schema, c).get
    // STRING zone-map stats widen to `stats.truncate` UTF-8 bytes
    // ([[ManifestStore.statsTruncate]]); partition columns stay exact on
    // EVERY write (z-order rewrites included, which cluster on a Z-value
    // instead of the cells) — their min==max purity classifies files for
    // INSERT OVERWRITE and grouped pushdown. The exemption is decided on
    // the LOGICAL `partitioncol` names, mapped to physical ones here.
    val adoptProps = ManifestStore.readTableProps(root)
    val statTrunc = ManifestStore.statsTruncate(adoptProps)
    val truncExempt: Set[String] = adoptProps.get("partitioncol").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map(c => colMap.getOrElse(c, c)).toSet
    def truncStat(c: String, mn: String, mx: String): (String, String) =
      statTrunc match {
        case Some(n) if mn != null && !truncExempt.contains(c) &&
            adoptDt(c) == org.apache.spark.sql.types.StringType =>
          (ManifestStore.truncMin(mn, n), ManifestStore.truncMax(mx, n))
        case _ => (mn, mx)
      }
    // one row per staged file; columns typed as the REAL column types so
    // statSerialize applies the column's own stat cast
    val fields = Seq(
      StructField("_kmin", keyDt, nullable = true),
      StructField("_kmax", keyDt, nullable = true)) ++
      sCols.flatMap(c => Seq(
        StructField(s"_min_$c", adoptDt(c), nullable = true),
        StructField(s"_max_$c", adoptDt(c), nullable = true)))
    val rows: Seq[org.apache.spark.sql.Row] = staged.map { f =>
      val byCol = f.cols.map(cs => cs.col -> cs).toMap
      org.apache.spark.sql.Row.fromSeq(
        Seq(f.keyMin, f.keyMax) ++ sCols.flatMap { c =>
          val cs = byCol.get(c)
          Seq(cs.map(_.min).orNull, cs.map(_.max).orNull)
        })
    }
    val serCols =
      statSerialize(col("_kmin"), keyDt).as("_kmin") +:
        statSerialize(col("_kmax"), keyDt).as("_kmax") +:
        sCols.flatMap(c => Seq(
          statSerialize(col(s"`_min_$c`"), adoptDt(c)).as(s"_min_$c"),
          statSerialize(col(s"`_max_$c`"), adoptDt(c)).as(s"_max_$c")))
    val ser = spark.createDataFrame(rows.asJava, StructType(fields))
      .select(serCols: _*)
      .collect() // O(#staged files) — planning-scale, no data read
    Files.createDirectories(Paths.get(root, "files"))
    ManifestStore.adoptedFiles.addAndGet(staged.size.toLong)
    staged.zip(ser.toSeq).map { case (f, r) =>
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      val dest = Paths.get(root, "files", name)
      Files.move(Paths.get(f.path), dest, StandardCopyOption.ATOMIC_MOVE)
      val byCol = f.cols.map(cs => cs.col -> cs).toMap
      val cols = sCols.zipWithIndex.flatMap { case (c, i) =>
        byCol.get(c).map(_ =>
          c -> truncStat(c, r.getString(2 + 2 * i), r.getString(3 + 2 * i)))
      }.toMap
      val nulls = sCols.flatMap(c => byCol.get(c).map(cs => c -> cs.nulls)).toMap
      // the task writer staged Bloom sidecars next to its data file;
      // adoption renames them all — still zero re-read, zero driver bytes
      val bloomName = f.bloomPath.map { bp =>
        val bn = s"$name.bloom"
        Files.move(Paths.get(bp), Paths.get(root, "files", bn),
          StandardCopyOption.ATOMIC_MOVE)
        bn
      }
      val colBloomNames = f.colBloomPaths.map { case (c, bp) =>
        val bn = s"$name.$c.bloom" // c is the physical name
        Files.move(Paths.get(bp), Paths.get(root, "files", bn),
          StandardCopyOption.ATOMIC_MOVE)
        c -> bn
      }
      val kmvName = f.kmvPath.map { kp =>
        val kn = s"$name.kmv"
        Files.move(Paths.get(kp), Paths.get(root, "files", kn),
          StandardCopyOption.ATOMIC_MOVE)
        kn
      }
      FileEntry(name, r.getString(0), r.getString(1), f.rows,
        cols = cols, bytes = Files.size(dest), colNulls = nulls,
        bloom = bloomName, colBlooms = colBloomNames, bucket = f.bucket,
        kmv = kmvName)
    }
  }

  /** [[adoptStagedFiles]] for DSv2 task output, whose files carry the
    * LOGICAL column names the query wrote: refused on column-mapped
    * tables (the promotion plans stage-and-commit there; this catches a
    * rename that landed between planning and commit).
    */
  private def adoptPromoted(staged: Seq[ManifestStore.StagedFile],
                            schema: StructType, statsCols: Seq[String],
                            colMap: Map[String, String]): Seq[FileEntry] = {
    require(colMap.isEmpty,
      "DSv2-staged files carry logical column names — a column-mapped " +
        "table takes the stage-and-commit path")
    adoptStagedFiles(staged, schema, statsCols, colMap)
  }

  private def fileEntryNode(f: FileEntry): com.fasterxml.jackson.databind.node.ObjectNode = {
    val fn = mapper.createObjectNode()
    fn.put("name", f.name); fn.put("minKey", f.minKey)
    fn.put("maxKey", f.maxKey); fn.put("rows", f.rows)
    if (f.bytes > 0L) fn.put("bytes", f.bytes)
    f.bucket.foreach { b => fn.put("bucket", b); () }
    f.bloom.foreach { b => fn.put("bloom", b); () }
    f.kmv.foreach { s => fn.put("kmv", s); () }
    if (f.colBlooms.nonEmpty) {
      val cb = mapper.createObjectNode()
      f.colBlooms.foreach { case (c, n) => cb.put(c, n); () }
      fn.set[com.fasterxml.jackson.databind.node.ObjectNode]("colBlooms", cb)
    }
    f.dv.foreach { d => fn.put("dv", d); fn.put("dvRows", f.dvRows) }
    if (f.cols.nonEmpty) {
      val cn = mapper.createObjectNode()
      f.cols.foreach { case (c, (mn, mx)) =>
        val v = mapper.createObjectNode()
        v.put("min", mn); v.put("max", mx)
        f.colNulls.get(c).foreach { n => v.put("nulls", n); () }
        cn.set[com.fasterxml.jackson.databind.node.ObjectNode](c, v)
      }
      fn.set[com.fasterxml.jackson.databind.node.ObjectNode]("cols", cn)
    }
    fn
  }

  /** Write version `version`'s log entry and swap `_CURRENT`. The entry is
    * a DELTA (files added/removed vs the parent, by (name, dv) identity —
    * a sidecar change is remove+re-add) except every
    * [[ManifestStore.CheckpointInterval]]th version, which writes the full
    * CHECKPOINT form: commit log bytes track the files a commit CHANGED,
    * not the table's width — at 100 TB / ~100k files, serializing the full
    * list per 30 s trigger would be the one per-commit cost scaling with
    * the table rather than the batch.
    */
  private def writeManifestAndSwap(version: Long, batchId: Long,
                                   streamId: String, schemaDDL: String,
                                   files: Seq[FileEntry],
                                   statsCols: Seq[String] = Nil,
                                   cdc: Option[ManifestStore.CdcCapture] = None,
                                   mappingOverride: Option[(Map[String, String], Seq[String])] = None): Unit = {
    val node = mapper.createObjectNode()
    node.put("version", version)
    node.put("batchId", batchId)
    node.put("streamId", streamId)
    node.put("tsMillis", System.currentTimeMillis())
    node.put("schema", schemaDDL)
    node.put("keyField", keyField)
    cdc.foreach { c =>
      node.put("cdc", c.name); node.put("cdcRows", c.rows)
      c.minKey.foreach(node.put("cdcMin", _))
      c.maxKey.foreach(node.put("cdcMax", _))
      if (c.cols.nonEmpty) {
        val cn = mapper.createObjectNode()
        c.cols.foreach { case (col, (mn, mx)) =>
          val v = mapper.createObjectNode()
          v.put("min", mn); v.put("max", mx)
          cn.set[com.fasterxml.jackson.databind.node.ObjectNode](col, v)
        }
        node.set[com.fasterxml.jackson.databind.node.ObjectNode]("cdcCols", cn)
      }
      ()
    }
    // column mapping carries forward from the parent on EVERY commit (a
    // merge must not silently wipe a rename); only the DDL paths
    // (rename/drop/add) override it. Resolved here, in one place, so no
    // commit path can forget.
    val (cmap, dropped) = mappingOverride.getOrElse {
      if (version == 0L) (Map.empty[String, String], Nil)
      else manifest(version - 1)
        .map(p => (p.colMap, p.droppedPhys))
        .getOrElse((Map.empty[String, String], Nil))
    }
    if (cmap.nonEmpty) {
      val cm = mapper.createObjectNode()
      cmap.foreach { case (l, p) => cm.put(l, p); () }
      node.set[com.fasterxml.jackson.databind.node.ObjectNode]("colMap", cm)
    }
    if (dropped.nonEmpty) {
      val dp = mapper.createArrayNode()
      dropped.foreach(dp.add)
      node.set[com.fasterxml.jackson.databind.node.ObjectNode]("droppedPhys", dp)
    }
    if (statsCols.nonEmpty) {
      val sc = mapper.createArrayNode()
      statsCols.foreach(sc.add)
      node.set[com.fasterxml.jackson.databind.node.ObjectNode]("statsCols", sc)
    }
    val parent =
      if (version % ManifestStore.CheckpointInterval == 0L) None
      else manifest(version - 1)
    parent match {
      case Some(p) =>
        val parentIds = p.files.map(f => (f.name, f.dv)).toSet
        val newIds = files.map(f => (f.name, f.dv)).toSet
        val adds = files.filterNot(f => parentIds((f.name, f.dv)))
        val removes = p.files.filterNot(f => newIds((f.name, f.dv))).map(_.name)
        node.put("type", "delta")
        val addArr = mapper.createArrayNode()
        adds.foreach(f => addArr.add(fileEntryNode(f)))
        node.set[com.fasterxml.jackson.databind.node.ObjectNode]("add", addArr)
        val remArr = mapper.createArrayNode()
        removes.foreach(remArr.add)
        node.set[com.fasterxml.jackson.databind.node.ObjectNode]("remove", remArr)
      case None =>
        node.put("type", "checkpoint")
        val arr = mapper.createArrayNode()
        files.foreach(f => arr.add(fileEntryNode(f)))
        node.set[com.fasterxml.jackson.databind.node.ObjectNode]("files", arr)
    }
    val logDir = Paths.get(root, "_LOG")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(version.toString + ".json"),
      mapper.writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
    val tmp = Paths.get(root, "_CURRENT.tmp")
    Files.write(tmp, s"$version,$batchId,$streamId"
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Full write (initial load / backfill): cluster into `nFiles` and commit.
    * Returns false (no-op) when `batchId` was already applied by the same
    * stream lineage — the store's exactly-once contract.
    *
    * `statsCols`: extra columns to zone-map per file (min/max in the
    * manifest) for [[readWhere]] data skipping; maintained by every later
    * merge / optimize / recluster commit.
    */
  def commit(df: DataFrame, batchId: Long, nFiles: Int,
             streamId: String = "default",
             statsCols: Seq[String] = Nil): Boolean = {
    val cur = current
    if (replayed(batchId, streamId)) return false
    Files.createDirectories(Paths.get(root))
    val entries = writeDataFiles(df, nFiles, statsCols,
      colMap = cur.flatMap(c => manifest(c._1)).map(_.colMap)
        .getOrElse(Map.empty))
    writeManifestAndSwap(cur.map(_._1 + 1).getOrElse(0L), batchId, streamId,
      df.schema.toDDL, entries, statsCols)
    true
  }

  /** [[commit]]'s 1x-write sibling for DSv2-staged output: the version's
    * content is the staged files themselves, renamed in by
    * [[adoptStagedFiles]] — no data is re-read or re-written. Same replay
    * guard, same manifest protocol. Returns false (and deletes the staged
    * files — they are this writer's own uncommitted bytes) on a replayed
    * (batchId, streamId).
    */
  private[graft] def commitStaged(staged: Seq[ManifestStore.StagedFile],
                                  schema: StructType, batchId: Long,
                                  streamId: String,
                                  statsCols: Seq[String]): Boolean = {
    val cur = current
    if (replayed(batchId, streamId)) {
      staged.foreach { f =>
        Files.deleteIfExists(Paths.get(f.path))
        (f.bloomPath.toSeq ++ f.colBloomPaths.values).foreach(b =>
          Files.deleteIfExists(Paths.get(b)))
      }
      return false
    }
    Files.createDirectories(Paths.get(root))
    val entries = adoptPromoted(staged, schema, statsCols,
      colMap = cur.flatMap(c => manifest(c._1)).map(_.colMap)
        .getOrElse(Map.empty))
    writeManifestAndSwap(cur.map(_._1 + 1).getOrElse(0L), batchId, streamId,
      schema.toDDL, entries, statsCols)
    true
  }

  /** DDL schema change (ALTER TABLE ADD COLUMN surface): commit
    * version+1 with the SAME file list under an EXTENDED schema. The
    * manifest schema is already the read-through superset for every data
    * file (schema drift leaves old vintages narrow), so existing files
    * simply yield nulls for the new columns — zero data I/O, one log
    * entry. Additive only: every existing column must survive with its
    * type unchanged (widening flows through merge's drift path, drops and
    * renames are rejected — a manifest rewrite cannot retype bytes already
    * on disk).
    */
  def evolveSchema(newSchema: StructType, streamId: String = "ddl"): Long =
    ManifestStore.withCommitLock(root) {
      val m = currentManifest.getOrElse(throw new IllegalStateException(
        s"no current version at $root — nothing to evolve"))
      val old = StructType.fromDDL(m.schemaDDL)
      old.fields.foreach { f =>
        val nf = newSchema.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"schema evolution is additive: column ${f.name} is missing " +
              "from the new schema (use dropColumn/renameColumn for " +
              "destructive changes)"))
        require(ManifestStore.losslessWidening(f.dataType, nf.dataType),
          s"schema evolution allows adds and lossless widenings only: " +
            s"column ${f.name} changes type " +
            s"${f.dataType.sql} -> ${nf.dataType.sql}")
      }
      // a re-ADD of a previously-dropped (or renamed-away) name must NOT
      // inherit old bytes: map it to a fresh physical name so every
      // existing file reads null for it
      val usedPhys = old.fields.map(f => m.phys(f.name)).toSet ++
        m.droppedPhys
      val added = newSchema.fields.filterNot(f =>
        old.fieldNames.contains(f.name))
      val newMappings = added.collect {
        case f if usedPhys(f.name) =>
          f.name -> s"${f.name}_${java.util.UUID.randomUUID().toString.take(8)}"
      }
      writeManifestAndSwap(m.version + 1, m.batchId, streamId,
        newSchema.toDDL, m.files, m.statsCols,
        mappingOverride = Some((m.colMap ++ newMappings, m.droppedPhys)))
      m.version + 1
    }

  /** ALTER TABLE RENAME COLUMN — a pure metadata commit (Delta's column
    * mapping): the logical name changes, the physical bytes and their
    * stats stay put behind the mapping. Zero data I/O; time travel to
    * pre-rename versions still shows the old name (each version carries
    * its own schema + mapping). The key column is the row identity and
    * cannot be renamed.
    */
  /** `from` may be a top-level column or a dotted struct path of ANY
    * depth ("a.b.c" — nested column mapping; a struct-field rename is a
    * metadata commit too; `to` is the new leaf name, bare or dotted).
    */
  def renameColumn(from: String, to: String, streamId: String = "ddl"): Long =
    ManifestStore.withCommitLock(root) {
      val m = currentManifest.getOrElse(throw new IllegalStateException(
        s"no current version at $root — nothing to rename"))
      val old = StructType.fromDDL(m.schemaDDL)
      if (from.contains('.')) return renameNested(m, old, from, to, streamId)
      require(old.fieldNames.contains(from), s"no such column: $from")
      require(!old.fieldNames.contains(to), s"column $to already exists")
      require(from != keyField,
        s"the key column '$keyField' cannot be renamed (row identity)")
      val newSchema = StructType(old.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      // nested entries under the renamed parent follow it: their dotted
      // keys are LOGICAL paths and the parent's logical name just changed
      val nestedMoved = m.colMap.collect {
        case (k, v) if k.startsWith(s"$from.") =>
          s"$to.${k.stripPrefix(s"$from.")}" -> v
      }
      val cmap = (m.colMap -- m.colMap.keys.filter(k =>
        k == from || k.startsWith(s"$from."))) ++
        nestedMoved + (to -> m.phys(from))
      val stats = m.statsCols.map(c => if (c == from) to else c)
      // a renamed partition, secondary-Bloom or clustering column keeps
      // its role: the column-list properties are renamed in place
      val props = ManifestStore.readTableProps(root)
      val renamedProps = ManifestStore.renameInColumnProps(props, from, to)
      if (renamedProps != props) {
        Files.deleteIfExists(Paths.get(root, "_TBLPROPS"))
        ManifestStore.writeTableProps(root, renamedProps)
      }
      writeManifestAndSwap(m.version + 1, m.batchId, streamId,
        newSchema.toDDL, m.files, stats,
        mappingOverride = Some((cmap, m.droppedPhys)))
      m.version + 1
    }

  /** ALTER TABLE DROP COLUMN — a metadata commit: the column leaves the
    * logical schema, its physical name is TOMBSTONED so a later re-ADD of
    * the same name maps to fresh physical storage (old bytes can never
    * resurrect), and the bytes themselves stay in place until files are
    * naturally rewritten (merge/optimize) — Delta's drop-with-mapping
    * trade. Time travel to pre-drop versions still shows the column.
    */
  /** `name` may be a top-level column or a dotted struct path of ANY
    * depth ("a.b.c" — the field vanishes from the logical schema; its
    * physical bytes stay until the parent's files rewrite).
    */
  def dropColumn(name: String, streamId: String = "ddl"): Long =
    ManifestStore.withCommitLock(root) {
      val m = currentManifest.getOrElse(throw new IllegalStateException(
        s"no current version at $root — nothing to drop"))
      val old = StructType.fromDDL(m.schemaDDL)
      if (name.contains('.')) return dropNested(m, old, name, streamId)
      require(old.fieldNames.contains(name), s"no such column: $name")
      require(name != keyField,
        s"the key column '$keyField' cannot be dropped (row identity)")
      val newSchema = StructType(old.fields.filterNot(_.name == name))
      val nestedKeys = m.colMap.keys.filter(_.startsWith(s"$name.")).toSeq
      writeManifestAndSwap(m.version + 1, m.batchId, streamId,
        newSchema.toDDL, m.files, m.statsCols.filterNot(_ == name),
        mappingOverride =
          Some((m.colMap - name -- nestedKeys,
            m.droppedPhys :+ m.phys(name))))
      m.version + 1
    }

  /** Resolve a dotted logical path of ANY struct depth to (the parent
    * chain, the struct holding the leaf, the leaf name). Paths through
    * map/array elements are refused loudly — their contents have no
    * per-field physical identity to remap.
    */
  private def structLeaf(schema: StructType, path: String)
      : (Seq[String], StructType, String) = {
    val parts = path.split('.').toSeq
    require(parts.length >= 2,
      s"nested column mapping needs a dotted struct path, got $path")
    val parents = parts.dropRight(1)
    val leaf = parts.last
    var cur: StructType = schema
    parents.zipWithIndex.foreach { case (p, i) =>
      require(cur.fieldNames.contains(p),
        s"no such column: ${parents.take(i + 1).mkString(".")} (in $path)")
      cur = cur(p).dataType match {
        case t: StructType => t
        case _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.ArrayType =>
          throw new IllegalArgumentException(
            s"nested column mapping does not reach through map/array " +
              s"elements: $path (at ${parents.take(i + 1).mkString(".")})")
        case other => throw new IllegalArgumentException(
          s"${parents.take(i + 1).mkString(".")} is ${other.sql}, not a " +
            "struct — nested DDL needs a struct path")
      }
    }
    require(cur.fieldNames.contains(leaf), s"no such field: $path")
    (parents, cur, leaf)
  }

  /** Rebuild `schema` with the struct at the end of `parents` replaced by
    * `f(struct)` — the schema-edit half of nested RENAME/DROP.
    */
  private def rebuildAt(schema: StructType, parents: Seq[String],
                        f: StructType => StructType): StructType =
    parents match {
      case Seq() => f(schema)
      case head +: tail =>
        StructType(schema.fields.map(fd =>
          if (fd.name == head)
            fd.copy(dataType = rebuildAt(
              fd.dataType.asInstanceOf[StructType], tail, f))
          else fd))
    }

  /** ALTER TABLE RENAME COLUMN s.a TO b — metadata commit via a dotted
    * "parent.leaf" mapping entry; data files keep the physical leaf name
    * and every read translates through [[ManifestStore.toPhysical]]'s
    * positional struct cast.
    */
  private def renameNested(m: Manifest, old: StructType, from: String,
                           to: String, streamId: String): Long = {
    val (parents, st, leaf) = structLeaf(old, from)
    val toLeaf = to.split('.').last
    val newPath = (parents :+ toLeaf).mkString(".")
    require(!st.fieldNames.contains(toLeaf),
      s"field $newPath already exists")
    val physLeaf = m.colMap.getOrElse(from, leaf)
    val newSchema = rebuildAt(old, parents, s => StructType(s.fields.map(f =>
      if (f.name == leaf) f.copy(name = toLeaf) else f)))
    // entries for fields NESTED UNDER the renamed one (it may itself be a
    // struct) follow it: their keys are logical paths and a prefix of
    // theirs just changed
    val childKeys = m.colMap.keys.filter(_.startsWith(s"$from.")).toSeq
    val movedChildren = childKeys.map(k =>
      s"$newPath.${k.stripPrefix(s"$from.")}" -> m.colMap(k))
    writeManifestAndSwap(m.version + 1, m.batchId, streamId,
      newSchema.toDDL, m.files, m.statsCols,
      mappingOverride = Some(((m.colMap - from) -- childKeys ++
        movedChildren + (newPath -> physLeaf), m.droppedPhys)))
    m.version + 1
  }

  /** ALTER TABLE DROP COLUMN s.a — the leaf leaves the logical schema;
    * its physical name is tombstoned under the parent so a later re-add
    * cannot resurrect old bytes.
    */
  private def dropNested(m: Manifest, old: StructType, name: String,
                         streamId: String): Long = {
    val (parents, st, leaf) = structLeaf(old, name)
    require(st.fields.length > 1,
      s"cannot drop the last field of struct ${parents.mkString(".")} " +
        "(drop the parent instead)")
    val physLeaf = m.colMap.getOrElse(name, leaf)
    val newSchema = rebuildAt(old, parents,
      s => StructType(s.fields.filterNot(_.name == leaf)))
    // mapping entries nested under the dropped field die with it
    val childKeys = m.colMap.keys.filter(_.startsWith(s"$name.")).toSeq
    writeManifestAndSwap(m.version + 1, m.batchId, streamId,
      newSchema.toDDL, m.files, m.statsCols,
      mappingOverride = Some(((m.colMap - name) -- childKeys,
        m.droppedPhys :+ s"${parents.mkString(".")}.$physLeaf")))
    m.version + 1
  }

  /** Stats-pruned MERGE: apply a net changelog (shape of
    * [[Changelog.dedupLatest]]) rewriting ONLY the files whose key range
    * intersects the batch's key set. Untouched files join the new manifest
    * by reference — no read, no write, no copy.
    *
    * Semantics are exactly [[Merge.applyChanges]] (ts guard included):
    * every live key occurrence sits in a file whose [min,max] contains it,
    * so restricting the merge input to intersecting files loses nothing.
    */
  def merge(net: DataFrame, fields: Seq[String], batchId: Long,
            streamId: String = "default",
            tsGuard: Boolean = true): Option[MergeStats] = {
    val m = currentManifest.getOrElse(
      throw new IllegalStateException(s"no current version at $root — " +
        "commit an initial snapshot before merging"))
    if (replayed(batchId, streamId)) return None

    val netP = net.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val d = deriveMerge(m, netP, fields, tsGuard)
      writeManifestAndSwap(m.version + 1, batchId, streamId, d.outSchema,
        d.reused ++ d.newEntries, m.statsCols, cdc = d.cdc)
      Some(MergeStats(m.version + 1, d.touched.size, d.reused.size,
        d.newEntries.size))
    } finally netP.unpersist()
  }

  /** Merge-on-read MERGE — Delta's deletion vectors. [[merge]] rewrites
    * every touched file in full: O(file) bytes WRITTEN per touched file,
    * so a 100-key batch scattered over a 100 TB table's ~1 GB files
    * rewrites ~100 GB to change 100 rows. This path writes O(batch)
    * instead: the touched files stay byte-identical, each gains (or
    * replaces) a sidecar masking its superseded keys, and the batch's
    * after-images land in one new clustered file. Reads subtract sidecars
    * ([[readFiles]]); [[optimize]] and [[recluster]] fold masks back into
    * data files; [[vacuum]] reclaims replaced sidecars.
    *
    * Semantics are exactly [[merge]]'s (ts guard included) — the specs
    * pin read-path equality between the two. Reads still scan the touched
    * files (that is the "read" in merge-on-read); only write
    * amplification changes. Sidecar maintenance is one shuffle and one
    * write job for all masked files together ([[applyMasks]]), whatever
    * their number; its I/O is O(masks of the touched files).
    *
    * [[mergeOnRead]] itself is the single-writer primitive (swap without
    * CAS — for a stream that owns its table exclusively);
    * [[mergeOnReadOptimistic]] is the concurrent form every shared-table
    * caller uses. A concurrent writer's CoW rewrite of a masked file is
    * guarded against in both CAS protocols by (name, dv) identity.
    */
  /** [[mergeOnRead]] under the store-local commit lock. Since round 11
    * this routes through [[mergeOnReadOptimistic]] (CAS rebase, same
    * protocol as the copy-on-write path), so every caller — SQL row-level
    * commits with 'mor', the streaming sink, `df.write` appends on 'mor'
    * tables — tolerates concurrent writers instead of silently assuming a
    * single one. Kept for signature compatibility: None = replayed;
    * conflict exhaustion throws (a commit must fail loudly, never vanish).
    */
  def mergeOnReadLocked(net: DataFrame, fields: Seq[String], batchId: Long,
                        streamId: String = "default",
                        tsGuard: Boolean = true)
      : Option[ManifestStore.MorStats] =
    mergeOnReadOptimistic(net, fields, batchId, streamId, tsGuard) match {
      case ManifestStore.MorApplied(stats) => Some(stats)
      case ManifestStore.MorReplayed       => None
      case ManifestStore.MorConflict(v, reason) =>
        throw new IllegalStateException(
          s"merge-on-read lost the optimistic-commit race at version $v: $reason")
    }

  /** Everything [[mergeOnRead]] stages before its manifest swap, derived
    * against a pinned parent manifest with NO `_CURRENT` access: the new
    * sidecars and upsert files already sit in `files/` but are referenced
    * by no manifest — a crash or lost race orphans them for vacuum (or the
    * caller's eager cleanup), exactly like a CoW attempt's data files.
    */
  private final case class MorDerived(touched: Seq[FileEntry],
                                      untouched: Seq[FileEntry],
                                      updatedTouched: Seq[FileEntry],
                                      maskCounts: Map[String, Long],
                                      newEntries: Seq[FileEntry],
                                      outSchema: String,
                                      cdc: Option[ManifestStore.CdcCapture])

  private def deriveMor(m: Manifest, netP: DataFrame, fields: Seq[String],
                        tsGuard: Boolean): MorDerived = {
    val keyType = keyTypeOf(m)
    val touchedNames = hitFileNames(netP, m.files, keyType)
    val (touched, untouched) = m.files.partition(f => touchedNames(f.name))
    val snapSubset = widenToNet(readFiles(m, touched), netP, fields)
    val (merged, live, cleanup) = Merge.applyChangesFull(
      snapSubset, netP, keyField, fields, tsGuard)
    try {
      val liveP = live.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // `live` holds one row per key and only builds a semi-join here:
        // no distinct needed
        val liveKeys = liveP
          .select(col(Changelog.KeyCol).cast(keyType).as("_key"))
        // (file, key) pairs to mask: every RAW row of a touched file
        // whose key has a surviving net event. Raw (not effective) scan:
        // re-masking an already-masked key is a no-op after the per-file
        // key dedup in the mask write, and it spares a second anti-join.
        val newMasks =
          if (touched.isEmpty) None
          else Some(scanFiles(m, touched)
            .select(fileBasename.as("_file"),
              col(keyField).cast(keyType).as("_key"))
            .join(broadcast(liveKeys), Seq("_key"), "left_semi")
            .select("_file", "_key"))
        val (updatedTouched, maskCounts) =
          applyMasks(touched, newMasks, keyType)
        // the batch's after-images, shaped to the merged schema
        val upserts = Changelog
          .afterImage(liveP.filter(col(Changelog.OpCol) =!= "d"), fields)
          .select(merged.columns.map(col).toSeq: _*)
        // CDF capture rides the structures already in hand: the
        // effective touched-file read is the preimage side, liveP the
        // surviving net — one extra O(changed) pass, only when enabled
        val cdc = if (!cdfEnabled) None
          else deriveCdc(snapSubset, liveP, fields,
            keyType, merged.schema, m.colMap)
        val newEntries = writeDataFiles(upserts, 1, m.statsCols,
          colMap = m.colMap)
        MorDerived(touched, untouched, updatedTouched, maskCounts,
          newEntries, merged.schema.toDDL, cdc)
      } finally liveP.unpersist()
    } finally cleanup()
  }

  /** Reclaim a lost MoR attempt's staged artifacts: the REPLACEMENT
    * sidecars (only files `maskCounts` names carry a fresh dv — untouched
    * parents' sidecars must survive), the upsert data files, and the
    * change file. Mirrors the CoW path's eager cleanup.
    */
  private def discardMorAttempt(d: MorDerived): Unit = {
    d.updatedTouched.filter(f => d.maskCounts.contains(f.name))
      .flatMap(_.dv).foreach(dv =>
        deleteRecursively(Paths.get(root, "files", dv)))
    d.newEntries.foreach(deleteEntryFiles)
    d.cdc.filter(_.name.nonEmpty).foreach(c =>
      deleteRecursively(Paths.get(root, "files", c.name)))
  }

  def mergeOnRead(net: DataFrame, fields: Seq[String], batchId: Long,
                  streamId: String = "default",
                  tsGuard: Boolean = true): Option[ManifestStore.MorStats] = {
    val m = currentManifest.getOrElse(
      throw new IllegalStateException(s"no current version at $root — " +
        "commit an initial snapshot before merging"))
    if (replayed(batchId, streamId)) return None
    val netP = net.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val d = deriveMor(m, netP, fields, tsGuard)
      writeManifestAndSwap(m.version + 1, batchId, streamId, d.outSchema,
        d.untouched ++ d.updatedTouched ++ d.newEntries, m.statsCols,
        cdc = d.cdc)
      Some(ManifestStore.MorStats(m.version + 1, d.maskCounts.size,
        d.maskCounts.values.sum, d.newEntries.size,
        d.untouched.size + (d.touched.size - d.maskCounts.size)))
    } finally netP.unpersist()
  }

  /** Optimistic concurrent MERGE-ON-READ — the deletion-vector commit
    * under the same CAS protocol [[mergeOptimistic]] runs for
    * copy-on-write: the expensive phase (prune, mask staging, upsert file,
    * CDF capture) runs contention-free against a pinned parent; inside the
    * commit lock the attempt then swaps directly, REBASES onto the winner,
    * or retries. A 100 TB ingestion table IS merge-on-read and HAS
    * concurrent writers (the stream, a backfill, ad-hoc SQL DML) — a
    * single-writer lock there serializes the whole fleet behind one
    * driver.
    *
    * The rebase is sound iff all three hold (the CoW rules, sharpened for
    * sidecars):
    *
    *   (a) no concurrent schema change;
    *   (b) every file this commit TOUCHED is still live in the winner's
    *       manifest with the SAME (name, dv) identity — our replacement
    *       sidecars were computed as old-mask ∪ new-mask against the
    *       parent's sidecar, so a winner that re-masked (or rewrote, or
    *       dropped) any of them invalidates the union: both writers
    *       masking the same file is a CONFLICT, not a clobber;
    *   (c) no file the winner added has a key range containing any of
    *       this batch's keys (our masks would have missed its rows).
    *
    * Under (b) the rebase re-targets each replacement sidecar onto the
    * winner's manifest by substituting the touched entries in place and
    * appending the upsert file — files the winner rewrote/masked/dropped
    * OUTSIDE our touched set carry from the winner untouched (they cannot
    * hold our keys: every file whose range intersects the batch is in the
    * touched set by construction). The CDF record stays valid for the
    * same reason the CoW rebase's does: (b)+(c) pin the touched keys'
    * pre-images between the parent and the winner.
    */
  def mergeOnReadOptimistic(net: DataFrame, fields: Seq[String],
                            batchId: Long, streamId: String = "default",
                            tsGuard: Boolean = true, maxAttempts: Int = 3)
      : ManifestStore.MorOutcome =
    mergeOnReadOptimisticHook(net, fields, batchId, streamId, tsGuard,
      maxAttempts)(() => ())

  /** [[mergeOnReadOptimistic]] with the same deterministic interleave
    * probe as [[mergeOptimisticHook]]: `onDerived` fires after the
    * contention-free derivation and before the commit lock — exactly
    * where a concurrent writer's commit turns this attempt into a rebase
    * or a lost race. Specs use it to pin the interleave matrix without
    * scheduler timing.
    */
  private[cdc] def mergeOnReadOptimisticHook(net: DataFrame,
                                             fields: Seq[String],
                                             batchId: Long, streamId: String,
                                             tsGuard: Boolean,
                                             maxAttempts: Int)
                                            (onDerived: () => Unit)
      : ManifestStore.MorOutcome = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val netP = net.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var last: ManifestStore.MorOutcome =
        ManifestStore.MorConflict(-1L, "no attempt")
      var attempt = 0
      while (attempt < maxAttempts) {
        attempt += 1
        val m = currentManifest.getOrElse(
          throw new IllegalStateException(s"no current version at $root — " +
            "commit an initial snapshot before merging"))
        if (replayed(batchId, streamId)) return ManifestStore.MorReplayed
        val d = deriveMor(m, netP, fields, tsGuard)
        onDerived()
        val parentNames = m.files.map(_.name).toSet
        val touchedIds = d.touched.map(f => (f.name, f.dv)).toSet
        val updatedByName = d.updatedTouched.map(f => f.name -> f).toMap
        val outcome = ManifestStore.withCommitLock(root) {
          val curM = currentManifest.get
          if (replayed(batchId, streamId)) ManifestStore.MorReplayed
          else if (curM.version == m.version) {
            writeManifestAndSwap(m.version + 1, batchId, streamId,
              d.outSchema, d.untouched ++ d.updatedTouched ++ d.newEntries,
              m.statsCols, cdc = d.cdc)
            ManifestStore.MorApplied(ManifestStore.MorStats(m.version + 1,
              d.maskCounts.size, d.maskCounts.values.sum, d.newEntries.size,
              d.untouched.size + (d.touched.size - d.maskCounts.size)))
          } else {
            val curIds = curM.files.map(f => (f.name, f.dv)).toSet
            val addedSince = curM.files.filterNot(f => parentNames(f.name))
            if (curM.schemaDDL != m.schemaDDL && curM.schemaDDL != d.outSchema)
              ManifestStore.MorConflict(curM.version,
                "concurrent schema change")
            else if (!touchedIds.subsetOf(curIds))
              ManifestStore.MorConflict(curM.version,
                "a file this commit masked was rewritten, re-masked or " +
                  "dropped concurrently")
            else if (hitFileNames(netP, addedSince, keyTypeOf(curM)).nonEmpty)
              ManifestStore.MorConflict(curM.version,
                "a concurrent commit wrote rows in this batch's key range")
            else {
              // substitution is exact: (b) guarantees each touched entry
              // appears in curM byte-identical to the parent's, so mapping
              // it to our replacement re-targets the sidecar correctly
              val files = curM.files.map(f =>
                updatedByName.getOrElse(f.name, f)) ++ d.newEntries
              writeManifestAndSwap(curM.version + 1, batchId, streamId,
                d.outSchema, files, curM.statsCols, cdc = d.cdc)
              ManifestStore.MorApplied(ManifestStore.MorStats(
                curM.version + 1, d.maskCounts.size, d.maskCounts.values.sum,
                d.newEntries.size, curM.files.size - d.maskCounts.size))
            }
          }
        }
        outcome match {
          case c: ManifestStore.MorConflict =>
            discardMorAttempt(d) // referenced by no manifest — reclaim now
            last = c
          case ManifestStore.MorReplayed =>
            discardMorAttempt(d)
            return ManifestStore.MorReplayed
          case done => return done
        }
      }
      last
    } finally netP.unpersist()
  }

  /** Replace the sidecar of every file in `candidates` that `newMasks`
    * (`(_file, _key)` rows) names with old-mask ∪ new-mask, in one shuffle
    * and one write job: the new masks, tagged `_new`, union the old
    * sidecars of the candidates, hash-partitioned by file; each task of
    * one task-writer job ([[ManifestStore.writeMaskTask]]) sorts its rows
    * by (file, key), drops duplicate keys and stages one sidecar per file
    * that gained a mask, returning its name and distinct-key count — the
    * mask names and counts come back with the task results, nothing is
    * collected. One driver rename per masked file adopts its staged
    * directory (a sidecar is a parquet dir of `(_file, _key)` parts).
    * Old sidecars become unreferenced — vacuum's work. Files `newMasks`
    * does not name keep their (name, dv) identity. Sidecar names carry a
    * fresh token: the previous sidecar stays referenced by earlier
    * manifests (time travel) until vacuum. Returns the updated candidates
    * and the combined per-file mask counts.
    */
  private def applyMasks(candidates: Seq[FileEntry], newMasks: Option[DataFrame],
                         keyType: org.apache.spark.sql.types.DataType)
      : (Seq[FileEntry], Map[String, Long]) = {
    val dvToken = java.util.UUID.randomUUID().toString
    def dvNameFor(fname: String) = s"$fname.$dvToken.dv"
    val maskCounts: Map[String, Long] = newMasks match {
      case None => Map.empty
      case Some(mk) =>
        def tagged(df: DataFrame, isNew: Boolean) =
          df.select(col("_file"), col("_key").cast(keyType), lit(isNew).as("_new"))
        val oldDvs = candidates.flatMap(_.dv)
        val fresh = tagged(mk, isNew = true)
        val all = if (oldDvs.isEmpty) fresh
          else fresh.unionByName(
            tagged(readSidecars(oldDvs, keyType), isNew = false))
        val parts = math.max(1,
          math.min(candidates.size, spark.sparkContext.defaultParallelism))
        val sorted = all.repartition(parts, col("_file"))
          .sortWithinPartitions("_file", "_key")
        val writers = org.apache.spark.sql.graft.ParquetWriteBridge
          .taskWriters(spark, ManifestStore.dvSchema(keyType))
        Files.createDirectories(Paths.get(root, "files"))
        val stage = Paths.get(root, s"_stage_dv_${java.util.UUID.randomUUID()}")
        val stageDir = stage.toString
        try {
          spark.sparkContext.runJob(sorted.queryExecution.toRdd,
            (ctx: org.apache.spark.TaskContext,
             it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
              ManifestStore.writeMaskTask(it, writers, keyType, stageDir,
                ctx.partitionId(), ctx.taskAttemptId()))
            .toSeq.flatten.map { case (fname, n, dir) =>
              Files.move(Paths.get(dir), Paths.get(root, "files", dvNameFor(fname)),
                StandardCopyOption.ATOMIC_MOVE)
              fname -> n
            }.toMap
        } finally deleteRecursively(stage)
    }
    val updated = candidates.map { f =>
      if (!maskCounts.contains(f.name)) f
      else f.copy(dv = Some(dvNameFor(f.name)), dvRows = maskCounts(f.name))
    }
    (updated, maskCounts)
  }

  /** Predicate DELETE at O(matches) write cost — the retention / GDPR
    * erasure primitive, on deletion vectors: scan the table once, mask
    * every matching row's key in its file's sidecar, and DROP files whose
    * every key is now masked (their data never reaches another reader;
    * vacuum reclaims the bytes). No data file is rewritten; [[optimize]]
    * folds heavy masks back in on its normal schedule. The scan is
    * O(table) for an arbitrary predicate (Delta pays the same); for a
    * range predicate on a statted column, delete via the keys of a
    * [[readWhere]] read to prune the scan too. Returns None (no new
    * version) when nothing matches.
    *
    * Participates in the OPTIMISTIC COMMIT protocol: the expensive phase
    * (scan + sidecar staging) runs contention-free, then the swap is
    * CAS-guarded under the commit lock — a delete racing a concurrent
    * [[mergeOptimistic]] can never clobber the merge's swap (ad-hoc
    * retention deletes against a live stream are exactly how this is
    * used). A lost race discards the attempt's sidecars and RETRIES from
    * the new current (a rebase is unsound here: the winner may have
    * rewritten rows the predicate matches). Exhausting `maxAttempts`
    * throws — a delete must fail loudly, never silently vanish.
    * Concurrent [[mergeOptimistic]] writers detect a committed delete's
    * sidecar changes via (name, dv) identity, exactly as for a
    * merge-on-read commit.
    */
  /** `pruneConjuncts`: optional (column, op, value) triples PROVABLY
    * implied by `cond` (the SQL DELETE path passes its pushed v1 filters)
    * — candidate files prune through the same zone-map + Bloom pass as a
    * scan ([[prunedFiles]]), so `DELETE FROM t WHERE key = v` on a
    * 100k-file table reads the files that can hold v, not the table.
    * Soundness is the caller's contract: a file excluded by the conjuncts
    * must hold no `cond` rows. Empty = scan every file (arbitrary
    * `cond`s, retention maintenance).
    */
  def deleteWhere(cond: Column, batchId: Long, streamId: String = "default",
                  maxAttempts: Int = 3,
                  pruneConjuncts: Seq[(String, String, Any)] = Nil)
      : Option[ManifestStore.MorStats] =
    deleteWhereHook(cond, Some((batchId, streamId)), maxAttempts,
      pruneConjuncts)(() => ())

  /** MAINTENANCE form of [[deleteWhere]]: new version, SAME
    * batchId/streamId as the current manifest — invisible to replay
    * detection, exactly like [[optimize]]/[[recluster]]. For retention
    * expiry interleaved with an exactly-once ingest sequence: a guarded
    * delete would consume a batch id the stream is about to use (or be
    * swallowed by the guard), while a maintenance delete leaves the
    * stream's replay lineage untouched. Same CAS/retry discipline.
    */
  def deleteWhereMaintenance(cond: Column, maxAttempts: Int = 3)
      : Option[ManifestStore.MorStats] =
    deleteWhereHook(cond, None, maxAttempts)(() => ())

  /** [[deleteWhere]] with the same pre-commit interleave probe as
    * [[mergeOptimisticHook]] — `onDerived` fires after sidecar staging and
    * before the commit lock, where a concurrent commit turns this attempt
    * into a lost race. `replay` = Some((batchId, streamId)) for the
    * exactly-once-guarded form, None for the maintenance form.
    */
  private[cdc] def deleteWhereHook(cond: Column,
                                   replay: Option[(Long, String)],
                                   maxAttempts: Int,
                                   pruneConjuncts: Seq[(String, String, Any)] = Nil)
                                  (onDerived: () => Unit)
      : Option[ManifestStore.MorStats] = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val m = currentManifest.getOrElse(
        throw new IllegalStateException(s"no current version at $root — " +
          "commit an initial snapshot before deleting"))
      val isReplay = replay.exists { case (batchId, streamId) =>
        replayed(batchId, streamId) }
      if (isReplay) return None
      if (m.files.isEmpty) return None
      val (cBatchId, cStreamId) = replay.getOrElse((m.batchId, m.streamId))
      val keyType = keyTypeOf(m)
      // EFFECTIVE scan (sidecars applied, file attribution kept): deleting
      // rows a previous delete already masked must be a no-op, not a
      // version-churning sidecar rewrite — deleteWhere is idempotent per
      // predicate
      val schema = StructType.fromDDL(m.schemaDDL)
      // candidate pruning (zone map + per-file key Blooms): only the files
      // that can hold a `cond` row are scanned; everything else carries
      // with its masks untouched. A pruned-empty candidate set means no
      // row matches at all.
      val candidates =
        if (pruneConjuncts.isEmpty) m.files else prunedFiles(m, pruneConjuncts)
      if (candidates.isEmpty) return None
      // logical names: `cond` references them
      val data = scanFiles(m, candidates).withColumn("_file", fileBasename)
      val live =
        if (candidates.forall(_.dv.isEmpty)) data
        else subtractMasks(data, candidates, keyType)
      // full matched rows persisted (not just (_file, _key)): the CDF
      // capture needs the deleted rows' images, and the mask projection
      // derives from the same cached pass — still O(matches)
      val matchedRows = live.filter(cond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val matches = matchedRows
        .select(col("_file"), col(keyField).cast(keyType).as("_key"))
      val outcome: Either[String, Option[ManifestStore.MorStats]] =
        try {
          if (matchedRows.isEmpty) Right(None)
          else {
            val (maskedCandidates, maskCounts) =
              applyMasks(candidates, Some(matches), keyType)
            val byName = maskedCandidates.map(f => f.name -> f).toMap
            val updated = m.files.map(f => byName.getOrElse(f.name, f))
            val cdc = if (!cdfEnabled) None
              else writeCdcFile(matchedRows
                .select(schema.fieldNames.toSeq.map(col): _*)
                .withColumn(ManifestStore.ChangeTypeCol,
                  lit(ManifestStore.CdfDelete)), m.colMap)
            onDerived()
            val committed = ManifestStore.withCommitLock(root) {
              if (replay.exists { case (batchId, streamId) =>
                  replayed(batchId, streamId) })
                Right(None) // replayed concurrently
              else if (!current.exists(_._1 == m.version))
                Left("lost the commit race")
              else {
                val (dead, liveFiles) = updated.partition(f => f.dvRows >= f.rows)
                writeManifestAndSwap(m.version + 1, cBatchId, cStreamId,
                  m.schemaDDL, liveFiles, m.statsCols, cdc = cdc)
                val _ = dead // dropped from the manifest; vacuum reclaims
                Right(Some(ManifestStore.MorStats(m.version + 1,
                  maskCounts.size, maskCounts.values.sum, 0,
                  m.files.size - maskCounts.size)))
              }
            }
            if (committed.isLeft) {
              // this attempt's staged sidecars are referenced by no
              // manifest — reclaim them now instead of leaving them for
              // vacuum (same eager cleanup as a lost optimistic merge)
              updated.filter(f => maskCounts.contains(f.name))
                .flatMap(_.dv).foreach(d =>
                  deleteRecursively(Paths.get(root, "files", d)))
              cdc.filter(_.name.nonEmpty).foreach(c =>
                deleteRecursively(Paths.get(root, "files", c.name)))
            }
            committed
          }
        } finally matchedRows.unpersist()
      outcome match {
        case Right(r) => return r
        case Left(_)  => () // retry against the new current
      }
    }
    throw new IllegalStateException(
      s"deleteWhere lost the commit race $maxAttempts times at $root — " +
        "retry with more attempts or quiesce concurrent writers")
  }

  /** DYNAMIC PARTITION OVERWRITE (`INSERT OVERWRITE` under
    * partitionOverwriteMode=dynamic; Delta's replaceWhere on the partition
    * column): atomically replace the partitions PRESENT IN `df` with
    * `df`'s rows, carrying every other partition by reference. Requires
    * the table property `partitioncol` (identity partitioning).
    *
    * File classification is pure metadata: the partition column is a
    * statsCols zone map and partitioned writes produce partition-pure
    * files (min = max), so a replaced partition's files DROP with zero
    * I/O; only files straddling partition values (a non-partitioned
    * vintage, or merge-rewritten files) are read and rewritten minus the
    * replaced partitions. At 100 TB / date partitions, overwriting one day
    * costs O(that day) — the same bill as Hive/Delta dynamic overwrite.
    *
    * The distinct partition-value collect is O(#partitions in the batch) —
    * bounded by the write, not the table. Runs under the commit lock with
    * a fresh version; CDF capture (when cdf=true) records the replaced
    * rows as deletes and the new rows as inserts (coarse delete+insert,
    * Delta's replaceWhere shape — not keyed update pairs).
    *
    * CONTRACT: the caller keeps keys within their partitions (a keyed row
    * must not move partitions via overwrite, or it would duplicate across
    * files — the usual date-partitioned CDC layout satisfies this by
    * construction).
    *
    * Returns the new version, or None when `df` is empty (dynamic
    * overwrite of nothing replaces nothing — Hive/Spark semantics).
    *
    * `staticValues`: the STATIC form (`INSERT OVERWRITE ... PARTITION
    * (p=v)` under partitionOverwriteMode=static): replace exactly these
    * partition values regardless of which values `df` carries — an empty
    * `df` then simply DROPS the named partitions (Spark's static
    * semantics). None = dynamic: replace the values present in `df`.
    */
  def overwritePartitions(df: DataFrame, batchId: Long,
                          streamId: String = "default",
                          nFiles: Int = 16,
                          staticValues: Option[Seq[Seq[Any]]] = None): Option[Long] =
    overwritePartitionsImpl(Some(df), Nil, batchId, streamId, nFiles,
      staticValues)

  /** Dynamic partition overwrite whose new content was STAGED by the DSv2
    * clustered task writers ([[adoptStagedFiles]]): identical replacement
    * semantics to [[overwritePartitions]], but the new files are renamed
    * in instead of re-written — the overwrite's data I/O drops to the one
    * write the tasks already did. The replaced cells are the distinct
    * partition tuples the staged stats carry.
    */
  private[graft] def overwritePartitionsStaged(
      staged: Seq[ManifestStore.StagedFile], batchId: Long,
      streamId: String): Option[Long] =
    overwritePartitionsImpl(None, staged, batchId, streamId, nFiles = 0,
      staticValues = None)

  private def overwritePartitionsImpl(
      dfOpt: Option[DataFrame], staged: Seq[ManifestStore.StagedFile],
      batchId: Long, streamId: String, nFiles: Int,
      staticValues: Option[Seq[Seq[Any]]]): Option[Long] = {
    val pcs: Seq[String] = ManifestStore.readTableProps(root)
      .get("partitioncol")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"overwritePartitions needs the 'partitioncol' table property at $root"))
    dfOpt.foreach(df => pcs.foreach(pc => require(df.columns.contains(pc),
      s"overwrite batch must carry the partition column '$pc'")))
    staged.foreach(f => require(f.partVals.size == pcs.size,
      s"staged file ${f.path} carries ${f.partVals.size} partition values, " +
        s"table has ${pcs.size} partition columns"))
    // the replaced set is a list of partition-VALUE TUPLES, one per
    // (multi-column) partition cell — (date, source) overwrites replace
    // exactly the cells present in the batch, never the cross product
    val tuples: Seq[Seq[Any]] = staticValues.getOrElse(dfOpt match {
      case Some(df) =>
        df.select(pcs.map(col): _*).distinct().collect().map(_.toSeq).toSeq
      case None => staged.map(_.partVals).distinct
    })
    if (tuples.isEmpty) return None
    require(tuples.forall(t => t.size == pcs.size && t.forall(_ != null)),
      s"partition overwrite with NULL ${pcs.mkString("(", ", ", ")")} " +
        "values is not supported")
    // partition-column types: from the batch frame when one exists, else
    // from the current manifest (types are commit-stable for a column)
    val pdtSchema: StructType = dfOpt.map(_.schema).getOrElse(
      StructType.fromDDL(currentManifest.getOrElse(
        throw new IllegalStateException(
          s"no current version at $root — commit an initial snapshot first"))
        .schemaDDL))
    // row-tuple membership as ONE wide exists over an array of named
    // structs — flat however many cells the batch carries (a reduced
    // OR-chain is O(#tuples) DEEP and blows the driver stack; see the
    // same discipline in prunedFiles' IN handling)
    def typedStruct(vals: Seq[Any]): Column = struct(pcs.zip(vals).map {
      case (c, v) => lit(v).cast(pdtSchema(c).dataType).as(c) }: _*)
    val tupleArr = array(tuples.map(typedStruct): _*)
    val rowStruct = struct(pcs.map(c => col(c).as(c)): _*)
    val replaceCond = org.apache.spark.sql.functions.exists(
      tupleArr, x => x === rowStruct)
    // Delta's replaceWhere validation: a static batch must stay inside
    // the partitions it replaces, or rows would land without clearing
    // their partition first (a NULL partition row is outside by definition)
    staticValues.foreach { _ =>
      val df = dfOpt.getOrElse(throw new IllegalStateException(
        "static overwrite requires the batch DataFrame form"))
      require(df.filter(!coalesce(replaceCond, lit(false))).isEmpty,
        s"static overwrite batch contains rows outside " +
          s"PARTITION (${pcs.mkString(", ")})")
    }
    ManifestStore.withCommitLock(root) {
      val m = currentManifest.getOrElse(throw new IllegalStateException(
        s"no current version at $root — commit an initial snapshot first"))
      val schema = StructType.fromDDL(m.schemaDDL)
      // candidates = files whose per-column [min,max] boxes contain SOME
      // replaced tuple (per-tuple conjunction — the column-wise cross
      // product would wrongly catch cell (a,2) when replacing {(a,1),
      // (b,2)}), decided on the driver through each column's stats domain
      // ([[ManifestStore.pruneDomain]]) with no Spark job. A column whose
      // stats are missing or do not parse, whose type has no domain, or
      // whose tuple value does not convert cannot rule a file out: such a
      // file stays a candidate, and only a file whose every column HOLDS
      // a tuple may drop wholesale below.
      val tz = spark.conf.get("spark.sql.session.timeZone")
      val doms = pcs.map(c => ManifestStore.pruneDomain(schema(c).dataType))
      val probes: Seq[Seq[Option[Option[Any]]]] = tuples.map(t =>
        pcs.indices.map(i => doms(i).flatMap(d =>
          ManifestStore.probeValue(d, schema(pcs(i)).dataType, t(i), tz))))
      // per file: (some tuple not ruled out, some tuple held in every column)
      def scope(f: FileEntry): (Boolean, Boolean) = {
        // each column's parsed [min, max] with its ordering; None: unknown
        val ranges = pcs.zip(doms).map { case (c, dom) =>
          for {
            d <- dom
            (mn, mx) <- colRange(m, f, c) if mn != null && mx != null
            r <- scala.util.Try((d.parse(mn), d.parse(mx))).toOption
          } yield (d.ord, r)
        }
        // Some(b): the column decides; None: it cannot
        val verdicts = probes.map(_.zip(ranges).map {
          case (Some(x), Some((ord, (lo, hi)))) =>
            Some(x.exists(v => ord.lteq(lo, v) && ord.gteq(hi, v)))
          case _ => None
        })
        (verdicts.exists(!_.contains(Some(false))),
          verdicts.exists(_.forall(_.contains(true))))
      }
      val scoped = m.files.map(f => (f, scope(f)))
      val candidates = scoped.collect { case (f, (true, _)) => f }
      val held = scoped.collect { case (f, (_, true)) => f.name }.toSet
      val candNames = candidates.map(_.name).toSet
      val carried = m.files.filterNot(f => candNames(f.name))
      // a candidate DROPS wholesale only when provably pure: min = max in
      // every partition column AND recorded null-free there (min/max
      // ignore nulls, so a "pure" file could still hide NULL-partition
      // rows — those must survive; unknown null counts demote to
      // straddler, which reads and rewrites: slower, never wrong)
      val (dropped, straddlers) = candidates.partition(f => held(f.name) &&
        pcs.forall(c =>
          colRange(m, f, c).exists { case (mn, mx) =>
            mn != null && mn == mx } &&
            nullsOf(m, f, c).contains(0L)))
      // new content first: the staged form adopts the task output by
      // rename (1x write), the DataFrame form runs the clustering writer;
      // CDF inserts then read the ADOPTED files instead of recomputing
      // the batch frame
      val newEntries = dfOpt match {
        case Some(df) =>
          writeDataFiles(df, nFiles, m.statsCols, colMap = m.colMap)
        case None =>
          adoptPromoted(staged, schema, m.statsCols, m.colMap)
      }
      val cdc = if (!cdfEnabled) None else {
        val deletes = (if (candidates.isEmpty)
            readFiles(m, Nil) // schema donor: no old rows
          else readFiles(m, candidates).filter(replaceCond))
          .select(schema.fieldNames.toSeq.map(c => col(c)): _*)
          .withColumn(ManifestStore.ChangeTypeCol,
            lit(ManifestStore.CdfDelete))
        val insertSrc = dfOpt.getOrElse(readFiles(m, newEntries))
        val inserts = insertSrc
          .select(schema.fieldNames.toSeq.map(c =>
            if (insertSrc.columns.contains(c)) col(c)
            else lit(null).cast(schema(c).dataType)): _*)
          .withColumn(ManifestStore.ChangeTypeCol,
            lit(ManifestStore.CdfInsert))
        writeCdcFile(deletes.unionByName(inserts), m.colMap)
      }
      // NULL-partition rows survive in the remainder: replaceCond is NULL
      // (row silently dropped by !) for a NULL partition value, and
      // nothing on the write path forbids NULL partition values
      val remainderEntries =
        if (straddlers.isEmpty) Nil
        else writeDataFiles(
          readFiles(m, straddlers).filter(
            pcs.map(col(_).isNull).reduce(_ || _) || !replaceCond),
          math.max(1, straddlers.size), m.statsCols, colMap = m.colMap)
      val _ = dropped // replaced wholesale; vacuum reclaims their bytes
      writeManifestAndSwap(m.version + 1, batchId, streamId, m.schemaDDL,
        carried ++ remainderEntries ++ newEntries, m.statsCols, cdc = cdc)
      Some(m.version + 1)
    }
  }

  /** The names of `files` that may hold a key of `keys`' [[Changelog.KeyCol]]
    * column, in ONE task pass over the keys and no broadcast: the driver
    * parses each file's key [min, max] through the key's domain
    * ([[ManifestStore.pruneDomain]]) and ships the O(#files) stats in the
    * task closure; each task casts its keys to `keyType`, tests every
    * (file, key) pair with [[ManifestStore.keyHolds]] (range first, then
    * the file's key Bloom sidecar, loaded lazily through the process LRU)
    * and returns the files it hit, which the driver unions. A null key or
    * null stats never hit; an unparseable stat always does
    * ([[ManifestStore.keyRange]]). Duplicate keys cannot change the answer, so
    * nothing is deduplicated; each task drains its partition, so a
    * persisted input (the merges' net) is materialised by this pass once.
    * Keys stream at any size; the work is O(keys x files) comparisons.
    */
  private def hitFileNames(keys: DataFrame, files: Seq[FileEntry],
                           keyType: org.apache.spark.sql.types.DataType): Set[String] = {
    val dom = ManifestStore.pruneDomain(keyType).getOrElse(
      throw new IllegalArgumentException(
        s"key type ${keyType.sql} has no stats domain"))
    val ranges = files.map(f => f -> ManifestStore.keyRange(f, dom))
    val always = ranges.collect { case (f, Left(true)) => f.name }.toSet
    val stats: Array[(String, Any, Any, String)] = ranges.collect {
      case (f, Right((mn, mx))) => (f.name, mn, mx, f.bloom.orNull)
    }.toArray
    if (stats.isEmpty) always
    else always ++ {
      val rk = rootKey
      val dir = Paths.get(root, "files").toString
      val qe = keys.select(col(Changelog.KeyCol).cast(keyType)).queryExecution
      // one SQL execution, as a Dataset action runs: its stages (those that
      // materialise a persisted input included) see the session's SQL conf
      // — outside one, the merges' JSON parse stage ran 2–3x the CPU
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
          Some("hitFileNames")) {
        qe.toRdd.mapPartitions { rows =>
          // built per task: the closure ships only the stats and the type
          val dom = ManifestStore.pruneDomain(keyType).get
          val hit = new Array[Boolean](stats.length)
          var left = stats.length
          rows.foreach { r =>
            if (left > 0 && !r.isNullAt(0)) {
              val x = ManifestStore.domainValue(keyType, r.get(0, keyType))
              lazy val hs = ManifestStore.bloomHashes(dom, keyType, x)
              var i = 0
              while (i < stats.length) {
                val (_, mn, mx, bn) = stats(i)
                if (!hit(i) && ManifestStore.keyHolds(dom.ord, mn, mx,
                      Some(x), if (bn == null) None else hs,
                      ManifestStore.loadBloom(rk, Paths.get(dir), bn))
                    .contains(true)) {
                  hit(i) = true
                  left -= 1
                }
                i += 1
              }
            }
          }
          Iterator.single(stats.indices.filter(hit).map(stats(_)._1).toArray)
        }.collect().flatten.toSet
      }
    }
  }

  /** Eagerly reclaim a lost-race attempt's data file AND its Bloom
    * sidecar — both are referenced by no manifest.
    */
  private def deleteEntryFiles(e: FileEntry): Unit = {
    Files.deleteIfExists(Paths.get(root, "files", e.name))
    (e.bloom.toSeq ++ e.colBlooms.values ++ e.kmv.toSeq).foreach(b =>
      Files.deleteIfExists(Paths.get(root, "files", b)))
    ()
  }

  /** This table's Bloom sidecar blob, via the process-wide byte-bounded
    * LRU ([[ManifestStore.loadBloom]]); None (missing/vacuumed sidecar)
    * just means the file never Bloom-skips.
    */
  private def loadBloomSidecar(name: String): Option[Array[Byte]] =
    ManifestStore.loadBloom(rootKey, Paths.get(root, "files"), name)

  /** Grow `snap` with typed-null columns for any field the net carries
    * that the stored schema has never seen (additive drift).
    */
  private def widenToNet(snap: DataFrame, netP: DataFrame,
                         fields: Seq[String]): DataFrame =
    fields.foldLeft(snap) { (df, f) =>
      if (df.columns.contains(f)) df
      else df.withColumn(f, lit(null).cast(netP.schema(s"after_$f").dataType))
    }

  /** Ground-truth change rows for one merge commit — the CDF capture.
    * `preSnap` is the pre-merge EFFECTIVE content of the touched files
    * (any existing row with a batch key necessarily lives there, since
    * every live key sits inside some file's [min,max] range and such files
    * are all touched); `live` is the guard-surviving net. A key with an
    * existing row emits update_preimage + update_postimage (or delete); a
    * key without emits insert; a delete of an absent key emits nothing —
    * the feed records what actually CHANGED, not what upstream claimed
    * (an upsert 'u' onto a fresh key is an insert). Both joins broadcast
    * the batch-sized side; the touched-file subset streams through. Output
    * columns: `outSchema` + `_change_type` (Delta's CDF shape).
    */
  private def deriveCdc(preSnap: DataFrame, live: DataFrame,
                        fields: Seq[String],
                        keyType: org.apache.spark.sql.types.DataType,
                        outSchema: StructType,
                        colMap: Map[String, String] = Map.empty)
      : Option[ManifestStore.CdcCapture] = {
    val ctc = ManifestStore.ChangeTypeCol
    val ev = live.select(col(Changelog.KeyCol).cast(keyType).as("_ck"),
      col(Changelog.OpCol).as("_cop"))
    // the ONE pass over the touched files: semi-reduce by broadcasting
    // the batch-sized event set — preSnap itself streams, nothing
    // table-sized shuffles or broadcasts. Persisted (O(batch) rows) so
    // the preimage rows and the existence probe below share the scan.
    val preP = preSnap.join(broadcast(ev), preSnap(keyField) === col("_ck"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pre = preP
        .withColumn(ctc,
          when(col("_cop") === "d", ManifestStore.CdfDelete)
            .otherwise(ManifestStore.CdfUpdatePre))
        .drop("_ck", "_cop")
      val ups = Changelog.afterImage(
        live.filter(col(Changelog.OpCol) =!= "d"), fields)
      // existence probe for insert-vs-update: the keys WITH a pre-image —
      // batch-sized by construction (NEVER the raw touched-file key set:
      // broadcasting that is O(touched rows) driver memory, the r10 CdfBench
      // regression at 60M rows)
      val preKeys = preP.select(col(keyField).as("_pk"))
      val post = ups.join(broadcast(preKeys), ups(keyField) === col("_pk"), "left")
        .withColumn(ctc, when(col("_pk").isNull, ManifestStore.CdfInsert)
          .otherwise(ManifestStore.CdfUpdatePost))
        .drop("_pk")
      // shape both sides to the commit's output schema: the pre side may
      // predate a drift-added column (typed null), types widen through cast
      def shape(df: DataFrame): DataFrame =
        df.select(outSchema.fields.toSeq.map(f =>
          (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
           else lit(null).cast(f.dataType)).as(f.name)) :+ col(ctc): _*)
      writeCdcFile(shape(pre).unionByName(shape(post)), colMap)
    } finally preP.unpersist()
  }

  /** Persist `cdc` as this commit's change file under `files/_cdc_<uuid>`.
    * An EMPTY feed records the marker ("", 0): "captured, nothing
    * effectively changed" — the CDF reader must distinguish it from a
    * pre-capture commit (which it refuses to stream past). A commit that
    * loses its race must delete the directory (same eager cleanup as its
    * data files); a crash orphans it as an unreferenced `files/` entry for
    * vacuum.
    */
  private def writeCdcFile(cdc: DataFrame,
                           colMap: Map[String, String] = Map.empty)
      : Option[ManifestStore.CdcCapture] = {
    // change files store PHYSICAL column names, exactly like data files:
    // physical names never change, so a feed captured before a RENAME
    // still reads fully through the current mapping (logical-named change
    // files would read the renamed column as null after the DDL)
    val shaped =
      if (colMap.isEmpty) cdc
      else {
        val physS = ManifestStore.toPhysical(cdc.schema, colMap)
        cdc.select(cdc.schema.fields.toSeq.zip(physS.fields).map {
          case (lf, pf) =>
            (if (lf.dataType == pf.dataType) col(s"`${lf.name}`")
             else col(s"`${lf.name}`").cast(pf.dataType)).as(pf.name)
        }: _*)
      }
    val cdcP = shaped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // row count + the captured KEY RANGE + (r16) per-zone-map-column
      // min/max in ONE pass (everything serializes through the same
      // typed stat cast as every zone map): the key range lets a KEYED
      // feed consumer prune whole captured versions in the key's native
      // ordering, and the column stats extend that to NON-key data
      // conjuncts — both at planning and in the paced walk's admission
      // (a knowably-pruned capture rides free). A shape without the key
      // column still captures, just without the range; a stat that
      // fails to compute is simply absent (conservative keep at read).
      val physKey = colMap.getOrElse(keyField, keyField)
      val tableProps = ManifestStore.readTableProps(root)
      val statTrunc = ManifestStore.statsTruncate(tableProps)
      val truncExempt: Set[String] = tableProps.get("partitioncol").toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).toSet
      // the table's zone-map columns, resolved against the capture's
      // LOGICAL shape and keyed by PHYSICAL name like FileEntry.cols
      val sCols = currentManifest.map(_.statsCols).getOrElse(Nil)
        .filter(c => c != keyField &&
          ManifestStore.leafType(cdc.schema, c).isDefined)
      def statDt(c: String) = ManifestStore.leafType(cdc.schema, c).get
      def statCol(c: String): Column =
        if (cdc.columns.contains(c)) col(s"`${colMap.getOrElse(c, c)}`")
        else col(colMap.getOrElse(c, c))
      def truncStat(c: String, mn: String, mx: String): (String, String) =
        statTrunc match {
          case Some(nT) if mn != null && !truncExempt.contains(c) &&
              statDt(c) == org.apache.spark.sql.types.StringType =>
            (ManifestStore.truncMin(mn, nT), ManifestStore.truncMax(mx, nT))
          case _ => (mn, mx)
        }
      val stats = scala.util.Try {
        val dt = shaped.schema(physKey).dataType
        val extra = sCols.flatMap { c =>
          val cdt = statDt(c)
          Seq(statSerialize(min(statCol(c)), cdt),
            statSerialize(max(statCol(c)), cdt))
        }
        val r = cdcP.agg(count(lit(1)),
          (statSerialize(min(col(s"`$physKey`")), dt) +:
            statSerialize(max(col(s"`$physKey`")), dt) +: extra): _*).head()
        val colStats = sCols.zipWithIndex.flatMap { case (c, i) =>
          val cmn = r.getString(3 + 2 * i); val cmx = r.getString(4 + 2 * i)
          if (cmn == null || cmx == null) None
          else Some(colMap.getOrElse(c, c) -> truncStat(c, cmn, cmx))
        }.toMap
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getString(2)),
          colStats)
      }.getOrElse((cdcP.count(), None, None,
        Map.empty[String, (String, String)]))
      val (n, mn, mx, ccols) = stats
      if (n == 0L) Some(ManifestStore.CdcCapture("", 0L))
      else {
        val name = s"_cdc_${java.util.UUID.randomUUID()}"
        Files.createDirectories(Paths.get(root, "files"))
        cdcP.write.parquet(Paths.get(root, "files", name).toString)
        Some(ManifestStore.CdcCapture(name, n, mn, mx, ccols))
      }
    } finally cdcP.unpersist()
  }

  private final case class Derived(touched: Seq[FileEntry],
                                   reused: Seq[FileEntry],
                                   newEntries: Seq[FileEntry],
                                   outSchema: String,
                                   cdc: Option[ManifestStore.CdcCapture] = None)

  /** Prune + merge + write data files against a specific manifest —
    * entirely contention-free (no `_CURRENT` read or write); the caller
    * links the result into a manifest. `netP` must be persisted.
    */
  private def deriveMerge(m: Manifest, netP: DataFrame, fields: Seq[String],
                          tsGuard: Boolean): Derived = {
    // file pruning: a file is touched iff some batch key lands in its range
    val touched = hitFileNames(netP, m.files, keyTypeOf(m))
    val (touchedFiles, reused) = m.files.partition(f => touched(f.name))

    // additive schema evolution: a drift-added field reaches the store as
    // an after_<f> net column the manifest schema has never seen — grow
    // the snapshot side as typed nulls (old files read null through later
    // manifests' wider schema; nothing rewrites)
    val snapSubset = widenToNet(readFiles(m, touchedFiles), netP, fields)
    val (merged, live, cleanup) = Merge.applyChangesFull(
      snapSubset, netP, keyField, fields, tsGuard)
    // rewrite volume ~ what was touched; growth (insert-heavy batches
    // with no file hits) lands in one extra file per merge, and the
    // periodic re-clustering commit ([[recluster]]) restores the
    // file-count/size balance
    val (cdc, newEntries) =
      try {
        val c = if (!cdfEnabled) None
          else deriveCdc(snapSubset, live, fields,
            keyTypeOf(m), merged.schema, m.colMap)
        (c, writeDataFiles(merged, math.max(1, touchedFiles.size),
          m.statsCols, colMap = m.colMap))
      } finally cleanup()
    // result schema gains last_ts on first merge of a ts-less snapshot
    Derived(touchedFiles, reused, newEntries, merged.schema.toDDL, cdc)
  }

  /** Optimistic concurrent MERGE — Delta's actual conflict rule, finer
    * than a whole-table CAS: independent writers starting from the same
    * parent COMMUTE unless their work genuinely overlaps. The expensive
    * phase (prune, merge, write data files) runs contention-free; inside
    * the commit lock the attempt then either
    *
    *   - swaps directly (nobody committed since), or
    *   - REBASES onto the new current — re-links its rewrites into the
    *     winner's file list — which is sound iff all three hold:
    *       (a) no concurrent schema change,
    *       (b) every file this merge rewrote is still live (the winner
    *           carried them by reference), and
    *       (c) no file the winner wrote has a key range containing any of
    *           this batch's keys (file immutability makes everything else
    *           order-independent), or
    *   - retries from scratch against the new current (a real overlap —
    *     Delta's ConcurrentAppend/DeleteRead conflicts).
    *
    * Unreferenced data files from failed attempts are deleted eagerly.
    * Exactly-once (batchId, streamId) replay detection is preserved at
    * every re-check. Concurrent [[vacuum]] is NOT coordinated with in-
    * flight merges (same trade as Delta: run maintenance quiesced or with
    * a retention window longer than any writer's derivation).
    */
  def mergeOptimistic(net: DataFrame, fields: Seq[String], batchId: Long,
                      streamId: String = "default", tsGuard: Boolean = true,
                      maxAttempts: Int = 3): MergeOutcome =
    mergeOptimisticHook(net, fields, batchId, streamId, tsGuard,
      maxAttempts)(() => ())

  /** [[mergeOptimistic]] with a deterministic interleave probe: `onDerived`
    * fires after the contention-free derivation and before the commit lock
    * — exactly where a concurrent writer's commit turns this attempt into
    * a lost race. Specs use it to exercise the rebase/retry paths without
    * relying on scheduler timing; production calls get the no-op.
    */
  private[cdc] def mergeOptimisticHook(net: DataFrame, fields: Seq[String],
                                       batchId: Long, streamId: String,
                                       tsGuard: Boolean, maxAttempts: Int)
                                      (onDerived: () => Unit): MergeOutcome = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val netP = net.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var last: MergeOutcome = ManifestStore.MergeConflict(-1L, "no attempt")
      var attempt = 0
      while (attempt < maxAttempts) {
        attempt += 1
        val m = currentManifest.getOrElse(
          throw new IllegalStateException(s"no current version at $root — " +
            "commit an initial snapshot before merging"))
        if (replayed(batchId, streamId))
          return ManifestStore.AlreadyMerged
        val d = deriveMerge(m, netP, fields, tsGuard)
        onDerived()
        val parentNames = m.files.map(_.name).toSet
        val touchedNames = d.touched.map(_.name).toSet
        // rewrite-safety is (name, dv) IDENTITY: a concurrent merge-on-read
        // commit keeps a file's name but changes its sidecar, and a rebase
        // past it would resurrect the keys it masked
        val touchedIds = d.touched.map(f => (f.name, f.dv)).toSet
        val outcome = ManifestStore.withCommitLock(root) {
          val curM = currentManifest.get
          if (replayed(batchId, streamId))
            ManifestStore.AlreadyMerged
          else if (curM.version == m.version) {
            writeManifestAndSwap(m.version + 1, batchId, streamId,
              d.outSchema, d.reused ++ d.newEntries, m.statsCols,
              cdc = d.cdc)
            ManifestStore.MergedAt(MergeStats(m.version + 1, d.touched.size,
              d.reused.size, d.newEntries.size))
          } else {
            val curIds = curM.files.map(f => (f.name, f.dv)).toSet
            // every file the winner(s) wrote since our parent is new-named
            // (a dv-only change keeps the name: if our batch's keys landed
            // in that file's range we rewrote it ourselves and the
            // identity check below catches the clash)
            val addedSince = curM.files.filterNot(f => parentNames(f.name))
            // schema compatibility: the winner either kept the parent's
            // schema or evolved it to exactly what this merge writes too
            // (the common case — both merges appended last_ts); anything
            // else is a real concurrent schema change
            if (curM.schemaDDL != m.schemaDDL && curM.schemaDDL != d.outSchema)
              ManifestStore.MergeConflict(curM.version,
                "concurrent schema change")
            else if (!touchedIds.subsetOf(curIds))
              ManifestStore.MergeConflict(curM.version,
                "a file this merge rewrote was rewritten or re-masked concurrently")
            else if (hitFileNames(netP, addedSince, keyTypeOf(curM)).nonEmpty)
              ManifestStore.MergeConflict(curM.version,
                "a concurrent commit wrote rows in this batch's key range")
            else {
              val files = curM.files.filterNot(f => touchedNames(f.name)) ++
                d.newEntries
              // the rebase preconditions (no overlap with the winner's
              // writes) also keep the CDF record valid: the touched keys'
              // pre-images are unchanged between the parent and curM
              writeManifestAndSwap(curM.version + 1, batchId, streamId,
                d.outSchema, files, curM.statsCols, cdc = d.cdc)
              ManifestStore.MergedAt(MergeStats(curM.version + 1,
                d.touched.size, files.size - d.newEntries.size,
                d.newEntries.size))
            }
          }
        }
        outcome match {
          case c: ManifestStore.MergeConflict =>
            // this attempt's data files are referenced by no manifest —
            // reclaim them now instead of leaving them for vacuum
            d.newEntries.foreach(deleteEntryFiles)
            d.cdc.filter(_.name.nonEmpty).foreach(c2 =>
              deleteRecursively(Paths.get(root, "files", c2.name)))
            last = c
          case done => return done
        }
      }
      last
    } finally netP.unpersist()
  }

  /** Rewrite the CURRENT version re-clustered into `nFiles` tight disjoint
    * key-range files — the OPTIMIZE role. Merges accumulate files whose
    * ranges overlap (a growth file from an insert-heavy batch spans a wide
    * range), and every overlap makes later stats pruning more conservative;
    * re-clustering restores the disjoint layout [[commit]] produces. New
    * version, SAME batchId/streamId: maintenance, not a data change, so
    * exactly-once replay detection is untouched.
    *
    * Concurrency: the expensive rewrite runs contention-free, then the
    * swap is CAS-guarded — if any writer committed in between, the attempt
    * DISCARDS its files and returns None rather than clobbering the newer
    * version (a rebase is impossible here: the rewrite spans every file).
    * Returns the new version, or None on an empty store or a lost race.
    */
  def recluster(nFiles: Int): Option[Long] = reclusterHook(nFiles)(() => ())

  /** OPTIMIZE ZORDER BY — recluster the table by the interleaved-bit
    * Morton value of `(longCol, doubleCol)` ([[graft.ops.Layout]]'s
    * deterministic equi-width binning), so every file's min/max box is
    * tight in BOTH dimensions and [[readWhere]] prunes on either column.
    * Both columns join the manifest's `statsCols` (later merges keep
    * maintaining them).
    *
    * The trade is Delta's exactly: Z-clustered files carry WIDE key
    * ranges, so key-based MERGE pruning degrades toward touching every
    * file — Z-order a table whose read traffic is multi-dimensional
    * range scans, not one absorbing heavy keyed-merge traffic (or re-run
    * [[recluster]] to restore key clustering). Effective rows are read
    * (sidecars fold), so the rewrite also clears all deletion-vector
    * debt. MAINTENANCE commit: same (batchId, streamId), CAS-guarded —
    * invisible to replay guards and to the streaming tail.
    *
    * `bits` bounds the binning resolution; [[graft.ops.Layout.binLong]]
    * rejects ranges that would overflow (pre-scale epoch-nano-like
    * columns first). `longCol` must be an integral/date/timestamp type,
    * `doubleCol` numeric.
    */
  def reclusterZorder(longCol: String, doubleCol: String, nFiles: Int,
                      bits: Int = 8): Option[Long] =
    currentManifest.flatMap { m =>
      import org.apache.spark.sql.types._
      val schema = StructType.fromDDL(m.schemaDDL)
      def dtOf(c: String) = schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType, DateType,
        TimestampType, TimestampNTZType).contains(dtOf(longCol)),
        s"zorder longCol '$longCol' must be integral/date/timestamp, " +
          s"got ${dtOf(longCol).sql}")
      require(dtOf(doubleCol).isInstanceOf[NumericType],
        s"zorder doubleCol '$doubleCol' must be numeric, got ${dtOf(doubleCol).sql}")
      val df = readFiles(m, m.files)
      val r = df.agg(min(col(longCol).cast("long")), max(col(longCol).cast("long")),
        min(col(doubleCol).cast("double")), max(col(doubleCol).cast("double"))).head()
      if (r.isNullAt(0) || r.isNullAt(2)) None // empty or all-null dims
      else {
        val (loL, hiL, loD, hiD) =
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
        val z = graft.ops.Layout.interleaveBits(
          graft.ops.Layout.binLong("_zl", loL, hiL, bits),
          graft.ops.Layout.binDouble(col(doubleCol).cast("double"), loD, hiD, bits),
          bits)
        val df2 = df.withColumn("_zl", col(longCol).cast("long"))
          .withColumn("_z", z).drop("_zl")
        val newStats = (m.statsCols ++ Seq(longCol, doubleCol)).distinct
        val entries = writeDataFiles(df2, nFiles, newStats,
          clusterBy = Some("_z"), colMap = m.colMap)
        val won = ManifestStore.withCommitLock(root) {
          current.exists(_._1 == m.version) && {
            writeManifestAndSwap(m.version + 1, m.batchId, m.streamId,
              m.schemaDDL, entries, newStats)
            true
          }
        }
        if (!won) {
          entries.foreach(deleteEntryFiles)
          None
        } else Some(m.version + 1)
      }
    }

  /** N-column Z-order recluster with RANK (equi-depth) binning — the
    * generalization of [[reclusterZorder]] Delta's `OPTIMIZE ZORDER BY
    * (a, b, c)` users expect. Any number of numeric / date / timestamp
    * columns (n·bits <= 63); each column's bin boundaries are its
    * 2^bits - 1 approximate quantiles (ONE `approxQuantile` pass over the
    * table, O(n · 2^bits) driver values), rows bin by binary search
    * ([[graft.functions.QuantileBin]], codegen'd) and cluster by the
    * n-ary Morton value. Rank binning is what survives skew at 100 TB:
    * equi-width binning collapses a heavy-tailed column into one hot bin
    * and the Z-value degenerates to a sort on the others; equi-depth
    * fills every bin by construction, so per-file zone ranges stay tight
    * in EVERY dimension and the zone map prunes box predicates on any
    * subset of the columns. Layout-only machinery: bin ids and Z-values
    * never reach answers — approximate quantiles cannot affect
    * correctness, only tightness. Same contention-free-rewrite + CAS-swap
    * discipline as [[recluster]]; nulls bin as 0 (they cluster together).
    */
  def reclusterZorderCols(cols: Seq[String], nFiles: Int,
                          bits: Int = 8): Option[Long] =
    currentManifest.flatMap { m =>
      val schema = StructType.fromDDL(m.schemaDDL)
      val df = readFiles(m, m.files)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        zRankFrame(df, cols, bits, schema) match {
          case None => None // empty table or an all-null dim
          case Some(df2) =>
            val newStats = (m.statsCols ++ cols).distinct
            val entries = writeDataFiles(df2, nFiles, newStats,
              clusterBy = Some("_z"), colMap = m.colMap)
            val won = ManifestStore.withCommitLock(root) {
              current.exists(_._1 == m.version) && {
                writeManifestAndSwap(m.version + 1, m.batchId, m.streamId,
                  m.schemaDDL, entries, newStats)
                // record the clustering (table properties, under the same
                // lock hold as the swap): [[optimize]]'s maintenance path
                // folds small/masked files back into THIS order instead of
                // re-sorting them by key — which would shred the layout
                // the user just paid a full rewrite for
                // a FULL re-zorder rank-bins over the whole table, so the
                // fold-drift counter resets — GraftMaintenance's freshness
                // trigger reads it against the live file count
                ManifestStore.writeTableProps(root,
                  ManifestStore.readTableProps(root) +
                    ("clustering.cols" -> cols.mkString(","),
                      "clustering.bits" -> bits.toString,
                      "clustering.foldfiles" -> "0",
                      "clustering.folddebt" -> "0.0"))
                true
              }
            }
            if (!won) {
              entries.foreach(deleteEntryFiles)
              None
            } else Some(m.version + 1)
        }
      } finally df.unpersist()
    }

  /** `df` with a `_z` N-ary Morton-rank column over `cols` — the
    * clustering expression shared by [[reclusterZorderCols]] and
    * [[optimize]]'s clustered maintenance path. Each dimension normalizes
    * to DOUBLE rank space (zone-free casts: dates through epoch days,
    * timestamps through epoch micros; strings through their first 8
    * UTF-8 bytes, [[graft.functions.StringPrefixRank]]), rank-bins into
    * 2^bits equi-depth bins via ONE `approxQuantile` pass over `df`
    * (callers persist `df`; the norm projections re-run from cache), and
    * the bins interleave bitwise. None when any dimension carries no
    * quantile mass (empty input or an all-null dimension); nulls bin
    * as 0.
    */
  /** A manifest stat string's position on [[zRankFrame]]'s DOUBLE rank
    * axis for `dt` — the driver-side twin of its `norm()` (numerics
    * parse, dates via epoch day, timestamps already serialize as micros,
    * strings via the same 8-byte prefix rank). None when unparseable.
    */
  private def statRank(v: String,
                       dt: org.apache.spark.sql.types.DataType)
      : Option[Double] = {
    import org.apache.spark.sql.types._
    if (v == null || v.isEmpty) return None // all-null dim: no stat
    dt match {
      case TimestampType => v.toLongOption.map(_.toDouble)
      case DateType => scala.util.Try(
        java.time.LocalDate.parse(v).toEpochDay.toDouble).toOption
      case StringType => Some(graft.functions.StringPrefixRank.rank(
        org.apache.spark.unsafe.types.UTF8String.fromString(v)))
      case _: NumericType =>
        v.toDoubleOption.orElse(scala.util.Try(
          new java.math.BigDecimal(v).doubleValue()).toOption)
      case _ => None
    }
  }

  /** MEASURED drift debt of a clustered fold's output (r15, size-aware
    * since r16): each new file's zone-map box width per clustering
    * dimension relative to the table-wide span, MINUS the footprint an
    * IDEALLY clustered file of its (live) size would have — a file
    * holding fraction p of the table's live rows legitimately spans up
    * to 2·p^(1/dims) of a dimension even under a perfect z-order (a
    * contiguous z-range allocates interleave bits to dimensions
    * alternately, so one dimension always runs up to one bit — 2× —
    * wider than the uniform p^(1/dims) footprint), so only the EXCESS
    * over that ideal counts as drift (normalized by the possible excess,
    * clipped to [0,1]). Without the size term a
    * delete-heavy workload over-accrued with ZERO real drift: uniform
    * deletes push whole z-files past `dvFold`, the fold merges their
    * SURVIVORS into fewer, larger files whose boxes are big because the
    * files are big (~0.45/file measured on a 70%-deleted fixture — two
    * delete waves nearly tripped a full table rewrite the layout didn't
    * need). Sizing by LIVE rows is what keeps the measure DV-honest:
    * masked rows never justify footprint. A tight small file still adds
    * ~0, a dirty-subset table-wide hull still adds ~1 (its ideal
    * footprint is tiny). Unknown/unparseable stats count 1.0 (unknown =
    * loose, the direction that can only over-refresh, never miss decay).
    * O(files x dims) driver arithmetic over stats the fold already wrote.
    */
  private def foldDebt(m: Manifest, schema: StructType, zc: Seq[String],
                       all: Seq[FileEntry], newEntries: Seq[FileEntry])
      : Double = {
    // DV-HONEST TABLE SPAN (r17): the drift denominator skips files with
    // ZERO live rows — a fully-masked file at the table's extreme (kept
    // in the manifest by the merge-on-read commit paths until
    // maintenance collects it) used to inflate the span with dead
    // extent, shrinking every new file's relative width and DEFERRING a
    // refresh the live layout needed. The rule is exact, not heuristic:
    // a box with no live rows vouches for nothing; a box with ANY
    // survivors is honored in full (the stats can't say where its
    // survivors sit, and under-spanning would manufacture spurious
    // debt — the uniform-delete fixture r16 fixed must stay fixed).
    val dims = zc.flatMap { c =>
      ManifestStore.leafType(schema, c).map { dt =>
        val ranks = all.withFilter(_.liveRows > 0L)
          .flatMap(_.cols.get(m.phys(c)).toSeq.flatMap {
            case (lo, hi) => Seq(statRank(lo, dt), statRank(hi, dt)).flatten
          })
        (c, dt, if (ranks.isEmpty) None else Some((ranks.min, ranks.max)))
      }
    }
    if (dims.isEmpty) return newEntries.size.toDouble
    val totalLive = math.max(1L, all.map(_.liveRows).sum)
    newEntries.map { f =>
      val ideal = math.min(1.0,
        2.0 * math.pow(f.liveRows.toDouble / totalLive, 1.0 / dims.size))
      val rel = dims.map { case (c, dt, span) =>
        (span, f.cols.get(m.phys(c))) match {
          case (Some((lo, hi)), Some((flo, fhi))) if hi > lo =>
            (for {a <- statRank(flo, dt); b <- statRank(fhi, dt)} yield {
              val actual = math.min(1.0, math.max(0.0, (b - a) / (hi - lo)))
              math.min(1.0, math.max(0.0, actual - ideal) /
                math.max(1e-9, 1.0 - ideal))
            }).getOrElse(1.0)
          case (Some(_), Some(_)) => 0.0 // degenerate span: all tight
          case _ => 1.0
        }
      }
      rel.sum / rel.size
    }.sum
  }

  private def zRankFrame(df: DataFrame, cols: Seq[String], bits: Int,
                         schema: StructType): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    require(cols.size >= 2, s"zorder needs >= 2 columns, got $cols")
    require(cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits exceeds 63 result bits")
    def norm(c: String): Column = schema(c).dataType match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case _: NumericType => col(c).cast("double")
      // strings rank by their first 8 UTF-8 bytes (URL/domain/path
      // dimensions): equi-depth bins on the truncated rank, so prefix
      // predicates and leading-byte ranges prune after the recluster;
      // order beyond the 8-byte prefix is NOT preserved (documented in
      // [[graft.functions.StringPrefixRank]])
      case StringType => {
        import org.apache.spark.sql.graft.ParquetWriteBridge.{column, expression}
        column(graft.functions.StringPrefixRank(expression(col(c))))
      }
      case other => throw new IllegalArgumentException(
        s"zorder column '$c' must be numeric/date/timestamp/string, " +
          s"got ${other.sql}")
    }
    val qNames = cols.indices.map(i => s"_zq$i")
    val withQ = cols.zip(qNames).foldLeft(df) { case (d, (c, q)) =>
      d.withColumn(q, norm(c))
    }
    val nBins = 1 << bits
    val probs = (1 until nBins).map(_.toDouble / nBins).toArray
    // one pass for every dimension's boundary set; nulls are ignored
    // by the sketch (they bin as 0 below)
    val qs = withQ.stat.approxQuantile(qNames.toArray, probs, 0.001)
    if (qs.exists(_.isEmpty)) None
    else {
      import org.apache.spark.sql.graft.ParquetWriteBridge.{column, expression}
      val bins = qNames.zip(qs).map { case (q, bounds) =>
        coalesce(column(graft.functions.QuantileBin(
          expression(col(q)), bounds.toSeq)), lit(0L))
      }
      val z = graft.ops.Layout.interleaveBitsN(bins, bits)
      Some(withQ.withColumn("_z", z).drop(qNames: _*))
    }
  }

  /** [[recluster]] with the same interleave probe as
    * [[mergeOptimisticHook]] — `onDerived` fires between the rewrite and
    * the CAS swap.
    */
  private[cdc] def reclusterHook(nFiles: Int)
                                (onDerived: () => Unit): Option[Long] =
    currentManifest.flatMap { m =>
    val entries = writeDataFiles(readFiles(m, m.files), nFiles,
      m.statsCols, colMap = m.colMap)
    onDerived()
    val won = ManifestStore.withCommitLock(root) {
      current.exists(_._1 == m.version) && {
        writeManifestAndSwap(m.version + 1, m.batchId, m.streamId,
          m.schemaDDL, entries, m.statsCols)
        true
      }
    }
    if (!won) entries.foreach(deleteEntryFiles)
    if (won) Some(m.version + 1) else None
  }

  /** Assign each file to an overlap group: sort by (min, max, name) and
    * sweep, merging a file into the open group while its min does not
    * exceed the running max — the classic interval-merge, on the driver
    * through the key's typed domain ([[ManifestStore.pruneDomain]]), so
    * the string-serialized stats compare in the key's native order. A
    * missing or unparseable stat sorts first and never opens a group of
    * its own after the first. Returns file name -> group id, where group
    * ids ascend in key order.
    */
  private[cdc] def overlapGroups(files: Seq[FileEntry],
                            keyType: org.apache.spark.sql.types.DataType)
      : Map[String, Long] = {
    val dom = ManifestStore.pruneDomain(keyType).getOrElse(
      throw new IllegalArgumentException(
        s"no stat domain for key type ${keyType.sql}"))
    def parse(s: String): Option[Any] =
      Option(s).flatMap(x => scala.util.Try(dom.parse(x)).toOption)
    val byRange = Ordering.Tuple3(Ordering.Option(dom.ord),
      Ordering.Option(dom.ord), Ordering.String)
    var runMax: Option[Any] = None
    var grp = 0L
    files.map(f => (parse(f.minKey), parse(f.maxKey), f.name))
      .sorted(byRange).map { case (mn, mx, name) =>
        if (runMax.forall(r => mn.exists(dom.ord.gt(_, r)))) grp += 1
        runMax = (runMax ++ mx).reduceOption[Any](dom.ord.max(_, _))
        name -> grp
      }.toMap
  }

  /** Partial re-clustering — Delta OPTIMIZE's file selection, replacing
    * [[recluster]]'s O(table) rewrite for routine maintenance. Two kinds of
    * layout debt accumulate under merges: growth files whose wide key range
    * OVERLAPS the clustered files (eroding stats pruning), and a creeping
    * population of small files. Both are range-local problems, so the fix
    * is range-local:
    *
    *   1. group files by key-range overlap (interval merge),
    *   2. bin-pack ADJACENT groups toward `targetFiles`-sized outputs
    *      (adjacent-only, so every bin's key hull stays disjoint from its
    *      neighbors' and the global disjoint invariant survives),
    *   3. compact only multi-file bins; every single-file bin crosses into
    *      the new version BY REFERENCE — zero I/O for the healthy part of
    *      the table, cost bounded by overlap + small-file volume, not
    *      table size.
    *
    * Returns None (and commits nothing) when the layout is already clean —
    * an idle table pays nothing. Same CAS discipline as [[recluster]]: a
    * lost race discards the attempt's files. New version, same
    * batchId/streamId: maintenance, invisible to replay detection.
    *
    * CLUSTERED tables (`clustering.cols` recorded by
    * [[reclusterZorderCols]], plain layouts only) take a different path:
    * fold only the DIRTY files (below half the target size, or DV-heavy)
    * into fresh z-sorted replacements and carry every clean file — the
    * key-order bin-pack above would see one giant overlap group on a
    * z-table and rewrite the whole thing sorted by key, shredding the
    * layout.
    */
  /** `dvFold`: a lone file also compacts once its masked fraction reaches
    * this (default: half — Delta's DV-compaction threshold). Callers
    * repaying deletion-vector debt on a policy trigger (e.g.
    * [[graft.streaming.ManifestCdcStream]]'s dv-debt fraction) pass their
    * trigger fraction here: total debt >= F implies at least one file's
    * fraction >= F (pigeonhole), so every triggered pass folds something
    * and the debt decreases instead of the trigger spinning.
    */
  /** `scope`: equality conjuncts (`col = value`) restricting maintenance
    * to the files whose stats ADMIT the value — on a partitioned table,
    * `OPTIMIZE ... WHERE day = X` compacts one partition's files and
    * carries every other file by reference untouched. At 100 TB,
    * maintenance scoped to the hot partition is the only affordable kind;
    * an out-of-scope file never costs I/O. Straddling legacy files whose
    * range admits the value are conservatively IN scope.
    */
  def optimize(targetFiles: Int,
               dvFold: Double = 0.5,
               scope: Seq[(String, Any)] = Nil)
      : Option[ManifestStore.OptimizeStats] =
    optimizeHook(targetFiles, dvFold, scope)(() => ())

  /** [[optimize]] with the same pre-commit interleave probe as
    * [[mergeOptimisticHook]]/[[reclusterHook]].
    */
  private[cdc] def optimizeHook(targetFiles: Int, dvFold: Double = 0.5,
                                scope: Seq[(String, Any)] = Nil)
                               (onDerived: () => Unit)
      : Option[ManifestStore.OptimizeStats] = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    require(dvFold > 0, s"dvFold must be > 0, got $dvFold")
    currentManifest.filter(_.files.nonEmpty).flatMap { m =>
      // scope cut first: out-of-scope files carry by reference, whole
      val inScope: Seq[FileEntry] =
        if (scope.isEmpty) m.files
        else prunedFiles(m, scope.map { case (c, v) => (c, "=", v) })
      val inScopeNames = inScope.map(_.name).toSet
      val outScope = m.files.filterNot(f => inScopeNames(f.name))
      if (inScope.isEmpty) return None
      // CLUSTERED tables (`clustering.cols`, recorded by
      // [[reclusterZorderCols]]): the key-order bin-pack below would be
      // catastrophic here — z-ordered files all overlap in raw key space,
      // so overlapGroups lumps the whole table into ONE group and every
      // optimize becomes a full rewrite SORTED BY KEY, shredding the
      // layout the user paid a table-scale recluster for. Instead, fold
      // only the DIRTY files (small ingest debt + DV-heavy) into fresh
      // z-sorted replacements and carry every clean file untouched —
      // Delta's incremental OPTIMIZE-on-clustered-tables shape. Guarded
      // to plain layouts: partition/bucket purity owns the file shape on
      // those tables and must not lose to a z-sort.
      val zCfg: Option[(Seq[String], Int)] = {
        val props = ManifestStore.readTableProps(root)
        val zc = props.get("clustering.cols").toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        val zb = props.get("clustering.bits").flatMap(_.toIntOption)
          .filter(_ > 0).getOrElse(8)
        val parted = props.get("partitioncol").exists(_.trim.nonEmpty)
        val bucketed = props.get("buckets").flatMap(_.toIntOption).exists(_ > 0)
        if (zc.size >= 2 && !parted && !bucketed) Some((zc, zb)) else None
      }
      zCfg.foreach { case (zCols, zBits) =>
        val schema = StructType.fromDDL(m.schemaDDL)
        val missing = zCols.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"clustering.cols name absent column(s) ${missing.mkString(", ")} " +
            "— update or UNSET the property (ALTER TABLE ... UNSET " +
            "TBLPROPERTIES ('clustering.cols')) before running optimize")
        val targetRows = math.max(1L,
          inScope.map(_.liveRows).sum / targetFiles)
        // dirty = under HALF the target (Delta's minFileSize hysteresis:
        // a file just under target must not be rewritten on every pass)
        // or carrying enough deletion-vector debt to be worth folding
        val (dirty, clean) = inScope.partition(f =>
          f.liveRows < targetRows / 2 ||
            (f.rows > 0 && f.dvRows >= dvFold * f.rows))
        // same worth-it rule as the plain path: multiple foldable files,
        // or a lone file carrying enough mask debt
        val worth = dirty.size > 1 ||
          dirty.exists(f => f.rows > 0 && f.dvRows >= dvFold * f.rows)
        if (!worth) return None
        val carried = outScope ++ clean
        val nOut = math.max(1L,
          (dirty.map(_.liveRows).sum + targetRows - 1) / targetRows)
        val newStats = (m.statsCols ++ zCols).distinct
        val dfD = readFiles(m, dirty)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val newEntries =
          try zRankFrame(dfD, zCols, zBits, schema) match {
            case Some(z) => writeDataFiles(z, nOut.toInt, newStats,
              clusterBy = Some("_z"), colMap = m.colMap)
            // no quantile mass in some dimension (dirty rows all-null
            // there): a key-clustered fold is still a correct compaction
            case None => writeDataFiles(dfD, nOut.toInt, newStats,
              colMap = m.colMap)
          } finally dfD.unpersist()
        onDerived()
        val won = ManifestStore.withCommitLock(root) {
          current.exists(_._1 == m.version) && {
            writeManifestAndSwap(m.version + 1, m.batchId, m.streamId,
              m.schemaDDL, carried ++ newEntries, newStats)
            // drift bookkeeping: the fold's bin boundaries came from the
            // DIRTY subset only, so its output accrues DEBT until a full
            // re-zorder resets it — clustering.foldfiles counts the fold
            // work (observability + pre-r15 gate fallback), while
            // clustering.folddebt accrues MEASURED tightness decay
            // ([[foldDebt]]): GraftMaintenance triggers once the debt
            // fraction passes clustering.refreshratio, so re-folding
            // already-tight files never trips a spurious full rewrite
            val tp = ManifestStore.readTableProps(root)
            val prev = tp.get("clustering.foldfiles")
              .flatMap(_.toLongOption).getOrElse(0L)
            // upgrade path: a pre-debt table (foldfiles > 0, folddebt
            // absent) accrued staleness under the COUNT gate — seed the
            // debt with that count (the old gate's measure) rather than
            // 0.0, so drift accumulated before the upgrade can still
            // trip the re-zorder it was already due for
            val debtPrev = tp.get("clustering.folddebt")
              .flatMap(_.toDoubleOption).getOrElse(prev.toDouble)
            val debt = debtPrev +
              foldDebt(m, schema, zCols, carried ++ newEntries, newEntries)
            ManifestStore.writeTableProps(root, tp +
              ("clustering.foldfiles" -> (prev + newEntries.size).toString) +
              ("clustering.folddebt" -> debt.toString))
            true
          }
        }
        return if (!won) {
          newEntries.foreach(deleteEntryFiles)
          None
        } else Some(ManifestStore.OptimizeStats(m.version + 1,
          dirty.size, carried.size, newEntries.size))
      }
      val grp = overlapGroups(inScope, keyTypeOf(m))
      // groups in key order; bin-pack adjacent groups toward target size
      // (packing arithmetic uses LIVE rows — masked keys are debt, not data)
      val groups: Seq[Seq[FileEntry]] = inScope.groupBy(f => grp(f.name))
        .toSeq.sortBy(_._1).map(_._2)
      val targetRows = math.max(1L, inScope.map(_.liveRows).sum / targetFiles)
      val bins = groups.foldLeft(Vector.empty[Vector[FileEntry]]) { (acc, g) =>
        val gRows = g.map(_.liveRows).sum
        acc.lastOption match {
          case Some(last) if last.map(_.liveRows).sum + gRows <= targetRows =>
            acc.init :+ (last ++ g)
          case _ => acc :+ g.toVector
        }
      }
      // a lone file is also dirty once `dvFold` of its rows are masked —
      // folding the sidecar back in removes the anti-join it forces on
      // every read
      val (compactBins, carryBins) = bins.partition(b =>
        b.size > 1 || b.exists(f => f.rows > 0 && f.dvRows >= dvFold * f.rows))
      if (compactBins.isEmpty) None // layout already clean — commit nothing
      else {
        val carried = outScope ++ carryBins.flatten
        // per-bin rewrite: each bin re-clusters WITHIN its own key hull, so
        // outputs cannot overlap the carried neighbors; the effective read
        // applies sidecars, so compaction folds masks into the data files
        val newEntries = compactBins.flatMap { bin =>
          val n = math.max(1L,
            (bin.map(_.liveRows).sum + targetRows - 1) / targetRows)
          writeDataFiles(readFiles(m, bin), n.toInt, m.statsCols,
            colMap = m.colMap)
        }
        onDerived()
        val won = ManifestStore.withCommitLock(root) {
          current.exists(_._1 == m.version) && {
            writeManifestAndSwap(m.version + 1, m.batchId, m.streamId,
              m.schemaDDL, carried ++ newEntries, m.statsCols)
            true
          }
        }
        if (!won) {
          newEntries.foreach(deleteEntryFiles)
          None
        } else Some(ManifestStore.OptimizeStats(m.version + 1,
          compactBins.map(_.size).sum, carried.size, newEntries.size))
      }
    }
  }

  /** Change feed between two retained versions — Delta's CDF, made
    * O(changed files) by the manifest: a file carried by reference holds
    * identical rows on both sides and cannot produce a feed row (keys are
    * unique per version, so a key cannot sit in a shared file on one side
    * and an exclusive file on the other), so the diff reads ONLY the
    * symmetric difference of the two file lists. Output shape is
    * [[ChangeFeed.diff]]: (operation c|u|d, key, before_*, after_*).
    * None when either version's manifest or data has been reaped.
    *
    * Columns added between the versions (additive drift) must be named in
    * `ignore`, same contract as [[ChangeFeed.diff]].
    */
  def changesBetween(fromV: Long, toV: Long,
                     ignore: Set[String] = Set.empty): Option[DataFrame] =
    for {
      cur <- current.map(_._1) if fromV <= cur && toV <= cur
      mFrom <- manifest(fromV)
      mTo <- manifest(toV)
      if (mFrom.files ++ mTo.files).forall(f =>
        (f.name +: f.dv.toSeq).forall(n =>
          Files.exists(Paths.get(root, "files", n))))
    } yield {
      // shared = identical (name, dv): a merge-on-read commit changes only
      // a file's SIDECAR, and those masked keys are exactly the feed's
      // deletes/update-befores — name-only sharing would drop them
      val keyOf = (f: FileEntry) => (f.name, f.dv)
      val shared = mFrom.files.map(keyOf).toSet & mTo.files.map(keyOf).toSet
      val oldSide0 = readFiles(mFrom, mFrom.files.filterNot(f => shared(keyOf(f))))
      val newSide = readFiles(mTo, mTo.files.filterNot(f => shared(keyOf(f))))
      // columns the newer version added (merge's last_ts, drift fields)
      // exist as typed nulls in the older one — the store's own additive
      // evolution rule, applied symmetrically to the feed
      val oldSide = newSide.schema.fields
        .filterNot(f => oldSide0.columns.contains(f.name))
        .foldLeft(oldSide0)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType)))
      ChangeFeed.diff(oldSide, newSide, keyField, ignore)
    }

  /** Reclaim data files referenced by NO retained manifest, AND the
    * manifests of reaped versions themselves. Retains the newest
    * `keepLast` versions (current included); older versions lose their
    * exclusive files, so [[readVersion]] answers None for them. Log
    * entries below the window are reaped back to the CHECKPOINT the
    * retained deltas replay from, so the log directory holds
    * O(keepLast + CheckpointInterval) entries instead of growing one file
    * per commit forever (~1M/year at a 30 s trigger) — Delta's VACUUM +
    * log-retention trade, made explicit. Returns deleted data/sidecar
    * file names.
    *
    * Runs under the commit lock so the reference set is one consistent
    * manifest view. An in-flight [[mergeOptimistic]]'s staged-but-not-yet-
    * committed data files are indistinguishable from orphans by reference
    * alone — `minAgeMillis` is the guard (Delta's retention-threshold
    * idea): in multi-writer deployments set it longer than any writer's
    * derivation time so staged files age past it only after their commit
    * or eager cleanup.
    */
  /** `dryRun = true` returns exactly what a real run would reap — log
    * entries excluded (they are version bookkeeping, not data) — without
    * touching anything: the audit step before reclaiming a 100 TB
    * table's storage.
    */
  def vacuum(keepLast: Int = 2, minAgeMillis: Long = 0L,
             dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    ManifestStore.withCommitLock(root) {
      current.toSeq.flatMap { case (cur, _, _) =>
        val floor = cur - keepLast + 1
        // TAGGED versions are pinned: their files and manifest chains
        // survive any keepLast until the tag is deleted (the audit /
        // "exact training snapshot" contract of setTag)
        val pinned = tags.values.toSet.filter(v => v < floor && v >= 0)
        val referenced = ((floor to cur) ++ pinned)
          .flatMap(manifest(_).toSeq.flatMap(m =>
            m.cdcFile.toSeq ++ m.files.flatMap(f =>
              f.name +: (f.dv.toSeq ++ f.bloom.toSeq ++
                f.colBlooms.values ++ f.kmv.toSeq)))).toSet
        // reap the manifests below the retained window (crashed-writer
        // debris beyond _CURRENT is left for its writer to resolve) — but
        // a DELTA entry at the floor replays from the nearest checkpoint
        // at or below it, so that chain must survive: at most
        // CheckpointInterval-1 extra entries. Walk the directory, not
        // version numbers — O(live log entries). Each pinned version
        // keeps its own replay chain the same way.
        def chainBaseOf(v: Long): Long = {
          var b = v
          while (b > 0 && readLogNode(b).exists(n =>
              n.path("type").asText("checkpoint") == "delta"))
            b -= 1
          b
        }
        val chainBase = chainBaseOf(math.max(0L, floor))
        val pinnedRanges = pinned.toSeq.map(v => (chainBaseOf(v), v))
        val logDir = Paths.get(root, "_LOG")
        if (Files.isDirectory(logDir) && !dryRun) {
          val s = Files.list(logDir)
          try s.toArray.toSeq.map(_.asInstanceOf[Path])
            .filter(_.getFileName.toString.stripSuffix(".json")
              .toLongOption.exists(v => v < chainBase &&
                !pinnedRanges.exists { case (lo, hi) => v >= lo && v <= hi }))
            .foreach(Files.deleteIfExists(_))
          finally s.close()
        }
        val cutoff = System.currentTimeMillis() - minAgeMillis
        // staging debris: every writer stages under the table root
        // (`_stage_*` data/zorder stages, `_stage_dv_*` sidecar stages,
        // `_delta_stage_*` SQL row-level changelogs, `_stream_stage_*`
        // sink epochs). Success and abort paths clean their own dirs, but
        // a hard-killed driver orphans them forever — at a 30 s trigger a
        // crash-looping deployment accretes unbounded junk. Reap any whose
        // NEWEST content is older than `minAgeMillis` (the same guard that
        // protects staged-but-uncommitted files in `files/`: set it longer
        // than any live writer's derivation/epoch time).
        val rootDir = Paths.get(root)
        val stagePrefixes = Seq("_stage_", "_stage_dv_", "_delta_stage_",
          "_stream_stage_")
        def newestMtime(p: Path): Long =
          if (!Files.isDirectory(p)) Files.getLastModifiedTime(p).toMillis
          else {
            val s = Files.list(p)
            val children = try s.toArray.toSeq.map(_.asInstanceOf[Path])
              finally s.close()
            (Files.getLastModifiedTime(p).toMillis +:
              children.map(newestMtime)).max
          }
        val rs = Files.list(rootDir)
        val stageVictims =
          try rs.toArray.toSeq.map(_.asInstanceOf[Path])
            .filter(p => stagePrefixes.exists(
              p.getFileName.toString.startsWith(_)))
            .filter(p => newestMtime(p) <= cutoff)
          finally rs.close()
        if (!dryRun) ManifestStore.deleteAll(stageVictims)(deleteRecursively)
        val dir = Paths.get(root, "files")
        val dataVictims =
          if (!Files.isDirectory(dir)) Seq.empty
          else {
            val s = Files.list(dir)
            val victims =
              try s.toArray.toSeq.map(_.asInstanceOf[Path])
                .filterNot(p => referenced(p.getFileName.toString))
                .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
              finally s.close()
            if (!dryRun) // sidecars are directories
              ManifestStore.deleteAll(victims)(deleteRecursively)
            victims.map(_.getFileName.toString)
          }
        (stageVictims.map(_.getFileName.toString) ++ dataVictims).sorted
      }
    }
  }
}
