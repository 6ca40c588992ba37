package graft.spark

import graft.cdc.ManifestStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** `spark.readStream.format("graft")` — tail the manifest log, Delta's
  * streaming-source semantics re-derived from graft's own commit protocol:
  *
  *   - OFFSETS are manifest versions (the log is the WAL; nothing else is
  *     needed for exactly-once — Spark's checkpoint stores the version
  *     range per micro-batch, and replaying a range replans the identical
  *     immutable files).
  *   - The FIRST batch snapshots the current version (every live file),
  *     then each later batch emits the files ADDED by each newer version —
  *     an appends-tail, which is exactly what Delta's streaming source is.
  *   - MAINTENANCE commits (optimize / recluster / expire — recognizable
  *     in-protocol: they reuse the parent's (batchId, streamId)) are
  *     SKIPPED: they move bytes, not data. This is Delta's
  *     `dataChange=false` flag, except graft needs no flag — the replay
  *     guard convention already encodes it.
  *   - A REGULAR commit that removed or rewrote files (copy-on-write
  *     merge, deletion-vector mask, non-maintenance delete) fails loudly
  *     unless `ignoreChanges` (emit its added files anyway; rewritten rows
  *     may re-appear — Delta's documented trade) or `ignoreDeletes`
  *     (delete-only versions pass silently). An appends-only ingest
  *     (`ManifestStore.append`-shaped commits, streaming-dedup indexes,
  *     event logs) tails cleanly with neither.
  *
  * Reading a version range needs the manifests of every version in it;
  * versions vacuumed out of log retention throw a clear error telling the
  * operator to widen `keepLast` relative to the stream's trigger cadence.
  */
final class GraftMicroBatchStream(root: String, keyField: String,
                                  tableSchema: StructType,
                                  required: StructType,
                                  pushed: Array[Filter],
                                  options: Map[String, String])
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
  with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  private def spark = SparkSession.active
  private def store = new ManifestStore(root, spark, keyField)
  private val ignoreChanges =
    options.exists(kv => kv._1.equalsIgnoreCase("ignorechanges") && kv._2.toBoolean)
  private val ignoreDeletes =
    options.exists(kv => kv._1.equalsIgnoreCase("ignoredeletes") && kv._2.toBoolean)

  /** `pruneFilter` — the stream's stand-in for optimizer filter pushdown
    * (which never reaches micro-batch scans; see
    * [[GraftPartitions.parsePruneFilter]]): a keyed consumer tailing one
    * range of a key-clustered table plans only the added files whose
    * zone maps can match, and the predicate rides into the parquet
    * readers for row-group pruning. Parsed against the FULL table schema
    * so stats-column predicates prune even when the `columns` option
    * narrows the stream.
    */
  private lazy val optFilters: Array[Filter] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("prunefilter") => v
  }.map(GraftPartitions.parsePruneFilter(spark, tableSchema, _))
    .getOrElse(Array.empty)
  private def effPushed: Array[Filter] = pushed ++ optFilters

  /** `Trigger.AvailableNow`: pin the batch horizon to the version current
    * AT QUERY START — the run drains up to it (in `maxVersionsPerTrigger`
    * paced batches if capped) and terminates; commits landing mid-run
    * wait for the next scheduled run. Delta's backfill contract.
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(store.current.map(_._1).getOrElse(-1L))
  private val maxVersions: Option[Long] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxversionspertrigger") => v.toLong
  }.map { n =>
    require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n"); n
  }

  /** `maxBytesPerTrigger` (Delta's spelling) — bound each micro-batch by
    * the ADDED data-file bytes it admits, the admission control that
    * matters at 100 TB: version counts say nothing about size (one
    * backfill commit can be the whole backlog), bytes bound executor
    * memory and batch latency directly. Whole versions only (a version is
    * the atomic unit of the tail), always at least one per batch (or the
    * stream would stall on a single over-budget commit — same contract as
    * Delta's). Admission is PURE METADATA: added bytes come from the
    * manifest's per-file `bytes`, so pacing a 100k-commit backlog costs
    * manifest-cache hits, not file I/O. Composes with
    * `maxVersionsPerTrigger` (the tighter cap wins). The byte budget also
    * PACES THE INITIAL SNAPSHOT (r14, [[snapshotAdvance]]): sub-version
    * offsets slice the pinned version's file list across batches, so a
    * 100 TB bootstrap is bounded batches, not one table-sized one.
    */
  private val maxBytes: Option[Long] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxbytespertrigger") => v.toLong
  }.map { n =>
    require(n >= 1, s"maxBytesPerTrigger must be >= 1, got $n"); n
  }

  /** `maxFilesPerTrigger` (Delta's primary admission knob, same
    * spelling): bound each micro-batch by the ADDED data files it
    * admits — whole versions for the tail, file-sliced for the initial
    * snapshot, exactly like the byte budget. All three caps compose;
    * the tightest wins. Pure manifest metadata, like the others.
    */
  private val maxFiles: Option[Long] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxfilespertrigger") => v.toLong
  }.map { n =>
    require(n >= 1, s"maxFilesPerTrigger must be >= 1, got $n"); n
  }

  /** Default: snapshot the current version first, then tail. With
    * `startingVersion` / `startingTimestamp` (Delta's spellings) the
    * snapshot is skipped and the tail begins at that version's OWN
    * changes — offset parks one below.
    */
  override def initialOffset(): Offset =
    GraftCdf.resolveStart(store, root, options) match {
      case Some(sv) => GraftOffset(sv - 1)
      case None     => GraftOffset(-1L)
    }
  override def latestOffset(): Offset =
    GraftOffset(store.current.map(_._1).getOrElse(-1L))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** PACED INITIAL SNAPSHOT: under a byte budget, the first batch pins
    * the snapshot version and each trigger admits the next budget's
    * worth of its (immutable, manifest-ordered) file list — offsets
    * carry (version, filesEmitted) until the list drains, then the tail
    * takes over at version+1. At 100 TB this is the difference between
    * bootstrapping a stream in bounded batches and one table-sized
    * micro-batch. At least one file per batch (no stall on an
    * over-budget file); admission is pure manifest metadata.
    */
  private def snapshotAdvance(v: Long, from: Int): GraftOffset = {
    val m = manifestOrExplain(v)
    val files = m.files
    val keep = snapKeepMask(v, m)
    var j = from
    var acc = 0L
    var nf = 0L
    var any = false
    while (j < files.size && (
      (keep != null && !keep(j)) || // pruned file: rides along free
      !any ||                       // at least one admitted file per batch
      (maxBytes.forall(acc + math.max(0L, files(j).bytes) <= _) &&
        maxFiles.forall(nf + 1 <= _)))) {
      if (keep == null || keep(j)) {
        acc += math.max(0L, files(j).bytes); nf += 1; any = true
      }
      j += 1
    }
    if (j >= files.size) GraftOffset(v) else GraftOffset(v, j.toLong)
  }

  /** SKIP-AHEAD under `pruneFilter` (r15): admission walks the RAW file
    * list — offsets must stay restart-stable against it — but files the
    * zone-map cut excludes ride along FREE, so a keyed bootstrap of one
    * key range of a huge table drains in O(matching files / budget)
    * batches instead of burning a trigger round per fully-pruned slice.
    * The mask costs ONE local zone-map job per pinned snapshot version
    * (cached for the stream's lifetime); recorded offsets stay raw
    * indices, so a restart — even with a CHANGED pruneFilter — replans
    * every committed slice identically.
    */
  private var snapMaskVersion = -2L
  private var snapMask: Array[Boolean] = null
  private def snapKeepMask(v: Long, m: ManifestStore.Manifest)
      : Array[Boolean] = {
    val conjs = GraftScan.conjuncts(
      GraftCdf.dataFilters(effPushed.toSeq, tableSchema))
    if (conjs.isEmpty || m.files.isEmpty) null
    else {
      if (snapMaskVersion != v) {
        val kept = store.prunedFiles(m, conjs).iterator.map(_.name).toSet
        snapMask = m.files.iterator.map(f => kept(f.name)).toArray
        snapMaskVersion = v
      }
      snapMask
    }
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val live = store.current.map(_._1).getOrElse(-1L)
    val cur = availableNowCap.fold(live)(math.min(live, _))
    val so = start.asInstanceOf[GraftOffset]
    val paced = maxBytes.isDefined || maxFiles.isDefined
    if (paced && so.version < 0 && cur >= 0)
      return snapshotAdvance(cur, 0) // pin the snapshot; pace slice one
    if (so.snap >= 0)
      return if (paced) snapshotAdvance(so.version, so.snap.toInt)
      else GraftOffset(so.version) // budget removed: finish in one batch
    val s = so.version
    val vCap = maxVersions match {
      case Some(n) if s >= 0 => math.min(cur, s + n)
      case _ => cur
    }
    GraftOffset(
      if (paced && s >= 0 && vCap > s) {
        // admit whole versions while their added bytes AND file counts
        // fit the budgets (the tightest cap wins), always at least one;
        // maintenance versions (same batch lineage, bytes moved but no
        // data change) add 0 and ride along free. The walk is
        // sequential, so version v's manifest IS version v+1's parent:
        // carry it (and its lazily-built name set) forward instead of
        // re-deriving both per version — otherwise a paced backlog over
        // a large table pays O(admitted x #files) driver work per
        // trigger.
        var last = s
        var accB = 0L
        var accF = 0L
        var v = s + 1
        var open = true
        var mPrev = manifestOrExplain(s)
        var prevNames: Set[String] = null
        while (v <= vCap && open) {
          val mV = manifestOrExplain(v)
          val (b, nf) =
            if (mV.batchId == mPrev.batchId && mV.streamId == mPrev.streamId)
              (0L, 0L)
            else {
              if (prevNames == null)
                prevNames = mPrev.files.map(_.name).toSet
              var bb = 0L
              var ff = 0L
              mV.files.iterator.filterNot(f => prevNames(f.name))
                .foreach { f => bb += math.max(0L, f.bytes); ff += 1 }
              (bb, ff)
            }
          if (last == s || (maxBytes.forall(accB + b <= _) &&
            maxFiles.forall(accF + nf <= _))) {
            accB += b; accF += nf; last = v; v += 1
            mPrev = mV; prevNames = null
          } else open = false
        }
        last
      } else vCap)
  }
  override def deserializeOffset(json: String): Offset =
    GraftOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def manifestOrExplain(v: Long): ManifestStore.Manifest =
    store.manifest(v).getOrElse(throw new IllegalStateException(
      s"graft stream needs version $v of $root but its log entry is gone " +
        "— vacuumed past the stream's progress; raise vacuum keepLast " +
        "above the number of commits per trigger interval"))

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val so = start.asInstanceOf[GraftOffset]
    val eo = end.asInstanceOf[GraftOffset]
    val s = so.version
    val e = eo.version
    // advisory zone-map cut from `pruneFilter` (and any pushed filters) —
    // applied AFTER the appends-only classification below, which must see
    // the unpruned add set (and after snapshot slicing: offsets index the
    // RAW manifest list, so a changed pruneFilter across restarts can
    // never shift slice boundaries)
    val conjs = GraftScan.conjuncts(
      GraftCdf.dataFilters(effPushed.toSeq, tableSchema))
    val st = store
    def cut(m: ManifestStore.Manifest,
            fs: Seq[ManifestStore.FileEntry]): Seq[ManifestStore.FileEntry] =
      if (conjs.isEmpty || fs.isEmpty) fs
      else st.prunedFiles(m.copy(files = fs), conjs)
    // record the batch's planned live rows (pure metadata) so
    // createReaderFactory can demote a SMALL batch to row mode — the
    // vectorized setup constant outweighs the per-row win below
    // `streamColumnarMinRows` (see [[GraftMicroBatchStream.columnarWorthIt]])
    def emit(fs: Seq[ManifestStore.FileEntry], raw: Int)
        : Array[InputPartition] = {
      plannedRows = fs.iterator.map(f => math.max(0L, f.liveRows)).sum
      plannedFiles = fs.size
      prunedFiles = raw - fs.size
      GraftPartitions.forFiles(root, fs).toArray
    }
    // paced-snapshot slices carry sub-version offsets — handle them
    // before the ordinary e<=s guard (a mid-snapshot batch has e == s)
    if (so.snap >= 0 || (s < 0 && eo.snap >= 0)) {
      val m = manifestOrExplain(e)
      val from = if (so.snap >= 0 && s == e) so.snap.toInt else 0
      val until = if (eo.snap >= 0) eo.snap.toInt else m.files.size
      // reuse the admission mask (ONE cached zone-map job per pinned
      // version) instead of a per-slice prunedFiles job — an F/B-slice
      // bootstrap must not pay F/B local planning jobs. Per-file
      // containment is independent, so masking the slice equals pruning
      // it.
      val keep = snapKeepMask(e, m)
      return emit(
        if (keep == null) m.files.slice(from, until)
        else (from until until).collect { case i if keep(i) => m.files(i) },
        raw = until - from)
    }
    if (e < 0 || e <= s) {
      plannedRows = 0L; plannedFiles = 0; prunedFiles = 0
      return Array.empty
    }
    if (s < 0) { // first batch: full snapshot of the end version
      val m = manifestOrExplain(e)
      return emit(cut(m, m.files), raw = m.files.size)
    }
    val perVersion = ((s + 1) to e).flatMap { v =>
      val mPrev = manifestOrExplain(v - 1)
      val mV = manifestOrExplain(v)
      if (mV.batchId == mPrev.batchId && mV.streamId == mPrev.streamId)
        Nil // maintenance: bytes moved, data unchanged
      else {
        val prevNames = mPrev.files.map(_.name).toSet
        val prevDv = mPrev.files.map(f => f.name -> f.dv).toMap
        val adds = mV.files.filterNot(f => prevNames(f.name))
        val curNames = mV.files.map(_.name).toSet
        val changed = mPrev.files.exists(f =>
          !curNames(f.name) ||
            mV.files.exists(g => g.name == f.name && prevDv(f.name) != g.dv))
        if (changed && !(ignoreChanges || (adds.isEmpty && ignoreDeletes)))
          throw new IllegalStateException(
            s"graft stream: version $v of $root removed or rewrote files " +
              "(merge/delete); this source tails appends — set option " +
              "ignoreChanges=true to emit its added files anyway, or " +
              "ignoreDeletes=true if only deletes run against this table")
        adds
      }
    }
    // ONE cut over the whole range's adds (names are unique across
    // versions) — per-version prunedFiles calls cost one local planning
    // job each, which a long-range catch-up batch must not multiply
    emit(cut(manifestOrExplain(e), perVersion), raw = perVersion.size)
  }

  /** Live rows planned by the LAST `planInputPartitions` (Spark plans a
    * micro-batch's partitions before it asks for its reader factory); -1
    * before the first plan. Feeds the small-batch row-mode demotion.
    */
  @volatile private var plannedRows: Long = -1L
  @volatile private var plannedFiles: Int = -1
  @volatile private var prunedFiles: Int = -1

  /** Source metrics in every `StreamingQueryProgress` — the numbers an
    * operator of a 100 TB stream actually watches: commit-version lag,
    * paced-bootstrap progress, and what the zone-map cut did to the
    * last batch. Pure manifest metadata; failures yield fewer metrics,
    * never a failed progress event.
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    try {
      val cur = store.current.map(_._1).getOrElse(-1L)
      m.put("latestVersion", cur.toString)
      if (latestConsumedOffset.isPresent) {
        val o = latestConsumedOffset.get.asInstanceOf[GraftOffset]
        m.put("backlogVersions", math.max(0L, cur - o.version).toString)
        val snapRemaining =
          if (o.snap < 0) 0L
          else scala.util.Try(
            manifestOrExplain(o.version).files.size - o.snap).getOrElse(0L)
        m.put("snapshotFilesRemaining", snapRemaining.toString)
      }
      if (plannedFiles >= 0) {
        m.put("lastBatchPlannedFiles", plannedFiles.toString)
        m.put("lastBatchPrunedFiles", prunedFiles.toString)
        m.put("lastBatchPlannedRows", plannedRows.toString)
      }
    } catch { case _: Exception => () }
    m
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val cur = store.currentManifest
    val ddl = cur.map(_.schemaDDL).getOrElse(tableSchema.toDDL)
    // VECTORIZED (since round 14): the columnar promise must hold for
    // batches whose files aren't planned yet (Spark forbids mixing
    // modes), and it now can — the decision is SCHEMA-level (the factory
    // returns no columnar reader for types the vectorized parquet path
    // can't batch, which is stable across versions), and anyMasked=true
    // routes any future DV'd file through the masked columnar reader
    // instead of demoting the scan. Pre-r13 the masked path was row-only,
    // which is why this stream was row-mode.
    // SMALL batches demote to row mode (r15): the vectorized setup
    // constant (~0.1 s/epoch of extra planning + codegen) outweighs the
    // ~44 ns/row iterator tax below ~2M rows — see `columnarWorthIt`.
    GraftPartitions.factory(spark, root, keyField, tableSchema, required,
      effPushed, options, ddl,
      wantColumnar = GraftMicroBatchStream.columnarWorthIt(spark, plannedRows),
      anyMasked = true,
      colMap = cur.map(_.colMap).getOrElse(Map.empty))
  }
}

object GraftMicroBatchStream {
  /** SMALL-BATCH row-mode demotion (r15): vectorized streaming pays a
    * per-epoch setup constant — ~2x queryPlanning (~70 ms) plus columnar
    * codegen — that the per-row iterator win (~44 ns/row measured on a
    * 60M-row change-feed drain, 5.47 -> 2.84 s) only amortizes past ~2M
    * rows. Shared by the tail source and the CDF stream.
    * A micro-batch planning fewer live rows than
    * `spark.graft.read.streamColumnarMinRows` (default 2,000,000; 0 pins
    * columnar always) reads row-mode; the mode is per-batch, decided
    * from pure manifest metadata, so a backlog drain vectorizes while
    * trickle epochs skip the setup bill. -1 (factory built before any
    * plan) keeps columnar: the promise must be safe for unplanned files.
    * Junk conf values fall back to the default, never throw at planning.
    */
  private[spark] def columnarWorthIt(spark: SparkSession,
                                     planned: Long): Boolean =
    planned < 0 || planned >= spark.conf
      .getOption("spark.graft.read.streamColumnarMinRows")
      .flatMap(_.toLongOption).getOrElse(2000000L)
}

/** Stream offset: a manifest version, plus — during a PACED initial
  * snapshot — the count of the pinned version's files already emitted
  * (`snap`, -1 otherwise). Sub-version offsets are what keep a 100 TB
  * bootstrap from being one monster micro-batch: the snapshot version is
  * pinned by the offset itself, its immutable file list is sliced across
  * budget-paced batches, and a restart replans the identical slice from
  * the checkpoint. The unpaced JSON stays byte-identical to the legacy
  * form, so existing checkpoints resume unchanged.
  */
final case class GraftOffset(version: Long, snap: Long = -1L)
  extends Offset {
  override def json(): String =
    if (snap < 0) s"""{"version":$version}"""
    else s"""{"version":$version,"snap":$snap}"""
}

object GraftOffset {
  private val re = """\{\s*"version"\s*:\s*(-?\d+)\s*\}""".r
  private val reSnap =
    """\{\s*"version"\s*:\s*(-?\d+)\s*,\s*"snap"\s*:\s*(\d+)\s*\}""".r
  def parse(json: String): GraftOffset = json.trim match {
    case re(v)        => GraftOffset(v.toLong)
    case reSnap(v, k) => GraftOffset(v.toLong, k.toLong)
    case other => throw new IllegalArgumentException(
      s"not a graft offset: $other")
  }
}
