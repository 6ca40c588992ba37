package graft.spark

import graft.cdc.ManifestStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.ParquetReadBridge
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** CHANGE DATA FEED through the connector — Delta's
  * `readChangeFeed` option, re-derived from graft's manifest log:
  *
  *   spark.readStream.format("graft")
  *     .option("readChangeFeed", "true").load(root)     // stream the feed
  *   spark.read.format("graft")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 2)                    // batch, 2..current
  *     .option("endingVersion", 5).load(root)           //        (or 2..5)
  *
  * Output schema: the table's columns + `_change_type` (insert |
  * update_preimage | update_postimage | delete — Delta's public CDF
  * contract) + `_commit_version`. Feed rows come from the per-version
  * CHANGE FILES the store captures at commit time when the table property
  * `cdf=true` is set ([[graft.cdc.ManifestStore]].deriveCdc): reading the
  * feed never diffs snapshots, it reads O(changed rows) per version.
  * Versions without a change file stream their semantics where knowable —
  * maintenance commits are skipped, append-only commits emit their added
  * files as `insert` rows — and FAIL LOUDLY otherwise (a merge/delete from
  * before `cdf=true` was enabled), naming the fix.
  *
  * This closes the gap the appends-tail source ([[GraftMicroBatchStream]])
  * leaves: a downstream consumer can stream off a table that RECEIVES
  * merges and deletes — which is every graft CDC table — and re-applying
  * the feed through the native sink with `opcol` reproduces the table
  * (the `dsv2_stream_cdf` oracle), or folds into a streaming aggregate as
  * an incrementally-maintained materialized view (`dsv2_incremental_agg`).
  *
  * Scale shape: planning is O(log entries) driver metadata; each feed
  * partition is one change-file part (or one snapshot data file for the
  * initial batch), read executor-side through the same parquet bridge as
  * the main scan. Nothing scales with table width. Since r14 the feed
  * also PRUNES: pushed filters (batch) / the `pruneFilter` option
  * (streams) cut whole versions by `_commit_version` envelope and
  * captured key range, skip all-insert partitions when `_change_type`
  * excludes inserts, zone-map-prune snapshot/append files (one pruning
  * pass per plan, not per version), and ride into the parquet readers;
  * and the initial snapshot PACES under the row budget (sub-version
  * offsets) instead of being one table-sized batch.
  *
  * Ref provenance: the reference's consumers re-read the whole Delta
  * output per validation pass (ref: test/validate_cdc_data.py:92-118);
  * a change feed is the O(delta) alternative its ecosystem gets from
  * Delta's own CDF.
  */
object GraftCdf {
  /** Feed schema = data columns + the two CDF metadata columns. */
  def cdfSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++ Seq(
      StructField(ManifestStore.ChangeTypeCol, StringType, nullable = false),
      StructField(ManifestStore.CommitVersionCol, LongType, nullable = false)))

  private[spark] def manifestOrExplain(store: ManifestStore, root: String,
                                       v: Long): ManifestStore.Manifest =
    store.manifest(v).getOrElse(throw new IllegalStateException(
      s"graft change feed needs version $v of $root but its log entry is " +
        "gone — vacuumed past the reader's progress; raise vacuum keepLast"))

  /** `startingTimestamp` → the first RETAINED version committed at or
    * after it (Delta's resolution rule); errors past the latest commit.
    * Accepts epoch millis, an ISO-8601 instant, or `yyyy-MM-dd[ HH:mm:ss]`
    * read as UTC. O(retained log) driver metadata walk.
    */
  private[spark] def versionAtOrAfter(store: ManifestStore, root: String,
                                      tsMillis: Long): Long = {
    val cur = store.current.map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no graft store at $root"))
    (0L to cur).find(v => store.manifest(v).exists(_.tsMillis >= tsMillis))
      .getOrElse(throw new IllegalArgumentException(
        s"startingTimestamp $tsMillis ms is after the latest commit of " +
          s"$root (version $cur)"))
  }

  private[spark] def parseTsMillis(s: String): Long =
    s.toLongOption.getOrElse {
      val t = s.trim
      scala.util.Try(java.time.Instant.parse(t).toEpochMilli)
        .orElse(scala.util.Try(java.time.LocalDateTime
          .parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
        .orElse(scala.util.Try(java.time.LocalDate.parse(t)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse startingTimestamp '$s' — pass epoch millis, an " +
            "ISO-8601 instant, or yyyy-MM-dd[ HH:mm:ss] (UTC)"))
    }

  /** Resolve the stream/batch start version from `startingVersion` or
    * `startingTimestamp` (mutually exclusive). None = no option: snapshot
    * first (stream) / error (batch).
    */
  private[spark] def resolveStart(store: ManifestStore, root: String,
                                  options: Map[String, String]): Option[Long] = {
    val sv = options.collectFirst {
      // a non-numeric value is a TAG (named version reference) — the
      // same resolution the batch reader's versionAsOf does
      case (k, v) if k.equalsIgnoreCase("startingversion") =>
        v.trim.toLongOption.getOrElse(store.tags.getOrElse(v.trim,
          throw new IllegalArgumentException(
            s"startingVersion '$v' is neither a version number nor a " +
              s"tag of $root"))) }
    val st = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingtimestamp") => v }
    require(sv.isEmpty || st.isEmpty,
      "pass startingVersion OR startingTimestamp, not both")
    sv.foreach(v => require(v >= 1,
      s"startingVersion must be >= 1 (version 0 is the initial snapshot; " +
        "omit the option to consume it as the first batch)"))
    // a timestamp resolving to version 0 means "from the very beginning":
    // the stream consumes it as the initial snapshot (offset parks at -1)
    sv.orElse(st.map(t => versionAtOrAfter(store, root, parseTsMillis(t))))
  }

  // ------------------------------------------------ filter pushdown (r14)
  // Every cut below is ADVISORY: the scan builder returns all pushed
  // filters as residuals, so Spark re-evaluates the full predicate above
  // the scan — pruning only removes partitions that provably contribute
  // no qualifying row. Three independent cuts compose: a version envelope
  // from `_commit_version` conjuncts (every row of version v carries the
  // constant v, so out-of-envelope versions are exact drops), an
  // insert-satisfiability test from `_change_type` conjuncts (snapshot
  // and append-only partitions hold ONLY `insert` rows), and zone-map
  // file pruning of snapshot/append data files from data-column
  // conjuncts (the same [[graft.cdc.ManifestStore.prunedFiles]] the
  // batch scan runs). Captured change-file parts carry no manifest stats
  // — they prune at the parquet row-group level instead (the pushed
  // filters ride into the readers).

  /** Conjuncts over `_commit_version` alone → a version-keep predicate
    * (inclusive envelope + optional exact set). Unrecognized shapes
    * widen — they never tighten — so the cut stays conservative.
    */
  private[spark] def versionKeep(pushed: Seq[Filter]): Long => Boolean = {
    val vc = ManifestStore.CommitVersionCol
    def asLong(v: Any): Option[Long] = v match {
      case l: java.lang.Long    => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case s: java.lang.Short   => Some(s.toLong)
      case b: java.lang.Byte    => Some(b.toLong)
      case _                    => None
    }
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var set: Option[Set[Long]] = None
    pushed.filter(_.references.toSet == Set(vc)).foreach {
      case EqualTo(_, v) => asLong(v).foreach { l =>
        lo = math.max(lo, l); hi = math.min(hi, l) }
      case EqualNullSafe(_, v) => asLong(v).foreach { l =>
        lo = math.max(lo, l); hi = math.min(hi, l) }
      case GreaterThan(_, v) => asLong(v).foreach { l =>
        if (l == Long.MaxValue) set = Some(Set.empty)
        else lo = math.max(lo, l + 1) }
      case GreaterThanOrEqual(_, v) => asLong(v).foreach(l =>
        lo = math.max(lo, l))
      case LessThan(_, v) => asLong(v).foreach { l =>
        if (l == Long.MinValue) set = Some(Set.empty)
        else hi = math.min(hi, l - 1) }
      case LessThanOrEqual(_, v) => asLong(v).foreach(l =>
        hi = math.min(hi, l))
      case In(_, vs) =>
        val ls = vs.toSeq.map(asLong)
        if (ls.nonEmpty && ls.forall(_.isDefined)) {
          val s0 = ls.flatten.toSet
          set = Some(set.fold(s0)(_ intersect s0))
        }
      case IsNull(_) => set = Some(Set.empty) // the version is never null
      case _         => () // IsNotNull / Or / Not: no envelope contribution
    }
    v => v >= lo && v <= hi && set.forall(_.contains(v))
  }

  /** Three-valued satisfiability of the pushed conjunction for a row
    * whose `_change_type` is `t`: conjuncts referencing anything else
    * evaluate unknown (satisfiable); a definite false on any conjunct
    * means no row of that change type can qualify — which lets a
    * deletes-only feed skip snapshot and append-only partitions (all
    * `insert`) entirely. `_change_type` is non-null by construction.
    */
  private[spark] def typePossible(pushed: Seq[Filter], t: String): Boolean = {
    val tc = ManifestStore.ChangeTypeCol
    def ev(f: Filter): Option[Boolean] = f match {
      case EqualTo(`tc`, v)          => Some(v == t)
      case EqualNullSafe(`tc`, v)    => Some(v == t)
      case In(`tc`, vs)              => Some(vs.contains(t))
      case IsNull(`tc`)              => Some(false)
      case IsNotNull(`tc`)           => Some(true)
      case StringStartsWith(`tc`, p) => Some(t.startsWith(p))
      case StringEndsWith(`tc`, p)   => Some(t.endsWith(p))
      case StringContains(`tc`, p)   => Some(t.contains(p))
      case Not(c)                    => ev(c).map(!_)
      case And(l, r) => (ev(l), ev(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(l, r) => (ev(l), ev(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case _ => None
    }
    !pushed.exists(f => ev(f).contains(false))
  }

  /** Pushed filters whose every reference resolves in the DATA schema
    * (top-level or dotted struct leaf) — the subset the zone-map pruner
    * and the parquet row-group readers can act on. The CDF metadata
    * columns never resolve here, so mixed-reference trees drop out whole
    * (pruning on half an OR would be unsound).
    */
  private[spark] def dataFilters(pushed: Seq[Filter],
                                 data: StructType): Seq[Filter] =
    pushed.filter { f =>
      val rs = f.references
      rs.nonEmpty && rs.forall(r => ManifestStore.leafType(data, r).isDefined)
    }

  /** Pushed filters over `_change_type` alone — they ride into the
    * change-file parquet readers verbatim (the column is stored under
    * its own name), cutting row groups of single-type runs.
    */
  private[spark] def typeFilters(pushed: Seq[Filter]): Seq[Filter] =
    pushed.filter(_.references.toSet == Set(ManifestStore.ChangeTypeCol))

  /** Plan the feed partitions for versions (s, e] — each version
    * contributes its change file's parts, or its added files as `insert`
    * rows when the commit is knowably append-only, or nothing when it is
    * maintenance / metadata-only / an empty captured feed.
    *
    * `vKeep` / `insertOk` / `dataConjs` are the pushdown cuts (see the
    * block comment above) — the defaults plan everything.
    */
  private[spark] def planVersions(store: ManifestStore, root: String,
                                  s: Long, e: Long,
                                  ignoreChanges: Boolean,
                                  vKeep: Long => Boolean = _ => true,
                                  insertOk: Boolean = true,
                                  dataConjs: Seq[(String, String, Any)] = Nil,
                                  snapshot: Option[(Long,
                                    Seq[ManifestStore.FileEntry])] = None)
      : Seq[InputPartition] = {
    // one version's contribution: its added files, or its captured change
    // file plus the synthetic key-range entry the pruner can judge it by
    // (captured KEY RANGE, r14: the manifest records the capture's key
    // min/max, so a keyed consumer skips whole captured versions —
    // pre-range vintages carry None and always keep)
    final case class VPlan(v: Long, adds: Seq[ManifestStore.FileEntry],
                           cdc: Option[(String, Option[ManifestStore.FileEntry])])
    val plans: Seq[VPlan] = ((s + 1) to e).filter(vKeep).flatMap { v =>
      val mPrev = manifestOrExplain(store, root, v - 1)
      val mV = manifestOrExplain(store, root, v)
      // a captured change file ALWAYS wins over the maintenance heuristic:
      // deleteWhereMaintenance keeps the parent's (batchId, streamId) —
      // replay-invisible by design — yet deletes rows and captures them;
      // classifying on lineage first would silently skip those deletes
      mV.cdcFile match {
        case Some("") => None // captured feed, zero effective changes
        case Some(cdc) =>
          // the synthetic entry carries the captured key range AND (r16)
          // the capture's per-column min/max, so NON-key data conjuncts
          // prune whole captured versions too
          val synth = (mV.cdcMinKey, mV.cdcMaxKey) match {
            case (Some(lo), Some(hi)) =>
              Some(ManifestStore.FileEntry(cdc, lo, hi, mV.cdcRows,
                cols = mV.cdcCols))
            case _ => None
          }
          Some(VPlan(v, Nil, Some((cdc, synth))))
        case None
            if mV.batchId == mPrev.batchId && mV.streamId == mPrev.streamId =>
          None // true maintenance: bytes moved, data unchanged
        case None =>
          val prevIds = mPrev.files.map(f => (f.name, f.dv)).toSet
          val prevNames = mPrev.files.map(_.name).toSet
          val adds = mV.files.filterNot(f => prevIds((f.name, f.dv)))
          val appendOnly = adds.forall(f => !prevNames(f.name)) &&
            mPrev.files.forall(f => mV.files.exists(g =>
              g.name == f.name && g.dv == f.dv))
          if (appendOnly || ignoreChanges) {
            if (!insertOk) None // added files hold ONLY `insert` rows
            else Some(VPlan(v, adds.filterNot(f => prevNames(f.name)), None))
          } else throw new IllegalStateException(
            s"graft change feed: version $v of $root merged or deleted " +
              "rows but captured no change file — enable capture first " +
              "(table property cdf=true / ManifestStore.enableChangeFeed), " +
              "or set option ignoreChanges=true to stream added files as " +
              "inserts (rewritten rows may re-appear)")
      }
    }
    // ONE pruning pass over every candidate entry across every version —
    // the initial-snapshot files included when the caller plans them in
    // the same batch (add/capture names are UUIDs and the snapshot
    // predates every add, so names never collide) — under the END
    // version's manifest: the current mapping/statsCols, the same
    // read-through the scan applies to old-vintage files. Per-version
    // prunedFiles calls each cost one local planning job — a
    // 10k-version backfill must not pay 10k of them.
    val snapFiles = snapshot.map(_._2).getOrElse(Nil)
    val keep: String => Boolean =
      if (dataConjs.isEmpty) _ => true
      else {
        val entries = snapFiles ++
          plans.flatMap(p => p.adds ++ p.cdc.flatMap(_._2))
        if (entries.isEmpty) _ => true
        else store.prunedFiles(
          manifestOrExplain(store, root, e).copy(files = entries),
          dataConjs).map(_.name).toSet
      }
    val snapParts = snapshot.toSeq.flatMap { case (v0, fs) =>
      GraftPartitions.forFiles(root, fs.filter(f => keep(f.name)))
        .map(q => GraftCdfPartition(q, v0, isCdc = false))
    }
    snapParts ++ plans.flatMap { p =>
      GraftPartitions.forFiles(root, p.adds.filter(f => keep(f.name)))
        .map(q => GraftCdfPartition(q, p.v, isCdc = false)) ++
        (p.cdc match {
          case Some((name, synth)) if synth.forall(se => keep(se.name)) =>
            cdcParts(root, name).map(q =>
              GraftCdfPartition(q, p.v, isCdc = true))
          case _ => Nil
        })
    }
  }

  /** List a change-file directory's parquet parts, driver-side (same
    * discipline as deletion-vector sidecars: executors never list storage).
    */
  private def cdcParts(root: String, cdc: String): Seq[GraftInputPartition] = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(root, "files", cdc)
    if (!Files.isDirectory(dir)) throw new IllegalStateException(
      s"graft change feed: change file $cdc of $root is gone — vacuumed " +
        "past the reader's progress; raise vacuum keepLast")
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val parts = Seq.newBuilder[GraftInputPartition]
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          parts += GraftInputPartition(p.toString, Files.size(p),
            p.getFileName.toString, Array.empty)
      }
      parts.result()
    } finally s.close()
  }

  /** The serializable reader factory pair: the inner factory reads
    * snapshot/append data files (deletion vectors applied per reader, row
    * mode); the cdc reader reads change-file parts, whose on-disk schema
    * is the commit's data columns + `_change_type` (older, narrower
    * vintages read through with typed nulls).
    */
  /** `required`: the feed scan's pruned output schema (a subset of
    * dataSchema ++ the two CDF metadata columns, order preserved) — a
    * consumer re-syncing two columns of a wide table reads two columns,
    * not the row. None = the full feed shape (streams).
    */
  private[spark] def factory(spark: SparkSession, root: String,
                             keyField: String, dataSchema: StructType,
                             options: Map[String, String],
                             manifestSchemaDDL: String,
                             colMap: Map[String, String] = Map.empty,
                             required: Option[StructType] = None,
                             columnarOk: Boolean = false,
                             pushed: Array[Filter] = Array.empty)
      : GraftCdfReaderFactory = {
    val dataReq: StructType = required match {
      case None => dataSchema
      case Some(r) => StructType(dataSchema.fields.filter(f =>
        r.fieldNames.contains(f.name)))
    }
    val wantChangeType = required.forall(
      _.fieldNames.contains(ManifestStore.ChangeTypeCol))
    val wantVersion = required.forall(
      _.fieldNames.contains(ManifestStore.CommitVersionCol))
    // change files carry PHYSICAL column names, exactly like data files —
    // both readers translate through the same mapping, so a feed captured
    // before a RENAME reads fully after it (physical names never change)
    // `columnarOk` (the BATCH form — backfills read whole tables through
    // this scan, so the vectorized path matters at 100 TB): the inner
    // factory is asked for columnar WITH masked support (anyMasked=true:
    // snapshot parts may carry deletion vectors), and change-file parts
    // get their own batch reader; the CDF metadata columns append as
    // constant vectors, zero-copy on the data columns. All-or-nothing:
    // if any piece can't batch, the whole feed stays on rows.
    // pushed DATA-column filters reach both reader kinds for parquet
    // row-group pruning (Spark still applies the residual above, so
    // answers never change): the inner snapshot/append factory does its
    // own logical->physical rewrite; the change-file readers take the
    // rewrite here, plus `_change_type`-only filters verbatim (the
    // column is stored under its own, unmapped name). Filters naming the
    // CDF metadata columns never reach the inner factory (dataFilters
    // resolves against the data schema alone).
    val dataFs = dataFilters(pushed.toSeq, dataSchema)
    val cdcFs = dataFs.flatMap(GraftPartitions.toPhysicalFilter(_, colMap)) ++
      typeFilters(pushed.toSeq)
    val inner = GraftPartitions.factory(spark, root, keyField, dataSchema,
      dataReq, dataFs.toArray, options, manifestSchemaDDL,
      wantColumnar = columnarOk, anyMasked = columnarOk, colMap = colMap)
    val cdcFull = StructType(
      ManifestStore.toPhysical(dataSchema, colMap).fields :+
      StructField(ManifestStore.ChangeTypeCol, StringType, nullable = false))
    val cdcReq = StructType(
      ManifestStore.toPhysical(dataReq, colMap).fields ++
      (if (wantChangeType) Seq(StructField(ManifestStore.ChangeTypeCol,
        StringType, nullable = false)) else Nil))
    GraftCdfReaderFactory(inner,
      ParquetReadBridge.rowReader(spark, cdcFull, cdcReq, cdcFs, options),
      wantChangeType = wantChangeType, wantVersion = wantVersion,
      cdcColumnar =
        if (columnarOk)
          ParquetReadBridge.columnarReader(spark, cdcFull, cdcReq, cdcFs,
            options)
        else None)
  }
}

/** One feed partition: a change-file part (isCdc) or a data file whose
  * every live row is an `insert` (initial snapshot / append-only commit).
  */
final case class GraftCdfPartition(inner: GraftInputPartition,
                                   commitVersion: Long, isCdc: Boolean)
  extends InputPartition

final case class GraftCdfReaderFactory(
    inner: GraftReaderFactory,
    cdcReader: PartitionedFile => Iterator[InternalRow],
    wantChangeType: Boolean = true,
    wantVersion: Boolean = true,
    cdcColumnar: Option[PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None)
  extends PartitionReaderFactory {

  // whole-feed decision (Spark forbids mixing modes): batch only when the
  // change-file reader AND the snapshot reader (incl. its masked path —
  // the inner factory only reports columnar when masked files can batch
  // too) both can
  override def supportColumnarReads(partition: InputPartition): Boolean =
    cdcColumnar.isDefined && inner.columnar.isDefined

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.types.{DataType, LongType, StringType}
    import org.apache.spark.sql.vectorized.ColumnarBatch
    val p = partition.asInstanceOf[GraftCdfPartition]
    if (p.isCdc) {
      // change-file rows already end with _change_type (when requested);
      // append the version as a constant vector (when requested)
      val base = cdcColumnar.get(
        ParquetReadBridge.wholeFile(p.inner.path, p.inner.bytes, 0L))
      val it = if (wantVersion)
        base.map(ParquetReadBridge.constAppendTransform(
          Seq((LongType: DataType) -> Long.box(p.commitVersion))))
      else base
      new GraftIteratorReader[ColumnarBatch](it)
    } else {
      // data-file batches are bare images; append the requested CDF
      // columns as constants (snapshot rows are all `insert`)
      val appendix: Seq[(DataType, Any)] =
        (if (wantChangeType) Seq((StringType: DataType) ->
          UTF8String.fromString(ManifestStore.CdfInsert)) else Nil) ++
        (if (wantVersion) Seq((LongType: DataType) ->
          Long.box(p.commitVersion)) else Nil)
      val base = inner.createColumnarReader(p.inner)
      if (appendix.isEmpty) base
      else new PartitionReader[ColumnarBatch] {
        private val t = ParquetReadBridge.constAppendTransform(appendix)
        override def next(): Boolean = base.next()
        override def get(): ColumnarBatch = t(base.get())
        override def close(): Unit = base.close()
      }
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdfPartition]
    if (p.isCdc) {
      // change-file rows already end with _change_type (when requested);
      // append the version (when requested)
      val base = new GraftIteratorReader[InternalRow](cdcReader(
        ParquetReadBridge.wholeFile(p.inner.path, p.inner.bytes, 0L)))
      if (wantVersion)
        new GraftAppendingReader(base, Array[Any](p.commitVersion))
      else base
    } else {
      // data-file rows are bare images; append the requested CDF columns
      val appendix: Array[Any] =
        (if (wantChangeType)
          Seq[Any](UTF8String.fromString(ManifestStore.CdfInsert)) else Nil)
          .++(if (wantVersion) Seq[Any](p.commitVersion) else Nil).toArray
      if (appendix.isEmpty) inner.createReader(p.inner)
      else new GraftAppendingReader(inner.createReader(p.inner), appendix)
    }
  }
}

/** Append constant trailing fields to every row — the same JoinedRow idiom
  * Spark's file scan uses to attach partition values.
  */
final class GraftAppendingReader(inner: PartitionReader[InternalRow],
                                 appendix: Array[Any])
  extends PartitionReader[InternalRow] {
  private val app = new GenericInternalRow(appendix)
  private val joined = new JoinedRow
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = joined(inner.get(), app)
  override def close(): Unit = inner.close()
}

final class GraftCdfScanBuilder(root: String, options: Map[String, String])
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: Option[StructType] = None
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)
  /** EVERYTHING stays residual (the return value): CDF pruning is
    * advisory — version/file/row-group cuts that provably drop nothing
    * qualifying — never an exactness claim over a changelog.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new GraftCdfScan(root, options, required,
    pushed)
}

/** The CDF scan: batch over an explicit version range, or the micro-batch
  * stream. COLUMN PRUNING reaches both reader kinds (change files and
  * snapshot files) — a consumer re-syncing two columns of a wide table
  * reads two columns — and the CDF metadata columns are synthesized or
  * projected only when asked for. FILTER PUSHDOWN is advisory (all
  * filters stay residual; see [[GraftCdf.versionKeep]] et al.): a
  * `_commit_version` envelope cuts whole versions, a `_change_type`
  * predicate that excludes `insert` cuts snapshot/append partitions, and
  * data-column predicates zone-map-prune snapshot/append files and ride
  * into every parquet reader for row-group pruning — so "changes to key
  * range K since version V" touches O(matching files), not the feed.
  */
final class GraftCdfScan(root: String, options: Map[String, String],
                         required: Option[StructType] = None,
                         pushed: Array[Filter] = Array.empty)
  extends Scan with Batch {

  private def spark = SparkSession.active
  private val keyField: String = GraftTable.resolve(root, options)._2
  private lazy val store = new ManifestStore(root, spark, keyField)
  // honors the `columns` read option (the streaming pruning knob — see
  // GraftDataSource.inferSchema); the factory reads the key internally
  // where deletion-vector masking needs it
  private lazy val dataSchema: StructType = GraftTable.subsetColumns(
    GraftTable.resolve(root, options)._1, options)
  private val ignoreChanges =
    GraftTable.opt(options, "ignorechanges").exists(_.toBoolean)

  override def readSchema(): StructType =
    required.getOrElse(GraftCdf.cdfSchema(dataSchema))
  override def toBatch: Batch = this
  override def description(): String = s"graft change feed $root" +
    required.map(r => s", cols=[${r.fieldNames.mkString(", ")}]").getOrElse("") +
    (if (pushed.isEmpty) "" else s", pushed=[${pushed.mkString(", ")}]")

  /** Batch form: `startingVersion` or `startingTimestamp` (required — the
    * feed has no "all of history" default; version 0 is the initial
    * snapshot, not a change) up to `endingVersion` or current, both
    * versions' own changes inclusive.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val cur = store.current.map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no graft store at $root"))
    val sv = GraftCdf.resolveStart(store, root, options)
      .getOrElse(throw new IllegalArgumentException(
        "batch readChangeFeed needs option(\"startingVersion\", <v>) or " +
          "option(\"startingTimestamp\", <ts>) (1-based: version 0 is the " +
          "initial snapshot); use readStream for snapshot-then-tail " +
          "semantics"))
    val ev = GraftTable.opt(options, "endingversion").map(_.toLong)
      .getOrElse(cur)
    require(sv >= 0 && sv <= ev && ev <= cur,
      s"readChangeFeed range [$sv, $ev] must sit in [0, $cur]")
    // a startingTimestamp at/before table creation resolves to version 0:
    // "from the very beginning" — emit version 0's snapshot as insert rows
    // (Delta's CDF behavior) and then the feed from version 1 on.
    // startingVersion 0 is still rejected at resolveStart (documented as
    // 1-based), so this branch is the timestamp path only.
    val vKeep = GraftCdf.versionKeep(pushed.toSeq)
    val insertOk = GraftCdf.typePossible(pushed.toSeq, ManifestStore.CdfInsert)
    val dataConjs = GraftScan.conjuncts(
      GraftCdf.dataFilters(pushed.toSeq, dataSchema))
    // the snapshot rides the SAME single pruning pass as the versions
    val snapshot =
      if (sv > 0 || !vKeep(0L) || !insertOk) None
      else Some((0L, GraftCdf.manifestOrExplain(store, root, 0L).files))
    GraftCdf.planVersions(store, root, math.max(0L, sv - 1),
      ev, ignoreChanges, vKeep, insertOk, dataConjs, snapshot).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val cur = store.currentManifest
    // batch form: backfills scan whole tables through this reader — go
    // vectorized (the streaming form vectorizes too, per micro-batch)
    GraftCdf.factory(spark, root, keyField, dataSchema, options,
      cur.map(_.schemaDDL).getOrElse(dataSchema.toDDL),
      colMap = cur.map(_.colMap).getOrElse(Map.empty),
      required = required, columnarOk = true, pushed = pushed)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdfMicroBatchStream(root, keyField, dataSchema, options,
      required, pushed)
}

/** Streaming form: offsets are manifest versions (same WAL discipline as
  * [[GraftMicroBatchStream]]). The first batch without `startingVersion`
  * is the current snapshot emitted as `insert` rows (Delta's CDF stream
  * start), then each later batch carries the captured change files of the
  * newly committed versions. `maxVersionsPerTrigger` rate-limits how many
  * commits one micro-batch may admit (Spark's admission-control API) — a
  * consumer catching up on a long-running table processes bounded batches
  * instead of one giant reconciliation batch; the initial snapshot is
  * always one batch (it is one consistent version, not a backlog).
  */
final class GraftCdfMicroBatchStream(root: String, keyField: String,
                                     dataSchema: StructType,
                                     options: Map[String, String],
                                     required: Option[StructType] = None,
                                     pushed: Array[Filter] = Array.empty)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
  with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {

  private def spark = SparkSession.active
  private def store = new ManifestStore(root, spark, keyField)
  private val ignoreChanges =
    options.exists(kv => kv._1.equalsIgnoreCase("ignorechanges") && kv._2.toBoolean)

  /** `pruneFilter` — the stream's stand-in for optimizer filter pushdown
    * (which never reaches micro-batch scans; see
    * [[GraftPartitions.parsePruneFilter]]). Parsed against the FEED
    * schema, so `_commit_version` / `_change_type` predicates prune too.
    */
  private lazy val optFilters: Array[Filter] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("prunefilter") => v
  }.map(GraftPartitions.parsePruneFilter(spark,
    GraftCdf.cdfSchema(dataSchema), _)).getOrElse(Array.empty)
  private def effPushed: Array[Filter] = pushed ++ optFilters

  /** `Trigger.AvailableNow`: drain the feed up to the version current at
    * query start (paced by `maxVersionsPerTrigger` if capped), then
    * terminate — same contract as the tail source.
    */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(store.current.map(_._1).getOrElse(-1L))
  private val maxVersions: Option[Long] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxversionspertrigger") => v.toLong
  }.map { n =>
    require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n"); n
  }

  /** `maxRowsPerTrigger` — bound each micro-batch by the FEED ROWS it
    * admits: the CDF sibling of the tail source's `maxBytesPerTrigger`
    * (change-file byte sizes are not manifest metadata, but per-version
    * feed row counts are — `cdcRows`, plus added-file live rows for
    * append versions), so a consumer re-deriving state from a bursty
    * feed bounds its per-batch state-update work. Whole versions only,
    * always at least one; composes with `maxVersionsPerTrigger` (the
    * tighter cap wins). The row budget also PACES THE INITIAL SNAPSHOT
    * ([[snapshotAdvance]]): sub-version offsets slice the pinned
    * version's file list across batches by live-row weight, so a
    * 100 TB bootstrap is bounded batches, not one table-sized one.
    * Admission is PURE METADATA through the manifest LRU.
    */
  private val maxRows: Option[Long] = options.collectFirst {
    case (k, v) if k.equalsIgnoreCase("maxrowspertrigger") => v.toLong
  }.map { n =>
    require(n >= 1, s"maxRowsPerTrigger must be >= 1, got $n"); n
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** PACED INITIAL SNAPSHOT under the row budget — the CDF sibling of
    * the tail source's byte-paced bootstrap ([[GraftMicroBatchStream]]):
    * sub-version offsets slice the pinned snapshot version's immutable
    * file list across batches by live-row weight; once drained, the
    * captured feed takes over at version+1. At least one file per batch;
    * pure manifest metadata.
    */
  private def snapshotAdvance(v: Long, from: Int, budget: Long)
      : GraftOffset = {
    val m = GraftCdf.manifestOrExplain(store, root, v)
    val files = m.files
    // snapshot rows are inserts at the pinned version: if the filter
    // excludes inserts (or version v outright), every slice plans empty —
    // drain the whole snapshot in ONE empty batch instead of one trigger
    // round per slice
    if (!GraftCdf.versionKeep(effPushed.toSeq)(v) ||
      !GraftCdf.typePossible(effPushed.toSeq, ManifestStore.CdfInsert))
      return GraftOffset(v)
    val keep = snapKeepMask(v, m)
    var j = from
    var acc = 0L
    var any = false
    // clamp: a manifest entry with dvRows > rows would drive acc
    // negative and over-admit past the budget (same defensive clamp as
    // the tail source's byte path)
    while (j < files.size && (
      (keep != null && !keep(j)) || // pruned file: rides along free
      !any ||                       // at least one admitted file per batch
      acc + math.max(0L, files(j).liveRows) <= budget)) {
      if (keep == null || keep(j)) {
        acc += math.max(0L, files(j).liveRows); any = true
      }
      j += 1
    }
    if (j >= files.size) GraftOffset(v) else GraftOffset(v, j.toLong)
  }

  /** SKIP-AHEAD under `pruneFilter` (r15), the tail source's mask
    * ([[GraftMicroBatchStream.snapKeepMask]]) on the CDF bootstrap:
    * zone-map-excluded files ride along free so a keyed bootstrap drains
    * in O(matching files / budget) batches. One local zone-map job per
    * pinned version, cached; offsets stay raw-indexed (restart-stable
    * even under a changed pruneFilter).
    */
  private var snapMaskVersion = -2L
  private var snapMask: Array[Boolean] = null
  private def snapKeepMask(v: Long, m: ManifestStore.Manifest)
      : Array[Boolean] = {
    val conjs = GraftScan.conjuncts(
      GraftCdf.dataFilters(effPushed.toSeq, dataSchema))
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

  /** Rows a CAPTURED version contributes under the pushed data
    * conjuncts: 0 when the planner's zone-map cut would prune the
    * capture's synthetic entry — captured key range plus (r16) the
    * capture's per-column stats, so a NON-key-filtered consumer's
    * catch-up free-rides knowably-irrelevant captures exactly like a
    * keyed one. The cut evaluates driver-side (no Spark job), so
    * admission can afford it per version; a divergence from planning
    * only costs budget (an admitted-but-pruned version wastes a slot, a
    * pruned-but-planned one overshoots by its rows), never rows.
    *
    * RENAME-AWARE (r17): the cut evaluates under `mEval` — the WALK-END
    * manifest (current schema, mapping, statsCols), the same manifest
    * [[GraftCdf.planVersions]] prunes under — NOT the capture-time
    * manifest. The consumer's conjuncts name CURRENT logical columns;
    * capture stats are keyed by PHYSICAL name (stable across RENAME), so
    * resolving logical→physical through the current mapping finds a
    * pre-rename capture's stats where the capture-time schema lookup
    * missed (conservative keep = no free ride over most of a long-lived
    * feed's history). A column re-ADDED after DROP gets a fresh physical
    * name, so old stats can never be misread — the lookup just misses
    * and keeps conservatively.
    */
  private def capturedRows(mV: ManifestStore.Manifest,
                           mEval: ManifestStore.Manifest,
                           conjs: Seq[(String, String, Any)]): Long = {
    val rows = math.max(0L, mV.cdcRows)
    if (rows == 0L || conjs.isEmpty) return rows
    (mV.cdcFile, mV.cdcMinKey, mV.cdcMaxKey) match {
      case (Some(name), Some(lo), Some(hi)) if name.nonEmpty =>
        val synth = ManifestStore.FileEntry(name, lo, hi, mV.cdcRows,
          cols = mV.cdcCols)
        GraftCdfMicroBatchStream.admissionPrunes.incrementAndGet()
        if (store.prunedFiles(mEval.copy(files = Seq(synth)), conjs).isEmpty)
          0L
        else rows
      case _ => rows
    }
  }

  /** MEMOIZED per-version admission verdicts (r17): `latestOffset`
    * re-walks the backlog from the same start every trigger, and each
    * version's contributed-rows verdict costs a driver-side zone-map cut
    * (~ms) or an added-file diff — a 10k-version filtered backlog paid
    * ~30 s of planning PER TRIGGER until drained. Version manifests are
    * immutable and the stream's filter shape is fixed at construction,
    * so the verdict never changes — compute it once per stream instance.
    * The memo keys on the walk-end manifest's (schema, mapping,
    * statsCols) fingerprint: a mid-stream RENAME/ADD flips the
    * fingerprint and drops the cache wholesale (rare, costs one re-walk).
    */
  private val admRowsMemo = new java.util.HashMap[Long, java.lang.Long]
  private var admMemoShape: (String, Map[String, String], Seq[String]) = null
  private def versionRows(v: Long, mEval: ManifestStore.Manifest,
                          vk: Long => Boolean, insOk: Boolean,
                          admConjs: Seq[(String, String, Any)]): Long = {
    val shape = (mEval.schemaDDL, mEval.colMap, mEval.statsCols)
    if (shape != admMemoShape) { admRowsMemo.clear(); admMemoShape = shape }
    val hit = admRowsMemo.get(v)
    if (hit != null) return hit.longValue
    val mV = GraftCdf.manifestOrExplain(store, root, v)
    val rows: Long =
      if (!vk(v)) 0L // version-filtered out: plans empty
      else mV.cdcFile match {
        case Some("") => 0L // guarded-empty capture
        // r16: a capture the planner's zone-map cut would prune rides
        // admission free too (key range + per-column capture stats)
        case Some(_)  => capturedRows(mV, mEval, admConjs)
        case None =>
          val mPrev = GraftCdf.manifestOrExplain(store, root, v - 1)
          if (mV.batchId == mPrev.batchId &&
            mV.streamId == mPrev.streamId) 0L // maintenance
          else if (!insOk) 0L // adds plan as inserts only: filtered out
          else {
            val prevNames = mPrev.files.map(_.name).toSet
            mV.files.iterator.filterNot(f => prevNames(f.name))
              .map(f => math.max(0L, f.liveRows)).sum
          }
      }
    admRowsMemo.put(v, java.lang.Long.valueOf(rows))
    rows
  }

  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val live = store.current.map(_._1).getOrElse(-1L)
    val cur = availableNowCap.fold(live)(math.min(live, _))
    val so = start.asInstanceOf[GraftOffset]
    maxRows match {
      // any parked (-1) start means snapshot-first — including a
      // startingTimestamp that resolved to table creation
      case Some(budget) if so.version < 0 && cur >= 0 =>
        return snapshotAdvance(cur, 0, budget)
      case Some(budget) if so.snap >= 0 =>
        return snapshotAdvance(so.version, so.snap.toInt, budget)
      case _ if so.snap >= 0 =>
        return GraftOffset(so.version) // budget removed: finish in one
      case _ => ()
    }
    val s = so.version
    // snapshot batch (s < 0), caught up, or unpaced: everything available
    if (s < 0 || cur <= s || (maxRows.isEmpty && maxVersions.isEmpty))
      return GraftOffset(cur)
    // PACED FEED WALK. Per-version verdicts come from [[versionRows]]'s
    // memo — version manifests are immutable and the filter shape is
    // fixed, so across a WHOLE drain each version's zone-map cut / diff
    // computes exactly once, and every later trigger's re-walk over the
    // same backlog is O(versions) map hits (a 10k-version filtered
    // backlog paid ~30 s of re-derived cuts per trigger before r17).
    // Manifest loads on memo misses ride the store's manifest LRU.
    // FREE RIDERS (r15): versions that knowably plan EMPTY under the
    // pushed filters — `_commit_version`-excluded, maintenance, or
    // append-only when inserts are filtered out — consume NEITHER
    // budget, so a keyed/version-filtered consumer catching up over a
    // long feed drains in O(contributing versions / budget) rounds
    // instead of burning a trigger round per excluded version. Offsets
    // stay plain version numbers (restart-stable by construction).
    // memo hygiene: verdicts at or below the committed start can never be
    // requested again (offsets are monotonic), so a perpetual stream's
    // memo stays bounded by the open backlog instead of growing one boxed
    // entry per version ever walked (~60 B/version of driver heap).
    admRowsMemo.keySet.removeIf(k => k.longValue <= s)
    val vk = GraftCdf.versionKeep(effPushed.toSeq)
    val insOk = GraftCdf.typePossible(effPushed.toSeq,
      ManifestStore.CdfInsert)
    val admConjs = GraftScan.conjuncts(
      GraftCdf.dataFilters(effPushed.toSeq, dataSchema))
    // the WALK-END manifest: capture cuts resolve the consumer's
    // current-logical conjunct names through the current mapping — the
    // same manifest the subsequent planVersions pass prunes under
    val mEval = GraftCdf.manifestOrExplain(store, root, cur)
    var last = s
    var acc = 0L
    var admitted = 0L
    var v = s + 1
    var open = true
    while (v <= cur && open) {
      val rows = versionRows(v, mEval, vk, insOk, admConjs)
      if (rows == 0L ||    // knowably-empty version: rides free
        admitted == 0L ||  // always at least one contributing version
        (maxRows.forall(acc + rows <= _) &&
          maxVersions.forall(admitted + 1 <= _))) {
        if (rows > 0L) { acc += rows; admitted += 1 }
        last = v; v += 1
      } else open = false
    }
    GraftOffset(last)
  }

  override def initialOffset(): Offset =
    GraftCdf.resolveStart(store, root, options) match {
      case Some(sv) => GraftOffset(sv - 1)
      case None     => GraftOffset(-1L)
    }
  override def latestOffset(): Offset =
    GraftOffset(store.current.map(_._1).getOrElse(-1L))
  override def deserializeOffset(json: String): Offset =
    GraftOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val so = start.asInstanceOf[GraftOffset]
    val eo = end.asInstanceOf[GraftOffset]
    val s = so.version
    val e = eo.version
    val st = store
    // the same advisory pushdown cuts as the batch form, fed from the
    // `pruneFilter` option (plus any pushed filters, should a future
    // Spark push through streaming ScanBuilders): a keyed CDF consumer's
    // per-epoch planning touches only the matching files
    val vKeep = GraftCdf.versionKeep(effPushed.toSeq)
    val insertOk = GraftCdf.typePossible(effPushed.toSeq,
      ManifestStore.CdfInsert)
    val dataConjs = GraftScan.conjuncts(
      GraftCdf.dataFilters(effPushed.toSeq, dataSchema))
    // paced-snapshot slices carry sub-version offsets — handled before
    // the ordinary e<=s guard (a mid-snapshot batch has e == s). Slicing
    // indexes the RAW manifest list (restart-stable); pruning cuts the
    // planned slice after.
    // record the planned live rows (pure metadata) for the small-batch
    // row-mode demotion, exactly like the tail source
    def emit(fs: Seq[ManifestStore.FileEntry], v: Long, raw: Int)
        : Array[InputPartition] = {
      plannedRows = fs.iterator.map(f => math.max(0L, f.liveRows)).sum
      plannedFiles = fs.size
      prunedFiles = raw - fs.size
      GraftPartitions.forFiles(root, fs)
        .map(p => GraftCdfPartition(p, v, isCdc = false)).toArray
    }
    def emitNone(): Array[InputPartition] = {
      plannedRows = 0L; plannedFiles = 0; prunedFiles = 0
      Array.empty
    }
    if (so.snap >= 0 || (s < 0 && eo.snap >= 0)) {
      if (!vKeep(e) || !insertOk) return emitNone()
      val m = GraftCdf.manifestOrExplain(st, root, e)
      val from = if (so.snap >= 0 && s == e) so.snap.toInt else 0
      val until = if (eo.snap >= 0) eo.snap.toInt else m.files.size
      // reuse the admission mask (one cached zone-map job per pinned
      // version) instead of a per-slice prunedFiles job — same as the
      // tail source; per-file containment is independent
      val keep = snapKeepMask(e, m)
      return emit(
        if (keep == null) m.files.slice(from, until)
        else (from until until).collect { case i if keep(i) => m.files(i) },
        e, raw = until - from)
    }
    if (e < 0 || e <= s) return emitNone()
    if (s < 0) { // first batch: the whole snapshot, as inserts at version e
      if (!vKeep(e) || !insertOk) return emitNone()
      val m = GraftCdf.manifestOrExplain(st, root, e)
      val kept = if (dataConjs.isEmpty) m.files
        else st.prunedFiles(m, dataConjs)
      return emit(kept, e, raw = m.files.size)
    }
    // feed batch: estimate its rows with the same memoized per-version
    // verdicts the admission budget uses ([[versionRows]] — captured
    // feeds answer from cdcRows, append versions from added live rows,
    // maintenance is free, and version-filtered / insert-filtered
    // versions count ZERO, so a filtered trickle batch demotes to row
    // mode instead of paying the vectorized setup constant on a
    // near-empty plan). The admission walk already computed every one of
    // these verdicts for the SAME (s, e] range this trigger, so the loop
    // is pure map hits. An ESTIMATE feeding only the columnar-vs-row
    // mode choice, so over/under simply keeps the status-quo mode.
    plannedRows = {
      val mEvalP = GraftCdf.manifestOrExplain(st, root, e)
      var acc = 0L
      var v = s + 1
      while (v <= e) {
        acc += versionRows(v, mEvalP, vKeep, insertOk, dataConjs)
        v += 1
      }
      acc
    }
    val parts = GraftCdf.planVersions(st, root, s, e, ignoreChanges, vKeep,
      insertOk, dataConjs).toArray
    plannedFiles = parts.length
    prunedFiles = -1 // feed batches: the cut happens inside planVersions
    parts
  }

  /** Live rows planned by the LAST `planInputPartitions`; -1 before the
    * first plan. Feeds the small-batch row-mode demotion
    * ([[GraftMicroBatchStream.columnarWorthIt]]).
    */
  @volatile private var plannedRows: Long = -1L
  @volatile private var plannedFiles: Int = -1
  @volatile private var prunedFiles: Int = -1

  /** Source metrics in every `StreamingQueryProgress` — same surface as
    * the tail source ([[GraftMicroBatchStream.metrics]]): version lag,
    * paced-bootstrap progress, last batch's planned/pruned work. Pure
    * manifest metadata; failures yield fewer metrics, never a failed
    * progress event.
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
          else scala.util.Try(GraftCdf.manifestOrExplain(store, root,
            o.version).files.size - o.snap).getOrElse(0L)
        m.put("snapshotFilesRemaining", snapRemaining.toString)
      }
      if (plannedFiles >= 0) {
        m.put("lastBatchPlannedFiles", plannedFiles.toString)
        m.put("lastBatchPlannedRows", plannedRows.toString)
        if (prunedFiles >= 0)
          m.put("lastBatchPrunedFiles", prunedFiles.toString)
      }
    } catch { case _: Exception => () }
    m
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val cur = store.currentManifest
    // column pruning parity with the batch form: Spark prunes streaming
    // scans through the same ScanBuilder, so the per-version readers of a
    // two-column stream over a wide table read two columns.
    // VECTORIZED like the batch form (since round 14): the factory is
    // built per micro-batch, and its columnar promise is decided from the
    // SCHEMA alone (the masked columnar reader covers any DV'd snapshot
    // part, change-file parts get their own batch reader, CDF metadata
    // columns append as constant vectors) — so the promise holds for any
    // future version's files and a high-rate consumer stops paying the
    // ~4x row-iterator tax per epoch.
    GraftCdf.factory(spark, root, keyField, dataSchema, options,
      cur.map(_.schemaDDL).getOrElse(dataSchema.toDDL),
      colMap = cur.map(_.colMap).getOrElse(Map.empty),
      required = required,
      columnarOk = GraftMicroBatchStream.columnarWorthIt(spark, plannedRows),
      pushed = effPushed)
  }
}

object GraftCdfMicroBatchStream {
  /** Test probe: cumulative count of admission-side capture zone-map
    * cuts ([[GraftCdfMicroBatchStream.capturedRows]] evaluations). The
    * r17 memo pins ONE cut per captured version across a WHOLE drain —
    * specs read the delta around a drain to catch a re-derivation
    * regression (a 10k-version backlog re-cutting per trigger).
    */
  private[graft] val admissionPrunes =
    new java.util.concurrent.atomic.AtomicLong(0L)
}
