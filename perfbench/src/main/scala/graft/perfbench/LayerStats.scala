package graft.perfbench

import graft.cdc.{Changelog, Envelope, ManifestStore}
import graft.perfbench.PipelineBench.{KeyField, Pipeline, mean, median, rowsOf}
import graft.streaming.SchemaTracker
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.monotonically_increasing_id
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The traced run's side: one batch driven layer by layer in
  * `ManifestCdcStream.processBatch`'s order, each step materialised inside
  * its own span, and the per-layer metrics derived from the spans, the
  * [[JobListener]] and the manifests before and after each commit.
  */
object LayerStats {
  final case class BatchRec(root: Span, filesBefore: Int, touched: Int,
                            eventsIn: Long, netRows: Long, rowsRewritten: Long,
                            mergeBytes: Long, logBytes: Long,
                            compacted: Int,
                            maintBytes: Long, gcMs: Long)
}

final class LayerStats(spec: Spec, cpus: Int) {
  import LayerStats.BatchRec
  import PipelineBench.{DvDebtFraction, ReclusterFiles, ReclusterOverFiles}

  /** Every timed batch of the traced run: (traced, wall ms, optimized). */
  val walls = mutable.ArrayBuffer.empty[(Boolean, Double, Boolean)]
  private val recs = mutable.ArrayBuffer.empty[BatchRec]
  private val lookupFiles = mutable.ArrayBuffer.empty[Double]
  private val lookupMasked = mutable.ArrayBuffer.empty[Double]
  private var scanFiles = 0
  private var fieldsCache: Option[Seq[Envelope.FieldInfo]] = None

  /** Bytes a commit added: new data files, new sidecars, its log entry. */
  private def addedBytes(p: Pipeline, before: ManifestStore.Manifest,
                         after: ManifestStore.Manifest): (Long, Long) = {
    val oldNames = before.files.map(_.name).toSet
    val oldDv = before.files.flatMap(_.dv).toSet
    val data = after.files.filterNot(f => oldNames(f.name)).map(_.bytes).sum
    val dv = after.files.flatMap(_.dv).filterNot(oldDv)
      .map(d => Files.size(Paths.get(p.root, "files", d))).sum
    val log = Files.size(Paths.get(p.root, "_LOG", s"${after.version}.json"))
    (data + dv + log, log)
  }

  def tracedBatch(p: Pipeline, tr: Tracer, batch: DataFrame, b: Int): Unit = {
    if (fieldsCache.isEmpty) fieldsCache = Envelope.loadCache(p.cacheDir)
    val m0 = p.store.currentManifest.get
    val gc0 = Tracer.gcMs
    var eventsIn, netRows = 0L
    var merged: Option[(Long, Int)] = None
    var opt: Option[ManifestStore.OptimizeStats] = None
    var pinned: Seq[DataFrame] = Nil
    tr.span("batch", b) {
      if (!tr.span("stream.is_empty", b)(batch.isEmpty)) {
        val fields = tr.span("schema.resolve", b)(
          SchemaTracker.resolve(batch, fieldsCache, p.cacheDir))
        fieldsCache = Some(fields)
        val names = fields.map(_.name)
        val keyed = tr.span("changelog.parse", b) {
          val env = Envelope.envelopeSchema(Envelope.recordSchema(fields))
          val withSeq = batch.withColumn(Changelog.SeqCol, monotonically_increasing_id())
          val df = Changelog.withKey(Changelog.flatten(Changelog.parse(withSeq, env),
            names), KeyField).persist(StorageLevel.MEMORY_AND_DISK)
          eventsIn = df.count()
          df
        }
        val net = tr.span("changelog.dedup", b) {
          val df = Changelog.dedupLatest(keyed).persist(StorageLevel.MEMORY_AND_DISK)
          netRows = df.count()
          df
        }
        pinned = Seq(keyed, net)
        merged = tr.span("store.merge", b) {
          if (spec.mor) p.store.mergeOnRead(net, names, b.toLong, p.streamId, tsGuard = true)
            .map(s => (s.version, s.maskedFiles))
          else p.store.merge(net, names, b.toLong, p.streamId, tsGuard = true)
            .map(s => (s.version, s.rewrittenFiles))
        }
        if (merged.isDefined) opt = tr.span("maint.optimize", b) {
          val m = p.store.currentManifest
          if (m.exists(_.files.size > ReclusterOverFiles)) p.store.optimize(ReclusterFiles)
          else if (m.exists { mf =>
              val rows = mf.files.map(_.rows).sum
              rows > 0 && mf.files.map(_.dvRows).sum >= DvDebtFraction * rows
            }) p.store.optimize(ReclusterFiles, dvFold = DvDebtFraction)
          else None
        }
      }
    }
    val gcMs = Tracer.gcMs - gc0
    pinned.foreach(_.unpersist())
    val rootSpan = tr.spans.find(s => s.name == "batch" && s.batch == b).get
    merged.foreach { case (v, touched) =>
      val m1 = p.store.manifest(v).get
      val added = m1.files.filterNot(f => m0.files.exists(_.name == f.name))
      val (mergeBytes, logBytes) = addedBytes(p, m0, m1)
      val maintBytes = opt.map(o => addedBytes(p, m1, p.store.manifest(o.version).get)._1)
        .getOrElse(0L)
      recs += BatchRec(rootSpan, m0.files.size, touched, eventsIn, netRows,
        added.map(_.rows).sum, mergeBytes, logBytes,
        opt.map(_.compactedFiles).getOrElse(0), maintBytes, gcMs)
    }
  }

  /** A point lookup, recording which files it reads and how much of them
    * deletion vectors mask.
    */
  def lookup(p: Pipeline, keys: Seq[Long]): Seq[OrderRow] = {
    val df = p.store.lookup(keys).get
    val read = df.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val entries = p.store.currentManifest.get.files.filter(f => read(f.name))
    lookupFiles += entries.size
    val rows = entries.map(_.rows).sum
    lookupMasked += (if (rows == 0) 0.0 else entries.map(_.dvRows).sum.toDouble / rows)
    rowsOf(df)
  }

  def scan(p: Pipeline): (Long, Long, Long) = {
    val df = p.store.read().get
    scanFiles = df.inputFiles.length
    PipelineBench.checksumOf(df)
  }

  def metrics(tr: Tracer, listener: JobListener, end: ManifestStore.Manifest,
              lagMs: Seq[Double]): Seq[(String, Double, String)] = {
    val jobs = listener.bySpan
    val n = recs.size.toDouble
    val byBatch = recs.map(r => r -> tr.spans.filter(s => s.parent == r.root.id).toSeq).toMap
    def named(r: BatchRec, name: String): Seq[Span] = byBatch(r).filter(_.name == name)
    def selfMs(name: String): Double = recs.map(r => named(r, name).map(tr.selfMs).sum).sum / n
    def jobsOf(r: BatchRec, name: String): Seq[JobCost] =
      named(r, name).flatMap(s => jobs.getOrElse(s.id, Nil))
    def allJobs(r: BatchRec): Seq[JobCost] =
      tr.descendants(r.root).toSeq.flatMap(id => jobs.getOrElse(id, Nil))
    def perBatch(f: BatchRec => Double): Double = recs.map(f).sum / n

    val batchMs = recs.map(_.root.ms).sum
    val changelogMs = selfMs("changelog.parse") + selfMs("changelog.dedup")
    val mergeMs = recs.map(r => named(r, "store.merge").map(_.ms).sum).sum / n
    val mergeJobsum = perBatch(r => jobsOf(r, "store.merge").map(_.ms).sum.toDouble)
    val rewritten = recs.map(_.rowsRewritten).sum
    val lookupSpans = tr.spans.filter(_.name == "read.lookup")
    // traced batch k against untraced batch k+2, where both ran an optimize
    // or neither did
    val pairs = walls.indices.collect { case k if k + 2 < walls.size &&
        walls(k)._1 && !walls(k + 2)._1 && walls(k)._3 == walls(k + 2)._3 =>
      (walls(k)._2, walls(k + 2)._2)
    }
    // fewer than three timed batches leave nothing to compare
    val overheadFrac =
      if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum - 1
    val filesEnd = end.files.size
    val rowsEnd = end.files.map(_.rows).sum
    Seq(
      ("schema.resolve_ms", selfMs("schema.resolve"), "ms"),
      ("changelog.parse_ms", selfMs("changelog.parse"), "ms"),
      ("changelog.dedup_ms", selfMs("changelog.dedup"), "ms"),
      ("changelog.events_in", perBatch(_.eventsIn.toDouble), "count"),
      ("changelog.rows_out", perBatch(_.netRows.toDouble), "count"),
      ("changelog.collapse_ratio",
        recs.map(_.eventsIn).sum.toDouble / recs.map(_.netRows).sum, "ratio"),
      ("changelog.shuffle_bytes", perBatch(r => (jobsOf(r, "changelog.parse") ++
        jobsOf(r, "changelog.dedup")).map(_.shuffleBytes).sum.toDouble), "B"),
      ("changelog.share", changelogMs * n / batchMs, "frac"),
      ("store.merge_ms", mergeMs, "ms"),
      ("store.merge_jobs", perBatch(r => jobsOf(r, "store.merge").size.toDouble), "count"),
      ("store.merge_tasks", perBatch(r => jobsOf(r, "store.merge").map(_.tasks).sum.toDouble), "count"),
      ("store.merge_jobsum_ms", mergeJobsum, "ms"),
      ("store.merge_driver_ms", mergeMs - mergeJobsum, "ms"),
      ("store.probe_jobsum_ms", perBatch(r => jobsOf(r, "store.merge")
        .filter(_.kind == "probe").map(_.ms).sum.toDouble), "ms"),
      ("store.write_jobsum_ms", perBatch(r => jobsOf(r, "store.merge")
        .filter(_.kind == "write").map(_.ms).sum.toDouble), "ms"),
      ("store.files_before", perBatch(_.filesBefore.toDouble), "count"),
      ("store.files_touched", perBatch(_.touched.toDouble), "count"),
      ("store.hit_frac", recs.map(_.touched).sum.toDouble / recs.map(_.filesBefore).sum, "frac"),
      ("store.rows_rewritten", perBatch(_.rowsRewritten.toDouble), "count"),
      ("store.useful_frac", recs.map(_.netRows).sum.toDouble / math.max(1L, rewritten), "frac"),
      ("store.bytes_written", perBatch(_.mergeBytes.toDouble), "B"),
      ("store.log_bytes", perBatch(_.logBytes.toDouble), "B"),
      ("maint.optimize_runs", walls.count(_._3).toDouble, "count"),
      ("maint.optimize_ms", selfMs("maint.optimize"), "ms"),
      ("maint.bytes_rewritten", perBatch(_.maintBytes.toDouble), "B"),
      ("maint.files_compacted", recs.map(_.compacted).sum.toDouble, "count"),
      ("read.lookup_files", mean(lookupFiles.toSeq), "count"),
      ("read.lookup_jobs", lookupSpans.map(s => jobs.getOrElse(s.id, Nil).size).sum.toDouble /
        math.max(1, lookupSpans.size), "count"),
      ("read.masked_rows_frac", mean(lookupMasked.toSeq), "frac"),
      ("read.scan_files", (if (scanFiles > 0) scanFiles else filesEnd).toDouble, "count"),
      ("table.live_files", filesEnd.toDouble, "count"),
      ("table.dv_debt_frac", end.files.map(_.dvRows).sum.toDouble / math.max(1L, rowsEnd), "frac"),
      ("spark.jobs_per_batch", perBatch(r => allJobs(r).size.toDouble), "count"),
      ("spark.tasks_per_batch", perBatch(r => allJobs(r).map(_.tasks).sum.toDouble), "count"),
      ("spark.gc_ms_per_batch", perBatch(_.gcMs.toDouble), "ms"),
      ("spark.spill_bytes", recs.map(r => allJobs(r).map(_.spillBytes).sum).sum.toDouble, "B"),
      ("spark.core_util", recs.map(r => allJobs(r).map(_.taskMs).sum).sum / (batchMs * cpus), "frac"),
      ("driver.start_lag_ms", median(lagMs), "ms"),
      ("trace.overhead_frac", overheadFrac, "frac"),
      ("trace.coverage_frac", recs.map(r => byBatch(r).map(_.ms).sum).sum / batchMs, "frac"))
  }
}
