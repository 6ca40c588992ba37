package graft.streaming

import graft.cdc._
import graft.ops.StreamingDedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

object ManifestCdcStream {
  /** Streaming content-dedup side channel (the `processing_config.dedup`
    * block): fingerprint the after-image of `column` on every committed
    * batch against a persistent [[graft.ops.StreamingDedup]] index living
    * next to the table, and append per-event verdicts to
    * `<table>_dedup` (and `<table>_dedup_bands` when `bands`).
    * `ttlBatches` expires index claims older than that many batches via a
    * maintenance delete — the index stays bounded without touching the
    * stream's replay lineage.
    */
  final case class DedupConfig(column: String, bands: Boolean = false,
                               ttlBatches: Option[Long] = None)

  /** The changelog's wire format, which picks the per-batch net-change
    * step once per stream (`database_config.type`).
    */
  sealed trait ChangeFormat
  /** Debezium relational envelope (Postgres): schema inferred once and
    * cached across restarts, additive drift from each batch's schema
    * blocks ([[SchemaTracker]]), typed columns.
    */
  case object Postgres extends ChangeFormat
  /** Debezium MongoDB extended-JSON envelope
    * ([[graft.cdc.MongoPipeline.conformedNet]]): BSON-normalized documents,
    * fields discovered at table create, then appended as they appear
    * (`evolveSchema`) or conformed to the table's columns (the reference's
    * first-writer-wins, `evolveSchema = false`); string-typed columns.
    */
  final case class Mongo(evolveSchema: Boolean = true) extends ChangeFormat

  /** One batch's net changes ready for the merge: the net frame, the
    * table columns it writes (types for the bootstrap commit), a hook for
    * committed batches, and the release of pinned intermediates.
    */
  private final case class NetBatch(net: DataFrame, schema: StructType,
                                    onCommit: Long => Unit = _ => (),
                                    cleanup: () => Unit = () => ())
}

/** The streaming CDC engine: changelog stream -> per-batch net changes ->
  * stats-pruned MERGE into the file-manifest store
  * ([[graft.cdc.ManifestStore]]) — the shape the reference deploys
  * (stream -> Delta MERGE, ref: cdc_stream.py run_stream/process_batch
  * :909-1006/:545-708, :664-671). Each batch rewrites only the files whose
  * key range the batch's keys intersect, so steady-state commit I/O is
  * O(touched + batch) no matter how large the table grows.
  *
  * Semantics carried over from the reference:
  *   - T1 configurable trigger; T2 checkpoint + idempotent re-apply (the
  *     store's (batchId, streamId) guard makes foreachBatch replay a
  *     no-op);
  *   - infer-once / cache-forever schema handling (ref :570-577) with the
  *     cache surviving restarts, plus additive drift;
  *   - T4 graceful shutdown: stop waits for the in-flight batch.
  *
  * Both wire formats ([[ManifestCdcStream.ChangeFormat]]) share everything
  * after the net-change step: merge-on-read, auto-optimize, the change
  * feed, the maintained view and the dedup side channel.
  */
final class ManifestCdcStream(
    spark: SparkSession,
    source: DataFrame,
    store: ManifestStore,
    keyField: String,
    cacheDir: String,
    checkpointDir: String,
    columnsToSave: Option[Seq[String]] = None,
    tsGuard: Boolean = true,
    trigger: Trigger = Trigger.AvailableNow(),
    /** When > 0: after a committed merge leaves more than this many live
      * files, run [[graft.cdc.ManifestStore.optimize]] toward
      * `reclusterFiles` outputs (the auto-OPTIMIZE role). Merge growth
      * files span wide key ranges and would otherwise erode stats pruning
      * batch by batch; optimize compacts ONLY the overlapping / small-file
      * bins and carries clean files by reference, so the in-stream
      * maintenance cost is bounded by the layout debt a few batches accrue
      * — not by table size (the old full recluster was an O(table) latency
      * cliff on whichever trigger tripped the threshold).
      */
    reclusterOverFiles: Int = 0,
    reclusterFiles: Int = 64,
    /** When > 0 (and `reclusterOverFiles` > 0): also trigger the optimize
      * pass once the table's TOTAL deletion-vector debt reaches this
      * fraction of its rows. Masked reads pay a per-(file, key) anti-join
      * over every masked file — measured at the 60M table, a fully-masked
      * layout reads 7-20x slower than pristine (STRESS.md) — so MoR debt
      * must be repaid on a bound, not only when the FILE COUNT grows. The
      * fraction is passed to optimize as its per-file fold threshold:
      * total debt >= F guarantees some file is >= F, so every trigger
      * makes progress.
      */
    dvDebtFraction: Double = 0.25,
    /** Continuously maintained COUNT/SUM view: (state store keyed on
      * groupField, groupField, valueField). Each committed batch folds the
      * STORE-DERIVED change feed
      * ([[graft.cdc.ManifestStore.changesBetween]]) — exact before-images
      * by construction, ZERO table access per batch
      * ([[graft.cdc.IncrementalAgg.maintainFromFeed]]); the view commits
      * under the same (batchId, streamId), so replays are no-ops. A view
      * lagging its store (crash between the two commits, foreign lineage)
      * rebuilds from the merged table; steady state never touches it.
      */
    aggView: Option[(ManifestStore, String, String)] = None,
    /** Use [[graft.cdc.ManifestStore.mergeOptimistic]] instead of the
      * single-writer merge — for deployments where the stream shares its
      * table with other writers (a backfill job, another stream on a
      * disjoint key range). An unresolved conflict after its retries fails
      * the batch, which Structured Streaming then re-runs — at-least-once
      * delivery into an exactly-once (batchId-guarded) store.
      */
    optimistic: Boolean = false,
    /** Use [[graft.cdc.ManifestStore.mergeOnRead]] (deletion-vector
      * sidecars) instead of the copy-on-write merge: per-trigger bytes
      * written drop from O(touched files) to O(batch) — the right mode
      * when batches scatter small updates across many files. Layout debt
      * (sidecars + per-batch upsert files) is repaid by the same
      * `reclusterOverFiles`-triggered [[graft.cdc.ManifestStore.optimize]]
      * pass. Combine with `optimistic` when the table is shared: batches
      * then commit through
      * [[graft.cdc.ManifestStore.mergeOnReadOptimistic]] (CAS rebase
      * against interleaved backfills/DML; an unresolved conflict fails
      * the batch for stream-level retry).
      */
    mergeOnRead: Boolean = false,
    /** Content-dedup side channel — see
      * [[ManifestCdcStream.DedupConfig]]. Runs only on batches the store
      * actually committed, so a replayed batch neither re-claims the index
      * nor re-appends verdicts (crash window: a batch that committed the
      * merge but crashed before the verdict append loses that batch's
      * verdict rows — the index itself is never corrupted, its own
      * (batchId, streamId) guard holds).
      */
    dedup: Option[ManifestCdcStream.DedupConfig] = None,
    /** K6/K8: when set, every committed Postgres batch writes replay-SQL
      * statements (one per raw event, pre-dedup) as text under
      * `<dir>/batch_<id>` — the reference's SQL-history audit sink
      * (archive/streaming_from_kafka_to_minio_2.py :126-131) as a
      * streaming side output.
      */
    sqlAuditDir: Option[String] = None,
    auditTable: String = "target",
    /** The changelog's wire format — see
      * [[ManifestCdcStream.ChangeFormat]]. Only the net-change step differs
      * between formats; the merge and everything after it is shared.
      */
    changeFormat: ManifestCdcStream.ChangeFormat = ManifestCdcStream.Postgres) {

  import ManifestCdcStream.NetBatch

  // optimistic + mergeOnRead is a first-class combination since r11:
  // deletion-vector commits rebase through the store's MoR CAS protocol

  @volatile private var fieldsCache: Option[Seq[Envelope.FieldInfo]] =
    Envelope.loadCache(cacheDir)
  @volatile private var batchInProgress = false
  // replay detection is scoped to this checkpoint lineage: the id lives IN
  // the checkpoint dir, so wiping the checkpoint (even recreated at the
  // same path) starts a new lineage with fresh batch ids
  private lazy val streamId = CdcStream.lineageId(checkpointDir)

  /** The Postgres step takes its emptiness check from the schema-block
    * pass: one job answers both (None = an empty batch).
    */
  private def postgresNet(batch: DataFrame): Option[NetBatch] = {
    val (nonEmpty, blocks) = SchemaTracker.scan(batch)
    if (!nonEmpty) return None
    val fields = SchemaTracker.resolveBlocks(blocks, fieldsCache, cacheDir)
    if (!fieldsCache.contains(fields)) fieldsCache = Some(fields)
    val withSeq =
      if (batch.columns.contains(Changelog.SeqCol)) batch
      else batch.withColumn(Changelog.SeqCol, monotonically_increasing_id())
    val saved = fields.filter(f =>
      columnsToSave.forall(s => s.contains(f.name) || f.name == keyField))
    val net = Changelog.netChanges(withSeq, fields, keyField,
      columnsToSave.map(_ :+ keyField))
    // audit AFTER a successful commit, overwriting the batch's dir: a
    // foreachBatch replay neither duplicates statements (overwrite) nor
    // records statements for a batch that never applied (gated)
    def audit(batchId: Long): Unit = sqlAuditDir.foreach { dir =>
      val env = Envelope.envelopeSchema(Envelope.recordSchema(fields))
      val fl = Changelog.withKey(
        Changelog.flatten(Changelog.parse(withSeq, env), fields.map(_.name)), keyField)
      SqlHistory.fromFlattened(fl, auditTable, fields, keyField)
        .select("sql_text")
        .write.mode("overwrite").text(s"$dir/batch_$batchId")
    }
    Some(NetBatch(net, StructType(saved.map(f =>
      StructField(f.name, Envelope.sparkType(f.dbzType)))), audit))
  }

  private def mongoNet(batch: DataFrame, evolveSchema: Boolean)
      : Option[NetBatch] = if (batch.isEmpty) None else {
    val existing = store.currentManifest.map(m =>
      StructType.fromDDL(m.schemaDDL).fieldNames.toSeq
        .filterNot(_ == Merge.LastTsCol))
    val (net, fields, cleanup) = MongoPipeline.conformedNet(batch, keyField,
      existing, columnsToSave, evolveSchema)
    Some(NetBatch(net, StructType(fields.map(StructField(_, StringType))),
      cleanup = cleanup))
  }

  /** The per-format net-change step; None for an empty batch, which
    * commits nothing and consumes no batch id.
    */
  private val netStep: DataFrame => Option[NetBatch] = changeFormat match {
    case ManifestCdcStream.Postgres      => postgresNet
    case ManifestCdcStream.Mongo(evolve) => mongoNet(_, evolve)
  }

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    batchInProgress = true
    try netStep(batch).foreach { step =>
      try mergeBatch(step, batchId) finally step.cleanup()
    } finally batchInProgress = false
  }

  /** Merge one batch's net changes, then the committed-batch work:
    * maintained view, auto-optimize, dedup side channel, audit.
    */
  private def mergeBatch(step: NetBatch, batchId: Long): Unit = {
    val net = step.net
    val names = step.schema.fieldNames.toSeq
    if (!store.exists) {
      // bootstrap an empty v0 so the first data batch goes through the
      // same pruned-merge path as every later one (batchId -1 leaves all
      // real batch ids unconsumed for replay detection; a crash between
      // this commit and the merge below replays into merge's own guard)
      store.commit(
        spark.createDataFrame(java.util.Collections.emptyList[Row](), step.schema),
        batchId = -1L, nFiles = 1, streamId = streamId)
    }
    val prev = store.current // pre-commit view-sync reference
    val committed: Option[Long] =
      if (mergeOnRead && optimistic)
        store.mergeOnReadOptimistic(net, names, batchId, streamId,
          tsGuard) match {
          case ManifestStore.MorApplied(stats) => Some(stats.version)
          case ManifestStore.MorReplayed       => None
          case c: ManifestStore.MorConflict =>
            throw new IllegalStateException(
              s"merge-on-read conflict after retries at version " +
                s"${c.currentVersion}: ${c.reason} — failing the batch " +
                "for stream-level retry")
        }
      else if (mergeOnRead)
        store.mergeOnRead(net, names, batchId, streamId, tsGuard)
          .map(_.version)
      else if (!optimistic)
        store.merge(net, names, batchId, streamId, tsGuard).map(_.version)
      else store.mergeOptimistic(net, names, batchId, streamId, tsGuard) match {
        case ManifestStore.MergedAt(stats) => Some(stats.version)
        case ManifestStore.AlreadyMerged   => None
        case c: ManifestStore.MergeConflict =>
          throw new IllegalStateException(
            s"merge conflict after retries at version ${c.currentVersion}: " +
              s"${c.reason} — failing the batch for stream-level retry")
      }
    committed.foreach { version =>
      aggView.foreach { case (vs, groupField, valueField) =>
        // in sync = the view has folded exactly the batches the main
        // store had BEFORE this commit, in this lineage
        val inSync = vs.current.exists(v =>
          v._3 == streamId &&
            prev.exists(p => p._3 == streamId && p._2 == v._2))
        val feedOpt =
          if (inSync) prev.flatMap(p =>
            store.changesBetween(p._1, version,
              ignore = Set(Merge.LastTsCol)))
          else None
        val state = feedOpt match {
          case Some(feed) =>
            IncrementalAgg.maintainFromFeed(vs.read().get, feed,
              groupField, valueField)
          case None => // first batch / crash window / reaped feed
            IncrementalAgg.aggState(store.read().get, groupField, valueField)
        }
        vs.commit(state, batchId, nFiles = 1, streamId = streamId)
      }
      if (reclusterOverFiles > 0) {
        val m = store.currentManifest
        if (m.exists(_.files.size > reclusterOverFiles))
          store.optimize(reclusterFiles)
        else if (dvDebtFraction > 0 && m.exists { mf =>
            val rows = mf.files.map(_.rows).sum
            rows > 0 && mf.files.map(_.dvRows).sum >= dvDebtFraction * rows
          })
          store.optimize(reclusterFiles, dvFold = dvDebtFraction)
      }
      dedup.foreach(dc => processDedup(dc, net, batchId))
      step.onCommit(batchId)
    }
  }

  /** The dedup side channel for one COMMITTED batch: fingerprint the
    * after-images, get per-event verdicts against the persistent index
    * (claiming new fingerprints in the same step), append them to the
    * verdict table, and expire aged claims. Event identity is
    * xxhash64(batchId, key) — unique per (batch, key) since the net is
    * per-key deduped, and monotone ENOUGH: cross-batch first-wins is
    * arrival order (the index keeps the first claimant), in-batch winners
    * are the deterministic min-hash event.
    */
  private def processDedup(dc: ManifestCdcStream.DedupConfig, net: DataFrame,
                           batchId: Long): Unit = {
    val contentCol = s"after_${dc.column}"
    // a drift window where the column has not arrived yet (or a batch of
    // pure deletes) has nothing to fingerprint
    if (!net.columns.contains(contentCol)) return
    val keyed = net
      .filter(col(Changelog.OpCol) =!= "d" && col(contentCol).isNotNull)
      .select(
        xxhash64(lit(batchId), col(Changelog.KeyCol).cast("string")).as("doc_id"),
        col(Changelog.KeyCol).as("key"),
        col(contentCol).cast("string").as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val idx = new ManifestStore(s"${store.root}_dedup_idx", spark,
        StreamingDedup.FpCol)
      StreamingDedup.init(idx, spark)
      val verdicts = StreamingDedup.processBatch(idx, keyed, "doc_id",
        md5(col("text")), batchId)
      verdicts.join(keyed.select("doc_id", "key"), Seq("doc_id"))
        .select(lit(batchId).as("batch_id"), col("key"),
          col("is_dup"), col("dup_of"))
        .write.mode("append").parquet(s"${store.root}_dedup")
      dc.ttlBatches.foreach(ttl =>
        if (batchId >= ttl) StreamingDedup.expireMaintenance(idx, batchId - ttl))
      if (dc.bands) {
        val bidx = new ManifestStore(s"${store.root}_dedup_bands_idx", spark,
          StreamingDedup.BandCol)
        StreamingDedup.initBands(bidx, spark)
        val bv = StreamingDedup.processBandBatch(bidx,
          keyed.select("doc_id", "text"), batchId)
        bv.join(keyed.select("doc_id", "key"), Seq("doc_id"))
          .select(lit(batchId).as("batch_id"), col("key"),
            col("n_hit_bands"), col("is_candidate_dup"))
          .write.mode("append").parquet(s"${store.root}_dedup_bands")
        dc.ttlBatches.foreach(ttl =>
          if (batchId >= ttl) StreamingDedup.expireMaintenance(bidx, batchId - ttl))
      }
    } finally keyed.unpersist()
  }

  def start(): StreamingQuery =
    source.writeStream
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** T4: wait for the in-flight batch before stopping. */
  def stopGracefully(query: StreamingQuery, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (batchInProgress && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    query.stop()
  }
}
