package graft.spark

import graft.cdc.{Changelog, ManifestStore, Merge}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetWriteBridge
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}

/** `df.writeStream.format("graft").start(root)` — the manifest store as a
  * NATIVE exactly-once streaming sink, closing the loop the reference
  * leaves to `foreachBatch` + driver code (ref: spark_client/src/
  * cdc_stream.py:640-671):
  *
  *   - Each epoch's rows are staged by the EXECUTORS as parquet under the
  *     table root ([[ParquetWriteBridge]] — the same machinery as the
  *     row-level SQL write), so the driver never holds data.
  *   - `commit(epochId, …)` turns the staged epoch into a net changelog
  *     and applies it through the store's pruned optimistic MERGE with
  *     `batchId = epochId, streamId = <checkpointed query id>` — the
  *     store's replay guard then makes a crash-replayed epoch a PURE
  *     NO-OP: exactly-once end to end, from the sink's own contract, with
  *     no foreachBatch user code.
  *   - Append and Update output modes are both keyed UPSERTS (the table is
  *     keyed); Complete mode re-commits the full result per epoch
  *     (`truncate()` on the write builder). `option("opcol", <column>)`
  *     names a c/u/d operation column so a CHANGELOG stream's deletes
  *     delete — with `tsguard`, `readStream -> Changelog transforms ->
  *     writeStream` is the reference's whole pipeline, declaratively.
  *
  * A `last_ts` column in the stream, when present, is the CDC ordering
  * timestamp (same contract as the batch append); otherwise rows stamp the
  * epoch id, which is monotone per query. With `option("tsguard","true")`
  * the merge additionally enforces the CDC staleness rule ACROSS epochs
  * (an event older than the stored row's `last_ts` cannot regress state) —
  * with it, `readStream -> Changelog transforms -> writeStream` IS the
  * reference pipeline, declaratively.
  */
final class GraftStreamingWrite(root: String, options: Map[String, String],
                                schema: StructType, queryId: String,
                                overwrite: Boolean,
                                spec: Option[ClusterWriteSpec])
  extends StreamingWrite {

  private def spark = SparkSession.active

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    Files.createDirectories(Paths.get(root))
    spec match {
      case Some(s) =>
        // promotion-eligible query (initial snapshot / Complete mode):
        // cell-rolling, stats-folding writers so commit can adopt the
        // epoch's files by rename instead of re-writing them
        GraftClusteredStreamWriterFactory(s"$root/_stream_stage_$queryId",
          ParquetWriteBridge.taskWriters(spark, schema), s)
      case None =>
        GraftStreamWriterFactory(s"$root/_stream_stage_$queryId",
          ParquetWriteBridge.taskWriters(spark, schema))
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val stagedStats = messages.collect {
      case GraftStagedFilesMessage(fs) => fs
    }.flatten.toSeq
    val files = messages.collect {
      case GraftDeltaCommitMessage(path) if path.nonEmpty => path
    } ++ stagedStats.map(_.path)
    val epochDir = Paths.get(s"$root/_stream_stage_$queryId/epoch-$epochId")
    try {
      val keyOpt = GraftTable.opt(options, "key")
      val probe = new ManifestStore(root, spark,
        keyOpt.getOrElse(""))
      val existing = probe.currentManifest
      val key = existing.map(_.keyField).filter(_.nonEmpty)
        .orElse(keyOpt).getOrElse(throw new IllegalArgumentException(
          "graft streaming sink to a new store needs option(\"key\", ...)"))
      val st = new ManifestStore(root, spark, key)
      // replay guard: a re-delivered epoch after a crash-in-commit is a
      // no-op (same streamId lineage, batchId already applied). The
      // lineage-scan form also catches a replay with another writer's
      // commit interleaved between apply and crash — latest-commit-only
      // would re-apply and clobber the interleaved writer's newer values.
      val applied = st.replayed(epochId, queryId)
      if (applied) return
      if (files.isEmpty && existing.isDefined && !overwrite) return
      val staged =
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema).parquet(files: _*)
      val nFiles = GraftTable.opt(options, "files").map(_.toInt).getOrElse(16)
      val opColOpt = GraftTable.opt(options, "opcol")
      // opcol mode: the op column is CHANGELOG metadata, not table data —
      // the store is created EMPTY (data columns only) and every epoch,
      // including the first, applies through the merge path below
      val effective = (existing, opColOpt) match {
        case (None, Some(oc)) =>
          val dataSchema = org.apache.spark.sql.types.StructType(
            schema.filterNot(f => f.name == oc || f.name == Merge.LastTsCol))
          st.commit(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema),
            batchId = -1L, nFiles = 1, streamId = s"$queryId-init")
          st.currentManifest
        case _ => existing
      }
      // promotion: a COMMIT epoch (initial snapshot / Complete re-commit)
      // whose tasks staged clustered, stats-carrying files adopts them by
      // rename (1x write). Falls back to stage-and-commit when the
      // table acquired column mapping mid-query (the staged files carry
      // logical names) or the epoch staged through plain writers.
      def promotable(colMap: Map[String, String]): Boolean =
        spec.isDefined && stagedStats.nonEmpty && colMap.isEmpty
      effective match {
        case None if promotable(Map.empty) =>
          st.commitStaged(stagedStats, schema, batchId = epochId,
            streamId = queryId,
            statsCols = GraftTable.opt(options, "statscols").toSeq
              .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
          ()
        case None =>
          st.commit(staged, batchId = epochId, nFiles = nFiles,
            streamId = queryId,
            statsCols = GraftTable.opt(options, "statscols").toSeq
              .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
          ()
        case Some(m) if overwrite && promotable(m.colMap) =>
          st.commitStaged(stagedStats, schema, batchId = epochId,
            streamId = queryId, statsCols = m.statsCols)
          ()
        case Some(m) if overwrite => // Complete mode: epoch = full result
          st.commit(staged, batchId = epochId, nFiles = nFiles,
            streamId = queryId, statsCols = m.statsCols)
          ()
        case Some(m) =>
          // opcol: a changelog stream names its op column (c/u/d) and the
          // sink honors deletes; without it every row is an upsert
          val opCol = opColOpt
          val fields = staged.columns.toSeq
            .filterNot(c => c == Merge.LastTsCol || opCol.contains(c))
          val ts = if (staged.columns.contains(Merge.LastTsCol))
            coalesce(col(Merge.LastTsCol), lit(epochId)) else lit(epochId)
          val net = Changelog.dedupLatest(staged.select(
            col(key).cast("string").as(Changelog.KeyCol) +:
              opCol.map(c => col(c)).getOrElse(lit("u")).as(Changelog.OpCol) +:
              ts.as(Changelog.TsCol) +:
              fields.map(f => col(f).as(s"after_$f")): _*))
          // tsguard=true: the CDC staleness rule across epochs — a late
          // event with an older last_ts cannot regress the stored row
          val guard = GraftTable.opt(options, "tsguard")
            .exists(_.equalsIgnoreCase("true"))
          if (GraftTable.opt(options, "mor").exists(_.equalsIgnoreCase("true"))) {
            // deletion-vector merge-on-read: scattered epochs write
            // O(batch) bytes instead of rewriting every touched file
            st.mergeOnReadLocked(net, fields, batchId = epochId,
              streamId = queryId, tsGuard = guard)
            ()
          } else st.mergeOptimistic(net, fields, batchId = epochId,
            streamId = queryId, tsGuard = guard) match {
            case ManifestStore.MergeConflict(v, reason) =>
              throw new IllegalStateException(
                s"graft streaming sink lost the commit race at version $v: " +
                  reason)
            case _ => ()
          }
      }
      // opt-in auto-compaction (table property `autocompact.files=N`):
      // probe off-thread, never inline — epoch commit latency untouched
      GraftMaintenance.maybeSchedule(root, spark, key)
    } finally {
      deleteDir(epochDir)
      dropStageRootIfEmpty()
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    deleteDir(Paths.get(s"$root/_stream_stage_$queryId/epoch-$epochId"))
    dropStageRootIfEmpty()
  }

  /** The per-query stage root holds only in-flight epoch dirs; once the
    * epoch is cleaned it is normally empty — remove it so a long-lived
    * table doesn't accrete one `_stream_stage_*` dir per historical query.
    * (A concurrent epoch's staging keeps it non-empty and the delete is a
    * no-op; a hard crash orphans it for [[graft.cdc.ManifestStore.vacuum]]'s
    * stage sweep.)
    */
  private def dropStageRootIfEmpty(): Unit =
    try { Files.deleteIfExists(Paths.get(s"$root/_stream_stage_$queryId")); () }
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }

  private def deleteDir(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(f => { Files.deleteIfExists(f); () }) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}

/** Epoch-partitioned staging: `<root>/_stream_stage_<queryId>/epoch-<n>/
  * part-<partition>-<task>.parquet`. One file per non-empty task.
  */
final case class GraftStreamWriterFactory(stageRoot: String,
                                          writers: ParquetWriteBridge.TaskWriters)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftStreamTaskWriter(s"$stageRoot/epoch-$epochId", writers,
      partitionId, taskId)
}

/** The promotion-eligible sibling: cell-rolling, stats-folding writers
  * ([[GraftClusteredTaskWriter]]) whose epoch output the commit adopts by
  * rename — see [[ClusteredStaging]].
  */
final case class GraftClusteredStreamWriterFactory(
    stageRoot: String, writers: ParquetWriteBridge.TaskWriters,
    spec: ClusterWriteSpec)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftClusteredTaskWriter(s"$stageRoot/epoch-$epochId", writers,
      spec, partitionId, taskId)
}

final class GraftStreamTaskWriter(epochDir: String,
                                  writers: ParquetWriteBridge.TaskWriters,
                                  partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private var out: ParquetWriteBridge.RowFileWriter = _
  private var path: String = ""

  override def write(row: InternalRow): Unit = {
    if (out == null) {
      Files.createDirectories(Paths.get(epochDir))
      path = s"$epochDir/part-$partitionId-$taskId${writers.extension()}"
      out = writers.open(path, partitionId, taskId)
    }
    out.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    GraftDeltaCommitMessage(path)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    if (path.nonEmpty) Files.deleteIfExists(Paths.get(path))
    ()
  }

  override def close(): Unit = ()
}
