package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Keyed MERGE semantics (upsert + delete) without Delta Lake.
  *
  * The reference drives Delta's `MERGE` (update-matched / insert-unmatched,
  * ref: cdc_stream.py:664-671, delete-matched :686-689). Re-expressed with
  * core Spark relational algebra:
  *
  *   curTs   = last_ts of the touched keys only (snapshot scan #1,
  *             semi-reduced by broadcasting the batch keys)
  *   live    = net events that survive the ts guard (stale ones are dropped —
  *             both upserts AND deletes, so neither can regress state)
  *   kept    = snapshot ANTI JOIN live-keys                (snapshot scan #2)
  *   result  = kept UNION ALL after-images of live upserts
  *
  * Scale notes: the net-change side of a micro-batch is small relative to the
  * snapshot, so both snapshot passes are broadcast hash joins with the batch
  * side broadcast — the snapshot is never shuffled, each of its partitions
  * streams through. `net` and `curTs` are batch-sized and persisted so the
  * branch derivations don't re-evaluate the parse/dedup lineage (or rescan
  * the snapshot) once per branch.
  *
  * Deliberate semantic fixes over the reference (SURVEY §4):
  *   - `r` (snapshot read) events upsert like `c` (ref drops them),
  *   - stale cross-batch events — updates AND deletes — cannot regress
  *     state (ts guard `source.ts >= target.last_ts`; the ref applies both
  *     unconditionally on key match).
  */
object Merge {
  val LastTsCol = "last_ts"

  /** Apply net per-key changes (output of [[Changelog.dedupLatest]]) to a
    * keyed snapshot. `snapshot` columns: `fields` (+ optional `last_ts`);
    * result columns: `fields` :+ `last_ts`.
    */
  def applyChanges(snapshot: DataFrame, net: DataFrame, keyField: String,
                   fields: Seq[String], tsGuard: Boolean = true): DataFrame =
    applyChangesWithCleanup(snapshot, net, keyField, fields, tsGuard)._1

  /** As [[applyChanges]], plus a cleanup thunk releasing the pinned
    * batch-sized intermediates — call it once the result is materialized
    * (a long-running stream that never unpersists would otherwise leak a
    * cache entry per micro-batch).
    */
  def applyChangesWithCleanup(snapshot: DataFrame, net: DataFrame, keyField: String,
                              fields: Seq[String], tsGuard: Boolean = true,
                              hintBroadcast: Boolean = true)
      : (DataFrame, () => Unit) = {
    val (merged, _, cleanup) =
      applyChangesFull(snapshot, net, keyField, fields, tsGuard, hintBroadcast)
    (merged, cleanup)
  }

  /** As [[applyChangesWithCleanup]], but also returns the LIVE net — the
    * events that survived the ts guard and therefore actually changed the
    * snapshot. Downstream incremental consumers ([[IncrementalAgg]]'s
    * maintained views) must fold exactly this set: folding the pre-guard
    * net would apply stale events the merge rejected.
    */
  def applyChangesFull(snapshot: DataFrame, net: DataFrame, keyField: String,
                       fields: Seq[String], tsGuard: Boolean = true,
                       hintBroadcast: Boolean = true)
      : (DataFrame, DataFrame, () => Unit) = {
    // A trigger's batch is normally tiny vs the snapshot -> broadcast hints.
    // For bulk backfills that outgrow broadcast limits, pass
    // hintBroadcast=false and let AQE pick the join strategy from runtime
    // sizes (same semantics, shuffle-based plan).
    def side(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    val snap =
      if (snapshot.columns.contains(LastTsCol)) snapshot
      else snapshot.withColumn(LastTsCol, lit(null).cast("long"))

    // Batch-sized: pin it so the two consumers below share one evaluation of
    // the (JSON parse + dedup shuffle) lineage.
    val netP = net.persist(StorageLevel.MEMORY_AND_DISK)

    val live =
      if (tsGuard) {
        // Current ts of the touched keys only: semi-reduce the (huge)
        // snapshot by broadcasting the (small) batch keys — the snapshot
        // side streams, nothing big shuffles, result is at most batch-sized.
        // Not pinned: its one consumer is the join below, whose exchange
        // both branches of the result reuse, so a cache would only add a
        // materialisation job.
        val curTs = snap
          .join(side(netP.select(col(Changelog.KeyCol))),
            snap(keyField) === col(Changelog.KeyCol), "left_semi")
          .select(col(keyField).as("_k"), col(LastTsCol).as("_cur_ts"))
        netP.join(side(curTs), netP(Changelog.KeyCol) === col("_k"), "left")
          .filter(col("_cur_ts").isNull || col(Changelog.TsCol) >= col("_cur_ts"))
          .drop("_k", "_cur_ts")
      } else netP

    // every key with a surviving event leaves the snapshot; upserts re-enter
    val touched = live.select(col(Changelog.KeyCol).as(keyField))
    val upserts = Changelog.afterImage(live.filter(col(Changelog.OpCol) =!= "d"), fields)

    val kept = snap.join(side(touched), Seq(keyField), "left_anti")
    val result = kept.unionByName(upserts.select(kept.columns.map(col).toSeq: _*))
    (result, live, () => { netP.unpersist(); () })
  }

  /** K5: idempotent insert-only merge (ref: archive/...stable_v3.py:343-346)
    * — insert rows whose key is absent, leave everything else untouched.
    */
  def insertOnly(snapshot: DataFrame, rows: DataFrame, keyField: String): DataFrame =
    snapshot.unionByName(
      rows.join(broadcast(snapshot.select(keyField)), Seq(keyField), "left_anti"),
      allowMissingColumns = true)
}
