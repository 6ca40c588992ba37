package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change data feed: derive the changelog BETWEEN two snapshot versions —
  * the inverse of [[Merge.applyChanges]] and the engine's equivalent of
  * Delta's CDF. The reference replays changes forward only; keeping
  * versioned snapshots ([[ManifestStore.readVersion]])
  * makes the backward derivation a pure query: downstream consumers that
  * missed the live stream re-sync from any version pair without the
  * original Kafka history.
  *
  * Semantics: full-outer join on the key,
  *   - key only in `newSnap`  -> op `c` (after-image populated),
  *   - key only in `oldSnap`  -> op `d` (before-image populated),
  *   - key in both with any non-key cell differing (null-safe `<=>`) ->
  *     op `u` (both images),
  *   - identical rows emit nothing.
  *
  * Scale shape: ONE key-keyed full-outer join (both sides shuffle once on
  * the key — the minimum any diff pays); the cell comparison is a per-row
  * expression, never per-column joins. With bucketed snapshots the join
  * can further restrict to bucket pairs, same as the merge path.
  */
object ChangeFeed {

  def diff(oldSnap: DataFrame, newSnap: DataFrame, key: String,
           ignore: Set[String] = Set.empty): DataFrame = {
    val cols = oldSnap.columns.filterNot(c => c == key || ignore(c)).toSeq
    require(cols.forall(newSnap.columns.contains),
      s"snapshots must share the diffed columns; new side misses " +
        s"${cols.filterNot(newSnap.columns.contains).mkString(",")}")
    // columns that exist only in the NEW version would silently vanish from
    // the comparison (their changes emit nothing) — additive schema drift
    // must be opted into via `ignore`, never inferred away
    val newOnly = newSnap.columns
      .filterNot(c => c == key || ignore(c) || oldSnap.columns.contains(c))
    require(newOnly.isEmpty,
      s"new side has columns the old side lacks (${newOnly.mkString(",")}); " +
        "add them to `ignore` to exclude them from the feed")
    // presence markers, not key nullness, decide the op: a null-key row
    // never joins, and keying the op off the null key would misread an
    // old-side orphan as an insert with its before-image discarded
    val o = oldSnap.select(lit(1).as("_o_m") +: (key +: cols).map(c => col(c).as(s"_o_$c")): _*)
    val n = newSnap.select(lit(1).as("_n_m") +: (key +: cols).map(c => col(c).as(s"_n_$c")): _*)
    val joined = o.join(n, col(s"_o_$key") === col(s"_n_$key"), "full_outer")
    // key-only snapshots degrade to a pure presence diff (no 'u' rows)
    val changed = cols.map(c => !(col(s"_o_$c") <=> col(s"_n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(col("_o_m").isNull, "c")
      .when(col("_n_m").isNull, "d")
      .when(changed, "u")
    val out = joined
      .withColumn("operation", op)
      .filter(col("operation").isNotNull)
    val image = Seq(coalesce(col(s"_n_$key"), col(s"_o_$key")).as(key)) ++
      cols.map(c => when(col("operation") =!= "c", col(s"_o_$c")).as(s"before_$c")) ++
      cols.map(c => when(col("operation") =!= "d", col(s"_n_$c")).as(s"after_$c"))
    out.select(col("operation") +: image: _*)
  }
}
