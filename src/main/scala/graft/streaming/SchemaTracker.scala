package graft.streaming

import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Per-batch schema resolution for the Postgres envelope path of
  * [[ManifestCdcStream]].
  *
  * Schema drift (SURVEY §4 hazard 6 — the reference's cache never
  * invalidates, so source DDL changes are silently ignored): every batch
  * re-reads the events' embedded schema blocks; new columns are appended to
  * the cached field list and the snapshot grows them as nulls. Removed
  * columns stay (their values go null in new events) — additive evolution,
  * no data loss.
  *
  * TYPE drift (Debezium emits it on ALTER TABLE, e.g. int32 -> int64): a
  * lossless widening ([[Envelope.isLosslessWidening]]) evolves the cached
  * type IN PLACE — events then parse through the wide type, the merge
  * union widens the stored schema, and files written under the narrow
  * type read correctly through it (Spark 4 parquet upcast). Anything else
  * fails LOUDLY here: parsing int64 values through a stale int32 cast
  * would overflow them to silent nulls, the exact failure this guard
  * exists to prevent.
  */
private[graft] object SchemaTracker {

  /** The widest of two dbz types under the lossless-widening order, or an
    * error for an incompatible pair (`col` names the column for the
    * diagnostic).
    */
  private def widest(col: String, a: String, b: String): String =
    if (Envelope.isLosslessWidening(b, a)) a // equal families keep `a`: stable cache
    else if (Envelope.isLosslessWidening(a, b)) b
    else throw new IllegalStateException(
      s"incompatible type change for column '$col': $a -> $b is not a " +
        "lossless widening; reprocessing this source requires a new table " +
        "(a stale cast would overflow values to silent nulls)")

  /** ONE pass over the batch (one Spark job, no shuffle): whether it has
    * any row, and its DISTINCT schema blocks — deduplicated inside each
    * partition, merged on the driver, so only one exemplar string per
    * variant and partition leaves the executors. The Postgres step of
    * [[ManifestCdcStream]] takes its emptiness check from the same pass.
    */
  def scan(batch: DataFrame): (Boolean, Seq[String]) = {
    val parts = batch
      .select(get_json_object(col("value").cast("string"), "$.schema"))
      .queryExecution.toRdd
      .mapPartitions { it =>
        var rows = false
        val seen = scala.collection.mutable.LinkedHashSet.empty[UTF8String]
        it.foreach { r =>
          rows = true
          if (!r.isNullAt(0)) {
            val s = r.getUTF8String(0)
            if (!seen.contains(s)) seen += s.clone() // rows reuse buffers
          }
        }
        Iterator.single((rows, seen.iterator.map(_.toString).toArray))
      }
      .collect()
    (parts.exists(_._1), parts.toSeq.flatMap(_._2).distinct)
  }

  /** Resolve the batch's field list against the cached one, persisting any
    * evolution to `cacheDir`. Inference reads every DISTINCT schema block
    * in the batch ([[scan]]), so a column added by DDL mid-batch is seen
    * even when the first event predates it. Events without a schema block
    * fall back to the cache.
    */
  def resolve(batch: DataFrame, cached: Option[Seq[Envelope.FieldInfo]],
              cacheDir: String): Seq[Envelope.FieldInfo] =
    resolveBlocks(scan(batch)._2, cached, cacheDir)

  /** [[resolve]] over schema blocks already collected by [[scan]]. */
  def resolveBlocks(blocks: Seq[String],
                    cached: Option[Seq[Envelope.FieldInfo]],
                    cacheDir: String): Seq[Envelope.FieldInfo] = {
    val variants = blocks.flatMap(b =>
      scala.util.Try(Envelope.inferFieldInfo(s"""{"schema":$b}""")).toOption)
    val inferredOpt =
      if (variants.isEmpty) None
      else Some {
        // deterministic merge independent of collect order: largest block
        // is the base, remaining new fields append sorted by name; every
        // field takes its WIDEST type across the batch's variants (a
        // mid-batch ALTER ships both vintages in one trigger — parsing
        // through the narrow one would null the new values)
        val base = variants.maxBy(v => (v.length, v.map(_.name).mkString(",")))
        val known = base.map(_.name).toSet
        val merged = base ++ variants.flatten
          .filterNot(f => known.contains(f.name))
          .distinctBy(_.name).sortBy(_.name)
        val widestByName = variants.flatten.groupBy(_.name).map {
          case (n, fs) => n -> fs.map(_.dbzType).reduce(widest(n, _, _))
        }
        merged.map(f => f.copy(dbzType = widestByName(f.name)))
      }
    (cached, inferredOpt) match {
      case (None, Some(inferred)) =>
        Envelope.saveCache(cacheDir, inferred)
        inferred
      case (Some(c), None) => c
      case (None, None) =>
        throw new IllegalStateException(
          "no cached schema and the first event carries no schema block")
      case (Some(c), Some(inferred)) =>
        val known = c.map(_.name).toSet
        val inferredByName = inferred.map(f => f.name -> f).toMap
        val added = inferred.filterNot(f => known.contains(f.name))
        // in-place type evolution: widen the cache when the batch carries
        // a wider vintage; KEEP the cache's type when it is already the
        // wider one (a replayed narrow event must not narrow the table);
        // fail loudly on an incompatible change
        val evolved = c.map { f =>
          inferredByName.get(f.name) match {
            case Some(nf) if nf.dbzType != f.dbzType =>
              f.copy(dbzType = widest(f.name, f.dbzType, nf.dbzType))
            case _ => f
          }
        } ++ added
        if (evolved == c) c
        else {
          Envelope.saveCache(cacheDir, evolved)
          evolved
        }
    }
  }
}
