package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The complete MongoDB CDC path (ref: cdc_stream.py process_mongodb_batch
  * :710-904): extended-JSON envelope extraction, BSON normalization into
  * map<string,string> documents, keyed dedup, field discovery, and
  * materialization into a columnar table that conforms to the existing
  * target schema ("first writer wins", ref :852-861).
  *
  * Scale deltas vs the reference (SURVEY §3.2):
  *   - normalization is a JVM UDF, not a per-row Python worker round-trip;
  *   - field discovery aggregates map keys distributed-side and collects
  *     only the O(#fields) name list — the reference collects per batch
  *     (:808-812); with `evolveSchema = false` it runs only at table
  *     create;
  *   - dedup reuses the Postgres-path operator (one key shuffle), and the
  *     merge is the same stats-pruned [[ManifestStore]] MERGE
  *     ([[graft.streaming.ManifestCdcStream]] runs [[conformedNet]] as its
  *     per-batch step for `database_config.type = mongodb`).
  */
object MongoPipeline {

  /** Raw envelope -> deduped net changes: key, op, ts and the normalized
    * after-doc map. Key = after-doc key; for deletes the before-doc is
    * normalized ON DEMAND just to extract the key (`when` short-circuits
    * per row, so the recursive walk runs only for the delete fraction —
    * the reference normalizes every before image unconditionally,
    * cdc_stream.py:757-761).
    */
  def netChanges(raw: DataFrame, keyField: String): DataFrame = {
    val env = MongoChangelog.extractEnvelope(raw) // passes _seq through if present
      // native expression (no ScalaUDF conversion layer); registered by
      // GraftExtensions — graft.functions.BsonNormalize
      .withColumn("after_doc", call_function("bson_normalize", col("after_doc")))
      .withColumn(Changelog.KeyCol,
        when(col(Changelog.OpCol) === "d",
          element_at(call_function("bson_normalize", col("before_doc")), keyField))
          .otherwise(element_at(col("after_doc"), keyField)))
      .drop("before_doc")
      .filter(col(Changelog.OpCol).isNotNull)
    Changelog.dedupLatest(env)
  }

  /** Distinct document field names, discovered distributed-side (explode ->
    * distinct runs as a shuffle; only the tiny name list reaches the
    * driver). Key first, then sorted — a deterministic column order the
    * reference gets implicitly from first-doc iteration.
    */
  def discoverFields(net: DataFrame, keyField: String): Seq[String] = {
    val names = net.select(explode(map_keys(col("after_doc"))).as("f"))
      .distinct().collect().map(_.getString(0)).toSeq
    keyField +: names.filter(_ != keyField).sorted
  }

  /** Map-typed net changes -> flattened after_* columns in the shape
    * [[Merge.applyChanges]] consumes (all values string-typed, like the
    * reference's map<string,string> materialization :829-834).
    */
  def materialize(net: DataFrame, fields: Seq[String]): DataFrame = {
    val cols = Seq(col(Changelog.KeyCol), col(Changelog.OpCol), col(Changelog.TsCol)) ++
      fields.map(f => element_at(col("after_doc"), f).as(s"after_$f"))
    net.select(cols: _*)
  }

  /** One micro-batch's net changes in the shape [[ManifestStore.merge]]
    * consumes: discover-or-conform the field list, then materialize.
    * `existing` is the target table's columns (without the merge's
    * `last_ts`), None before the table exists. Returns the flattened net,
    * its field list, and a cleanup thunk for the pinned intermediate —
    * streaming callers must invoke it after the merge or they leak a cache
    * entry per micro-batch.
    *
    * Schema evolution: with `evolveSchema` (default), fields first seen in
    * a later batch are APPENDED to the table — existing rows read null for
    * them — matching the Postgres path's additive drift handling; the
    * per-batch cost is the same distributed key-discovery aggregate the
    * reference pays every batch (:808-812). `evolveSchema = false` keeps
    * the reference's first-writer-wins behavior (:852-861): unknown fields
    * are dropped. `columnsToSave` bounds discovery in both modes.
    */
  def conformedNet(raw: DataFrame, keyField: String,
                   existing: Option[Seq[String]],
                   columnsToSave: Option[Seq[String]] = None,
                   evolveSchema: Boolean = true)
      : (DataFrame, Seq[String], () => Unit) = {
    // pinned: discoverFields (a collect) and the merge both consume `net`
    // — without this the UDF walk + dedup shuffle run twice
    val net = netChanges(raw, keyField)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def allowed(discovered: Seq[String]): Seq[String] = columnsToSave match {
      // key force-included (ref :822-823)
      case Some(saved) => discovered.filter(f => saved.contains(f) || f == keyField)
      case None        => discovered
    }
    val fields = existing match {
      case Some(cols) =>
        if (!evolveSchema) cols
        else cols ++ allowed(discoverFields(net, keyField)).filterNot(cols.contains)
      case None => allowed(discoverFields(net, keyField))
    }
    (materialize(net, fields), fields, () => { net.unpersist(); () })
  }
}
