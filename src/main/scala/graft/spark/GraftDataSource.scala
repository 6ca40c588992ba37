package graft.spark

import graft.cdc.{Changelog, ManifestStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** `format("graft")` — the [[graft.cdc.ManifestStore]] surfaced as a
  * first-class Spark DataSource V2, the same integration layer Delta Lake
  * sits behind:
  *
  *   - `spark.read.format("graft").load(root)` — batch scan with
  *     PLANNING-TIME zone-map file pruning from pushed-down predicates
  *     (the manifest's per-file min/max stats answer the filter before a
  *     single byte of data is opened), column pruning straight to the
  *     parquet reader, vectorized columnar reads for pristine files, and
  *     deletion-vector sidecars applied LOCALLY inside each masked file's
  *     partition reader — no join, no broadcast, no [[graft.cdc.ManifestStore.DvBroadcastMaxRows]]
  *     gate: each reader subtracts only its own file's masks, so the mask
  *     cost is O(that file's dvRows) however large the table-wide total is.
  *   - `spark.readStream.format("graft").load(root)` — tail the manifest
  *     log (see [[GraftMicroBatchStream]]).
  *   - `df.write.format("graft").mode("append"|"overwrite").save(root)` —
  *     see [[GraftWriteBuilder]]: append is a keyed UPSERT through the
  *     store's optimistic MERGE (the table is a keyed CDC table, not a
  *     multiset), overwrite a full re-commit.
  *
  * The scan also reports manifest-derived statistics (bytes and live rows
  * of exactly the files that survived pruning) to Catalyst, so AQE and the
  * join planner see a graft table the way they see a parquet table —
  * broadcast decisions work on pruned-scan size, not table size.
  *
  * Ref provenance: the reference delegates storage to Delta and reads it
  * back with plain `spark.read.format("delta")` (ref: cdc_stream.py:616,
  * :664-671); this connector closes the same loop for the graft store.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("location")))
    p.map(GraftDataSource.normalize).getOrElse(throw new IllegalArgumentException(
      "graft source needs a path: .load(<store root>) or option(\"path\", ...)"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val full = GraftTable.resolve(root(options), options.asScala.toMap)._1
    // `columns` (comma list): restrict the READ to these data columns at
    // the source — the reader-level pruning knob for STREAMING consumers:
    // Spark's optimizer never calls pruneColumns on a micro-batch scan
    // (the projection stays above a full-width read), so a two-column
    // stream over a wide table needs the subset declared at load time.
    // Batch reads prune automatically and don't need it.
    val base = GraftTable.subsetColumns(full, options.asScala.toMap)
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      GraftCdf.cdfSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftTable(root(opts), schema, opts.asScala.toMap)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftDataSource {
  /** The session catalog qualifies LOCATION into a `file:` URI; the store
    * speaks local-filesystem paths (its atomic `_CURRENT` swap is
    * `java.nio`). Strip the scheme when it's the local one.
    */
  def normalize(path: String): String =
    if (path.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(path)).toString
    else path
}

object GraftTable {
  private[spark] def opt(options: Map[String, String], k: String): Option[String] =
    options.collectFirst { case (ok, v) if ok.equalsIgnoreCase(k) => v }

  /** v1 `Filter` -> `Column`, for routing SQL DELETE conditions into the
    * store's predicate API. None = not expressible (caller must refuse,
    * never approximate — an over-broad delete is data loss).
    */
  private[spark] def filterToColumn(f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    def lt(v: Any) = scala.util.Try(lit(v)).toOption
    f match {
      case EqualTo(a, v)            => lt(v).map(col(a) === _)
      case EqualNullSafe(a, v)      => lt(v).map(col(a) <=> _)
      case GreaterThan(a, v)        => lt(v).map(col(a) > _)
      case GreaterThanOrEqual(a, v) => lt(v).map(col(a) >= _)
      case LessThan(a, v)           => lt(v).map(col(a) < _)
      case LessThanOrEqual(a, v)    => lt(v).map(col(a) <= _)
      case In(a, vs) =>
        val ls = vs.toSeq.map(lt)
        if (ls.forall(_.isDefined)) Some(col(a).isin(ls.flatten: _*)) else None
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c)                   => filterToColumn(c).map(!_)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case _: AlwaysTrue            => Some(lit(true))
      case _: AlwaysFalse           => Some(lit(false))
      case _                        => None
    }
  }

  /** (schema, keyField) of the store at `root` — at `versionAsOf` when the
    * time-travel option is set (Delta's spelling), else current. The key
    * comes from the manifest (recorded at write time); the `key` option
    * overrides for stores written before the field existed. "" when
    * neither knows — legal until a deletion-vector sidecar must be applied.
    */
  def resolve(root: String, options: Map[String, String])
      : (StructType, String) = {
    val m = manifestFor(root, options)
    (StructType.fromDDL(m.schemaDDL),
      opt(options, "key").getOrElse(m.keyField))
  }

  /** `schema` restricted to the `columns` option's comma list (order
    * preserved from the table schema); unknown names refuse loudly. No
    * option = the full schema.
    */
  private[spark] def subsetColumns(schema: StructType,
                                   options: Map[String, String]): StructType =
    opt(options, "columns") match {
      case None => schema
      case Some(cs) =>
        val want = cs.split(",").map(_.trim).filter(_.nonEmpty)
        require(want.nonEmpty, "columns option must name at least one column")
        val missing = want.filterNot(schema.fieldNames.contains)
        require(missing.isEmpty,
          s"columns option names unknown columns: ${missing.mkString(", ")} " +
            s"(table has ${schema.fieldNames.mkString(", ")})")
        val set = want.toSet
        StructType(schema.fields.filter(f => set(f.name)))
    }

  /** The manifest a read of `root` under `options` addresses. */
  private[spark] def manifestFor(root: String, options: Map[String, String])
      : ManifestStore.Manifest = {
    val probe = new ManifestStore(root, SparkSession.active,
      opt(options, "key").getOrElse(""))
    val cur = probe.currentManifest.getOrElse(throw new IllegalArgumentException(
      s"no graft store at $root (missing or unreadable _CURRENT/_LOG)"))
    (opt(options, "versionAsOf"), opt(options, "timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "set either versionAsOf or timestampAsOf, not both")
      case (None, None) => cur
      case (Some(vs), None) =>
        // a non-numeric value is a TAG (named version reference): SQL
        // `VERSION AS OF 'name'` and option("versionAsOf", name) resolve
        // through the store's _TAGS file — Iceberg's tag-read spelling
        val v = vs.trim.toLongOption.getOrElse(
          probe.tags.getOrElse(vs.trim, {
            val known = probe.tags.keys.toSeq.sorted
            throw new IllegalArgumentException(
              s"versionAsOf '$vs' is neither a version number nor a tag of " +
                s"$root (" + (if (known.isEmpty) "no tags set"
                else s"tags: ${known.mkString(", ")}") + ")")
          }))
        if (v > cur.version) throw new IllegalArgumentException(
          s"versionAsOf $v is beyond current version ${cur.version} of $root")
        probe.manifest(v).getOrElse(throw new IllegalArgumentException(
          s"version $v of $root is gone (vacuumed past log retention)"))
      case (None, Some(ts)) =>
        // Delta's `timestampAsOf` resolution: the LATEST version whose
        // commit time is at or before the asked instant; an instant after
        // the newest commit or before the retained range errors loudly
        // (naming the usable bound) instead of silently snapping. The
        // walk is an O(#versions) driver metadata pass — planning-scale.
        val target = parseTimestampAsOf(ts)
        if (target > cur.tsMillis) throw new IllegalArgumentException(
          s"timestampAsOf '$ts' is after the latest commit of $root " +
            s"(version ${cur.version} at " +
            s"${java.time.Instant.ofEpochMilli(cur.tsMillis)}); omit the " +
            "option to read the current version")
        var v = cur.version
        var res: Option[ManifestStore.Manifest] = None
        var belowRetention = false
        while (v >= 0 && res.isEmpty && !belowRetention) {
          probe.manifest(v) match {
            case Some(m) if m.tsMillis <= target => res = Some(m)
            case Some(_)                         => v -= 1
            case None                            => belowRetention = true
          }
        }
        res.getOrElse(throw new IllegalArgumentException(
          if (belowRetention)
            s"timestampAsOf '$ts' is below the retained log range of " +
              s"$root (earliest readable version is ${v + 1})"
          else s"timestampAsOf '$ts' is before the first commit of $root " +
            s"(version 0 at ${java.time.Instant.ofEpochMilli(
              probe.manifest(0L).map(_.tsMillis).getOrElse(0L))})"))
    }
  }

  /** A `timestampAsOf` option value as epoch millis: raw epoch millis,
    * ISO instants with an explicit offset, `yyyy-MM-dd[ HH:mm:ss[.f]]`
    * in the SESSION time zone (Delta interprets zoneless literals the
    * same way — a table written under one zone must time-travel
    * identically under another only when the literal carries its zone).
    */
  private[spark] def parseTimestampAsOf(s: String): Long = {
    val t = s.trim
    if (t.matches("[+-]?\\d+")) return t.toLong
    def zone = java.time.ZoneId.of(
      SparkSession.active.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    val norm = t.replace(' ', 'T')
    try java.time.Instant.parse(norm).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(norm)
          .atZone(zone).toInstant.toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDate.parse(t)
              .atStartOfDay(zone).toInstant.toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"cannot parse timestampAsOf '$s' — use epoch millis, " +
                    "an ISO instant, 'yyyy-MM-dd HH:mm:ss', or 'yyyy-MM-dd'")
            }
        }
    }
  }
}

final class GraftTable(val root: String, tableSchema: StructType,
                       options: Map[String, String])
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics {

  /** SINK metrics in every `StreamingQueryProgress` (Spark reads
    * `ReportsSinkMetrics` off the sink TABLE) — the post-epoch store
    * state an operator watches: committed version, file count, live vs
    * masked rows. Pure manifest metadata through the LRU; failures
    * yield fewer metrics, never a failed progress event.
    */
  override def metrics(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    try {
      val key = scala.util.Try(GraftTable.resolve(root, options)._2)
        .getOrElse(GraftTable.opt(options, "key").getOrElse(""))
      new graft.cdc.ManifestStore(root, SparkSession.active, key)
        .currentManifest.foreach { mf =>
          m.put("tableVersion", mf.version.toString)
          m.put("tableFiles", mf.files.size.toString)
          m.put("tableLiveRows",
            mf.files.iterator.map(f => math.max(0L, f.liveRows)).sum.toString)
          m.put("tableMaskedRows",
            mf.files.iterator.map(_.dvRows).sum.toString)
        }
    } catch { case _: Exception => () }
    m
  }

  /** Catalog-resolved tables (option set by [[GraftCatalog]]) surface the
    * store's `last_ts` CDC-version bookkeeping column as a METADATA column
    * (queryable by name, like `_metadata` on file tables) instead of a
    * data column: `SELECT *` and INSERT arity see only the user's schema,
    * while `SELECT last_ts, ...` still answers. Path-based `format
    * ("graft")` reads keep the raw store schema — CDC tooling reads the
    * version column as data.
    */
  private val catalogMode: Boolean =
    GraftTable.opt(options, "hidelastts").contains("true")
  private val hiddenTs: Boolean =
    catalogMode && tableSchema.fieldNames.contains(graft.cdc.Merge.LastTsCol)

  /** A keyed table reports its KEY column NON-NULLABLE: the key is the
    * row identity every merge joins on, [[graft.cdc.Changelog.dedupLatest]]
    * drops null-key events before they can reach a store, and Spark's
    * row-level rewrite (UPDATE/MERGE/DELETE) refuses a nullable row id at
    * analysis time — which would veto even the metadata-delete fast path.
    */
  private lazy val effSchema: StructType = {
    // a CREATE TABLE ... USING graft handle exists before its store does:
    // fall back to the key OPTION until the first commit writes a manifest
    val key = scala.util.Try(GraftTable.resolve(root, options)._2)
      .getOrElse(GraftTable.opt(options, "key").getOrElse(""))
    if (key.isEmpty) tableSchema
    else StructType(tableSchema.map(f =>
      if (f.name == key) f.copy(nullable = false) else f))
  }

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED surface: the persisted table
    * properties plus the resolved key column; connector-internal plumbing
    * options stay out.
    */
  override def properties(): java.util.Map[String, String] = {
    val internal = Set("hidelastts", "path", "location", "versionasof",
      "paths", "provider")
    val user = options.filterNot { case (k, _) => internal(k.toLowerCase) }
    val key = scala.util.Try(GraftTable.resolve(root, options)._2)
      .getOrElse(GraftTable.opt(options, "key").getOrElse(""))
    ((if (key.nonEmpty) Map("key" -> key) else Map.empty[String, String]) ++ user.toMap).asJava
  }

  /** `readChangeFeed=true`: the table IS the feed — schema gains the CDF
    * metadata columns and the scan streams/reads captured change files
    * (see [[GraftCdf]]). Activated through read options at load time
    * (path-based reads and readStream), like Delta's spelling.
    */
  private val cdfRead: Boolean =
    GraftTable.opt(options, "readchangefeed").exists(_.equalsIgnoreCase("true"))

  override def name(): String = s"graft.`$root`"
  override def schema(): StructType = {
    val base =
      if (hiddenTs)
        StructType(effSchema.filterNot(_.name == graft.cdc.Merge.LastTsCol))
      else effSchema
    // inferSchema already appends the CDF columns for provider-inferred
    // tables; only add them when the caller supplied a bare data schema
    if (cdfRead && !base.fieldNames.contains(
        graft.cdc.ManifestStore.ChangeTypeCol))
      GraftCdf.cdfSchema(base)
    else base
  }

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val lastTs =
      if (!hiddenTs) Nil
      else Seq(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = graft.cdc.Merge.LastTsCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          tableSchema(graft.cdc.Merge.LastTsCol).dataType
        override def isNullable: Boolean = true
        override def comment(): String =
          "store-maintained CDC row version (merge timestamp guard)"
      })
    // `_file`: per-row provenance, synthesized by the reader as a
    // per-file constant. Shadowed by a data column of the same name;
    // absent on feed reads (the CDF scan has its own column set).
    val file =
      if (cdfRead || effSchema.fieldNames.contains(GraftPartitions.FileCol)) Nil
      else Seq(new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftPartitions.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String =
          "name of the graft data file this row came from"
      })
    (lastTs ++ file).toArray
  }
  /** Identity partitioning (`PARTITIONED BY (col)` / table property
    * `partitioncol`): reported so Spark plans `INSERT OVERWRITE` under
    * partitionOverwriteMode=dynamic as OverwritePartitionsDynamic —
    * resolved by [[graft.cdc.ManifestStore.overwritePartitions]] as a
    * file-granular metadata swap (partition-pure files + min=max stats).
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    val props = ManifestStore.readTableProps(root)
    val ident = GraftTable.opt(options, "partitioncol")
      .orElse(props.get("partitioncol")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      .map(pc => org.apache.spark.sql.connector.expressions.Expressions
        .identity(pc))
    // bucketed tables (`buckets=N`) surface the bucket transform so
    // DESCRIBE shows the layout and Spark's distribution planning sees it
    val bucketed = GraftTable.opt(options, "buckets")
      .orElse(props.get("buckets")).flatMap(_.toIntOption).filter(_ > 0)
      .flatMap { n =>
        scala.util.Try(GraftTable.resolve(root, options)._2).toOption
          .filter(_.nonEmpty).map(k =>
            org.apache.spark.sql.connector.expressions.Expressions.bucket(n, k))
      }
    (ident ++ bucketed.toSeq).toArray
  }

  override def capabilities(): java.util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION enables SQL `MERGE ... WITH SCHEMA
    // EVOLUTION`: the analyzer turns the source's new columns into
    // catalog AddColumn changes (an evolveSchema metadata commit) before
    // planning the row-level write; without the clause nothing changes
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = options ++ caseInsensitive.asScala.toMap
    if (cdfRead) new GraftCdfScanBuilder(root, merged)
    else {
      // the CDF columns ride the TABLE schema (set at construction from
      // inferSchema), so a readChangeFeed that arrives only as a SCAN
      // option — spark.read.option(...).table(catalogTable) — cannot be
      // honored here: the relation's output is already the data schema.
      // Silently returning a normal scan would hand a consumer the table
      // where they asked for the feed; refuse loudly and name the two
      // working spellings instead.
      require(!GraftTable.opt(merged, "readchangefeed")
          .exists(_.equalsIgnoreCase("true")),
        "readChangeFeed is a load-time option: use spark.read.format(\"graft\")" +
          ".option(\"readChangeFeed\", \"true\").load(<table path>), or " +
          "CALL <catalog>.system.table_changes(table, from_version, to_version)")
      new GraftScanBuilder(root, effSchema, merged)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, options ++ info.options().asScala.toMap, info)

  /** SQL `UPDATE` / `MERGE INTO` / subquery `DELETE` — Spark's delta-based
    * row-level rewrite (see [[GraftRowOperation]]): the target scan joins
    * the condition/source, executors stage per-row verdicts as a changelog,
    * and the commit applies it through the store's pruned optimistic merge.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val key = GraftTable.resolve(root, options)._2
    require(key.nonEmpty,
      "graft row-level SQL (UPDATE/MERGE/DELETE) needs the store's key " +
        "column (write with a keyed commit, or pass option(\"key\", ...))")
    new GraftRowOperationBuilder(root, effSchema, options, key, info.command())
  }

  /** SQL `DELETE FROM <graft table> WHERE ...` — Spark hands the condition
    * over as v1 filters when every conjunct is expressible; the store then
    * runs its deletion-vector [[graft.cdc.ManifestStore.deleteWhere]]:
    * O(matches) sidecar writes under the optimistic commit protocol, zero
    * data files rewritten. A condition with an inexpressible fragment
    * fails analysis loudly (no silent fallback to a table rewrite).
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = SparkSession.active
    val key = GraftTable.resolve(root, options)._2
    require(key.nonEmpty,
      "graft DELETE needs the store's key column (write with a keyed " +
        "commit, or pass option(\"key\", ...))")
    val cond = filters.map(f => GraftTable.filterToColumn(f).getOrElse(
      throw new IllegalArgumentException(s"unsupported DELETE filter: $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    val st = new ManifestStore(root, spark, key)
    val cur = st.currentManifest.getOrElse(throw new IllegalStateException(
      s"no graft store at $root"))
    // the pushed filters double as candidate-pruning conjuncts (sound:
    // cond is their conjunction), so the delete scans only the files the
    // zone map + key Blooms admit — a point DELETE masks ~1 file, not
    // the table
    st.deleteWhere(cond, batchId = cur.version + 1, streamId = "dsv2-delete",
      pruneConjuncts = GraftScan.conjuncts(filters.toSeq))
  }
}

/** V1-fallback write (`V1_BATCH_WRITE` — the same staging Delta shipped on
  * for years): the arriving DataFrame lands on the driver-side store API,
  * which already owns clustering, stats, the delta log, and the optimistic
  * commit protocol. `mode("append")` is a keyed UPSERT via
  * [[graft.cdc.ManifestStore.mergeOptimistic]] (ts-guard off — a plain
  * write carries no CDC ordering; duplicate keys within one batch resolve
  * arbitrarily, as any single-statement upsert does). `mode("overwrite")`
  * recommits the full frame as the next version — time travel to the
  * pre-overwrite version still works. Writing to a path with no store yet
  * creates it (the `key` option names the key column).
  */
/** Update output mode rides the append path because a graft write IS a
  * keyed upsert — Spark's `SupportsStreamingUpdateAsAppend` contract
  * (exactly how a streaming aggregate becomes an incrementally-maintained
  * materialized view in a graft table: each epoch upserts only the
  * changed groups).
  */
final class GraftWriteBuilder(root: String, options: Map[String, String],
                              info: LogicalWriteInfo)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
  with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var overwrite = false
  private var dynamicPartitions = false
  private var staticPartitionFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
  override def truncate(): WriteBuilder = { overwrite = true; this }
  /** `INSERT OVERWRITE` under partitionOverwriteMode=dynamic (or
    * `DataFrameWriterV2.overwritePartitions()`): replace only the
    * partitions present in the batch — [[graft.cdc.ManifestStore.overwritePartitions]].
    */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicPartitions = true; this
  }
  /** STATIC overwrite-by-filter. `AlwaysTrue` (plain INSERT OVERWRITE) is
    * the existing full-table truncate+recommit; a `PARTITION (p = v)`
    * spec arrives as equality/IN filters on the partition column and
    * routes to the same file-granular partition replacement as the
    * dynamic form — with the filter's values as the replaced set, so an
    * empty batch legitimately DROPS the named partition (Spark's static
    * semantics). Anything else (arbitrary predicates) is refused loudly:
    * an over-broad overwrite is data loss.
    */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    import org.apache.spark.sql.sources.AlwaysTrue
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      overwrite = true
    else staticPartitionFilters = Some(filters)
    this
  }

  override def build(): Write =
    // dynamic overwrite has NO V1 fallback in Spark's planner
    // (OverwritePartitionsDynamicExec drives a real BatchWrite), so that
    // path stages executor-side like the streaming sink; everything else
    // stays on the V1 fallback the driver-side store API serves
    if (dynamicPartitions) {
      // 1x-write promotion: ask Spark to deliver (partCols..., key)
      // range-clustered, sorted task output so the staged files can be
      // adopted directly (ClusteredStaging); spec = None stages and
      // commits through the store's own write (mapped/CHECK'd tables)
      val spec: Option[ClusterWriteSpec] =
        scala.util.Try(GraftTable.manifestFor(root, options)).toOption
          .filter(_.colMap.isEmpty).flatMap(mm =>
            ClusteredStaging.specFor(root, info.schema(),
              GraftTable.resolve(root, options)._2, mm.statsCols,
              GraftTable.opt(options, "files").map(_.toInt).getOrElse(16)))
      spec match {
        case Some(s) =>
          new Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
            override def requiredDistribution()
                : org.apache.spark.sql.connector.distributions.Distribution =
              s.distribution
            override def requiredOrdering()
                : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
              s.sortOrders
            override def requiredNumPartitions(): Int = s.nFiles
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new GraftOverwriteBatchWrite(root, options, info.schema(), Some(s))
          }
        case None =>
          new Write {
            override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
              new GraftOverwriteBatchWrite(root, options, info.schema(), None)
          }
      }
    }
    else {
      // streaming 1x-write promotion: an epoch that will COMMIT (initial
      // snapshot to a fresh store, or Complete-mode re-commit) rather
      // than MERGE can adopt clustered task output directly. The spec is
      // decided at query start; merge-mode streams (existing store,
      // Append/Update) keep unclustered staging — their epochs feed the
      // pruned merge, where a pre-sort would be pure overhead.
      val streamSpec: Option[ClusterWriteSpec] = {
        val existing = scala.util.Try(
          GraftTable.manifestFor(root, options)).toOption
        val eligible = GraftWriteBuilder.opt(options, "opcol").isEmpty &&
          (existing.isEmpty || overwrite) &&
          existing.forall(_.colMap.isEmpty)
        if (!eligible) None
        else {
          val key = existing.map(_.keyField).filter(_.nonEmpty)
            .orElse(GraftWriteBuilder.opt(options, "key")).getOrElse("")
          if (key.isEmpty) None
          else {
            val statsCols = existing.map(_.statsCols).getOrElse(
              GraftWriteBuilder.opt(options, "statscols").toSeq
                .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
            ClusteredStaging.specFor(root, info.schema(), key, statsCols,
              GraftWriteBuilder.opt(options, "files").map(_.toInt)
                .getOrElse(16))
          }
        }
      }
      def v1Body = new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit =
          staticPartitionFilters match {
            case Some(fs) =>
              GraftWriteBuilder.runStaticOverwrite(root, options, data, fs)
            case None =>
              GraftWriteBuilder.run(root, options, data, overwrite)
          }
      }
      streamSpec match {
        case Some(s) =>
          new V1Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
            override def requiredDistribution()
                : org.apache.spark.sql.connector.distributions.Distribution =
              s.distribution
            override def requiredOrdering()
                : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
              s.sortOrders
            override def requiredNumPartitions(): Int = s.nFiles
            override def toInsertableRelation: InsertableRelation = v1Body
            override def toStreaming
                : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
              new GraftStreamingWrite(root, options, info.schema(),
                info.queryId(), overwrite, Some(s))
          }
        case None =>
          new V1Write {
            override def toInsertableRelation: InsertableRelation = v1Body
            // writeStream.format("graft") — see GraftStreamingWrite: staged
            // epochs + the store's (epochId, queryId) replay guard =
            // exactly-once
            override def toStreaming
                : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
              new GraftStreamingWrite(root, options, info.schema(),
                info.queryId(), overwrite, None)
          }
      }
    }
}

/** The dynamic-overwrite batch write: executors stage the batch as parquet
  * under the table root (same [[org.apache.spark.sql.graft.ParquetWriteBridge]]
  * machinery as the streaming sink — the driver never holds a row), and
  * the driver's commit feeds the staged batch to
  * [[graft.cdc.ManifestStore.overwritePartitions]].
  */
final class GraftOverwriteBatchWrite(root: String,
                                     options: Map[String, String],
                                     schema: org.apache.spark.sql.types.StructType,
                                     spec: Option[ClusterWriteSpec])
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import java.nio.file.{Files, Paths}

  private def spark = org.apache.spark.sql.SparkSession.active
  private val staging =
    s"$root/_stage_owp_${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    Files.createDirectories(Paths.get(root))
    val writers = org.apache.spark.sql.graft.ParquetWriteBridge
      .taskWriters(spark, schema)
    val stage = staging
    val sp = spec
    new org.apache.spark.sql.connector.write.DataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long)
          : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
        sp match {
          case Some(s) =>
            new GraftClusteredTaskWriter(stage, writers, s, partitionId, taskId)
          case None =>
            new GraftStreamTaskWriter(stage, writers, partitionId, taskId)
        }
    }
  }

  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val stagedStats = messages.collect {
      case GraftStagedFilesMessage(fs) => fs
    }.flatten.toSeq
    val files = messages.collect {
      case GraftDeltaCommitMessage(path) if path.nonEmpty => path
    }
    try {
      if (spec.isDefined) {
        // 1x-write path: the clustered, cell-pure, stats-carrying task
        // output is adopted directly — no re-read, no re-write
        if (stagedStats.isEmpty) return
        val key = GraftTable.resolve(root, options)._2
        require(key.nonEmpty, "graft dynamic partition overwrite needs " +
          "the store's key column (write with a keyed commit first)")
        val st = new graft.cdc.ManifestStore(root, spark, key)
        val m = st.currentManifest.getOrElse(throw new IllegalStateException(
          s"no graft store at $root"))
        if (m.colMap.nonEmpty) {
          // a RENAME landed between planning and commit: the staged files
          // carry logical names — fall back to stage-and-commit, whose
          // store write physicalizes
          val data = spark.read.schema(schema)
            .parquet(stagedStats.map(_.path): _*)
          GraftWriteBuilder.runOverwritePartitions(root, options, data)
        } else {
          // "owp1x" marks the adopted (1x-write) lineage in the commit
          // log — forensics can tell promoted from stage-and-commit ones
          st.overwritePartitionsStaged(stagedStats, batchId = m.version + 1,
            streamId = s"dsv2-owp1x-${java.util.UUID.randomUUID()}")
          ()
        }
      } else {
        if (files.isEmpty) return // overwrite of nothing replaces nothing
        val data = spark.read.schema(schema).parquet(files: _*)
        GraftWriteBuilder.runOverwritePartitions(root, options, data)
      }
    } finally deleteStaging()
  }

  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    deleteStaging()

  private def deleteStaging(): Unit = {
    val p = Paths.get(staging)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(f => { Files.deleteIfExists(f); () }) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}

object GraftWriteBuilder {
  private def opt(options: Map[String, String], k: String): Option[String] =
    options.collectFirst { case (ok, v) if ok.equalsIgnoreCase(k) => v }

  /** Static `INSERT OVERWRITE ... PARTITION (p = v)`: the filter conjuncts
    * must all be equality/IN on the table's partition column — their
    * values become the replaced set. Anything else is refused (no silent
    * fallback to a broader overwrite).
    */
  private[spark] def runStaticOverwrite(root: String,
                                        options: Map[String, String],
                                        data: DataFrame,
                                        filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, In}
    val spark = data.sparkSession
    val key = GraftTable.resolve(root, options)._2
    val pcs: Seq[String] = graft.cdc.ManifestStore.readTableProps(root)
      .get("partitioncol")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new UnsupportedOperationException(
        "graft overwrite-by-filter needs a partitioned table " +
          "(PARTITIONED BY / table property 'partitioncol'); use plain " +
          "INSERT OVERWRITE for a full-table overwrite"))
    // per-column value lists; a full static spec names every partition
    // column, and the replaced cells are their cross product (one value
    // per column in the common PARTITION (a=x, b=y) spelling)
    val byCol: Map[String, Seq[Any]] = filters.toSeq.map {
      case EqualTo(a, v) if pcs.exists(_.equalsIgnoreCase(a))       => a.toLowerCase -> Seq(v)
      case EqualNullSafe(a, v) if pcs.exists(_.equalsIgnoreCase(a)) => a.toLowerCase -> Seq(v)
      case In(a, vs) if pcs.exists(_.equalsIgnoreCase(a))           => a.toLowerCase -> vs.toSeq
      case other => throw new UnsupportedOperationException(
        s"graft static overwrite supports PARTITION " +
          s"(${pcs.mkString(", ")} = <value>) specs only, got filter $other")
    }.groupBy(_._1).map { case (c, vs) => c -> vs.flatMap(_._2).distinct }
    val missing = pcs.filterNot(pc => byCol.contains(pc.toLowerCase))
    if (missing.nonEmpty) throw new UnsupportedOperationException(
      s"graft static overwrite needs a value for every partition column; " +
        s"missing ${missing.mkString(", ")} (use dynamic " +
        "partitionOverwriteMode for partial specs)")
    val tuples: Seq[Seq[Any]] = pcs.foldLeft(Seq(Seq.empty[Any])) {
      (acc, pc) => acc.flatMap(t => byCol(pc.toLowerCase).map(v => t :+ v))
    }
    val st = new ManifestStore(root, spark, key)
    val m = st.currentManifest.getOrElse(throw new IllegalStateException(
      s"no graft store at $root"))
    st.overwritePartitions(data, batchId = m.version + 1,
      streamId = s"dsv2-ows-${java.util.UUID.randomUUID()}",
      nFiles = opt(options, "files").map(_.toInt).getOrElse(16),
      staticValues = Some(tuples))
    ()
  }

  private[spark] def runOverwritePartitions(root: String,
                                            options: Map[String, String],
                                            data: DataFrame): Unit = {
    val spark = data.sparkSession
    val key = GraftTable.resolve(root, options)._2
    require(key.nonEmpty, "graft dynamic partition overwrite needs the " +
      "store's key column (write with a keyed commit first)")
    val st = new ManifestStore(root, spark, key)
    val m = st.currentManifest.getOrElse(throw new IllegalStateException(
      s"no graft store at $root"))
    // fresh lineage per statement, like every SQL write (see run())
    st.overwritePartitions(data, batchId = m.version + 1,
      streamId = s"dsv2-owp-${java.util.UUID.randomUUID()}",
      nFiles = opt(options, "files").map(_.toInt).getOrElse(16))
    ()
  }

  private[spark] def run(root: String, options: Map[String, String],
                         data: DataFrame, overwrite: Boolean): Unit = {
    val spark = data.sparkSession
    val keyOpt = opt(options, "key")
    val nFiles = opt(options, "files").map(_.toInt).getOrElse(16)
    val probe = new ManifestStore(root, spark, keyOpt.getOrElse(""))
    val existing = probe.currentManifest
    val key = existing.map(_.keyField).filter(_.nonEmpty)
      .orElse(keyOpt).getOrElse(throw new IllegalArgumentException(
        "graft write to a new store needs option(\"key\", <key column>)"))
    val store = new ManifestStore(root, spark, key)
    existing match {
      case None =>
        store.commit(data, batchId = 0L, nFiles = nFiles, streamId = "dsv2",
          statsCols = opt(options, "statscols").toSeq
            .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
      case Some(m) if overwrite =>
        store.commit(data, batchId = m.version + 1, nFiles = nFiles,
          streamId = "dsv2", statsCols = m.statsCols)
      case Some(m) =>
        val fields = data.columns.filterNot(_ == "last_ts").toSeq
        val ts = if (data.columns.contains("last_ts"))
          coalesce(col("last_ts"), lit(m.version + 1)) else lit(m.version + 1)
        val net = Changelog.dedupLatest(data.select(
          col(key).cast("string").as(Changelog.KeyCol) +:
            lit("u").as(Changelog.OpCol) +: ts.as(Changelog.TsCol) +:
            fields.map(f => col(f).as(s"after_$f")): _*))
        // fresh lineage per statement: a fixed streamId would let the
        // replay guard swallow one of two concurrent appends (see the
        // row-level commit's note); re-running the same INSERT is an
        // idempotent upsert, so exactly-once replay protection is not
        // wanted here
        if (opt(options, "mor").exists(_.equalsIgnoreCase("true"))) {
          // 'mor' tables absorb scattered upserts as sidecars (O(batch)
          // bytes), same routing as the row-level SQL commit
          store.mergeOnReadLocked(net, fields, batchId = m.version + 1,
            streamId = s"dsv2-${java.util.UUID.randomUUID()}",
            tsGuard = false)
          ()
        } else store.mergeOptimistic(net, fields, batchId = m.version + 1,
          streamId = s"dsv2-${java.util.UUID.randomUUID()}",
          tsGuard = false) match {
          case ManifestStore.MergeConflict(v, reason) =>
            throw new IllegalStateException(
              s"graft append lost the optimistic-commit race at version $v: $reason")
          case _ => ()
        }
    }
  }
}
