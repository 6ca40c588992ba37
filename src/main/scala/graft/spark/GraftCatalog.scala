package graft.spark

import graft.cdc.ManifestStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `spark.sql.catalog.<name> = graft.spark.GraftCatalog` — the manifest
  * store surfaced as a NAMED CATALOG, the way Delta/Iceberg tables live in
  * a metastore rather than at paths. A warehouse directory holds
  * namespaces as directories and tables as store roots (a directory with a
  * `_CURRENT` swap file is a table; anything else is a namespace):
  *
  *   CREATE NAMESPACE graft.db;
  *   CREATE TABLE graft.db.t (id BIGINT, v STRING)
  *     TBLPROPERTIES ('key'='id', 'statscols'='v');
  *   INSERT INTO graft.db.t VALUES ...;        -- keyed upsert (connector)
  *   SELECT * FROM graft.db.t VERSION AS OF 3; -- time travel
  *   DELETE FROM graft.db.t WHERE ...;         -- deletion vectors
  *   ALTER TABLE graft.db.t ADD COLUMN extra DOUBLE;
  *   CALL graft.system.optimize(table => 'db.t', target_files => 8);
  *
  * `loadTable` hands back the SAME [[GraftTable]] the path-based
  * `format("graft")` reader uses, so every capability there — planning-time
  * zone-map pruning, per-file deletion-vector masking, runtime DPP
  * filtering, the V1-fallback upsert write, SQL DELETE — carries over to
  * catalog-resolved tables unchanged. Catalog metadata IS the filesystem
  * (no side database): `listTables` is a directory listing, existence is
  * the `_CURRENT` file, and concurrent DDL resolves exactly like the
  * store's own commit protocol. At 100 TB nothing here scales with data —
  * every operation touches manifests, not files.
  *
  * Ref provenance: the reference registers its Delta outputs in the
  * session metastore via `saveAsTable`-style paths (ref:
  * spark_client/src/cdc_stream.py:616-671); this catalog is the
  * first-class equivalent for the graft store.
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val w = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
    warehouse = Paths.get(GraftDataSource.normalize(w))
    Files.createDirectories(warehouse.resolve("default"))
  }

  override def name(): String = catName
  override def defaultNamespace(): Array[String] = Array("default")

  private def dirFor(ns: Seq[String]): Path =
    ns.foldLeft(warehouse)(_.resolve(_))
  private def tableDir(ident: Identifier): Path =
    dirFor(ident.namespace().toSeq).resolve(ident.name())
  private def isTable(p: Path): Boolean =
    Files.exists(p.resolve("_CURRENT"))

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirFor(namespace.toSeq)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && isTable(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table = loadWith(ident, Map.empty)

  /** SQL `VERSION AS OF <v>` — Spark hands the version string here. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadWith(ident, Map("versionAsOf" -> version))

  /** SQL `TIMESTAMP AS OF <ts>` (micros since epoch): latest version whose
    * commit time is at or before the asked instant — Delta's resolution
    * rule. O(log entries) driver metadata walk.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val root = existingRoot(ident)
    val st = new ManifestStore(root, SparkSession.active, "")
    val cur = st.currentManifest.getOrElse(throw new NoSuchTableException(ident))
    val tsMillis = timestampMicros / 1000L
    val v = (0L to cur.version).reverse
      .flatMap(st.manifest(_))
      .find(_.tsMillis <= tsMillis)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of $catName.${ident.namespace().mkString(".")}." +
          s"${ident.name()} at or before timestamp $tsMillis ms"))
      .version
    loadWith(ident, Map("versionAsOf" -> v.toString))
  }

  private def existingRoot(ident: Identifier): String = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    dir.toString
  }

  private def loadWith(ident: Identifier, options: Map[String, String]): Table = {
    val root = existingRoot(ident)
    // catalog tables surface the store's `last_ts` version column as a
    // METADATA column (see GraftTable.hiddenTs): SQL INSERT/SELECT * see
    // the user's schema, `SELECT last_ts` still answers. Persisted table
    // properties (e.g. 'mor') rejoin as connector options.
    val opts = GraftCatalog.readProps(root) ++ options + ("hidelastts" -> "true")
    val (schema, _) = GraftTable.resolve(root, opts)
    new GraftTable(root, schema, opts)
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    // identity partitioning only (PARTITIONED BY (col)): the partition
    // column becomes a zone-mapped statsCol whose files are written
    // partition-pure, so partition pruning and dynamic INSERT OVERWRITE
    // are both metadata operations. Bucket/days/truncate transforms are
    // rejected — key-range clustering already covers derived layouts.
    // identity -> partition-pure files + metadata dynamic overwrite;
    // bucket(N, key) -> hash-bucketed files + storage-partitioned joins
    var partCol: Option[String] = None
    var bucketN: Option[Int] = None
    partitions.toSeq match {
      case Seq() => ()
      case ts if ts.forall(_.name() == "identity") =>
        // one or more identity columns: (date, source)-style composite
        // partitioning — each column is partition-pure per file and the
        // dynamic overwrite unit is the value TUPLE (cell)
        val cols = ts.map { t =>
          require(t.references().length == 1 &&
            t.references().head.fieldNames().length == 1,
            s"graft supports PARTITIONED BY (<top-level columns>) only, got $t")
          t.references().head.fieldNames().head
        }
        require(cols.distinct.size == cols.size,
          s"duplicate partition columns: ${cols.mkString(", ")}")
        partCol = Some(cols.mkString(","))
      case Seq(t) if t.name() == "bucket" =>
        val refs = t.references()
        require(refs.length == 1 && refs.head.fieldNames().length == 1,
          s"graft bucket transform takes one top-level column, got $t")
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case i: java.lang.Integer => i.intValue()
              case i: java.lang.Long    => i.intValue()
              case other => throw new IllegalArgumentException(
                s"bucket count must be an integer literal, got $other")
            }
        }.getOrElse(throw new IllegalArgumentException(
          s"graft bucket transform needs a bucket count, got $t"))
        require(n > 0, s"bucket count must be > 0, got $n")
        bucketN = Some(n)
        // buckets hash the KEY: that is what aligns co-bucketed joins on
        // the key column; bucketing any other column would report a
        // partitioning the keyed data does not actually have
        val bc = refs.head.fieldNames().head
        val keyProp = properties.asScala.collectFirst {
          case (k, v) if k.equalsIgnoreCase("key") => v }
        require(keyProp.contains(bc),
          s"graft PARTITIONED BY (bucket(n, col)) requires col to be the " +
            s"key column (got '$bc', key ${keyProp.getOrElse("<unset>")})")
      case many => throw new IllegalArgumentException(
        s"graft supports a single partition transform, got ${many.mkString(", ")}")
    }
    partCol.toSeq.flatMap(_.split(",")).foreach(pc =>
      require(schema.fieldNames.contains(pc),
        s"partition column '$pc' is not in the table schema"))
    val props = properties.asScala ++
      partCol.map("partitioncol" -> _) ++
      bucketN.map(n => "buckets" -> n.toString)
    val key = props.collectFirst { case (k, v) if k.equalsIgnoreCase("key") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft CREATE TABLE needs TBLPROPERTIES ('key'='<key column>')"))
    require(schema.fieldNames.contains(key),
      s"key column '$key' is not in the table schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    val statsCols = props.collectFirst {
      case (k, v) if k.equalsIgnoreCase("statscols") => v
    }.toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    // statscols may name struct leaves at any depth ("meta.lang")
    statsCols.foreach(c => require(
      graft.cdc.ManifestStore.leafType(schema, c).isDefined,
      s"statscols column '$c' does not resolve to a column or struct " +
        "leaf of the table schema"))
    // the partition column always joins the zone map: its min=max per-file
    // stats ARE the partition index (pruning + overwrite classification)
    val effStats = (statsCols ++
      partCol.toSeq.flatMap(_.split(",")).filterNot(statsCols.contains)).distinct
    val nsDir = dirFor(ident.namespace().toSeq)
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(ident.namespace())
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val st = new ManifestStore(dir.toString, spark, key)
    st.commit(empty, batchId = 0L, nFiles = 1, streamId = "catalog-ddl",
      statsCols = effStats)
    // persist user TBLPROPERTIES (e.g. 'mor', 'files') beside the log so
    // every later loadTable sees them as options; Spark-reserved props
    // (provider/location/owner/...) stay out
    val reserved = Set("provider", "location", "owner", "comment",
      "external", "is_managed_location", "table_type", "collation")
    val keep = props.filterNot { case (k, _) =>
      reserved(k.toLowerCase) || k.toLowerCase.startsWith("option.") }
    GraftCatalog.writeProps(dir.toString, keep.toMap)
    loadTable(ident)
  }

  /** ADD COLUMN is a one-log-entry metadata commit
    * ([[graft.cdc.ManifestStore.evolveSchema]]); everything else a
    * manifest rewrite cannot express over immutable shared files is
    * rejected loudly.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = existingRoot(ident)
    val spark = SparkSession.active
    // carry the store's recorded key into the new manifest the evolve
    // commit writes — a store handle with an empty key would wipe it
    val st = new ManifestStore(root, spark, GraftTable.resolve(root, Map.empty)._2)
    val cur = st.currentManifest.getOrElse(throw new NoSuchTableException(ident))
    var schema = StructType.fromDDL(cur.schemaDDL)
    // property changes accumulate as DELTAS and apply over the
    // post-DDL state: renameColumn/dropColumn rewrite _TBLPROPS
    // themselves (e.g. a renamed partition column), and re-writing a
    // pre-DDL snapshot here would clobber that
    val setProps = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val removeProps = scala.collection.mutable.LinkedHashSet.empty[String]
    var schemaChanged = false
    val renames = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val drops = scala.collection.mutable.ArrayBuffer.empty[String]
    changes.foreach {
      case ren: TableChange.RenameColumn =>
        // any struct depth; paths through map/array elements are refused
        // by the store's path resolver
        renames += (ren.fieldNames().mkString(".") -> ren.newName())
      case del: TableChange.DeleteColumn =>
        drops += del.fieldNames().mkString(".")
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft ALTER TABLE supports top-level ADD COLUMN only, got " +
            add.fieldNames().mkString("."))
        // always nullable: every pre-existing file reads NULL for the new
        // column, so honoring a user's NOT NULL here would make the
        // manifest schema lie about what old rows contain (Delta likewise
        // rejects non-null adds)
        schema = StructType(schema.fields :+
          StructField(add.fieldNames().head, add.dataType(), nullable = true))
        schemaChanged = true
      case setp: TableChange.SetProperty =>
        require(!setp.property().equalsIgnoreCase("key"),
          "the key column is fixed at CREATE TABLE (files are clustered by it)")
        setProps += (setp.property().toLowerCase -> setp.value())
        removeProps -= setp.property().toLowerCase
      case remp: TableChange.RemoveProperty =>
        // stats.truncate is ONE-WAY: files written under it carry widened
        // string bounds; unsetting it would make exact consumers (string
        // MIN/MAX aggregate pushdown) trust those bounds as exact values
        require(!remp.property().equalsIgnoreCase("stats.truncate"),
          "stats.truncate cannot be unset: existing files may carry " +
            "truncated (widened) string stats that exact consumers would " +
            "then trust as exact — rewrite into a fresh table (CREATE " +
            "TABLE ... AS SELECT) without the property instead")
        removeProps += remp.property().toLowerCase
        setProps -= remp.property().toLowerCase
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames().length == 1,
          "graft ALTER COLUMN TYPE supports top-level columns only")
        val n = up.fieldNames().head
        schema = StructType(schema.fields.map(f =>
          if (f.name == n) f.copy(dataType = up.newDataType()) else f))
        schemaChanged = true
      case other =>
        throw new UnsupportedOperationException(
          s"graft ALTER TABLE does not support $other — data files are " +
            "immutable and shared across versions; supported metadata-only " +
            "changes: ADD COLUMN, RENAME COLUMN, DROP COLUMN, lossless " +
            "ALTER COLUMN TYPE, SET/UNSET TBLPROPERTIES")
    }
    require(!(schemaChanged && (renames.nonEmpty || drops.nonEmpty)),
      "combine ADD/TYPE changes with RENAME/DROP in separate ALTER " +
        "TABLE statements")
    // RENAME/DROP are mapping commits ([[graft.cdc.ManifestStore]] column
    // mapping): the logical schema changes, physical bytes stay put, a
    // re-added name maps to fresh physical storage
    renames.foreach { case (from, to) => st.renameColumn(from, to) }
    drops.foreach(c => st.dropColumn(c))
    if (schemaChanged) { st.evolveSchema(schema); () }
    if (setProps.nonEmpty || removeProps.nonEmpty) {
      // a new CHECK constraint must hold on the EXISTING data before it
      // can be persisted — otherwise the first maintenance rewrite of an
      // old row would fail the table's own content. Validation and the
      // property write share ONE commit-lock hold: a write committing
      // between them could land rows violating the about-to-exist CHECK
      // (the write-path guard only fires once the property is visible).
      graft.cdc.ManifestStore.withCommitLock(root) {
        setProps.foreach { case (k, v) =>
          if (k.startsWith("check.")) st.validateCheck(k.stripPrefix("check."), v)
        }
        val finalProps = GraftCatalog.readProps(root) ++ setProps -- removeProps
        java.nio.file.Files.deleteIfExists(Paths.get(root, "_TBLPROPS"))
        GraftCatalog.writeProps(root, finalProps)
      }
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else { deleteRecursively(dir); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val toNs = dirFor(newIdent.namespace().toSeq)
    if (!Files.isDirectory(toNs)) throw new NoSuchNamespaceException(newIdent.namespace())
    val to = toNs.resolve(newIdent.name())
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    Files.move(from, to)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val s = Files.list(warehouse)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally s.close()
  }

  /** Namespaces are single-level (directories under the warehouse). */
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val d = dirFor(namespace.toSeq)
    namespace.length == 1 && Files.isDirectory(d) && !isTable(d)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] =
    if (namespaceExists(namespace))
      Map(SupportsNamespaces.PROP_LOCATION ->
        dirFor(namespace.toSeq).toString).asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft namespaces are single-level, got ${namespace.mkString(".")}")
    Files.createDirectories(dirFor(namespace.toSeq))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
    deleteRecursively(dirFor(namespace.toSeq))
    true
  }

  // ------------------------------------------------------------ procedures

  /** `CALL graft.system.<proc>(...)` — table maintenance as SQL, the
    * operational surface Delta exposes as `OPTIMIZE`/`VACUUM`/`DESCRIBE
    * HISTORY` statements and Iceberg as stored procedures. Each runs the
    * store's existing driver-side maintenance API and returns its stats as
    * a one-row (or per-version) result via a local scan — O(manifest)
    * metadata work, never a data scan.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val ns = ident.namespace().toSeq
    require(ns == Seq("system"),
      s"unknown procedure namespace ${ns.mkString(".")} (expected: system)")
    GraftProcedures.byName.getOrElse(ident.name().toLowerCase,
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.name()} " +
          s"(expected one of ${GraftProcedures.byName.keys.toSeq.sorted.mkString(", ")})"))
      .apply(this)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.byName.keys.toSeq.sorted
      .map(n => Identifier.of(Array("system"), n)).toArray

  // ------------------------------------------------------------- functions

  /** The `bucket` transform function — what lets Spark resolve the
    * KeyGroupedPartitioning a bucketed graft scan reports and plan
    * storage-partitioned joins (Iceberg registers its bucket function the
    * same way). Must agree EXACTLY with the writer's bucket assignment
    * (`pmod(hash(key), n)`, Spark's Murmur3 seed 42): Spark may evaluate
    * it when shuffling one join side into the other's bucketing.
    */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction.unbound
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty[String], "bucket"))

  /** Resolve a procedure's `table` argument ('tbl' | 'ns.tbl') to a store
    * rooted under this catalog's warehouse.
    */
  private[spark] def storeFor(table: String): ManifestStore = {
    val parts = table.split('.')
    val ident = parts match {
      case Array(t)     => Identifier.of(Array("default"), t)
      case Array(ns, t) => Identifier.of(Array(ns), t)
      case _ => throw new IllegalArgumentException(
        s"table must be 'tbl' or 'ns.tbl', got '$table'")
    }
    val root = existingRoot(ident)
    val key = GraftTable.resolve(root, Map.empty)._2
    new ManifestStore(root, SparkSession.active, key)
  }

  /** The warehouse directory a NEW table named `table` would occupy —
    * for CLONE targets: the namespace must exist, the table must not.
    */
  private[spark] def newTableRoot(table: String): String = {
    val ident = table.split('.') match {
      case Array(t)     => Identifier.of(Array("default"), t)
      case Array(ns, t) => Identifier.of(Array(ns), t)
      case _ => throw new IllegalArgumentException(
        s"table must be 'tbl' or 'ns.tbl', got '$table'")
    }
    val dir = tableDir(ident)
    if (!Files.isDirectory(dir.getParent))
      throw new NoSuchNamespaceException(ident.namespace())
    require(!isTable(dir), s"table $table already exists")
    dir.toString
  }
}

object GraftCatalog {
  /** Table properties live in `<table>/_TBLPROPS` — shared with the store
    * API (`cdf`, `mor` flags), so the format lives in
    * [[graft.cdc.ManifestStore]].
    */
  private[spark] def writeProps(root: String, props: Map[String, String]): Unit =
    ManifestStore.writeTableProps(root, props)

  private[spark] def readProps(root: String): Map[String, String] =
    ManifestStore.readTableProps(root)
}

/** The procedure registry: each entry binds a [[GraftCatalog]] to an
  * [[UnboundProcedure]]. Kept as plain classes (no reflection) so the
  * whole surface is greppable.
  */
private[spark] object GraftProcedures {
  val byName: Map[String, GraftCatalog => UnboundProcedure] = Map(
    "optimize" -> (c => new OptimizeProcedure(c)),
    "vacuum"   -> (c => new VacuumProcedure(c)),
    "history"  -> (c => new HistoryProcedure(c)),
    "files"    -> (c => new FilesProcedure(c)),
    "zorder"   -> (c => new ZorderProcedure(c)),
    "detail"   -> (c => new DetailProcedure(c)),
    "restore"  -> (c => new RestoreProcedure(c)),
    "clone"    -> (c => new CloneProcedure(c)),
    "publish"  -> (c => new PublishProcedure(c)),
    "tag"      -> (c => new TagProcedure(c)),
    "untag"    -> (c => new UntagProcedure(c)),
    "tags"     -> (c => new TagsProcedure(c)),
    "table_changes" -> (c => new TableChangesProcedure(c)))

  private[spark] def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** One-scan result: the bound procedure's rows, driver-local. */
  final case class ResultScan(schema: StructType, data: Array[InternalRow])
    extends LocalScan {
    override def rows(): Array[InternalRow] = data
    override def readSchema(): StructType = schema
  }

  abstract class GraftProcedure(catalog: GraftCatalog, procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    protected def in(n: String, dt: DataType): ProcedureParameter =
      ProcedureParameter.in(n, dt).build()
    protected def inDefault(n: String, dt: DataType, dflt: String): ProcedureParameter =
      ProcedureParameter.in(n, dt).defaultValue(dflt).build()
    protected def store(input: InternalRow): ManifestStore =
      catalog.storeFor(input.getUTF8String(0).toString)
    protected def one(schema: StructType, values: Any*): java.util.Iterator[Scan] =
      java.util.List.of[Scan](ResultScan(schema,
        Array(new GenericInternalRow(values.toArray)))).iterator()
  }

  /** `CALL graft.system.optimize(table => 'ns.t', target_files => 8)` —
    * the store's partial OPTIMIZE: bin-packs small/overlapping files and
    * folds deletion-vector debt, carrying everything else by reference.
    */
  final class OptimizeProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "optimize") {
    override def description(): String =
      "compact small/overlapping files and fold deletion vectors"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), inDefault("target_files", IntegerType, "8"),
      inDefault("where_col", StringType, "''"),
      inDefault("where_value", StringType, "''"))
    private val outSchema = StructType(Seq(
      StructField("version", LongType), StructField("compacted_files", IntegerType),
      StructField("carried_files", IntegerType), StructField("new_files", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      // partition-scoped maintenance: OPTIMIZE only the files whose stats
      // admit where_col = where_value; everything else carries untouched
      val scope: Seq[(String, Any)] =
        (Option(input.getUTF8String(2)).map(_.toString).filter(_.nonEmpty),
          Option(input.getUTF8String(3)).map(_.toString)) match {
          case (Some(c), Some(v)) => Seq(c -> v)
          case _                  => Nil
        }
      store(input).optimize(targetFiles = input.getInt(1),
        scope = scope) match {
        case Some(st) =>
          one(outSchema, st.version, st.compactedFiles, st.carriedFiles, st.newFiles)
        case None => one(outSchema, -1L, 0, 0, 0) // empty store or lost race
      }
    }
  }

  /** `CALL graft.system.vacuum(table => 'ns.t', keep_last => 2)` —
    * reclaim files unreferenced by the retained versions.
    */
  final class VacuumProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "vacuum") {
    override def description(): String =
      "delete files unreferenced by the last keep_last versions"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), inDefault("keep_last", IntegerType, "2"),
      inDefault("min_age_ms", LongType, "0"),
      inDefault("dry_run", org.apache.spark.sql.types.BooleanType, "false"))
    private val outSchema = StructType(Seq(
      StructField("deleted_files", IntegerType),
      StructField("dry_run", org.apache.spark.sql.types.BooleanType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dry = input.getBoolean(3)
      one(outSchema,
        store(input).vacuum(input.getInt(1), input.getLong(2), dry).size, dry)
    }
  }

  /** `CALL graft.system.zorder(table => 'ns.t', long_col => 'a',
    * double_col => 'b')` — OPTIMIZE ZORDER BY: recluster by the
    * interleaved-bit Morton value of the two columns so both join the
    * zone map and either prunes reads.
    */
  /** Two spellings: `cols => 'a,b,c'` (ANY number of numeric/date/
    * timestamp columns, rank-binned — Delta's `OPTIMIZE ZORDER BY` shape,
    * skew-robust) or the original exact-mirror pair
    * `long_col => .., double_col => ..` (equi-width bins, SQL-replayable
    * bit-for-bit). Exactly one form must be given.
    */
  final class ZorderProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "zorder") {
    override def description(): String =
      "recluster by a Morton value: cols => 'a,b,c' (rank bins) or " +
        "(long_col, double_col) (equi-width bins)"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), inDefault("long_col", StringType, "''"),
      inDefault("double_col", StringType, "''"),
      inDefault("target_files", IntegerType, "16"),
      inDefault("cols", StringType, "''"),
      inDefault("bits", IntegerType, "8"))
    private val outSchema = StructType(Seq(StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (lc, dc) = (input.getUTF8String(1).toString,
        input.getUTF8String(2).toString)
      val colsArg = input.getUTF8String(4).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val out = (colsArg.nonEmpty, lc.nonEmpty || dc.nonEmpty) match {
        case (true, true) => throw new IllegalArgumentException(
          "zorder: give either cols => 'a,b,...' or (long_col, " +
            "double_col), not both")
        case (true, false) =>
          store(input).reclusterZorderCols(colsArg, input.getInt(3),
            input.getInt(5))
        case (false, true) =>
          require(lc.nonEmpty && dc.nonEmpty,
            "zorder: the pair form needs BOTH long_col and double_col")
          store(input).reclusterZorder(lc, dc, input.getInt(3))
        case (false, false) => throw new IllegalArgumentException(
          "zorder: give cols => 'a,b,...' or (long_col, double_col)")
      }
      out match {
        case Some(v) => one(outSchema, v)
        case None    => one(outSchema, -1L) // empty store or lost CAS race
      }
    }
  }

  /** `CALL graft.system.detail(table => 'ns.t')` — DESCRIBE DETAIL: the
    * current version's physical shape in one row. O(manifest); the ops
    * dashboard numbers (dv debt, file count, bytes) without a data scan.
    */
  final class DetailProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "detail") {
    override def description(): String =
      "current version's physical layout summary"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    private val outSchema = StructType(Seq(
      StructField("version", LongType), StructField("key_column", StringType),
      StructField("n_files", IntegerType), StructField("live_rows", LongType),
      StructField("dv_rows", LongType), StructField("masked_files", IntegerType),
      StructField("bytes", LongType), StructField("stats_cols", StringType),
      StructField("partition_col", StringType),
      StructField("cdf_enabled", org.apache.spark.sql.types.BooleanType),
      StructField("mapped_columns", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val m = st.currentManifest.getOrElse(throw new IllegalStateException(
        "no current version"))
      one(outSchema, m.version, utf8(m.keyField), m.files.size,
        m.files.map(_.liveRows).sum, m.files.map(_.dvRows).sum,
        m.files.count(_.dv.isDefined), m.files.map(_.bytes).sum,
        utf8(m.statsCols.mkString(",")),
        utf8(ManifestStore.readTableProps(st.root)
          .getOrElse("partitioncol", "")),
        st.cdfEnabled, m.colMap.size)
    }
  }

  /** `CALL graft.system.table_changes(table => 'ns.t', from_version => 2
    * [, to_version => 5][, max_rows => 100000])` — the change data feed as
    * a SQL surface (Delta's `table_changes` TVF; Spark 4.1 has no public
    * TVF extension point, so it ships as a stored procedure). Returns the
    * captured feed rows — data columns + `_change_type` +
    * `_commit_version` — for versions [from_version, to_version]
    * (to_version = -1 means current). `from_version` 0 includes the
    * initial snapshot as inserts.
    *
    * CALL results are driver-local by Spark's procedure contract
    * (`InvokeProcedures` materializes a LocalRelation), so the feed is
    * collected and hard-capped at `max_rows` — past the cap the call
    * FAILS loudly and names the distributed spelling
    * (`spark.read.format("graft").option("readChangeFeed", "true")`),
    * which streams the same change files with no cap. The cap bounds
    * driver memory at O(max_rows), never O(changed rows).
    */
  /** `CALL graft.system.restore(table => 'ns.t', version => 3)` — reset
    * the table's content to a past version as ONE new commit; history
    * stays intact (the restore is itself undoable). See
    * [[graft.cdc.ManifestStore.restore]].
    */
  final class RestoreProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "restore") {
    override def description(): String =
      "reset table content to a past version (history preserved)"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), inDefault("version", LongType, "-1"),
      inDefault("tag", StringType, "''"))
    private val outSchema = StructType(Seq(
      StructField("restored_to", LongType),
      StructField("new_version", LongType),
      StructField("files", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      // exactly one of version / tag names the restore point
      val tagName = Option(input.getUTF8String(2)).map(_.toString)
        .filter(_.nonEmpty)
      val target = (input.getLong(1), tagName) match {
        case (v, None) if v >= 0 => v
        case (-1L, Some(t)) => st.tags.getOrElse(t,
          throw new IllegalArgumentException(
            s"'$t' is not a tag of the table (tags: " +
              s"${st.tags.keys.toSeq.sorted.mkString(", ")})"))
        case _ => throw new IllegalArgumentException(
          "pass exactly one of version => N or tag => 'name'")
      }
      val v = st.restore(target)
      one(outSchema, target, v,
        st.currentManifest.map(_.files.size).getOrElse(0))
    }
  }

  /** `CALL graft.system.clone(source => 'ns.t', target => 'ns.t2')` —
    * shallow clone: a new table whose version 0 is the source's current
    * content, hardlinked (zero data copy). See
    * [[graft.cdc.ManifestStore.cloneTo]].
    */
  final class CloneProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "clone") {
    override def description(): String =
      "shallow-clone a table's current content into a new table (zero copy)"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("source", StringType), in("target", StringType))
    private val outSchema = StructType(Seq(
      StructField("cloned_files", IntegerType),
      StructField("target_version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val targetRoot = catalog.newTableRoot(input.getUTF8String(1).toString)
      val v = st.cloneTo(targetRoot)
      one(outSchema, st.currentManifest.map(_.files.size).getOrElse(0), v)
    }
  }

  /** `CALL graft.system.publish(table => 'db.t', staging => 'db.t_wap')`
    * — write-audit-publish: adopt the audited staging clone's current
    * manifest as the table's next version (pure metadata — new files
    * hardlink in, shared files are already present). Refuses when the
    * table moved since the clone was cut or the clone came from another
    * table.
    */
  final class PublishProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "publish") {
    override def description(): String =
      "adopt an audited staging clone's state as the table's next version"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("staging", StringType))
    private val outSchema = StructType(Seq(
      StructField("version", LongType),
      StructField("published_files", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val target = store(input)
      val staging = catalog.storeFor(input.getUTF8String(1).toString)
      val v = target.publishFrom(staging.root)
      one(outSchema, v,
        target.currentManifest.map(_.files.size).getOrElse(0))
    }
  }

  final class TableChangesProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "table_changes") {
    override def description(): String =
      "change data feed rows between two versions (driver-local, capped)"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("from_version", LongType),
      inDefault("to_version", LongType, "-1"),
      inDefault("max_rows", LongType, "100000"))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val from = input.getLong(1)
      val to = input.getLong(2)
      val maxRows = input.getLong(3)
      require(maxRows >= 1, s"max_rows must be >= 1, got $maxRows")
      val spark = SparkSession.active
      val reader = spark.read.format("graft")
        .option("readChangeFeed", "true")
        // from_version 0 = "from the beginning" (snapshot as inserts) —
        // spelled as startingTimestamp 0, the reader's documented form
        .option(if (from == 0L) "startingTimestamp" else "startingVersion",
          from.toString)
      val df = (if (to >= 0) reader.option("endingVersion", to.toString)
                else reader).load(st.root)
      val schema = df.schema
      val rows = df.limit(math.min(maxRows, Int.MaxValue - 1).toInt + 1)
        .collect()
      require(rows.length <= maxRows,
        s"table_changes would return more than max_rows=$maxRows rows; " +
          "read the feed distributed instead: spark.read.format(\"graft\")" +
          ".option(\"readChangeFeed\", \"true\").option(\"startingVersion\"," +
          s" $from).load('${st.root}'), or raise max_rows")
      val internal = rows.map(r => org.apache.spark.sql.graft
        .ParquetWriteBridge.toInternalRow(schema, r.toSeq): InternalRow)
      java.util.List.of[Scan](ResultScan(schema, internal)).iterator()
    }
  }

  /** `CALL graft.system.history(table => 'ns.t')` — DESCRIBE HISTORY: one
    * row per retained version, newest first.
    */
  /** `CALL graft.system.tag(table => 'ns.t', name => 'prod-2026-08'
    * [, version => N])` — pin a named reference to a version (default:
    * current). Tagged versions survive vacuum until untagged, and
    * `VERSION AS OF 'name'` / option("versionAsOf", name) read them.
    */
  final class TagProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "tag") {
    override def description(): String =
      "pin a named, vacuum-protected reference to a table version"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("name", StringType),
      inDefault("version", LongType, "-1"))
    private val outSchema = StructType(Seq(
      StructField("name", StringType), StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val name = input.getUTF8String(1).toString
      val v = input.getLong(2) match {
        case -1L => st.current.map(_._1).getOrElse(
          throw new IllegalStateException("cannot tag an empty table"))
        case x => x
      }
      st.setTag(name, v)
      one(outSchema, utf8(name), v)
    }
  }

  /** `CALL graft.system.untag(table => 'ns.t', name => 'prod-2026-08')` —
    * drop a tag; the version rejoins normal vacuum retention.
    */
  final class UntagProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "untag") {
    override def description(): String = "drop a named version reference"
    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("name", StringType))
    private val outSchema = StructType(Seq(
      StructField("name", StringType),
      StructField("existed", org.apache.spark.sql.types.BooleanType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val name = input.getUTF8String(1).toString
      val existed = st.tags.contains(name)
      st.deleteTag(name)
      one(outSchema, utf8(name), existed)
    }
  }

  /** `CALL graft.system.tags(table => 'ns.t')` — list the table's named
    * version references.
    */
  final class TagsProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "tags") {
    override def description(): String = "list named version references"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    private val outSchema = StructType(Seq(
      StructField("name", StringType), StructField("version", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val rows = store(input).tags.toSeq.sortBy(_._1).map { case (n, v) =>
        new GenericInternalRow(Array[Any](utf8(n), v)): InternalRow
      }
      java.util.List.of[Scan](
        ResultScan(outSchema, rows.toArray)).iterator()
    }
  }

  final class HistoryProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "history") {
    override def description(): String = "per-version commit history"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    private val outSchema = StructType(Seq(
      StructField("version", LongType), StructField("batch_id", LongType),
      StructField("stream_id", StringType), StructField("ts_millis", LongType),
      StructField("n_files", IntegerType), StructField("live_rows", LongType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val cur = st.currentManifest.toSeq
      val rows = cur.flatMap(c => (0L to c.version).reverse.flatMap(st.manifest(_)))
        .map(m => new GenericInternalRow(Array[Any](
          m.version, m.batchId, utf8(m.streamId), m.tsMillis,
          m.files.size, m.files.map(_.liveRows).sum)): InternalRow)
      java.util.List.of[Scan](
        ResultScan(outSchema, rows.toArray)).iterator()
    }
  }

  /** `CALL <cat>.system.files(table => 'ns.t')` — the current version's
    * per-file manifest metadata (Delta's DESCRIBE DETAIL / Iceberg's
    * `.files` metadata table): one row per live data file with its row /
    * live-row / masked-row counts, size, key range, bucket id and sidecar
    * count. Pure driver-side manifest read, O(#files) rows — the
    * first-stop observability surface for "why is this table slow"
    * (small-file debt, DV debt, skewed key ranges) without touching a
    * single data file.
    */
  final class FilesProcedure(catalog: GraftCatalog)
    extends GraftProcedure(catalog, "files") {
    override def description(): String =
      "per-file manifest metadata of the current version"
    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))
    private val outSchema = StructType(Seq(
      StructField("file", StringType), StructField("rows", LongType),
      StructField("live_rows", LongType), StructField("dv_rows", LongType),
      StructField("bytes", LongType), StructField("min_key", StringType),
      StructField("max_key", StringType),
      StructField("bucket", IntegerType, nullable = true),
      StructField("sidecars", IntegerType)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val st = store(input)
      val rows = st.currentManifest.toSeq.flatMap(_.files).map { f =>
        val sidecars = f.dv.size + f.bloom.size + f.colBlooms.size + f.kmv.size
        new GenericInternalRow(Array[Any](
          utf8(f.name), f.rows, f.liveRows, f.dvRows, f.bytes,
          utf8(f.minKey), utf8(f.maxKey),
          f.bucket.map(Int.box).orNull, sidecars)): InternalRow
      }
      java.util.List.of[Scan](
        ResultScan(outSchema, rows.toArray)).iterator()
    }
  }
}

/** The graft `bucket(n, key)` function: `pmod(murmur3_hash(key), n)` with
  * Spark's own Murmur3 (seed 42) — byte-identical to the writer's
  * `pmod(hash(col(key)), lit(n))` bucket assignment, so a value computed
  * here lands in exactly the file the writer put its row in.
  */
private[spark] object GraftBucketFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}

  val unbound: UnboundFunction = new UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "graft hash bucket: pmod(murmur3(key), n)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket(n, key) takes two arguments, got ${inputType.catalogString}")
      new Bound(inputType.fields(1).dataType)
    }
  }

  final class Bound(keyType: DataType)
    extends ScalarFunction[java.lang.Integer] {
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): java.lang.Integer = {
      val n = input.getInt(0)
      val v = input.get(1, keyType)
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(v, keyType, 42L).toInt
      ((h % n) + n) % n
    }
  }
}
