package graft.spark

import graft.cdc.ManifestStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.graft.ParquetReadBridge
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong

/** Scan construction for `format("graft")`. Pushdown happens at two
  * levels, both before any data I/O:
  *
  *   1. FILE level (here, at planning time): pushed predicates on the key
  *      or a `statsCols` zone-map column prune the manifest's file list
  *      via [[graft.cdc.ManifestStore.prunedFiles]] — the scan plans one
  *      input partition per SURVIVING file only.
  *   2. ROW-GROUP level (inside the reader): the same predicates ride into
  *      the built-in parquet reader, which prunes row groups on footer
  *      stats exactly as a native parquet scan would.
  *
  * All pushed filters are also kept as residuals (Spark re-evaluates them
  * post-scan), so pruning can only ever skip data, never answers.
  */
final class GraftScanBuilder(root: String, tableSchema: StructType,
                             options: Map[String, String])
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  // ------------------------------------------------------ topN pushdown
  // `ORDER BY col LIMIT n` plans only the files that can CONTAIN the
  // top-n ([[graft.cdc.ManifestStore.topNFiles]]): on the key-clustered
  // layout that is ~ceil(n / rowsPerFile) files, not the table. Partial
  // push — Spark keeps its Sort+Limit on top, so answers stay exact; the
  // file cut only skips files provably preceded by n rows.
  private var pushedTopN: Option[(String, Boolean, Int)] = None
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    if (orders.length != 1) return false
    orders.head.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
          tableSchema.fieldNames.contains(nr.fieldNames().head) =>
        pushedTopN = Some((nr.fieldNames().head,
          orders.head.direction() == SortDirection.ASCENDING, limit))
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  // ------------------------------------------------------ limit pushdown
  // `SELECT ... LIMIT n` plans only a PREFIX of the manifest's files —
  // enough that their exact live-row counts cover n — instead of one
  // partition per file (Spark only offers the limit when no residual
  // Filter sits between it and the scan, so every planned row counts).
  // Partial push: Spark keeps its own Limit on top (isPartiallyPushed),
  // this just stops a 2000-file table from scheduling 2000 tasks to
  // answer LIMIT 10. At 100 TB that is the difference between one task
  // and a cluster-wide scan.
  private var pushedLimit: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    true
  }

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    // Filters stay residuals (stats pruning is conservative) EXCEPT when
    // the whole conjunction is provably decided at file granularity
    // ([[graft.cdc.ManifestStore.exactlyDecidedFiles]]: every surviving
    // file fully inside the predicate and null-free on its columns) —
    // then the pruned whole-file scan IS the filtered result, the
    // residual Filter disappears from the plan, and Spark's aggregate
    // pushdown can see through to the scan (a residual Filter node blocks
    // it). One local O(#files) metadata job at planning time; any doubt
    // (old vintage without null counts, partial file coverage) keeps
    // every filter as a residual.
    val consumed = filters.nonEmpty &&
      GraftScan.exactConjuncts(filters.toSeq).exists(conj =>
        scala.util.Try {
          val m = GraftTable.manifestFor(root, options)
          val store = new ManifestStore(root, SparkSession.active,
            GraftTable.resolve(root, options)._2)
          store.exactlyDecidedFiles(m, conj).isDefined
        }.getOrElse(false))
    filtersConsumed = consumed
    if (consumed) Array.empty else filters
  }
  private var filtersConsumed = false
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after a complete aggregate pushdown the scan's schema IS the
    // aggregation output; a later prune call must not clobber it
    if (aggPush.isEmpty) required = requiredSchema

  // ------------------------------------------------- aggregate pushdown
  // COUNT(*) / COUNT(col) / MIN(col) / MAX(col) — optionally GROUP BY
  // group-pure columns — answered from manifest metadata with NO file
  // scan ([[graft.cdc.ManifestStore.aggFromStats]] /
  // [[graft.cdc.ManifestStore.aggFromStatsGrouped]]), exactly like
  // Delta/Iceberg: per-file row counts, DV counts, column min/max and
  // null counts already live in the manifest. COMPLETE pushdown only —
  // when any aggregate (or the exactness of the pushed filters at file
  // granularity, or the group-purity of the grouping columns) cannot be
  // answered from stats, nothing pushes and the normal scan runs. The
  // evaluation collects O(#files) metadata; cached so
  // supportCompletePushDown + pushAggregation pay once.

  private var aggPush: Option[(StructType, Seq[Seq[Any]])] = None
  private var aggEvalCache:
    Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      Option[(StructType, Seq[Seq[Any]])])] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = evalAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    evalAgg(agg) match {
      case some @ Some(_) => aggPush = some; true
      case None           => false // no partial pushdown: all or nothing
    }

  private def evalAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    aggEvalCache match {
      case Some((a, r)) if a == agg => return r
      case _ => ()
    }
    val r = computeAgg(agg)
    aggEvalCache = Some((agg, r))
    r
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import graft.cdc.ManifestStore.StatAgg
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames().head).filter(tableSchema.fieldNames.contains)
      case _ => None
    }
    // GROUP BY plain columns only; [[ManifestStore.aggFromStatsGrouped]]
    // proves group-purity (or refuses). Complete-pushdown output layout
    // is groupBy columns first, then the aggregates.
    val groupColsOpt: Option[Seq[String]] = {
      val gs = agg.groupByExpressions().toSeq.map(colOf)
      if (gs.exists(_.isEmpty)) None else Some(gs.flatten)
    }
    val groupCols = groupColsOpt match {
      case Some(gs) => gs
      case None     => return None
    }
    val parsed: Seq[Option[(StatAgg, org.apache.spark.sql.types.StructField)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some((StatAgg.CountStar,
          org.apache.spark.sql.types.StructField("count(*)",
            org.apache.spark.sql.types.LongType, nullable = false)))
        case c: Count if !c.isDistinct => colOf(c.column()).map(n =>
          (StatAgg.CountCol(n), org.apache.spark.sql.types.StructField(
            s"count($n)", org.apache.spark.sql.types.LongType,
            nullable = false)))
        case mn: Min => colOf(mn.column()).map(n =>
          (StatAgg.MinCol(n), org.apache.spark.sql.types.StructField(
            s"min($n)", tableSchema(n).dataType, nullable = true)))
        case mx: Max => colOf(mx.column()).map(n =>
          (StatAgg.MaxCol(n), org.apache.spark.sql.types.StructField(
            s"max($n)", tableSchema(n).dataType, nullable = true)))
        case _ => None
      }
    if (parsed.exists(_.isEmpty)) return None
    val groupFields = groupCols.map(g =>
      // group-purity proof = zero recorded nulls in every file
      org.apache.spark.sql.types.StructField(g, tableSchema(g).dataType,
        nullable = false))
    for {
      conj <- GraftScan.exactConjuncts(pushed.toSeq)
      m = GraftTable.manifestFor(root, options)
      store = new ManifestStore(root, SparkSession.active,
        GraftTable.resolve(root, options)._2)
      rows <-
        if (groupCols.isEmpty)
          store.aggFromStats(m, conj, parsed.flatten.map(_._1)).map(Seq(_))
        else store.aggFromStatsGrouped(m, conj, groupCols,
          parsed.flatten.map(_._1))
    } yield (StructType(groupFields ++ parsed.flatten.map(_._2)), rows)
  }

  override def build(): Scan = aggPush match {
    case Some((schema, rows)) => new GraftAggScan(root, schema, rows)
    case None => new GraftScan(root, tableSchema, required, pushed, options,
      filtersConsumed, pushedLimit, pushedTopN)
  }
}

/** The stats-answered aggregate result: driver-local rows (one for the
  * ungrouped shape, one per group for GROUP BY), planned by Spark as a
  * `LocalTableScanExec` — the physical plan contains NO file scan at all
  * (the `dsv2_agg_pushdown` gate asserts exactly this).
  */
final class GraftAggScan(root: String, schema: StructType,
                         rowValues: Seq[Seq[Any]])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rowValues.map(values =>
    org.apache.spark.sql.graft.ParquetWriteBridge.toInternalRow(schema, values))
    .toArray
  override def description(): String = s"graft stats-answered aggregate $root"
}

object GraftScan {
  /** Flatten v1 filters into the (column, op, value) conjuncts the
    * manifest pruner understands; anything else simply doesn't prune.
    */
  def conjuncts(fs: Seq[Filter]): Seq[(String, String, Any)] = fs.flatMap {
    case EqualTo(a, v)            => Seq((a, "=", v))
    case GreaterThan(a, v)        => Seq((a, ">", v))
    case GreaterThanOrEqual(a, v) => Seq((a, ">=", v))
    case LessThan(a, v)           => Seq((a, "<", v))
    case LessThanOrEqual(a, v)    => Seq((a, "<=", v))
    case In(a, vs)                => Seq((a, "in", vs.toSeq))
    case Not(EqualTo(a, v))       => Seq((a, "!=", v))
    case IsNull(a)                => Seq((a, "isnull", null))
    case IsNotNull(a)             => Seq((a, "notnull", null))
    case StringStartsWith(a, p)   => Seq((a, "startswith", p))
    case And(l, r)                => conjuncts(Seq(l)) ++ conjuncts(Seq(r))
    case Or(l, r) =>
      // an OR node: each branch over-approximates to its convertible
      // conjuncts, and the pruner keeps the UNION of the branches' file
      // sets. A branch converting to NOTHING admits every file, so the
      // whole disjunction stops pruning — dropped here. Sound either way:
      // pruning only ever skips files NO branch can hit.
      val lc = conjuncts(Seq(l)); val rc = conjuncts(Seq(r))
      if (lc.isEmpty || rc.isEmpty) Nil else Seq(("", "or", Seq(lc, rc)))
    case _                        => Nil
  }

  /** [[conjuncts]]' strict sibling for the aggregate-pushdown path: EVERY
    * filter must convert (including `IsNotNull`, which Spark pushes
    * alongside any column predicate), or the predicate's row set cannot
    * be proven exactly decidable from file stats — None then vetoes the
    * pushdown rather than under-/over-counting.
    */
  def exactConjuncts(fs: Seq[Filter]): Option[Seq[(String, String, Any)]] = {
    import org.apache.spark.sql.sources.IsNotNull
    def one(f: Filter): Option[Seq[(String, String, Any)]] = f match {
      case EqualTo(a, v)            => Some(Seq((a, "=", v)))
      case GreaterThan(a, v)        => Some(Seq((a, ">", v)))
      case GreaterThanOrEqual(a, v) => Some(Seq((a, ">=", v)))
      case LessThan(a, v)           => Some(Seq((a, "<", v)))
      case LessThanOrEqual(a, v)    => Some(Seq((a, "<=", v)))
      case In(a, vs)                => Some(Seq((a, "in", vs.toSeq)))
      case Not(EqualTo(a, v))       => Some(Seq((a, "!=", v)))
      case StringStartsWith(a, p)   => Some(Seq((a, "startswith", p)))
      case IsNotNull(a)             => Some(Seq((a, "notnull", null)))
      case And(l, r) => for (a <- one(l); b <- one(r)) yield a ++ b
      case _ => None
    }
    val parts = fs.map(one)
    if (parts.exists(_.isEmpty)) None else Some(parts.flatten.flatten)
  }

  /** Equi-height histogram synthesis from per-file zone-map stats — pure
    * driver metadata, no scan, no sample job (`ANALYZE ... FOR COLUMNS`
    * on 100 TB is exactly the full pass this avoids): each planned file
    * contributes a uniform mass of its non-null rows over its [min, max]
    * (a point mass when min == max), the piecewise-linear CDF is swept
    * once, and the bin cuts are its inverse at the k/n quantiles.
    * O(F log F) in the planned file count. The within-file-uniform
    * assumption is the standard zone-map trade: ACROSS files the skew is
    * captured exactly (a hot range holds many file masses), which is the
    * signal min/max-uniform estimation loses. Returns the common bin
    * height and the (lo, hi) cuts; degenerate inputs return None.
    */
  def equiHeightBins(files: Seq[(Double, Double, Long)], nBins: Int)
      : Option[(Double, Seq[(Double, Double)])] = {
    val fs = files.filter(f => f._3 > 0 && !f._1.isNaN && !f._2.isNaN &&
      f._2 >= f._1)
    val total = fs.iterator.map(_._3.toDouble).sum
    if (fs.isEmpty || nBins < 1 || total <= 0) return None
    // sweep events per boundary: (density delta, point-mass jump)
    val evs = scala.collection.mutable.HashMap.empty[Double, (Double, Double)]
    def add(x: Double, d: Double, j: Double): Unit = {
      val (d0, j0) = evs.getOrElse(x, (0.0, 0.0))
      evs(x) = (d0 + d, j0 + j)
    }
    fs.foreach { case (lo, hi, m) =>
      if (hi > lo) { val d = m / (hi - lo); add(lo, d, 0.0); add(hi, -d, 0.0) }
      else add(lo, 0.0, m.toDouble)
    }
    val xs = evs.keys.toArray.sorted
    // cum(i): mass at xs(i) AFTER its jump; dens(i): slope on (i, i+1)
    val cum = new Array[Double](xs.length)
    val dens = new Array[Double](xs.length)
    var density = 0.0
    var acc = 0.0
    var i = 0
    while (i < xs.length) {
      if (i > 0) acc += density * (xs(i) - xs(i - 1))
      val (dd, j) = evs(xs(i))
      acc += j
      density += dd
      cum(i) = acc
      dens(i) = density
      i += 1
    }
    val cuts = new Array[Double](nBins + 1)
    cuts(0) = xs.head
    cuts(nBins) = xs.last
    var seg = 0
    var k = 1
    while (k < nBins) {
      val t = total * k / nBins
      while (seg < xs.length - 1 && cum(seg + 1) < t) seg += 1
      cuts(k) =
        if (seg >= xs.length - 1) xs.last
        // a point mass at xs(seg) big enough to straddle several targets
        else if (t <= cum(seg)) xs(seg)
        else {
          // t in (cum(seg), cum(seg+1)]: the linear part first, then the
          // jump at the right endpoint
          val linear = dens(seg) * (xs(seg + 1) - xs(seg))
          if (t <= cum(seg) + linear && dens(seg) > 0)
            xs(seg) + (t - cum(seg)) / dens(seg)
          else xs(seg + 1)
        }
      k += 1
    }
    Some((total / nBins,
      (1 to nBins).map(b => (cuts(b - 1), cuts(b)))))
  }
}

final class GraftScan(root: String, tableSchema: StructType,
                      required: StructType, pushed: Array[Filter],
                      options: Map[String, String],
                      filtersConsumed: Boolean = false,
                      pushedLimit: Option[Int] = None,
                      pushedTopN: Option[(String, Boolean, Int)] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private def spark = SparkSession.active
  private val keyField: String = GraftTable.resolve(root, options)._2
  private lazy val store = new ManifestStore(root, spark, keyField)
  /** current, or the `versionAsOf` time-travel target. Vacuum-safety of a
    * non-current version's files is readVersion's check, replicated here.
    */
  private lazy val manifest = {
    val m = GraftTable.manifestFor(root, options)
    m.files.foreach { f =>
      (f.name +: f.dv.toSeq).foreach { nm =>
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "files", nm)))
          throw new IllegalArgumentException(
            s"version ${m.version} of $root references vacuumed file $nm")
      }
    }
    m
  }
  /** Planning-time survivors of zone-map pruning from the STATIC pushed
    * predicates — the baseline partition list, and what statistics report.
    */
  private lazy val planned: Seq[ManifestStore.FileEntry] =
    store.prunedFiles(manifest, GraftScan.conjuncts(pushed.toSeq))

  /** RUNTIME filters (Spark's DSv2 dynamic partition pruning): when this
    * scan sits under a join whose other side broadcast first, Spark hands
    * the build side's key set here as an `In` before partitions are
    * planned — the same zone-map stats then prune files against the JOIN
    * KEYS, so a fact-table scan driven by a selective dim touches only the
    * files whose ranges intersect the dim's keys. Conservative like every
    * other pruning here: a filter that can't prune changes nothing.
    */
  private var runtimeFilters: Array[Filter] = Array.empty
  /** Only columns the scan actually OUTPUTS: Spark's PartitionPruning
    * resolves these references against the relation output, so reporting
    * a pruned-out column (the key of a projection that doesn't select it,
    * a statsCol the query never reads) threw AnalysisException at
    * planning for any join on a non-key column — found by the r14 CBO
    * join gate. Runtime filters only ever arrive on join keys the plan
    * carries, so restricting to the output loses nothing. Top-level
    * names reference verbatim (a column literally named "a.b" must not
    * parse as a struct path); dotted struct leaves parse multi-part.
    */
  override def filterAttributes(): Array[NamedReference] =
    ((if (keyField.nonEmpty) Seq(keyField) else Nil) ++ manifest.statsCols)
      .distinct
      .filter(c => ManifestStore.leafType(required, c).isDefined)
      .map(c =>
        if (required.fieldNames.contains(c))
          Expressions.column(s"`${c.replace("`", "``")}`")
        else Expressions.column(c)).toArray
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  private def effectivePlanned: Seq[ManifestStore.FileEntry] =
    if (runtimeFilters.isEmpty) planned
    else store.prunedFiles(
      manifest.copy(files = planned),
      GraftScan.conjuncts(runtimeFilters.toSeq))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(root, keyField, tableSchema, required,
      pushed, options)
  override def description(): String =
    s"graft $root, pushed=[${pushed.mkString(", ")}]" +
      pushedLimit.map(n => s", limit=$n").getOrElse("") +
      pushedTopN.map { case (c, asc, n) =>
        s", top=$n by $c ${if (asc) "asc" else "desc"}" }.getOrElse("")

  /** Manifest-derived stats of exactly the pruned scan — what AQE and the
    * join planner size broadcast decisions with. Column-level statistics
    * ride along for the CBO (`spark.sql.cbo.enabled`): distinct counts
    * from the merged per-file KMV sidecars, null counts from the
    * manifest, fixed-width-numeric min/max parsed from the zone maps —
    * all of exactly the PLANNED (pruned) file set, so what the optimizer
    * sizes is what the scan emits. Join cardinality then comes from NDV
    * (n1*n2 / max(ndv)), not bare row counts — on a 100 TB fact-dim plan
    * the difference between a broadcast and a sort-merge of the world.
    */
  private lazy val columnStatsMap: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    import org.apache.spark.sql.types._
    val res = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val ndv: Map[String, (Long, Long)] =
      scala.util.Try(store.ndvStats(manifest, planned)).toOption.flatten
        .getOrElse(Map.empty)
    // per-FILE KMV blobs (same sidecars, same LRU) feed the histogram's
    // per-bin NDV unions; None degrades to even apportioning
    val perFileKmv: Option[Seq[Map[String, Array[Byte]]]] =
      scala.util.Try(store.perFileKmv(manifest, planned)).toOption.flatten
    val cols = ((if (keyField.nonEmpty) Seq(keyField) else Nil) ++
      manifest.statsCols).distinct.filter(tableSchema.fieldNames.contains)
    cols.foreach { c =>
      val dc = ndv.get(c).map(_._1)
      // null counts: the manifest's per-file counts where EVERY planned
      // file records one, else the KMV sidecars' (which cover the key
      // too); unknown must not read as zero
      val nulls: Option[Long] = {
        val fromManifest =
          if (!manifest.statsCols.contains(c)) None
          else {
            val per = planned.map(_.colNulls.get(manifest.phys(c)))
            if (per.nonEmpty && per.forall(_.isDefined)) Some(per.flatten.sum)
            else None
          }
        fromManifest.orElse(ndv.get(c).map(_._2))
      }
      // min/max for types whose catalyst-internal form parses straight
      // out of the manifest stat string (timestamps serialize as micros =
      // the internal long); strings/dates/decimals skip — a wrongly-typed
      // bound would mis-estimate range selectivity
      val ranges: Seq[(String, String)] =
        if (c == keyField) planned.map(f => (f.minKey, f.maxKey))
        else planned.flatMap(_.cols.get(manifest.phys(c)))
      def agg[T](parse: String => T, lt: (T, T) => Boolean)
          : Option[(Any, Any)] =
        if (ranges.size != planned.size ||
          ranges.exists(r => r._1 == null || r._2 == null || r._1.isEmpty))
          None
        else scala.util.Try {
          val mins = ranges.map(r => parse(r._1))
          val maxs = ranges.map(r => parse(r._2))
          (mins.reduce((a, b) => if (lt(a, b)) a else b).asInstanceOf[Any],
            maxs.reduce((a, b) => if (lt(a, b)) b else a).asInstanceOf[Any])
        }.toOption
      val minMax: Option[(Any, Any)] = tableSchema(c).dataType match {
        case ByteType      => agg[Byte](_.toByte, _ < _)
        case ShortType     => agg[Short](_.toShort, _ < _)
        case IntegerType   => agg[Int](_.toInt, _ < _)
        case LongType | TimestampType => agg[Long](_.toLong, _ < _)
        case FloatType     => agg[Float](_.toFloat, _ < _)
        case DoubleType    => agg[Double](_.toDouble, _ < _)
        // DATE stats serialize as ISO yyyy-MM-dd (zone-free by type), so
        // the round-trip to the catalyst internal (epoch days) is exact
        case DateType      => agg[Int](s =>
          java.time.LocalDate.parse(s).toEpochDay.toInt, _ < _)
        // DECIMAL stats serialize as plain decimal text — exact round-trip
        // to the catalyst Decimal (what the estimator's toDouble expects)
        case _: DecimalType => agg[Decimal](s =>
          Decimal(new java.math.BigDecimal(s)), _ < _)
        case _             => None
      }
      // EQUI-HEIGHT HISTOGRAM, synthesized from the per-file zone maps of
      // the planned set ([[GraftScan.equiHeightBins]]): what makes range
      // selectivity see ACROSS-FILE skew instead of assuming uniform over
      // [min, max] — without the full-table ANALYZE pass Spark's own
      // histograms cost. Numeric types only (same exactness discipline as
      // min/max); every planned file must record the column's stats and
      // null count, or the estimate would silently misweight.
      // `spark.graft.stats.histogramBins=0` disables; junk -> default.
      val histBins = spark.conf.getOption("spark.graft.stats.histogramBins")
        .flatMap(_.trim.toIntOption).filter(_ >= 0).getOrElse(64)
      val parseD: Option[String => Double] = tableSchema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | TimestampType =>
          Some(s => s.toLong.toDouble)
        case FloatType  => Some(s => s.toFloat.toDouble)
        case DoubleType => Some(s => s.toDouble)
        case DateType   => Some(s =>
          java.time.LocalDate.parse(s).toEpochDay.toDouble)
        case _: DecimalType => Some(s =>
          new java.math.BigDecimal(s).doubleValue())
        // StringType is REFUSED deliberately (r15, measured): projecting
        // string stats onto a byte-prefix rank axis synthesizes fine, but
        // Spark's FilterEstimation routes EVERY equality through
        // computeEqualityPossibilityByHistogram the moment a histogram
        // exists, and EstimationUtils.toDouble has no StringType case —
        // `seg = 'X'` under CBO then DIES at planning with
        // `MatchError: StringType` (reproduced on Spark 4.1.2), and the
        // range path never consults non-numeric histograms at all. A
        // string histogram is a planning crash, not an estimate.
        case _          => None
      }
      val hist: Option[colstats.Histogram] =
        if (histBins < 1 || planned.isEmpty) None
        else parseD.flatMap { p =>
          val per: Seq[Option[(Double, Double, Long)]] = planned.map { f =>
            val range = if (c == keyField) Some((f.minKey, f.maxKey))
              else f.cols.get(manifest.phys(c))
            range.flatMap { case (lo, hi) =>
              if (lo == null || hi == null || lo.isEmpty || hi.isEmpty) None
              else f.colNulls.get(manifest.phys(c))
                .orElse(if (c == keyField) Some(0L) else None)
                .flatMap(nn => scala.util.Try(
                  (p(lo), p(hi), math.max(0L, f.liveRows - nn))).toOption)
            }
          }
          if (per.exists(_.isEmpty)) None
          else GraftScan.equiHeightBins(per.flatten, histBins).map {
            case (h, cutBins) =>
              // per-bin NDV (r15, overlap-clustered r16): estimate each
              // bin's distinct count from the per-file KMV sketches. A
              // hot range whose values repeat 100x and an all-distinct
              // sparse tail then get their own per-bin distincts, which
              // even apportioning of the table NDV (the r14 shape, kept
              // as the fallback when any file lacks a sketch) erases.
              // Bounded by the bin mass; CBO's equality-under-range
              // estimator consumes exactly this.
              //
              // The estimator: files whose value hulls SUBSTANTIALLY
              // overlap (>= half the narrower hull, chained in lo
              // order) can share values — their sketches union ONCE per
              // column into a CLUSTER (dedup); essentially-disjoint
              // hulls cannot share values, so per bin the overlapping
              // clusters' NDVs scale by each cluster's own hull overlap
              // and SUM. r15 scaled ONE union by the union-hull span
              // share, which a single half-table straddler file broke
              // both ways at sf0.1 (caught by the dsv2_histogram_ndv
              // gate under the full-Verify layout): the straddler's
              // hull dragged a pure tail bin's frac toward 0, and any
              // row-mass frac instead polluted hot bins with the
              // straddler's foreign distincts. Clustering quarantines
              // it: the straddler unions with whatever it genuinely
              // overlaps and contributes to a bin only its own hull
              // share. Work: one sort + one O(files) union pass per
              // column, O(clusters) arithmetic per bin, NO per-bin
              // sketch merges — the r15 256-per-bin merge cap and its
              // even-apportion fallback are gone. Partially-overlapping
              // clusters (< half-hull) may double-count their shared
              // sliver: an over-estimate bounded at 2x for equal-width
              // chains BY the join threshold itself (hulls shifted less
              // than half their width JOIN, so a value lies in at most
              // ceil(1/0.5) = 2 non-joining hulls) — the adversarial
              // 40%-overlap staircase measures 1.51x
              // (HistogramStatsSpec), and CBO consumes an NDV
              // over-estimate conservatively. Never the erasure.
              val fileRanges: Seq[(Double, Double, Long)] = per.flatten
              // bins tile [lo, hi) with the last bin closing right. A
              // range file whose hi EXACTLY equals a bin's lo holds the
              // boundary value the bin owns — but including it was
              // TRIED (r16) and MEASURED WORSE (equi-height cuts land
              // on file boundaries, so the toucher is typically a WIDE
              // file that distorts the bin's estimate); the at-most-one
              // distinct it contributes is already supplied by the
              // empty-bin floor. Strict-positive overlap stays.
              def overlapsBin(flo: Double, fhi: Double, bl: Double,
                              bh: Double, lastBin: Boolean): Boolean =
                if (fhi > flo)
                  math.min(fhi, bh) - math.max(flo, bl) > 0
                else if (lastBin) flo >= bl && flo <= bh
                else flo >= bl && flo < bh
              val clusters: Option[Array[(Double, Double, Long)]] =
                perFileKmv.flatMap { s =>
                  val vs = s.map(_.get(c))
                  if (vs.isEmpty || vs.exists(_.isEmpty)) None
                  else {
                    val blobs = vs.flatten.toArray
                    val order = fileRanges.indices
                      .sortBy(i => fileRanges(i)._1)
                    val acc = scala.collection.mutable.ArrayBuffer
                      .empty[(Double, Double,
                        scala.collection.mutable.ArrayBuffer[Int])]
                    order.foreach { i =>
                      val (lo, hi, _) = fileRanges(i)
                      val join = acc.lastOption.exists {
                        case (cLo, cHi, _) =>
                          val minW = math.min(hi - lo, cHi - cLo)
                          if (minW <= 0) lo <= cHi // point: containment
                          else (math.min(hi, cHi) - lo) / minW >= 0.5
                      }
                      if (join) {
                        val (cLo, cHi, ms) = acc.last
                        ms += i
                        acc(acc.length - 1) =
                          (cLo, math.max(cHi, hi), ms)
                      } else acc += ((lo, hi,
                        scala.collection.mutable.ArrayBuffer(i)))
                    }
                    Some(acc.iterator.map { case (cLo, cHi, ms) =>
                      (cLo, cHi, graft.functions.KmvSketch
                        .estimateNdvBlobs(ms.toSeq.map(blobs(_)))._1)
                    }.toArray)
                  }
                }
              val arr: Array[colstats.HistogramBin] =
                cutBins.zipWithIndex.map { case ((bl, bh), bi) =>
                  val lastBin = bi == cutBins.size - 1
                  val est: Option[Long] = clusters.map { cs =>
                    var sum = 0.0
                    cs.foreach { case (lo, hi, ndv) =>
                      if (overlapsBin(lo, hi, bl, bh, lastBin)) {
                        val frac =
                          if (hi > lo) math.min(1.0, math.max(0.0,
                            (math.min(hi, bh) - math.max(lo, bl)) /
                              (hi - lo)))
                          else 1.0 // point cluster: the bin owns it whole
                        sum += ndv * frac
                      }
                    }
                    math.max(1L, math.round(sum)) // empty-overlap floor
                  }
                  val binNdv = math.max(1L, math.min(math.ceil(h).toLong,
                    est.orElse(dc.map(_ / cutBins.size))
                      .getOrElse(math.ceil(h).toLong)))
                  new colstats.HistogramBin {
                    override def lo(): Double = bl
                    override def hi(): Double = bh
                    override def ndv(): Long = binNdv
                  }: colstats.HistogramBin
                }.toArray
              new colstats.Histogram {
                override def height(): Double = h
                override def bins(): Array[colstats.HistogramBin] = arr
              }
          }
        }
      if (dc.isDefined || nulls.isDefined || minMax.isDefined ||
        hist.isDefined)
        res.put(Expressions.column(c), new ColumnStatistics {
          override def distinctCount(): OptionalLong =
            dc.map(OptionalLong.of).getOrElse(OptionalLong.empty)
          override def nullCount(): OptionalLong =
            nulls.map(OptionalLong.of).getOrElse(OptionalLong.empty)
          override def min(): java.util.Optional[Object] =
            minMax.map(m => java.util.Optional.of(m._1.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          override def max(): java.util.Optional[Object] =
            minMax.map(m => java.util.Optional.of(m._2.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          override def histogram(): java.util.Optional[colstats.Histogram] =
            hist.map(h => java.util.Optional.of(h))
              .getOrElse(java.util.Optional.empty[colstats.Histogram]())
        })
    }
    res
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(planned.map(f =>
        if (f.bytes > 0) f.bytes else f.rows * 128L).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(planned.map(_.liveRows).sum)
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      columnStatsMap
  }

  /** BUCKETED tables (every planned file bucket-pure under table property
    * `buckets=N`): the scan reports `KeyGroupedPartitioning(bucket(N, key))`
    * and plans exactly one input partition per bucket, each carrying its
    * bucket id as the partition key. With
    * `spark.sql.sources.v2.bucketing.enabled=true` Spark then plans keyed
    * joins between co-bucketed graft tables as STORAGE-PARTITIONED joins —
    * zero Exchange on either side (the `dsv2_colocated_join` gate asserts
    * exactly this). Unbucketed tables report UnknownPartitioning and plan
    * one partition per file, as before.
    */
  private lazy val bucketSpec: Option[Int] =
    ManifestStore.readTableProps(root).get("buckets")
      .flatMap(_.toIntOption).filter(_ > 0)
      .filter(_ => keyField.nonEmpty && planned.forall(_.bucket.isDefined))

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketSpec match {
      case Some(n) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(Array(Expressions.bucket(n, keyField)), n)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Truncate `files` to the shortest prefix whose EXACT live-row counts
    * cover the pushed limit — any subset of files yields a subset of the
    * scan's rows, and Spark's own Limit (kept on top: partial push) takes
    * the first n of them. Skipped under runtime filters (a limit never
    * sits directly above a runtime-filtered join scan, so the combination
    * shouldn't arise — refuse it conservatively if it does) and on
    * bucketed scans (the SPJ contract needs all N buckets present).
    */
  private def limited(files: Seq[ManifestStore.FileEntry])
      : Seq[ManifestStore.FileEntry] =
    (pushedLimit, pushedTopN) match {
      case (Some(n), _) if runtimeFilters.isEmpty =>
        var acc = 0L
        files.takeWhile { f => val need = acc < n; acc += f.liveRows; need }
      case (_, Some((c, asc, n))) if runtimeFilters.isEmpty =>
        store.topNFiles(manifest, files, c, asc, n)
      case _ => files
    }

  override def planInputPartitions(): Array[InputPartition] =
    bucketSpec match {
      case Some(n) =>
        val files = effectivePlanned
        val parts = GraftPartitions.forFiles(root, files)
        val byBucket = files.zip(parts).groupBy(_._1.bucket.get)
        // ALL N buckets planned, empty ones included: both join sides must
        // present the same partition-value set for Spark to zip them
        (0 until n).map(b => GraftBucketedPartition(b,
          byBucket.getOrElse(b, Nil).map(_._2).toArray): InputPartition)
          .toArray
      case None =>
        GraftPartitions.forFiles(root, limited(effectivePlanned)).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    // Spark forbids mixing columnar and row partitions within one scan, so
    // the mode is a whole-scan decision: vectorized whenever the projection
    // batches — masked survivors take the masked columnar reader (the
    // factory falls back to row mode only when that reader cannot batch
    // the projection plus key). Decided on the STATIC survivors: runtime
    // filtering must not flip the mode after Spark has already asked
    // supportsColumnar.
    // CONSUMED filters (exactly decided at file granularity — no residual
    // in the plan) must not reach the parquet readers: they are vacuous on
    // every planned file, and their columns may be pruned out of the
    // projection (record-level evaluation against an unread column would
    // drop every row). They already did their work in `planned`.
    GraftPartitions.factory(spark, root, keyField, tableSchema, required,
      if (filtersConsumed) Array.empty else pushed, options,
      manifest.schemaDDL,
      wantColumnar = true,
      anyMasked = planned.exists(_.dv.isDefined),
      colMap = manifest.colMap)
}

/** One input partition per manifest data file. The deletion-vector sidecar
  * (a directory of parquet parts) is listed ON THE DRIVER and shipped as
  * paths+sizes, so executors never list storage.
  */
final case class GraftInputPartition(path: String, bytes: Long,
                                     fileName: String,
                                     dvParts: Array[(String, Long)])
  extends InputPartition

/** One bucket of a bucketed table — all its files as one input partition,
  * keyed by the bucket id so Spark's storage-partitioned join machinery
  * can align co-bucketed scans without an Exchange.
  */
final case class GraftBucketedPartition(bucket: Int,
                                        inner: Array[GraftInputPartition])
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** Sequentially drains a list of per-file readers — the bucketed
  * partition's reader (a bucket is a set of files read as one split).
  */
final class GraftConcatReader[T](parts: Array[() => PartitionReader[T]])
  extends PartitionReader[T] {
  private var idx = -1
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur != null && cur.next()) return true
      if (cur != null) { cur.close(); cur = null }
      idx += 1
      if (idx >= parts.length) return false
      cur = parts(idx)()
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

object GraftPartitions {
  import java.nio.file.{Files, Paths}

  /** The `_file` METADATA column (per-row provenance: which data file the
    * row came from — maintenance and skew diagnostics). Synthesized by
    * the reader as a per-file constant, never read from parquet.
    */
  val FileCol = "_file"

  /** Rewrite a pushed v1 [[Filter]]'s attribute names logical→physical so
    * it can ride into the parquet reader of a column-mapped table. The
    * rewrite is ALL-OR-NOTHING per filter tree: any node this function
    * doesn't recognize drops the whole filter (returned None) rather than
    * pushing a partially-rewritten — and therefore possibly wrong —
    * predicate; dropped filters are still re-evaluated by Spark's
    * residual, so answers never change, only row-group pruning weakens.
    *
    * Nested leaves: the colMap keys a struct leaf as logical
    * `parent.leaf` → PHYSICAL LEAF name only (the parent's own mapping is
    * a separate top-level entry), so a dotted attribute rewrites each
    * segment independently. One-level structs only, matching
    * [[ManifestStore.toPhysical]].
    */
  private[spark] def toPhysicalFilter(f: Filter,
                                      colMap: Map[String, String])
      : Option[Filter] = {
    def attr(a: String): String = {
      val i = a.indexOf('.')
      if (i < 0) colMap.getOrElse(a, a)
      else {
        val (p, l) = (a.substring(0, i), a.substring(i + 1))
        s"${colMap.getOrElse(p, p)}.${colMap.getOrElse(a, l)}"
      }
    }
    def go(f: Filter): Option[Filter] = f match {
      case EqualTo(a, v)            => Some(EqualTo(attr(a), v))
      case EqualNullSafe(a, v)      => Some(EqualNullSafe(attr(a), v))
      case GreaterThan(a, v)        => Some(GreaterThan(attr(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(attr(a), v))
      case LessThan(a, v)           => Some(LessThan(attr(a), v))
      case LessThanOrEqual(a, v)    => Some(LessThanOrEqual(attr(a), v))
      case In(a, vs)                => Some(In(attr(a), vs))
      case IsNull(a)                => Some(IsNull(attr(a)))
      case IsNotNull(a)             => Some(IsNotNull(attr(a)))
      case StringStartsWith(a, v)   => Some(StringStartsWith(attr(a), v))
      case StringEndsWith(a, v)     => Some(StringEndsWith(attr(a), v))
      case StringContains(a, v)     => Some(StringContains(attr(a), v))
      case And(l, r)                => for (a <- go(l); b <- go(r)) yield And(a, b)
      case Or(l, r)                 => for (a <- go(l); b <- go(r)) yield Or(a, b)
      case Not(c)                   => go(c).map(Not)
      case _                        => None
    }
    go(f)
  }

  /** Parse the `pruneFilter` load option — a SQL boolean expression over
    * the source's columns — into v1 pushdown Filters. Streaming scans
    * never receive optimizer pushdown (Spark builds micro-batch scans
    * outside V2ScanRelationPushDown — the same limitation the `columns`
    * option works around), so a stream's file/row-group pruning takes its
    * predicate from this option instead. ADVISORY, like all pruning here:
    * only provably-empty files and row groups are cut, so the emitted
    * stream may still carry non-matching rows — consumers keep their own
    * `.filter` for exactness. A predicate that translates to NOTHING
    * pushable refuses loudly (a typo'd option silently pruning nothing
    * would masquerade as working).
    */
  private[spark] def parsePruneFilter(spark: SparkSession,
                                      schema: StructType,
                                      sql: String): Array[Filter] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CatalystAnd, Expression}
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .filter(sql)
    def split(e: Expression): Seq[Expression] = e match {
      case CatalystAnd(l, r) => split(l) ++ split(r)
      case x                 => Seq(x)
    }
    // the ANALYZED plan, not the optimized one: an empty local relation
    // under the optimizer folds the Filter away, losing the condition.
    // Constant-fold by hand instead (the analyzer wraps literals in
    // casts — `id >= 600` analyzes as `id >= cast(600 as bigint)` —
    // which the translator doesn't match; Spark's own pushdown sees
    // conditions only after the optimizer has folded them)
    val conds = df.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        split(f.condition)
    }.flatten
    val folded = conds.map(_.transformUp {
      case e: Expression if e.foldable &&
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
            e.dataType)
    })
    val translated = folded.flatMap(c =>
      org.apache.spark.sql.graft.ParquetReadBridge
        .translateFilter(c, nestedPredicatePushdown = true))
    require(translated.nonEmpty,
      s"pruneFilter '$sql' translated to no pushable predicate — use " +
        "comparisons / IN / LIKE 'p%' / AND / OR over the source's columns")
    translated.toArray
  }

  /** One input partition per manifest file, planned from the manifest: the
    * recorded path and size (a size of 0, recorded before sizes were, is
    * read from the file system) plus the file's sidecar parts, listed on
    * the driver by [[ManifestStore.sidecarParts]] — the same listing the
    * store's own sidecar reads use. No Spark listing job at any size.
    */
  def forFiles(root: String, files: Seq[ManifestStore.FileEntry])
      : Seq[GraftInputPartition] =
    files.map { f =>
      val path = s"$root/files/${f.name}"
      val bytes = if (f.bytes > 0) f.bytes else Files.size(Paths.get(path))
      val dvParts = f.dv.toArray.flatMap(ManifestStore.sidecarParts(root, _))
      GraftInputPartition(path, bytes, f.name, dvParts)
    }

  /** Build the serializable reader factory. Three per-file reader closures
    * are prepared on the driver (capturing the broadcast Hadoop conf, as
    * Spark's own file scan does):
    *
    *   - a COLUMNAR vectorized reader for pristine files (when the
    *     projected schema supports batches),
    *   - a row reader over `required` for pristine files in row mode,
    *   - a row reader over `required + key` for MASKED files — the reader
    *     loads its own file's sidecar into a hash set and subtracts
    *     locally, then projects the key back out if it wasn't asked for.
    */
  def factory(spark: SparkSession, root: String, keyField: String,
              tableSchema: StructType, required: StructType,
              pushed: Array[Filter], options: Map[String, String],
              manifestSchemaDDL: String,
              wantColumnar: Boolean,
              anyMasked: Boolean = false,
              colMap: Map[String, String] = Map.empty): GraftReaderFactory = {
    // data files may carry any vintage of the evolved schema; the manifest
    // schema (superset, widened types) is the read-through dataSchema.
    // COLUMN MAPPING translates at exactly this boundary: the parquet
    // readers are handed PHYSICAL names (what the files contain), while
    // everything above stays logical — rows are positional, so only the
    // parquet name matching cares. Pushed v1 Filters carry logical names,
    // so they cross the same boundary: attribute names are rewritten to
    // physical before reaching the parquet readers (row-group pruning
    // works on mapped tables too); a filter that can't be fully rewritten
    // is dropped — Spark's residual re-evaluation keeps answers exact.
    val logicalData = StructType.fromDDL(manifestSchemaDDL)
    // top-level AND any-depth struct-field mapping: rows are positional, so
    // renaming nested leaves is purely a parquet name-matching concern
    def toPhys(s: StructType): StructType =
      ManifestStore.toPhysical(s, colMap)
    val dataSchema = toPhys(logicalData)
    val pushedEff: Seq[Filter] =
      if (colMap.isEmpty) pushed.toSeq
      else pushed.toSeq.flatMap(GraftPartitions.toPhysicalFilter(_, colMap))
    // `_file` METADATA column: stripped here so the parquet readers never
    // look for it in the files; the reader factory splices the per-file
    // constant back at its ordinal. Row mode only (the splice is a row
    // projection), so its presence turns the columnar path off.
    val fileOrd = required.fieldNames.indexOf(GraftPartitions.FileCol)
    val innerReq =
      if (fileOrd < 0) required
      else StructType(required.fields.filterNot(_.name == GraftPartitions.FileCol))
    val hasKey = keyField.nonEmpty && logicalData.fieldNames.contains(keyField)
    val plus: StructType =
      if (!hasKey || innerReq.fieldNames.contains(keyField)) innerReq
      else StructType(innerReq.fields :+ logicalData(keyField))
    val keyOrd = if (hasKey) plus.fieldIndex(keyField) else -1
    val keyDt: DataType = if (hasKey) logicalData(keyField).dataType else StringType
    val dvSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("_file", StringType),
      org.apache.spark.sql.types.StructField("_key", keyDt)))
    // columnar gating is a WHOLE-SCAN decision (Spark forbids mixing
    // modes): pristine-only scans batch when the projection supports it;
    // a scan with masked survivors batches only when the masked reader
    // can ALSO batch — the `plus` projection (required + key) must be
    // batchable AND copyable by the per-batch survivor transform. Any
    // doubt keeps the whole scan in row mode, exactly as before.
    val colPlain =
      if (wantColumnar && fileOrd < 0)
        ParquetReadBridge.columnarReader(spark, dataSchema, toPhys(innerReq),
          pushedEff, options)
      else None
    val colMasked =
      if (colPlain.isEmpty || !anyMasked) None
      else if (hasKey && ParquetReadBridge.maskCopyable(plus))
        ParquetReadBridge.columnarReader(spark, dataSchema, toPhys(plus),
          pushedEff, options)
      else None
    GraftReaderFactory(
      required = innerReq, plus = plus, keyOrd = keyOrd, keyDt = keyDt,
      fileOrd = fileOrd,
      rowPlain = ParquetReadBridge.rowReader(spark, dataSchema, toPhys(innerReq),
        pushedEff, options),
      rowMasked = ParquetReadBridge.rowReader(spark, dataSchema, toPhys(plus),
        pushedEff, options),
      dvReader = ParquetReadBridge.rowReader(spark, dvSchema, dvSchema,
        Nil, options),
      columnar = if (anyMasked && colMasked.isEmpty) None else colPlain,
      columnarMasked = colMasked)
  }
}

final case class GraftReaderFactory(
    required: StructType, plus: StructType, keyOrd: Int, keyDt: DataType,
    rowPlain: PartitionedFile => Iterator[InternalRow],
    rowMasked: PartitionedFile => Iterator[InternalRow],
    dvReader: PartitionedFile => Iterator[InternalRow],
    columnar: Option[PartitionedFile => Iterator[ColumnarBatch]],
    columnarMasked: Option[PartitionedFile => Iterator[ColumnarBatch]] = None,
    fileOrd: Int = -1)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    columnar.isDefined

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = partition match {
    case b: GraftBucketedPartition =>
      new GraftConcatReader[ColumnarBatch](
        b.inner.map(p => () => createColumnarReader(p)))
    case _ =>
      val p = partition.asInstanceOf[GraftInputPartition]
      if (p.dvParts.isEmpty)
        new GraftIteratorReader[ColumnarBatch](
          columnar.get(ParquetReadBridge.wholeFile(p.path, p.bytes, 0L)))
      else {
        // masked file in a columnar scan: read `plus` batches and drop
        // masked rows per batch (clean batches pass through zero-copy) —
        // one masked file no longer demotes 100k pristine ones to rows
        val transform = ParquetReadBridge.maskedBatchTransform(
          plus, required.length, keyOrd, keyDt,
          GraftMasks.load(p, dvReader, keyDt))
        new GraftIteratorReader[ColumnarBatch](
          columnarMasked.get(ParquetReadBridge.wholeFile(p.path, p.bytes, 0L))
            .map(transform))
      }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case b: GraftBucketedPartition =>
      new GraftConcatReader[InternalRow](
        b.inner.map(p => () => createReader(p)))
    case _ =>
    val p = partition.asInstanceOf[GraftInputPartition]
    val base: PartitionReader[InternalRow] =
      if (p.dvParts.isEmpty)
        new GraftIteratorReader[InternalRow](
          rowPlain(ParquetReadBridge.wholeFile(p.path, p.bytes, 0L)))
      else {
        require(keyOrd >= 0, s"graft: file ${p.fileName} carries a deletion " +
          "vector but the store records no key column — pass option(\"key\", ...)")
        new GraftMaskedReader(p, this)
      }
    if (fileOrd < 0) base
    else new GraftSplicedReader(base, ParquetReadBridge.spliceProjection(
      required, fileOrd, UTF8String.fromString(p.fileName)))
  }
}

/** Wraps a row reader, splicing the per-file constant `_file` metadata
  * value into each row at its requested ordinal.
  */
final class GraftSplicedReader(inner: PartitionReader[InternalRow],
                               proj: InternalRow => InternalRow)
  extends PartitionReader[InternalRow] {
  override def next(): Boolean = inner.next()
  override def get(): InternalRow = proj(inner.get())
  override def close(): Unit = inner.close()
}

/** PartitionReader over a prepared iterator; closes Closeable iterators. */
final class GraftIteratorReader[T](it: Iterator[T]) extends PartitionReader[T] {
  private var cur: T = _
  override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
  override def get(): T = cur
  override def close(): Unit = it match {
    case c: java.io.Closeable => c.close()
    case _ => ()
  }
}

/** Loads a masked file's deletion-vector key set from its sidecar parts
  * (filtered to this file's name — a sidecar row may target another
  * file's key), members normalized to OWN their memory (UTF8String views
  * from a reader buffer are copied; Decimal compares via BigDecimal).
  * Shared by the row-mode ([[GraftMaskedReader]]) and columnar
  * ([[org.apache.spark.sql.graft.ParquetReadBridge.maskedBatchTransform]])
  * masked readers — one loader, one normalization, no drift.
  */
object GraftMasks {
  private def setNorm(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case x => x
  }
  def load(p: GraftInputPartition,
           dvReader: PartitionedFile => Iterator[InternalRow],
           keyDt: DataType): java.util.HashSet[Any] = {
    val fileNameU = UTF8String.fromString(p.fileName)
    val set = new java.util.HashSet[Any]()
    p.dvParts.foreach { case (path, bytes) =>
      val it = dvReader(ParquetReadBridge.wholeFile(path, bytes, 0L))
      it.foreach { r =>
        if (r.getUTF8String(0) == fileNameU && !r.isNullAt(1))
          set.add(setNorm(r.get(1, keyDt)))
      }
      it match { case c: java.io.Closeable => c.close(); case _ => () }
    }
    set
  }
}

/** Merge-on-read applied PER FILE, inside the reader: load this file's
  * sidecar keys into a local hash set (O(this file's dvRows) — the fold
  * trigger `dvRows*2 >= rows` bounds it at half the file), stream the data
  * file through the set, and project the key column back out if the query
  * didn't select it. Compare with the driver-planned anti-join in
  * [[graft.cdc.ManifestStore]].readFiles: no join, no shuffle, no
  * broadcast-size gate, and table-wide mask totals are irrelevant because
  * no reader ever sees another file's masks.
  */
final class GraftMaskedReader(p: GraftInputPartition, f: GraftReaderFactory)
  extends PartitionReader[InternalRow] {

  private def probeNorm(v: Any): Any = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case x => x
  }

  private lazy val maskedKeys: java.util.HashSet[Any] =
    GraftMasks.load(p, f.dvReader, f.keyDt)

  private lazy val project: InternalRow => InternalRow =
    if (f.plus.length == f.required.length) identity
    else ParquetReadBridge.prefixProjection(f.plus, f.required.length)

  private lazy val rows: Iterator[InternalRow] = {
    val base = f.rowMasked(ParquetReadBridge.wholeFile(p.path, p.bytes, 0L))
    base.filter { r =>
      r.isNullAt(f.keyOrd) || !maskedKeys.contains(probeNorm(r.get(f.keyOrd, f.keyDt)))
    }.map(project)
  }

  private var cur: InternalRow = _
  override def next(): Boolean = {
    val h = rows.hasNext; if (h) cur = rows.next(); h
  }
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
