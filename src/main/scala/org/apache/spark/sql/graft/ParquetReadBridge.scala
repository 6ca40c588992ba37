/*
 * The ONE file in this repository outside the `graft` namespace, and the
 * reason it lives here: Spark's per-file parquet reader factory
 * (`FileFormat.buildReaderWithPartitionValues`) — the exact machinery
 * `FileSourceScanExec` ships to executors — is `private[sql]`. Every
 * production Spark connector that reuses the built-in columnar parquet
 * reader instead of re-implementing it (Delta's `DeltaParquetFileFormat`,
 * Iceberg's Spark runtime shims) does precisely this: one bridge object
 * declared under `org.apache.spark.sql` that re-exposes the minimal
 * surface. Everything else about the graft DataSource V2 connector lives
 * in `graft.spark` and uses only public `connector.*` APIs.
 */
package org.apache.spark.sql.graft

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Serializable per-file parquet readers for the graft DSv2 connector,
  * and the store's scan of manifest-named files ([[manifestScan]]).
  *
  * Both factories are built ON THE DRIVER (they capture a broadcast of the
  * Hadoop conf internally, exactly as `FileSourceScanExec` does) and the
  * returned closures are shipped to executors inside the partition reader
  * factory.
  */
object ParquetReadBridge {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Forwarder for `DataSourceStrategy.translateFilter` (protected[sql]):
    * Catalyst predicate → v1 pushdown [[Filter]], the same translation
    * Spark's own scans run. Used by the `pruneFilter` streaming option.
    */
  def translateFilter(
      predicate: org.apache.spark.sql.catalyst.expressions.Expression,
      nestedPredicatePushdown: Boolean): Option[Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, nestedPredicatePushdown)

  /** Row-at-a-time reader: vectorization is disabled on a cloned session so
    * the closure yields true `InternalRow`s (never an erased
    * `ColumnarBatch`), which the masked-file path needs for its per-row
    * deletion-vector filter. Missing columns read as nulls and lossless
    * type widenings upcast — the store's additive/widening schema
    * evolution rides on the parquet reader's own clipping.
    */
  def rowReader(spark: SparkSession, dataSchema: StructType,
                requiredSchema: StructType, filters: Seq[Filter],
                options: Map[String, String])
      : PartitionedFile => Iterator[InternalRow] = {
    val cs = classic(spark).cloneSession()
    cs.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    new ParquetFileFormat().buildReaderWithPartitionValues(
      cs, dataSchema, new StructType(), requiredSchema, filters, options,
      cs.sessionState.newHadoopConfWithOptions(options))
  }

  /** Vectorized whole-batch reader for pristine (sidecar-less) files, when
    * the projected schema supports it — the same `ColumnarBatch` path the
    * built-in parquet scan runs, so a DSv2 graft scan of an unmasked table
    * pays no reader overhead vs `spark.read.parquet`. None when the schema
    * (or session conf) rules batch reads out; callers fall back to rows.
    */
  def columnarReader(spark: SparkSession, dataSchema: StructType,
                     requiredSchema: StructType, filters: Seq[Filter],
                     options: Map[String, String])
      : Option[PartitionedFile => Iterator[ColumnarBatch]] = {
    val cs = classic(spark)
    val fmt = new ParquetFileFormat()
    if (!fmt.supportBatch(cs, requiredSchema)) None
    else {
      // Spark 4 refuses a vectorized build without this explicit contract
      val opts = options +
        (org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "true")
      val f = fmt.buildReaderWithPartitionValues(
        cs, dataSchema, new StructType(), requiredSchema, filters, opts,
        cs.sessionState.newHadoopConfWithOptions(options))
      // supportBatch == true makes buildReaderWithPartitionValues return
      // batches through the row-typed iterator (Spark's own unchecked
      // cast, see FileSourceScanExec); re-type it honestly here.
      Some(pf => f(pf).asInstanceOf[Iterator[ColumnarBatch]])
    }
  }

  /** Codegen'd projection keeping the first `take` fields of rows shaped
    * like `from` — how the masked-file reader drops the key column it had
    * to read for deletion-vector filtering when the query didn't select
    * it. Built on the EXECUTOR (codegen output is not serializable).
    * Output rows reuse the projection buffer, per the usual operator
    * contract (consumers copy when they buffer).
    */
  def prefixProjection(from: StructType, take: Int): InternalRow => InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    val proj = UnsafeProjection.create((0 until take).map(i =>
      BoundReference(i, from(i).dataType, from(i).nullable)))
    row => proj(row)
  }

  /** Codegen'd projection splicing a CONSTANT string at ordinal `ord`
    * into rows shaped like `inner` — how the reader materializes the
    * `_file` metadata column (per-file constant, never read from
    * parquet). Built on the EXECUTOR, like [[prefixProjection]]. Output
    * rows reuse the projection buffer (consumers copy when they buffer).
    */
  def spliceProjection(inner: StructType, ord: Int,
                       value: org.apache.spark.unsafe.types.UTF8String)
      : InternalRow => InternalRow = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
    import org.apache.spark.sql.types.StringType
    val exprs = (0 to inner.length).map { j =>
      if (j == ord) Literal(value, StringType)
      else {
        val i = if (j < ord) j else j - 1
        BoundReference(i, inner(i).dataType, inner(i).nullable)
      }
    }
    val proj = UnsafeProjection.create(exprs)
    row => proj(row)
  }

  /** A parquet scan of exactly `files` (path, recorded byte size), planned
    * from those entries alone: the relation `spark.read.schema(dataSchema)
    * .parquet(paths: _*)` builds, minus its file listing — no glob, no
    * status call, and no listing job past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths. The
    * plan is otherwise the same: no partition columns, the same nullable
    * data schema, Spark's own split packing over the same sizes
    * (`maxPartitionBytes` / `openCostInBytes`), and the same qualified
    * `file:` paths for `input_file_name()` and `inputFiles`. A size of 0
    * (an entry recorded before sizes were) is read from the file system.
    * A file missing behind its entry fails the scan's task.
    */
  def manifestScan(spark: SparkSession, dataSchema: StructType,
                   files: Seq[(String, Long)])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    val cs = classic(spark)
    val qualified = files.map { case (p, bytes) =>
      val path = new Path(p)
      val fs = path.getFileSystem(cs.sparkContext.hadoopConfiguration)
      val len = if (bytes > 0L) bytes else fs.getFileStatus(path).getLen
      // the URI form, as a listing's status paths render: `file:///…`
      (fs.makeQualified(path).toUri.toString, len)
    }
    cs.baseRelationToDataFrame(HadoopFsRelation(ManifestFileIndex(qualified),
      new StructType(), dataSchema.asNullable, None, new ParquetFileFormat(),
      Map.empty)(cs))
  }

  /** The [[manifestScan]] file index: a fixed list of qualified paths and
    * sizes, one unpartitioned directory. Structural equality, so two scans
    * of the same files are the same relation to exchange reuse and the
    * cache manager, as two listings of the same paths are.
    */
  private final case class ManifestFileIndex(files: Seq[(String, Long)])
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, PartitionDirectory}
    override def rootPaths: Seq[Path] = files.map(f => new Path(new java.net.URI(f._1)))
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[PartitionDirectory] =
      if (files.isEmpty) Nil
      else Seq(PartitionDirectory(InternalRow.empty, rootPaths.zip(files).map {
        case (p, (_, len)) =>
          FileStatusWithMetadata(new FileStatus(len, false, 1, len, 0L, p))
      }))
    override def inputFiles: Array[String] = files.map(_._1).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._2).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** A whole-file `PartitionedFile` (no splitting: graft data files are
    * written clustered and row-group pruning inside a file is the parquet
    * reader's job).
    */
  def wholeFile(path: String, fileSize: Long, modTime: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L,
      fileSize, Array.empty, modTime, fileSize)

  /** Can [[maskedBatchTransform]] copy this schema? Exactly the atomic
    * types the vectorized parquet reader batches; anything else (nested,
    * interval, UDT) sends the masked scan down the row path.
    */
  def maskCopyable(schema: StructType): Boolean = {
    import org.apache.spark.sql.types._
    schema.fields.forall(_.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    })
  }

  /** COLUMNAR deletion-vector masking: transform each `ColumnarBatch`
    * (projected as `plus` = required columns + the key appended when the
    * query didn't select it) into a batch of the first `requiredLen`
    * columns with masked rows dropped. The economics at 100 TB: deletion
    * vectors are tiny relative to their files, so almost every batch of a
    * masked file contains NO masked key — those pass through ZERO-COPY
    * (at most re-wrapped to drop the appended key column); only batches
    * that actually hold a masked row pay a survivor copy into fresh
    * on-heap vectors. This is what lets ONE masked file among 100k keep
    * the whole scan vectorized instead of demoting every pristine file to
    * row-at-a-time reads (the pre-r13 behavior).
    */
  def maskedBatchTransform(plus: StructType, requiredLen: Int, keyOrd: Int,
                           keyDt: org.apache.spark.sql.types.DataType,
                           masked: java.util.HashSet[Any])
      : ColumnarBatch => ColumnarBatch = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.vectorized.ColumnVector
    val keyGet: (ColumnVector, Int) => Any = keyDt match {
      case BooleanType => (c, i) => c.getBoolean(i)
      case ByteType    => (c, i) => c.getByte(i)
      case ShortType   => (c, i) => c.getShort(i)
      case IntegerType | DateType => (c, i) => c.getInt(i)
      case LongType | TimestampType | TimestampNTZType => (c, i) => c.getLong(i)
      case FloatType   => (c, i) => c.getFloat(i)
      case DoubleType  => (c, i) => c.getDouble(i)
      case StringType  => (c, i) => c.getUTF8String(i)
      case BinaryType  => (c, i) => c.getBinary(i)
      case d: DecimalType =>
        // the masked-key set normalizes Decimal to BigDecimal (see
        // GraftMaskedReader.setNorm) — probe in the same space
        (c, i) => c.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case other => throw new IllegalStateException(
        s"graft masked columnar read: unsupported key type $other")
    }
    // per-column copiers hoisted ONCE per transform (the keyGet idiom):
    // a dirty batch's copy loop pays one virtual call per surviving
    // cell, not a DataType pattern match per row per column
    val copiers: Array[Copier] =
      Array.tabulate(requiredLen)(c => copierFor(plus(c).dataType))
    batch => {
      val n = batch.numRows()
      val keyCol = batch.column(keyOrd)
      var kept = 0
      val keep = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        val drop = !keyCol.isNullAt(i) && masked.contains(keyGet(keyCol, i))
        keep(i) = !drop
        if (!drop) kept += 1
        i += 1
      }
      if (kept == n) {
        // clean batch: zero-copy (re-wrap only to hide the appended key)
        if (plus.length == requiredLen) batch
        else new ColumnarBatch(
          Array.tabulate[ColumnVector](requiredLen)(batch.column), n)
      } else {
        val out = new Array[ColumnVector](requiredLen)
        var c = 0
        while (c < requiredLen) {
          val dt = plus(c).dataType
          val dst = new OnHeapColumnVector(math.max(kept, 1), dt)
          val src = batch.column(c)
          val cp = copiers(c)
          var o = 0
          var r = 0
          while (r < n) {
            if (keep(r)) {
              if (src.isNullAt(r)) dst.putNull(o)
              else cp(src, r, dst, o)
              o += 1
            }
            r += 1
          }
          out(c) = dst
          c += 1
        }
        new ColumnarBatch(out, kept)
      }
    }
  }

  /** Append CONSTANT trailing columns to every batch — the columnar
    * sibling of the row path's JoinedRow idiom (how Spark's own file scan
    * attaches partition values to batches). Zero-copy on the data
    * columns: the returned batch re-wraps the source vectors plus one
    * `ConstantColumnVector` per appended column (created per batch —
    * numRows varies). Used by the change feed's batch form to synthesize
    * `_change_type` / `_commit_version` without leaving the vectorized
    * path.
    */
  def constAppendTransform(
      appendix: Seq[(org.apache.spark.sql.types.DataType, Any)])
      : ColumnarBatch => ColumnarBatch = {
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.vectorized.ColumnVector
    batch => {
      val n = batch.numRows()
      val extra: Seq[ColumnVector] = appendix.map { case (dt, v) =>
        val c = new ConstantColumnVector(n, dt)
        (dt, v) match {
          case (StringType, s: org.apache.spark.unsafe.types.UTF8String) =>
            c.setUtf8String(s)
          case (LongType, l: java.lang.Long) => c.setLong(l)
          case (IntegerType, i: java.lang.Integer) => c.setInt(i)
          case other => throw new IllegalStateException(
            s"graft constAppendTransform: unsupported constant $other")
        }
        c
      }
      new ColumnarBatch(
        Array.tabulate[ColumnVector](batch.numCols())(batch.column) ++ extra,
        n)
    }
  }

  /** One surviving cell's copy, with the type dispatch done ONCE at
    * transform build time ([[maskedBatchTransform]]'s copier array).
    */
  private type Copier = (org.apache.spark.sql.vectorized.ColumnVector, Int,
    org.apache.spark.sql.execution.vectorized.WritableColumnVector,
    Int) => Unit

  private def copierFor(dt: org.apache.spark.sql.types.DataType): Copier = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => (src, r, dst, o) => dst.putBoolean(o, src.getBoolean(r))
      case ByteType    => (src, r, dst, o) => dst.putByte(o, src.getByte(r))
      case ShortType   => (src, r, dst, o) => dst.putShort(o, src.getShort(r))
      case IntegerType | DateType =>
        (src, r, dst, o) => dst.putInt(o, src.getInt(r))
      case LongType | TimestampType | TimestampNTZType =>
        (src, r, dst, o) => dst.putLong(o, src.getLong(r))
      case FloatType   => (src, r, dst, o) => dst.putFloat(o, src.getFloat(r))
      case DoubleType  => (src, r, dst, o) => dst.putDouble(o, src.getDouble(r))
      case StringType  => (src, r, dst, o) => {
        val b = src.getUTF8String(r).getBytes
        dst.putByteArray(o, b, 0, b.length); ()
      }
      case BinaryType  => (src, r, dst, o) => {
        val b = src.getBinary(r)
        dst.putByteArray(o, b, 0, b.length); ()
      }
      case d: DecimalType => (src, r, dst, o) => {
        dst.putDecimal(o, src.getDecimal(r, d.precision, d.scale), d.precision)
        ()
      }
      case other => throw new IllegalStateException(
        s"graft masked columnar read: unsupported copy type $other")
    }
  }
}
