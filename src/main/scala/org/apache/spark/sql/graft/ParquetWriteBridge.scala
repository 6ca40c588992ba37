/*
 * Companion to [[ParquetReadBridge]] and the second (and last) resident of
 * the bridge package: Spark's parquet WRITE preparation
 * (`ParquetUtils.prepareWrite`, the exact machinery `FileFormatWriter`
 * ships to write tasks) is `private[sql]`. The graft DSv2 delta write
 * (SQL UPDATE / MERGE INTO / subquery DELETE) needs executor-side parquet
 * writers for its staged row-operation files; this re-exposes the minimal
 * surface, configured exactly as a `df.write.parquet` task would be.
 */
package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

object ParquetWriteBridge {

  /** Serializable per-task parquet writer maker: built ON THE DRIVER
    * (captures the session's hadoop/SQL conf the way `FileFormatWriter`
    * does), opened on executors. Each `open` returns an independent writer
    * for one file; callers own close ordering.
    */
  final case class TaskWriters(factory: OutputWriterFactory,
                               conf: SerializableConfiguration,
                               schemaDDL: String) {
    @transient private lazy val schema = StructType.fromDDL(schemaDDL)

    def open(path: String, partitionId: Int, attempt: Long): RowFileWriter = {
      val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID("graft-delta", 0, TaskType.MAP, partitionId,
          attempt.toInt & Int.MaxValue))
      RowFileWriter(factory.newInstance(path, schema, ctx))
    }

    /** The configured extension, e.g. `.snappy.parquet`. */
    def extension(): String = {
      val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID("graft-delta", 0, TaskType.MAP, 0, 0))
      factory.getFileExtension(ctx)
    }
  }

  final case class RowFileWriter(
      w: org.apache.spark.sql.execution.datasources.OutputWriter) {
    def write(row: InternalRow): Unit = w.write(row)
    def close(): Unit = w.close()
  }

  /** External (JVM) values -> an [[InternalRow]] under `schema`, via
    * Catalyst's own converters (`CatalystTypeConverters` is sql-private).
    * Used by the stats-answered aggregate scan to shape driver-computed
    * results (counts, deserialized min/max) for a `LocalScan`.
    */
  def toInternalRow(schema: StructType, values: Seq[Any]): InternalRow = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    conv(org.apache.spark.sql.Row.fromSeq(values)).asInstanceOf[InternalRow]
  }

  /** Spark's own interpreted ordering for `dt` — the comparison semantics
    * of its min/max aggregates and sorts (NaN greatest, binary UTF-8 for
    * strings). Needed executor-side by the clustered task writers to fold
    * per-file stats while writing; `TypeUtils` is sql-private.
    */
  def orderingFor(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Catalyst value -> external JVM value converter for `dt`
    * (UTF8String -> String, micros -> java.sql.Timestamp, ...): the staged
    * stats travel to the driver as external values so the commit can
    * re-serialize them through the store's exact stat casts.
    */
  def toScalaConverter(dt: org.apache.spark.sql.types.DataType): Any => Any =
    org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(dt)

  /** Wrap a raw Catalyst [[org.apache.spark.sql.catalyst.expressions.Expression]]
    * as a [[org.apache.spark.sql.Column]] (the constructor is sql-private
    * in Spark 4). Lets the manifest's pruning/stat jobs use graft's native
    * expressions (Bloom build/probe) without requiring the session to have
    * the [[graft.GraftExtensions]] function registrations.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (sql-private in Spark 4). */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Per-value serializer matching `ManifestStore.statSerialize` exactly:
    * TimestampType renders as epoch MICROS (zone-free; catalyst timestamps
    * already are micros), everything else through Spark's own Cast-to-
    * string — so a Bloom filter folded in a write task hashes the very
    * same strings the pruner's probes serialize through `statSerialize`.
    * Input is a CATALYST value of `dt`; null maps to null.
    */
  def statStringifier(dt: org.apache.spark.sql.types.DataType)
      : Any => org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    dt match {
      case org.apache.spark.sql.types.TimestampType =>
        v => if (v == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
      case _ =>
        val cast = Cast(BoundReference(0, dt, nullable = true),
          org.apache.spark.sql.types.StringType, Some("UTC"))
        val row = new GenericInternalRow(1)
        // -0.0 normalizes to 0.0 BEFORE rendering, matching
        // statSerialize's `x + 0.0`: Spark comparisons treat the zeros
        // as equal, so a task-folded Bloom hashing "-0.0" against a
        // probe rendering "0.0" would silently mis-prune the file
        val norm: Any => Any = dt match {
          case org.apache.spark.sql.types.FloatType => {
            case f: java.lang.Float if f.floatValue == 0.0f =>
              java.lang.Float.valueOf(0.0f)
            case other => other
          }
          case org.apache.spark.sql.types.DoubleType => {
            case d: java.lang.Double if d.doubleValue == 0.0d =>
              java.lang.Double.valueOf(0.0d)
            case other => other
          }
          case _ => identity[Any]
        }
        v => if (v == null) null
          else {
            row.update(0, norm(v))
            cast.eval(row).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          }
    }
  }

  def taskWriters(spark: SparkSession, schema: StructType): TaskWriters = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = cs.sessionState.conf
    val job = Job.getInstance(cs.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    TaskWriters(factory, new SerializableConfiguration(job.getConfiguration),
      schema.toDDL)
  }
}
