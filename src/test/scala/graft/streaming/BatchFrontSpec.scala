package graft.streaming

import graft.SparkSpec
import graft.cdc._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The Postgres step's batch front: one pass answers both "does the batch
  * have rows" and "which schema blocks does it carry" (distinct per
  * partition, merged on the driver). An empty batch commits nothing,
  * consumes no batch id and costs at most that one job; a batch carrying
  * two schema vintages still resolves every column to its widest type.
  */
class BatchFrontSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def event(id: Long, qty: Long, qtyType: String, ts: Long): String = {
    val fs = Seq(
      Envelope.FieldInfo("id", "int64", optional = false),
      Envelope.FieldInfo("qty", qtyType))
    val img = s"""{"id":$id,"qty":$qty}"""
    s"""{"schema":${Envelope.schemaBlockJson(fs)},"payload":{"before":null,"after":$img,"source":{"connector":"postgresql","table":"t","ts_ms":$ts},"op":"c","ts_ms":$ts,"transaction":null}}"""
  }

  private def stream(st: ManifestStore): ManifestCdcStream =
    new ManifestCdcStream(spark, spark.emptyDataFrame, st, "id",
      cacheDir = tmp("front-cache"), checkpointDir = tmp("front-ckpt"))

  /** The Spark jobs and the SQL executions `body` starts: a Dataset
    * action over a local relation runs an execution without any job.
    */
  private def jobsDuring(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger(0)
    val sqls = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet(); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      Thread.sleep(500) // the listener bus delivers asynchronously
      spark.sparkContext.removeSparkListener(l)
    }
    (jobs.get(), sqls.get())
  }

  test("an empty batch commits nothing, keeps its id and runs <= 1 job") {
    val emptyFile = Files.createTempFile("front-empty", ".json")
    val empties: Seq[DataFrame] = Seq(
      Seq.empty[String].toDF("value"),
      spark.read.text(emptyFile.toString))
    empties.foreach { empty =>
      val st = new ManifestStore(tmp("front"), spark, "id")
      val s = stream(st)
      val (jobs, sqls) = jobsDuring(s.processBatch(empty, 7L))
      assert(jobs <= 1, s"an empty batch ran $jobs jobs")
      assert(sqls <= 1, s"an empty batch ran $sqls SQL executions")
      assert(!st.exists, "an empty batch must not create the table")
      // the id is still free: the first real batch under it commits
      s.processBatch(Seq(event(1, 5, "int64", 10)).toDF("value"), 7L)
      assert(st.current.exists(_._2 == 7L))
      assert(st.read().get.count() == 1L)
    }
  }

  test("a batch with two schema vintages resolves to the widest types") {
    val big = Int.MaxValue.toLong + 10L
    // the narrow vintage repeats in several partitions: the scan keeps
    // one block per vintage
    val batch = (Seq.tabulate(6)(i => event(i.toLong, i.toLong, "int32", 10L + i)) :+
      event(100L, big, "int64", 50L)).toDF("value").repartition(3)
    val (nonEmpty, blocks) = SchemaTracker.scan(batch)
    assert(nonEmpty && blocks.size == 2, blocks)
    val st = new ManifestStore(tmp("front"), spark, "id")
    stream(st).processBatch(batch, 1L)
    val out = st.read().get
    assert(out.schema("qty").dataType.sql == "BIGINT")
    assert(out.filter(col("id") === 100L).select("qty").as[Long].collect()
      .toSeq == Seq(big))
    assert(out.count() == 7L)
  }
}
