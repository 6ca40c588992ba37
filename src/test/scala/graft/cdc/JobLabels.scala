package graft.cdc

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Spark job accounting for the job-floor specs: every job a body runs,
  * labelled by the engine method that ran it.
  */
object JobLabels {
  private val Site = """graft\.cdc\.(?:ManifestStore|Merge)\.(?:\$anonfun\$)?([A-Za-z]+)""".r

  /** `method:action` for every job `body` runs, in submission order:
    * the innermost engine method on the job's call site and the Spark
    * action it called (`collect`, `runJob`, `toRdd` for the query stages
    * a plan runs before its result, `parquet` for a schema inference or a
    * file listing). A job with no engine frame (a broadcast or cache
    * materialisation AQE runs on its own thread) is `method:async`, filed
    * under its SQL execution's method or else under the next labelled
    * job: the action that waited for it.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[String] = {
    val labels = mutable.ArrayBuffer.empty[Either[Option[String], String]]
    val sqlSite = mutable.HashMap.empty[Long, String]
    var ended = 0
    def method(details: String): Option[String] =
      Site.findFirstMatchIn(details).map(_.group(1))
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => synchronized {
          method(s.details).foreach(sqlSite(s.executionId) = _)
        }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val direct = e.stageInfos.find(si => method(si.details).isDefined)
        labels += (direct match {
          case Some(si) =>
            Right(s"${method(si.details).get}:${si.name.takeWhile(_ != ' ')}")
          case None => Left(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(id => sqlSite.get(id.toLong)))
        })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        synchronized(ended += 1)
    }
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      // the listener bus delivers asynchronously: wait for every job end
      val deadline = System.currentTimeMillis() + 5000
      while (l.synchronized(ended < labels.size) &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(l)
    }
    l.synchronized(labels.toSeq).foldRight((List.empty[String], "unattributed")) {
      case (Right(s), (acc, _)) => (s :: acc, s.takeWhile(_ != ':'))
      case (Left(sql), (acc, next)) => (s"${sql.getOrElse(next)}:async" :: acc, next)
    }._1
  }

  /** The SQL executions `body` starts: a Dataset action over a local
    * relation runs one without any Spark job.
    */
  def sqlExecutionsOf(spark: SparkSession)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet(); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      Thread.sleep(500) // the listener bus delivers asynchronously
      spark.sparkContext.removeSparkListener(l)
    }
    n.get()
  }
}
