package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval: a layer call made by the benchmark driver. */
final case class Span(id: Int, name: String, parent: Int, batch: Long,
                      start: Long, var end: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans nest on the driver thread; the open
  * span's id rides along as a Spark local property, so every job the
  * layer submits is charged to it no matter when the listener bus
  * delivers the event.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  def span[T](name: String, batch: Long)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      batch, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProp,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Span duration minus the part its direct children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  def descendants(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(c => walk(c.id))
    walk(root.id).toSet
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"batch":${s.batch},""" +
        s""""start_ms":${(s.start - t0) / 1e6},"end_ms":${(s.end - t0) / 1e6}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Milliseconds of JVM garbage collection so far. In local mode the
    * executors run in this JVM, so this covers task GC too.
    */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** What one Spark job cost, charged to the span open when it started. */
final case class JobCost(span: Int, kind: String, start: Long,
                         var end: Long = -1L, var tasks: Int = 0,
                         var taskMs: Long = 0L, var shuffleBytes: Long = 0L,
                         var spillBytes: Long = 0L) {
  def ms: Long = if (end < 0) 0L else end - start
}

/** The benchmark's job accounting: jobs, tasks, jobsum (job wall time),
  * task time, shuffle write and spill, per span. A job is a merge
  * "probe" or "write" by the `ManifestStore` method its call site names.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.HashMap.empty[Int, JobCost]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlKind = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(sqlKind(s.executionId) = JobListener.kind(Seq(s.details)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    // jobs a query runs on its broadcast threads carry the thread pool's
    // call site; their SQL execution's start event carries the caller's
    val direct = JobListener.kind(e.stageInfos.map(_.details))
    val viaSql = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlKind.get(id.toLong))
    jobs(e.jobId) = JobCost(span,
      if (direct != "other") direct else viaSql.getOrElse(direct), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); c <- jobs.get(j)) {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def bySpan: Map[Int, Seq[JobCost]] = synchronized(jobs.values.toSeq.groupBy(_.span))
}

object JobListener {
  def kind(details: Seq[String]): String = {
    val d = details.mkString("\n")
    if (d.contains("hitFileNames")) "probe"
    else if (d.contains("writeDataFiles") || d.contains("runClusteredWrite") ||
             d.contains("applyMasks")) "write"
    else "other"
  }
}
