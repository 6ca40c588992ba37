package graft.cdc

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.nio.file.Files
import scala.collection.mutable

/** The Spark job floor of the two merge paths and of a point lookup on a
  * small table: every job is filed under the innermost `ManifestStore` or
  * `Merge` method on its call site (see [[jobsOf]]), printed, and the
  * totals are held under ceilings. A change that adds a collect, a
  * distinct or a second write pass to any of them trips these.
  */
class MergeJobFloorSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("id", "name")

  private def netDf(ids: Seq[Long], ts: Long): DataFrame =
    ids.map(id => (id, "u", Some(id), Some(s"v$id-$ts"), ts))
      .toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
        Changelog.TsCol)

  private def seeded(): ManifestStore = {
    val st = new ManifestStore(
      Files.createTempDirectory("jobfloor").toString, spark, "id")
    st.commit((0L until 400L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8)
    st
  }

  private val Site = """graft\.cdc\.(?:ManifestStore|Merge)\.(?:\$anonfun\$)?([A-Za-z]+)""".r

  /** `method:action` for every job `body` runs, in submission order:
    * the innermost engine method on the job's call site and the Spark
    * action it called (`collect`, `runJob`, `toRdd` for the query stages
    * a plan runs before its result, `parquet` for a schema inference). A
    * job with no engine frame (a broadcast or cache materialisation AQE
    * runs on its own thread) is `method:async`, filed under its SQL
    * execution's method or else under the next labelled job: the action
    * that waited for it.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
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
  private def sqlExecutionsOf(body: => Unit): Int = {
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

  private def report(name: String, jobs: Seq[String]): Unit =
    println(s"[job floor] $name: ${jobs.size} jobs: " +
      jobs.groupBy(identity).toSeq.sortBy(-_._2.size)
        .map { case (s, js) => s"$s ${js.size}" }.mkString(", "))

  test("merge-on-read commit stays at its job floor") {
    val st = seeded()
    // warm: a first merge-on-read leaves sidecars, so the measured one
    // re-masks files that already carry one (old ∪ new in the mask write)
    st.mergeOnRead(netDf(Seq(10L, 60L, 110L), 1L), fields, batchId = 1)
    val net = netDf(Seq(11L, 60L, 61L, 112L, 300L), 2L)
    var stats: Option[ManifestStore.MorStats] = None
    val jobs = jobsOf {
      stats = st.mergeOnRead(net, fields, batchId = 2)
    }
    report("mergeOnRead", jobs)
    assert(stats.exists(_.maskedFiles >= 2))
    // the mask write: names and counts ride back with its one write job
    assert(jobs.count(_ == "applyMasks:runJob") == 1, jobs)
    assert(!jobs.exists(_.startsWith("applyMasks:collect")), jobs)
    // sidecars are read through their schema, never inferred
    assert(!jobs.exists(_.endsWith(":parquet")), jobs)
    assert(jobs.count(_.startsWith("hitFileNames")) <= 1, jobs)
    assert(jobs.size <= 11, s"mergeOnRead ran ${jobs.size} jobs: $jobs")
  }

  test("copy-on-write commit stays at its job floor") {
    val st = seeded()
    val net = netDf(Seq(11L, 60L, 61L, 112L, 300L), 2L)
    var stats: Option[ManifestStore.MergeStats] = None
    val jobs = jobsOf {
      stats = st.merge(net, fields, batchId = 1)
    }
    report("merge", jobs)
    assert(stats.exists(_.rewrittenFiles >= 2))
    // the key probe is one task pass over the net
    assert(jobs.count(_.startsWith("hitFileNames")) <= 1, jobs)
    assert(jobs.size <= 9, s"merge ran ${jobs.size} jobs: $jobs")
  }

  test("point lookup plans on the driver: 0 jobs, 0 SQL executions") {
    val st = seeded()
    st.mergeOnRead(netDf(Seq(10L, 60L, 110L), 1L), fields, batchId = 1)
    var jobs = Seq.empty[String]
    val sqls = sqlExecutionsOf {
      jobs = jobsOf {
        st.lookup(Seq(60L, 61L, 60L))
      }
    }
    report("lookup", jobs)
    assert(jobs.isEmpty, jobs)
    assert(sqls == 0, s"lookup planning ran $sqls SQL executions")
  }
}
