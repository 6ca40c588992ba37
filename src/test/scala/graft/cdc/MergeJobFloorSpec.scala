package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import java.nio.file.Files

/** The Spark job floor of the two merge paths and of a point lookup on a
  * small table: every job is filed under the innermost `ManifestStore` or
  * `Merge` method on its call site (see [[JobLabels.jobsOf]]), printed, and the
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

  private def jobsOf(body: => Unit): Seq[String] = JobLabels.jobsOf(spark)(body)

  private def sqlExecutionsOf(body: => Unit): Int =
    JobLabels.sqlExecutionsOf(spark)(body)

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
