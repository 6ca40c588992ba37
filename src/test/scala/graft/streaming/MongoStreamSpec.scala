package graft.streaming

import graft.SparkSpec
import graft.cdc._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** The MongoDB path of [[ManifestCdcStream]]: extended-JSON envelopes
  * through [[MongoPipeline.conformedNet]] into the same stats-pruned
  * manifest MERGE as the Postgres path.
  */
class MongoStreamSpec extends SparkSpec {
  import spark.implicits._

  private def event(op: String, id: String, extra: String, ts: Long): String = {
    val d = s"""{\\"_id\\": {\\"$$oid\\": \\"$id\\"}$extra}"""
    val after = if (op == "d") "null" else s""""$d""""
    val before = if (op == "d") s""""$d"""" else "null"
    s"""{"payload":{"before":$before,"after":$after,"source":{"connector":"mongodb"},"op":"$op","ts_ms":$ts}}"""
  }

  private def tmp() = Files.createTempDirectory("mstream").toString

  private def mongoStream(store: ManifestStore, source: org.apache.spark.sql.DataFrame,
                          trigger: Trigger = Trigger.AvailableNow()) =
    new ManifestCdcStream(spark, source, store, "_id",
      cacheDir = tmp(), checkpointDir = tmp(), trigger = trigger,
      changeFormat = ManifestCdcStream.Mongo())

  test("mongo memory-stream end to end with schema conformance across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val store = new ManifestStore(tmp(), spark, "_id")
    val stream = mongoStream(store, ms.toDF(), Trigger.ProcessingTime(0))
    val q = stream.start()
    try {
      ms.addData(
        event("c", "a1", """, \"name\": \"ada\"""", 100),
        event("c", "b2", """, \"name\": \"bob\"""", 100))
      q.processAllAvailable()
      assert(store.read().get.columns.toSeq == Seq("_id", "name", "last_ts"))

      ms.addData(
        event("u", "a1", """, \"name\": \"ada2\", \"new_col\": \"added\"""", 200),
        event("d", "b2", """, \"name\": \"bob\"""", 200))
      q.processAllAvailable()
      // default mode evolves additively: the drifted field appends
      val rows = store.read().get.select("_id", "name", "new_col").collect().toSet
      assert(rows == Set(Row("a1", "ada2", "added")))
    } finally stream.stopGracefully(q)
  }

  test("mongo batch touching a few keys carries the untouched files by reference") {
    val store = new ManifestStore(tmp(), spark, "_id")
    // initial load: 200 documents clustered into 8 key-range files
    store.commit((0 until 200).map(i => (f"k$i%03d", s"n$i")).toDF("_id", "name"),
      batchId = -1, nFiles = 8)
    val stream = mongoStream(store, spark.emptyDataFrame)
    stream.processBatch(Seq(
      (event("u", "k001", """, \"name\": \"upd1\"""", 200), 0L),
      (event("u", "k002", """, \"name\": \"upd2\"""", 200), 1L))
      .toDF("value", Changelog.SeqCol), 0)
    val v = store.current.get._1
    val prev = store.manifest(v - 1).get.files.map(_.name).toSet
    val cur = store.manifest(v).get.files.map(_.name).toSet
    // the two adjacent keys sit in the first file (at most two, should a
    // range seam fall between them): only that is rewritten, the rest
    // cross into the new version untouched
    val shared = prev & cur
    assert(shared.size < prev.size && shared.size >= prev.size - 2,
      s"prev=$prev cur=$cur")
    val byId = store.read().get.select("_id", "name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId.size == 200)
    assert(byId("k001") == "upd1" && byId("k002") == "upd2" && byId("k003") == "n3")
  }

  test("CdcMain's mongodb stream with storage manifest_mor commits through the manifest store") {
    val (in, out) = (tmp(), tmp())
    val cfg = CdcConfig.Default.copy(keyColumn = "_id", sourceDir = in,
      outputPath = out, checkpointDir = tmp(), schemaCacheDir = tmp(),
      databaseType = "mongodb", storage = "manifest_mor")
    assert(graft.CdcMain.configError(cfg).isEmpty)
    def drain(file: String, events: Seq[String]): Unit = {
      Files.writeString(Paths.get(in, file), events.mkString("\n"))
      val s = graft.CdcMain.stream(spark, cfg, "mongodb", Trigger.AvailableNow())
      val q = s.start()
      q.awaitTermination(60000)
      q.stop()
      while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
    }
    drain("b0.json", (0 until 20).map(i =>
      event("c", f"k$i%02d", s""", \\"name\\": \\"n$i\\"""", 100)))
    drain("b1.json", Seq(event("u", "k05", """, \"name\": \"upd\"""", 200)))

    val store = new ManifestStore(out, spark, "_id")
    val v = store.current.get._1
    val prev = store.manifest(v - 1).get.files
    val cur = store.manifest(v).get.files
    // merge-on-read: the touched file keeps its name and gains a deletion
    // vector; nothing from the previous version is rewritten
    assert(prev.map(_.name).toSet.subsetOf(cur.map(_.name).toSet))
    assert(cur.exists(_.dv.isDefined))
    val byId = store.read().get.select("_id", "name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId.size == 20 && byId("k05") == "upd" && byId("k06") == "n6")
  }
}
