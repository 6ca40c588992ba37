package graft.streaming

import graft.SparkSpec
import graft.cdc._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The stream's source, restart and side-output contract on
  * [[ManifestCdcStream]]: the file source ([[CdcStream.fileSource]]), the
  * schema cache and checkpoint lineage across restarts, column pruning,
  * and the SQL audit side output.
  */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  val fields = Seq(
    Envelope.FieldInfo("id", "int64", optional = false),
    Envelope.FieldInfo("name", "string"))

  private def event(op: String, id: Long, name: String, ts: Long): String = {
    val img = s"""{"id":$id,"name":"$name"}"""
    val before = if (op == "u" || op == "d") img else "null"
    val after = if (op == "d") "null" else img
    s"""{"schema":${Envelope.schemaBlockJson(fields)},"payload":{"before":$before,"after":$after,"source":{"connector":"postgresql","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts,"transaction":null}}"""
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("file source end to end with AvailableNow trigger") {
    val inDir = tmp("in")
    Files.writeString(java.nio.file.Paths.get(inDir, "b0.json"),
      Seq(event("c", 10, "x", 100), event("u", 10, "y", 200)).mkString("\n"))
    val store = new ManifestStore(tmp("st"), spark, "id")
    val stream = new ManifestCdcStream(spark, CdcStream.fileSource(spark, inDir),
      store, "id", cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"))
    val q = stream.start()
    q.awaitTermination(60000)
    assert(store.read().get.select("name").as[String].collect().toSeq == Seq("y"))
  }

  test("schema cache survives restart: second stream skips inference") {
    val cacheDir = tmp("cache")
    Envelope.saveCache(cacheDir, fields)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val store = new ManifestStore(tmp("st"), spark, "id")
    val stream = new ManifestCdcStream(spark, ms.toDF(), store, "id",
      cacheDir = cacheDir, checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0))
    val q = stream.start()
    try {
      // an event with NO schema block — inference would throw, cache must win
      val noSchema = event("c", 5, "cached", 100).replaceFirst(
        """\{"schema":.*?,"payload"""", """{"payload"""")
      ms.addData(noSchema)
      q.processAllAvailable()
      assert(store.read().get.select("name").as[String].collect().toSeq == Seq("cached"))
    } finally stream.stopGracefully(q)
  }

  test("sql audit side output records replay statements per batch") {
    val store = new ManifestStore(tmp("st"), spark, "id")
    val auditDir = tmp("audit")
    val stream = new ManifestCdcStream(spark, spark.emptyDataFrame, store, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      sqlAuditDir = Some(auditDir), auditTable = "t")
    stream.processBatch(
      Seq((event("c", 1, "a", 100), 0L), (event("d", 1, "a", 200), 1L))
        .toDF("value", Changelog.SeqCol), 0)
    val lines = spark.read.text(s"$auditDir/batch_0")
      .collect().map(_.getString(0)).sorted
    assert(lines.length == 2) // pre-dedup: both events logged
    assert(lines.exists(_.startsWith("INSERT INTO t")))
    assert(lines.contains("DELETE FROM t WHERE id = 1;"))
  }

  test("crash between sink and checkpoint commit: restart replays the batch " +
      "and the snapshot converges (at-least-once + idempotent merge)") {
    val inDir = tmp("in"); val ckpt = tmp("ckpt"); val cache = tmp("cache")
    val store = new ManifestStore(tmp("st"), spark, "id")
    // two files + maxFilesPerTrigger=1 -> two deterministic micro-batches,
    // the replayed unit being a recorded file set exactly as a Kafka replay
    // is a recorded offset range
    val f0 = java.nio.file.Paths.get(inDir, "b0.json")
    val f1 = java.nio.file.Paths.get(inDir, "b1.json")
    Files.writeString(f0,
      Seq(event("c", 1, "a", 100), event("c", 2, "b", 100)).mkString("\n"))
    Files.writeString(f1,
      Seq(event("u", 1, "a2", 200), event("d", 2, "b", 200)).mkString("\n"))
    // the file source orders batches by modification time — pin distinct
    // times or both files land in an arbitrary order
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(f0, java.nio.file.attribute.FileTime.fromMillis(now - 60000))
    Files.setLastModifiedTime(f1, java.nio.file.attribute.FileTime.fromMillis(now))
    def run(): Unit = {
      val s = new ManifestCdcStream(spark, CdcStream.fileSource(spark, inDir, Some(1)),
        store, "id", cacheDir = cache, checkpointDir = ckpt)
      val q = s.start()
      q.awaitTermination(60000)
      q.stop()
      // the next restart may not begin until this run fully deregisters
      // from the shared session's active-query registry
      while (spark.streams.active.exists(_.id == q.id)) Thread.sleep(50)
    }
    run()
    val v1 = store.current
    val expected = store.read().get.select("id", "name").collect().toSet
    assert(expected == Set(org.apache.spark.sql.Row(1L, "a2")))

    // the crash window: the batch reached the store but the checkpoint lost
    // its commit record -> on restart Spark re-delivers the SAME batch id
    // with the SAME file set (at-least-once)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val latest = commits.maxBy(_.getName.toInt)
    // the checksum FS keeps a .N.crc sidecar; leaving it behind makes the
    // replay's commit rename collide
    new java.io.File(latest.getParentFile, s".${latest.getName}.crc").delete()
    assert(latest.delete())
    run()
    // the replay must be a no-op: same table version, same rows
    assert(store.current == v1)
    assert(store.read().get.select("id", "name").collect().toSet == expected)

    // a clean restart (checkpoint intact) processes nothing new either
    run()
    assert(store.current == v1)
  }

  test("columnsToSave prunes the materialized table but keeps the key") {
    val store = new ManifestStore(tmp("st"), spark, "id")
    val stream = new ManifestCdcStream(spark, spark.emptyDataFrame, store, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      columnsToSave = Some(Seq("name")))
    stream.processBatch(
      Seq((event("c", 1, "a", 100), 0L)).toDF("value", Changelog.SeqCol), 0)
    assert(store.read().get.columns.toSeq == Seq("id", "name", Merge.LastTsCol))
  }
}
