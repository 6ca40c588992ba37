package graft.cdc

import graft.SparkSpec
import graft.streaming.ManifestCdcStream
import org.apache.spark.sql.Row
import java.nio.file.Files

/** The full Mongo CDC path over extended-JSON envelopes
  * (ref: cdc_stream.py:710-904).
  */
class MongoPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def event(op: String, id: String, doc: String, ts: Long,
                    beforeDoc: String = "null"): String = {
    val after = if (op == "d") "null" else s""""${doc.replace("\"", "\\\"")}""""
    val before = if (beforeDoc == "null") "null"
      else s""""${beforeDoc.replace("\"", "\\\"")}""""
    s"""{"payload":{"before":$before,"after":$after,"source":{"connector":"mongodb"},"op":"$op","ts_ms":$ts}}"""
  }

  private def doc(id: String, extra: String = "") =
    s"""{"_id": {"$$oid": "$id"}, "name": "n_$id"$extra}"""

  private def tmp() = Files.createTempDirectory("mongo").toString

  test("netChanges dedups extended-JSON docs per key with BSON unwrapping") {
    val raw = Seq(
      (event("c", "k1", doc("k1"), 100), 0L),
      (event("u", "k1", doc("k1", """, "age": {"$numberInt": "7"}"""), 200), 1L),
      (event("c", "k2", doc("k2"), 100), 2L))
      .toDF("value", Changelog.SeqCol)
    val net = MongoPipeline.netChanges(raw, "_id")
    assert(net.count() == 2)
    val k1 = net.filter($"key_value" === "k1").head()
    assert(k1.getAs[Map[String, String]]("after_doc")("age") == "7")
  }

  test("field discovery is distributed and returns key-first sorted names") {
    val raw = Seq(
      (event("c", "k1", doc("k1", """, "zz": "1""""), 100), 0L),
      (event("c", "k2", doc("k2", """, "aa": "2""""), 100), 1L))
      .toDF("value", Changelog.SeqCol)
    val net = MongoPipeline.netChanges(raw, "_id")
    assert(MongoPipeline.discoverFields(net, "_id") == Seq("_id", "aa", "name", "zz"))
  }

  /** The Mongo per-batch step as a stream runs it: net changes conformed
    * to the manifest table's columns, merged into the store.
    */
  private def mongoStream(store: ManifestStore, evolveSchema: Boolean = true,
                          columnsToSave: Option[Seq[String]] = None) =
    new ManifestCdcStream(spark, spark.emptyDataFrame, store, "_id",
      cacheDir = tmp(), checkpointDir = tmp(), columnsToSave = columnsToSave,
      changeFormat = ManifestCdcStream.Mongo(evolveSchema))

  test("mongo first-writer-wins mode conforms later batches (ref parity)") {
    val store = new ManifestStore(tmp(), spark, "_id")
    val stream = mongoStream(store, evolveSchema = false)
    val b0 = Seq(
      (event("c", "k1", doc("k1"), 100), 0L),
      (event("c", "k2", doc("k2"), 100), 1L)).toDF("value", Changelog.SeqCol)
    stream.processBatch(b0, 0)
    assert(store.read().get.columns.toSeq == Seq("_id", "name", "last_ts"))

    // batch 2: new field "extra" must be dropped (first writer wins);
    // update must land; delete must remove
    val b1 = Seq(
      (event("u", "k1", doc("k1", """, "extra": "x""""), 200), 0L),
      (event("d", "k2", "", 200, beforeDoc = doc("k2")), 1L))
      .toDF("value", Changelog.SeqCol)
    stream.processBatch(b1, 1)
    val rows = store.read().get.select("_id", "name").collect().toSet
    assert(rows == Set(Row("k1", "n_k1")))
    assert(store.read().get.columns.toSeq == Seq("_id", "name", "last_ts"))
  }

  test("mongo default mode evolves additively: new fields append as nulls") {
    val store = new ManifestStore(tmp(), spark, "_id")
    val stream = mongoStream(store)
    val b0 = Seq(
      (event("c", "k1", doc("k1"), 100), 0L),
      (event("c", "k2", doc("k2"), 100), 1L)).toDF("value", Changelog.SeqCol)
    stream.processBatch(b0, 0)
    assert(store.read().get.columns.toSeq == Seq("_id", "name", "last_ts"))

    // batch 2 drifts: k1 gains "extra" -> column appends; untouched k2
    // reads null for it (Postgres-path parity)
    val b1 = Seq((event("u", "k1", doc("k1", """, "extra": "x""""), 200), 0L))
      .toDF("value", Changelog.SeqCol)
    stream.processBatch(b1, 1)
    val snap = store.read().get
    assert(snap.columns.contains("extra"))
    val byId = snap.select("_id", "extra").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(byId == Map("k1" -> Some("x"), "k2" -> None))
  }

  test("columnsToSave prunes at table create but always keeps the key") {
    val store = new ManifestStore(tmp(), spark, "_id")
    val b0 = Seq((event("c", "k1", doc("k1", """, "drop_me": "1""""), 100), 0L))
      .toDF("value", Changelog.SeqCol)
    mongoStream(store, columnsToSave = Some(Seq("name"))).processBatch(b0, 0)
    assert(store.read().get.columns.toSeq == Seq("_id", "name", "last_ts"))
  }

  test("dead letters: malformed envelopes are captured, valid ones are not") {
    val fields = Seq(Envelope.FieldInfo("id", "int64"))
    val env = Envelope.envelopeSchema(Envelope.recordSchema(fields))
    val raw = Seq(
      """{"payload":{"before":null,"after":{"id":1},"op":"c","ts_ms":1}}""",
      "not json at all",
      """{"some":"other json"}""").toDF("value")
    val dead = Changelog.deadLetters(raw, env).collect().map(_.getString(0))
    assert(dead.toSeq == Seq("not json at all", """{"some":"other json"}"""))
  }
}
