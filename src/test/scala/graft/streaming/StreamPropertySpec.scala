package graft.streaming

import graft.SparkSpec
import graft.cdc._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.nio.file.Files

/** End-to-end property: random multi-batch changelogs pushed through the
  * full streaming path (parse -> drift-aware schema -> dedup -> ts-guarded
  * merge -> manifest store) equal a sequential last-write-wins replay —
  * the invariant the reference validates empirically
  * (test/cdc_test_framework.py + validate_cdc_data.py).
  */
class StreamPropertySpec extends SparkSpec {
  import spark.implicits._

  val fields = Seq(
    Envelope.FieldInfo("id", "int64", optional = false),
    Envelope.FieldInfo("name", "string"))

  private def event(op: String, id: Long, name: String, ts: Long): String = {
    val img = s"""{"id":$id,"name":"$name"}"""
    val before = if (op == "u" || op == "d") img else "null"
    val after = if (op == "d") "null" else img
    s"""{"schema":${Envelope.schemaBlockJson(fields)},"payload":{"before":$before,"after":$after,"source":{"connector":"p","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts,"transaction":null}}"""
  }

  test("property: streamed batches == sequential last-write-wins replay") {
    val opGen = for {
      key <- Gen.choose(0L, 6L)
      op <- Gen.oneOf("c", "u", "d", "r")
      name <- Gen.alphaStr.map(_.take(4))
    } yield (key, op, name)
    val prop = Prop.forAll(Gen.listOfN(30, opGen)) { ops =>
      val stamped = ops.zipWithIndex.map { case ((k, op, n), i) => (k, op, n, i.toLong + 1) }
      val expected = stamped.foldLeft(Map.empty[Long, String]) {
        case (st, (k, "d", _, _)) => st - k
        case (st, (k, _, n, _))   => st + (k -> n)
      }
      val store = new ManifestStore(Files.createTempDirectory("sp").toString,
        spark, "id")
      val stream = new ManifestCdcStream(spark, spark.emptyDataFrame, store, "id",
        Files.createTempDirectory("spc").toString,
        Files.createTempDirectory("spk").toString)
      stamped.grouped(10).zipWithIndex.foreach { case (chunk, i) =>
        val df = chunk.map { case (k, op, n, ts) => (event(op, k, n, ts), ts) }
          .toDF("value", Changelog.SeqCol)
        stream.processBatch(df, i)
      }
      val got = store.read().map(_.select("id", "name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap).getOrElse(Map.empty)
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: copy-on-write, merge-on-read and a sequential replay converge") {
    // one random multi-batch workload through the copy-on-write and the
    // deletion-vector merge-on-read commit modes — same stream code above
    // them, two commit disciplines below — against a sequential
    // last-write-wins replay: ONE answer. This is the equivalence that
    // lets delta_config.storage be a pure deployment knob.
    val opGen = for {
      key <- Gen.choose(0L, 9L)
      op <- Gen.oneOf("c", "u", "d", "r")
      name <- Gen.alphaStr.map(_.take(4))
    } yield (key, op, name)
    val prop = Prop.forAll(Gen.listOfN(36, opGen)) { ops =>
      val stamped = ops.zipWithIndex.map { case ((k, op, n), i) =>
        (k, op, n, i.toLong + 1) }
      val expected = stamped.foldLeft(Map.empty[Long, String]) {
        case (st, (k, "d", _, _)) => st - k
        case (st, (k, _, n, _))   => st + (k -> n)
      }
      def tmp(p: String) = Files.createTempDirectory(p).toString
      val cowStore = new ManifestStore(tmp("3e_c"), spark, "id")
      val cowStream = new ManifestCdcStream(spark, spark.emptyDataFrame,
        cowStore, "id", tmp("3e_cc"), tmp("3e_ck"))
      val morStore = new ManifestStore(tmp("3e_m"), spark, "id")
      val morStream = new ManifestCdcStream(spark, spark.emptyDataFrame,
        morStore, "id", tmp("3e_mc"), tmp("3e_mk"), mergeOnRead = true)
      stamped.grouped(12).zipWithIndex.foreach { case (chunk, i) =>
        def df = chunk.map { case (k, op, n, ts) => (event(op, k, n, ts), ts) }
          .toDF("value", Changelog.SeqCol)
        cowStream.processBatch(df, i)
        morStream.processBatch(df, i)
      }
      def state(read: Option[org.apache.spark.sql.DataFrame]) =
        read.map(_.select("id", "name").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap).getOrElse(Map.empty)
      state(cowStore.read()) == expected && state(morStore.read()) == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
