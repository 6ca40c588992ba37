package graft.streaming

import graft.SparkSpec
import graft.cdc._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming CDC through the file-manifest store: per-batch stats-pruned
  * MERGE (untouched files carried by reference), exactly-once replay,
  * additive drift, and the auto-recluster policy.
  */
class ManifestCdcStreamSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq(
    Envelope.FieldInfo("id", "int64", optional = false),
    Envelope.FieldInfo("name", "string"))

  private def event(op: String, id: Long, name: String, ts: Long,
                    extra: Option[(String, String)] = None): String = {
    val extraJson = extra.map { case (k, v) => s""","$k":"$v"""" }.getOrElse("")
    val img = s"""{"id":$id,"name":"$name"$extraJson}"""
    val before = if (op == "u" || op == "d") img else "null"
    val after = if (op == "d") "null" else img
    val fs = extra.map(e => fields :+ Envelope.FieldInfo(e._1, "string"))
      .getOrElse(fields)
    s"""{"schema":${Envelope.schemaBlockJson(fs)},"payload":{"before":$before,"after":$after,"source":{"connector":"postgresql","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts,"transaction":null}}"""
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def seeded(nFiles: Int = 8): ManifestStore = {
    val st = new ManifestStore(tmp("mcs"), spark, "id")
    st.commit((0L until 200L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = nFiles)
    st
  }

  test("stream merges batches with file pruning; untouched files shared") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = seeded()
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0))
    val q = stream.start()
    try {
      // low keys only: high-range files must carry over by reference
      ms.addData(event("u", 1, "a2", 200), event("c", 2, "b2", 200))
      q.processAllAvailable()
      val v = st.current.get._1
      val prev = st.manifest(v - 1).get.files.map(_.name).toSet
      val cur = st.manifest(v).get.files.map(_.name).toSet
      assert((prev & cur).nonEmpty, "no files were carried by reference")
      assert((prev & cur).size < prev.size, "no file was rewritten")
      val out = st.read().get
      assert(out.filter(col("id") === 1L).select("name")
        .as[String].collect().toSeq == Seq("a2"))
      assert(out.count() == 200L)

      // second trigger: delete + stale update must not regress
      ms.addData(event("d", 2, "b2", 300), event("u", 1, "stale", 50))
      q.processAllAvailable()
      val out2 = st.read().get
      assert(out2.filter(col("id") === 2L).count() == 0)
      assert(out2.filter(col("id") === 1L).select("name")
        .as[String].collect().toSeq == Seq("a2"))
    } finally stream.stopGracefully(q)
  }

  test("merge-on-read stream: sidecars accrue, data files never rewrite") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = seeded()
    val v0Names = st.currentManifest.get.files.map(_.name).toSet
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0), mergeOnRead = true)
    val q = stream.start()
    try {
      ms.addData(event("u", 1, "a2", 200), event("d", 30, "gone", 200))
      q.processAllAvailable()
      ms.addData(event("u", 2, "b2", 300))
      q.processAllAvailable()
      val m = st.currentManifest.get
      // every seed data file still live by name; masked ones carry dv
      assert(v0Names.subsetOf(m.files.map(_.name).toSet))
      assert(m.files.exists(_.dv.isDefined))
      val out = st.read().get
      assert(out.count() == 199L)
      assert(out.filter(col("id").isin(1L, 2L)).select("name")
        .as[String].collect().toSet == Set("a2", "b2"))
      // replay stays a no-op through the MOR path
      val v = st.current.get._1
      stream.processBatch(Seq(event("u", 2, "replay", 400)).toDF("value"),
        batchId = 1)
      assert(st.current.get._1 == v)
    } finally stream.stopGracefully(q)
  }

  test("merge-on-read stream keeps the CDF-maintained view in sync") {
    implicit val ctx = spark.sqlContext
    val vFields = Seq(
      Envelope.FieldInfo("id", "int64", optional = false),
      Envelope.FieldInfo("grp", "string"),
      Envelope.FieldInfo("v", "double"))
    def ev(op: String, id: Long, grp: String, v: Double, ts: Long): String = {
      val img = s"""{"id":$id,"grp":"$grp","v":$v}"""
      val before = if (op == "u" || op == "d") img else "null"
      val after = if (op == "d") "null" else img
      s"""{"schema":${Envelope.schemaBlockJson(vFields)},"payload":{"before":$before,"after":$after,"source":{"connector":"postgresql","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts,"transaction":null}}"""
    }
    val ms = MemoryStream[String]
    val st = new ManifestStore(tmp("mcs"), spark, "id")
    val vs = new ManifestStore(tmp("view"), spark, "grp")
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0),
      aggView = Some((vs, "grp", "v")), mergeOnRead = true)
    val q = stream.start()
    try {
      ms.addData(ev("c", 1, "a", 10.0, 100), ev("c", 2, "a", 2.5, 100),
        ev("c", 3, "b", 7.0, 100))
      q.processAllAvailable()
      // dv-only commit: the change feed must surface the masked keys
      ms.addData(ev("u", 3, "a", 7.0, 200), ev("d", 2, "a", 2.5, 200))
      q.processAllAvailable()
      val view = vs.read().get
        .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(view == Map("a" -> ((2L, 17.0))))
      val recompute = IncrementalAgg.aggState(st.read().get, "grp", "v")
        .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(view == recompute)
    } finally stream.stopGracefully(q)
  }

  test("bootstrap from an empty store goes through the merge path") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = new ManifestStore(tmp("mcs"), spark, "id")
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0))
    val q = stream.start()
    try {
      ms.addData(event("c", 1, "a", 100), event("c", 2, "b", 100),
        event("d", 3, "x", 100)) // delete of an absent key: no-op
      q.processAllAvailable()
      assert(st.read().get.select("id", "name").collect().toSet ==
        Set(Row(1L, "a"), Row(2L, "b")))
    } finally stream.stopGracefully(q)
  }

  test("replaying a batch id is a no-op") {
    val st = seeded()
    val stream = new ManifestCdcStream(spark,
      spark.emptyDataFrame, st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"))
    val batch = Seq(event("u", 1, "once", 100)).toDF("value")
    stream.processBatch(batch, batchId = 0)
    val vAfter = st.current.get._1
    stream.processBatch(batch, batchId = 0) // foreachBatch replay
    assert(st.current.get._1 == vAfter)
    assert(st.read().get.filter(col("id") === 1L).select("name")
      .as[String].collect().toSeq == Seq("once"))
  }

  test("drift-added column lands additively mid-stream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = seeded(nFiles = 4)
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0))
    val q = stream.start()
    try {
      ms.addData(event("u", 1, "a2", 200))
      q.processAllAvailable()
      ms.addData(event("u", 2, "b2", 300, extra = Some("city" -> "ber")))
      q.processAllAvailable()
      val out = st.read().get
      assert(out.columns.contains("city"))
      assert(out.filter(col("id") === 2L).select("city")
        .as[String].collect().toSeq == Seq("ber"))
      assert(out.filter(col("id") =!= 2L)
        .filter(col("city").isNotNull).count() == 0)
    } finally stream.stopGracefully(q)
  }

  test("CDF-maintained agg view tracks the table across batches") {
    implicit val ctx = spark.sqlContext
    val vFields = Seq(
      Envelope.FieldInfo("id", "int64", optional = false),
      Envelope.FieldInfo("grp", "string"),
      Envelope.FieldInfo("v", "double"))
    def ev(op: String, id: Long, grp: String, v: Double, ts: Long): String = {
      val img = s"""{"id":$id,"grp":"$grp","v":$v}"""
      val before = if (op == "u" || op == "d") img else "null"
      val after = if (op == "d") "null" else img
      s"""{"schema":${Envelope.schemaBlockJson(vFields)},"payload":{"before":$before,"after":$after,"source":{"connector":"postgresql","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts,"transaction":null}}"""
    }
    val ms = MemoryStream[String]
    val st = new ManifestStore(tmp("mcs"), spark, "id")
    val vs = new ManifestStore(tmp("view"), spark, "grp")
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0),
      aggView = Some((vs, "grp", "v")))
    val q = stream.start()
    def view: Map[String, (Long, Double)] = vs.read().get
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    try {
      // batch 0: rebuild path (no prior view state)
      ms.addData(ev("c", 1, "a", 10.0, 100), ev("c", 2, "a", 2.5, 100),
        ev("c", 3, "b", 7.0, 100))
      q.processAllAvailable()
      assert(view == Map("a" -> ((2L, 12.5)), "b" -> ((1L, 7.0))))
      // batch 1: steady state — folded from the CHANGE FEED, incl. a
      // group migration and a delete
      ms.addData(ev("u", 3, "a", 7.0, 200), ev("d", 2, "a", 2.5, 200),
        ev("c", 4, "b", 1.0, 200))
      q.processAllAvailable()
      assert(view == Map("a" -> ((2L, 17.0)), "b" -> ((1L, 1.0))))
      // the view state equals a from-scratch recompute of the table
      val recompute = IncrementalAgg.aggState(st.read().get, "grp", "v")
        .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(view == recompute)
    } finally stream.stopGracefully(q)
  }

  test("optimistic mode: the stream coexists with a foreign writer") {
    val st = seeded()
    val stream = new ManifestCdcStream(spark, spark.emptyDataFrame, st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      optimistic = true)
    import spark.implicits._
    stream.processBatch(Seq(event("u", 1, "from_stream", 100)).toDF("value"),
      batchId = 0)
    // a foreign backfill writer lands between the stream's triggers
    val net = Seq((190L, "u", Some(190L), "from_backfill", 100L))
      .toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
        Changelog.TsCol)
    assert(st.mergeOptimistic(net, Seq("id", "name"), batchId = 0,
      streamId = "backfill").isInstanceOf[ManifestStore.MergedAt])
    stream.processBatch(Seq(event("u", 2, "stream_b1", 200)).toDF("value"),
      batchId = 1)
    val got = st.read().get.filter(col("id").isin(1L, 2L, 190L))
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "from_stream", 2L -> "stream_b1",
      190L -> "from_backfill"))
    // replay stays a no-op through the optimistic path
    val v = st.current.get._1
    stream.processBatch(Seq(event("u", 2, "replay", 300)).toDF("value"),
      batchId = 1)
    assert(st.current.get._1 == v)
  }

  test("auto-recluster restores a bounded, disjoint layout") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = seeded(nFiles = 8)
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0),
      reclusterOverFiles = 4, reclusterFiles = 4)
    val q = stream.start()
    try {
      ms.addData(event("u", 1, "a2", 200))
      q.processAllAvailable()
      val m = st.currentManifest.get
      assert(m.files.size == 4)
      val fs = m.files.sortBy(_.minKey.toLong)
      assert(fs.zip(fs.tail).forall { case (a, b) => a.maxKey.toLong < b.minKey.toLong })
      assert(st.read().get.count() == 200L)
      assert(st.read().get.filter(col("id") === 1L).select("name")
        .as[String].collect().toSeq == Seq("a2"))
    } finally stream.stopGracefully(q)
  }

  private def evTyped(op: String, id: Long, v: String, ts: Long,
                      dbz: String): String = {
    val fs = Seq(Envelope.FieldInfo("id", "int64", optional = false),
      Envelope.FieldInfo("v", dbz))
    val vJson = if (dbz == "string") s""""$v"""" else v
    val img = s"""{"id":$id,"v":$vJson}"""
    s"""{"schema":${Envelope.schemaBlockJson(fs)},"payload":{"before":null,"after":$img,"source":{"connector":"postgresql","table":"t","ts_ms":$ts},"op":"$op","ts_ms":$ts,"transaction":null}}"""
  }

  test("type widening int32 -> int64 evolves the stored schema in place") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructType}
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = new ManifestStore(tmp("mcsw"), spark, "id")
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0))
    val q = stream.start()
    try {
      ms.addData(evTyped("c", 1, "10", 100, "int32"),
        evTyped("c", 2, "20", 100, "int32"))
      q.processAllAvailable()
      assert(StructType.fromDDL(st.currentManifest.get.schemaDDL)("v")
        .dataType == IntegerType)
      // ALTER TABLE widened the column; a value beyond int32 range arrives.
      // The stale-cast behavior this replaces would parse it to null.
      val big = 10000000000L
      ms.addData(evTyped("c", 3, big.toString, 200, "int64"))
      q.processAllAvailable()
      assert(StructType.fromDDL(st.currentManifest.get.schemaDDL)("v")
        .dataType == LongType)
      // old int32-written files read through the widened schema (parquet
      // upcast — no rewrite), and the wide value survives intact
      val out = st.read().get.select(col("id"), col("v").cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 10L, 2L -> 20L, 3L -> big))
    } finally stream.stopGracefully(q)
  }

  test("incompatible type change fails loudly instead of nulling values") {
    val st = new ManifestStore(tmp("mcsi"), spark, "id")
    val stream = new ManifestCdcStream(spark, Seq.empty[String].toDF("value"),
      st, "id", cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"))
    stream.processBatch(
      Seq(evTyped("c", 1, "10", 100, "int32")).toDF("value"), 0)
    val e = intercept[IllegalStateException] {
      stream.processBatch(
        Seq(evTyped("c", 2, "not a number", 200, "string")).toDF("value"), 1)
    }
    assert(e.getMessage.contains("incompatible type change"))
    // the table is untouched by the rejected batch
    assert(st.read().get.count() == 1L)
  }

  test("dv-debt fraction triggers the auto-fold on a MoR stream") {
    val st = seeded()
    val stream = new ManifestCdcStream(spark, Seq.empty[String].toDF("value"),
      st, "id", cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      // file-count trigger out of reach; debt trigger at 1%
      reclusterOverFiles = 1000, dvDebtFraction = 0.01, mergeOnRead = true)
    stream.processBatch(Seq(event("u", 1, "x", 100),
      event("u", 100, "y", 100), event("u", 150, "z", 100)).toDF("value"), 0)
    // 3 masked rows / 203 total > 1%: the batch's own commit is followed
    // by a fold pass — no sidecar survives the trigger window
    val m = st.currentManifest.get
    assert(m.files.forall(_.dv.isEmpty), "dv debt was not folded back")
    val out = st.read().get
    assert(out.count() == 200L)
    assert(out.filter(col("id").isin(1L, 100L, 150L)).select("name")
      .as[String].collect().toSet == Set("x", "y", "z"))
  }

  test("dedup side channel flags cross-batch duplicate content end-to-end") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val st = seeded()
    val S = "the quick brown fox jumps over the lazy dog"
    val stream = new ManifestCdcStream(spark, ms.toDF(), st, "id",
      cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      trigger = Trigger.ProcessingTime(0), mergeOnRead = true,
      dedup = Some(ManifestCdcStream.DedupConfig("name", bands = true)))
    val q = stream.start()
    try {
      ms.addData(event("c", 1000, S, 100),
        event("c", 1001, "a different sentence about spark engines", 100))
      q.processAllAvailable()
      ms.addData(event("c", 1002, S, 200)) // same content, later batch
      q.processAllAvailable()
      val v = spark.read.parquet(s"${st.root}_dedup")
        .select(col("key").cast("long").as("key"), col("is_dup"))
        .as[(Long, Int)].collect().toMap
      assert(v == Map(1000L -> 0, 1001L -> 0, 1002L -> 1))
      // the near-dup band channel agrees (exact dup hits every band)
      val b = spark.read.parquet(s"${st.root}_dedup_bands")
        .select(col("key").cast("long").as("key"), col("is_candidate_dup"))
        .as[(Long, Int)].collect().toMap
      assert(b == Map(1000L -> 0, 1001L -> 0, 1002L -> 1))
      // and the table itself merged all three rows
      assert(st.read().get.filter(col("id") >= 1000L).count() == 3L)
    } finally stream.stopGracefully(q)
  }

  test("dedup TTL: aged claims expire and the content re-admits") {
    // driven through processBatch directly for deterministic batch ids
    // (the TTL arithmetic is in batches)
    val st = seeded()
    val S = "the quick brown fox jumps over the lazy dog"
    val stream = new ManifestCdcStream(spark, Seq.empty[String].toDF("value"),
      st, "id", cacheDir = tmp("cache"), checkpointDir = tmp("ckpt"),
      mergeOnRead = true,
      dedup = Some(ManifestCdcStream.DedupConfig("name",
        ttlBatches = Some(1L))))
    stream.processBatch(Seq(event("c", 1000, S, 100)).toDF("value"), 0)
    stream.processBatch(Seq(event("c", 1001, S, 200)).toDF("value"), 1)
    // batch 2: verdict still sees the live claim, THEN expiry drops
    // everything claimed before batch 1 (the batch-0 claim)
    stream.processBatch(Seq(event("c", 1002, S, 300)).toDF("value"), 2)
    // batch 3: the claim is gone — 1001/1002 never claimed (they were
    // dups), so the content re-admits with 1003 as new first claimant
    stream.processBatch(Seq(event("c", 1003, S, 400)).toDF("value"), 3)
    val v = spark.read.parquet(s"${st.root}_dedup")
      .select(col("key").cast("long").as("key"), col("is_dup"))
      .as[(Long, Int)].collect().toMap
    assert(v == Map(1000L -> 0, 1001L -> 1, 1002L -> 1, 1003L -> 0))
    // the index holds exactly the re-admitted claim
    val idx = new ManifestStore(s"${st.root}_dedup_idx", spark,
      graft.ops.StreamingDedup.FpCol)
    assert(idx.read().get.count() == 1L)
  }
}
