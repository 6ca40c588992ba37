package graft.spark

import graft.SparkSpec
import graft.cdc.{Changelog, ManifestStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The `format("graft")` DataSource V2 connector: schema inference, batch
  * reads (pristine + deletion-vector-masked files), planning-time zone-map
  * pruning from pushed filters, column pruning, the appends-tail streaming
  * source, and the V1-fallback write path.
  */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("id", "name")

  private def newRoot = Files.createTempDirectory("graft_dsv2").toString

  private def seedDf = (0L until 400L).map(i => (i, s"n$i")).toDF("id", "name")

  private def netDf(rows: Seq[(Long, String, Option[String], Long)]) =
    rows.map { case (id, op, name, ts) =>
      (id, op, if (op == "d") None else Some(id), name, ts)
    }.toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
      Changelog.TsCol)
      .withColumn("after_id", col("after_id").cast("long"))

  private def asSet(df: DataFrame) =
    df.select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("batch read round-trips a pristine store; schema inferred from the manifest") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8)
    val df = spark.read.format("graft").load(root)
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(asSet(df) == asSet(st.read().get))
    // pristine files go through the vectorized columnar path
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
  }

  test("pushed key predicates prune files at planning time") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8)
    val df = spark.read.format("graft").load(root)
      .filter(col("id") >= 100L && col("id") < 150L)
    // 400 keys clustered over 8 files -> a 50-key range hits 1-2 files
    assert(df.rdd.getNumPartitions <= 2,
      s"expected <=2 planned partitions, got ${df.rdd.getNumPartitions}")
    assert(asSet(df) == (100L until 150L).map(i => (i, s"n$i")).toSet)
    // unfiltered scan plans every file
    assert(spark.read.format("graft").load(root).rdd.getNumPartitions == 8)
  }

  /** The SCAN's planned partitions (the query's own RDD is CollectLimit's
    * single partition — not what limit/topN pushdown controls).
    */
  private def scanParts(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.head

  test("pushed LIMIT plans only enough files to cover it") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8) // 400 rows -> 8 files of ~50
    val t = spark.read.format("graft").load(root)
    val lim = t.limit(10)
    assert(scanParts(lim) == 1,
      s"LIMIT 10 should plan 1 file, got ${scanParts(lim)}")
    assert(lim.count() == 10L)
    // a limit past the table plans everything and returns everything
    assert(scanParts(t.limit(1000)) == 8)
    assert(t.limit(1000).count() == 400L)
    // deletion vectors shrink a file's live count; the prefix still covers
    st.deleteWhere(col("id") < 45L, batchId = 1) // file 1 drops to ~5 live
    val t2 = spark.read.format("graft").load(root)
    val lim2 = t2.limit(10)
    assert(lim2.count() == 10L)
    assert(scanParts(lim2) <= 2)
  }

  test("pushed TopN plans only the files that can hold the top-n") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8) // 400 keys -> 8 files of ~50
    val t = spark.read.format("graft").load(root)
    val asc3 = t.orderBy(col("id")).limit(3)
    assert(scanParts(asc3) == 1,
      s"top-3 by clustered key should plan 1 file, got ${scanParts(asc3)}")
    assert(asc3.select("id").collect().map(_.getLong(0)).toSeq ===
      Seq(0L, 1L, 2L))
    val desc3 = t.orderBy(col("id").desc).limit(3)
    assert(scanParts(desc3) == 1)
    assert(desc3.select("id").collect().map(_.getLong(0)).toSeq ===
      Seq(399L, 398L, 397L))
    // a top-n spanning several files keeps exactly the covering prefix
    val asc120 = t.orderBy(col("id")).limit(120)
    assert(scanParts(asc120) == 3, s"got ${scanParts(asc120)}")
    assert(asc120.select("id").collect().map(_.getLong(0)).toSeq ===
      (0L until 120L).toSeq)
    // the key never holds nulls, so the veto path needs a stats column:
    // order by an unstatted column -> no pruning, exact answer
    val byName = t.orderBy(col("name")).limit(5)
    assert(scanParts(byName) == 8)
    assert(byName.count() == 5L)
  }

  test("deletion-vector masks apply per file inside the reader — no join, no broadcast") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8)
    // scattered updates + deletes via merge-on-read -> sidecars, no rewrites
    st.mergeOnRead(netDf(
      (0L until 400L by 7L).map(i => (i, "u", Some(s"v$i"), 10L)) ++
        (3L until 400L by 50L).map(i => (i, "d", None, 10L))), fields, batchId = 1)
    val m = st.currentManifest.get
    assert(m.files.exists(_.dv.isDefined), "expected sidecars")
    val df = spark.read.format("graft").load(root)
    assert(asSet(df) == asSet(st.read().get))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"), plan)
  }

  test("column pruning reaches the scan, masked files included (key projected back out)") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 4)
    st.mergeOnRead(netDf(Seq((5L, "d", None, 10L), (123L, "d", None, 10L))),
      fields, batchId = 1)
    val names = spark.read.format("graft").load(root).select("name")
    assert(names.schema.fieldNames.toSeq == Seq("name"))
    val expected = asSet(st.read().get).map(_._2)
    assert(names.collect().map(_.getString(0)).toSet == expected)
    assert(!expected.contains("n5") && !expected.contains("n123"))
  }

  test("count(*) over a masked store (empty required schema)") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 4)
    st.mergeOnRead(netDf(Seq((5L, "d", None, 10L))), fields, batchId = 1)
    assert(spark.read.format("graft").load(root).count() == 399L)
  }

  test("write: SQL CREATE TABLE + INSERT creates the store; append upserts by key; overwrite recommits") {
    val root = newRoot
    // creation carries the schema through the session catalog (the only
    // path that can: df.write.save() infers schema from the store, which
    // doesn't exist yet)
    spark.sql(s"CREATE TABLE graft_w (id BIGINT, name STRING) USING graft " +
      s"OPTIONS (key 'id', files '4') LOCATION '$root'")
    try {
      spark.sql("INSERT INTO graft_w " +
        "SELECT id, concat('n', id) FROM range(0, 400)")
      val st = new ManifestStore(root, spark, "id")
      assert(st.currentManifest.get.keyField == "id")
      assert(asSet(spark.read.format("graft").load(root)) == asSet(seedDf))
      assert(asSet(spark.table("graft_w")) == asSet(seedDf))

    // append = keyed upsert: 10 replaced, 5 new
    val up = ((0L until 10L).map(i => (i, s"up$i")) ++
      (400L until 405L).map(i => (i, s"new$i"))).toDF("id", "name")
    up.write.format("graft").mode("append").save(root)
    val got = spark.read.format("graft").load(root).select("id", "name")
    assert(got.count() == 405L)
    val gm = got.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gm(3L) == "up3" && gm(402L) == "new402" && gm(11L) == "n11")

    // overwrite replaces contents; the old version still time-travels.
    // the merged table now carries last_ts — supply every table column,
    // standard SQL INSERT discipline
    val vBefore = st.current.get._1
    val tblCols = spark.read.format("graft").load(root).columns
    val over = Seq((1L, "only")).toDF("id", "name")
      .withColumn("last_ts", lit(null).cast("long"))
      .select(tblCols.map(col).toIndexedSeq: _*)
    over.write.format("graft").mode("overwrite").save(root)
    assert(asSet(spark.read.format("graft").load(root)) == Set((1L, "only")))
    assert(st.readVersion(vBefore).get.count() == 405L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_w")
  }

  test("streaming: snapshot then appends-tail; maintenance commits invisible") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 4)

    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("graft_tail")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_tail").count() == 100L)

      // appends-only commit: new files referencing old ones untouched —
      // model it as a manifest-level append (insert-only merge of fresh keys)
      st.merge(netDf((100L until 130L).map(i => (i, "c", Some(s"n$i"), 5L))),
        fields, batchId = 1)
      q.processAllAvailable()
      // fresh keys hit no existing file range: pure adds, tail sees exactly them
      assert(spark.table("graft_tail").count() == 130L)

      // maintenance recluster moves every byte but no data: tail unmoved
      st.recluster(2)
      q.processAllAvailable()
      assert(spark.table("graft_tail").count() == 130L)
    } finally q.stop()
  }

  test("streaming tail reads VECTORIZED, masked snapshot included; small batches demote to rows") {
    def lastBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String =
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
    def drain(tbl: String): (Long, String) = {
      val root = newRoot
      val st = new ManifestStore(root, spark, "id")
      st.commit((0L until 100L).map(i => (i, s"n$i")).toDF("id", "name"),
        batchId = 0, nFiles = 4)
      // the snapshot batch carries a MASKED file: vectorized streaming
      // must route it through the masked columnar reader, not demote
      st.deleteWhere(col("id") === 7L, batchId = 1)
      val q = spark.readStream.format("graft").load(root)
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation",
          Files.createTempDirectory("vtck").toString)
        .start()
      try {
        q.processAllAvailable()
        // a tail epoch after the snapshot: the per-epoch batches
        // vectorize too (fresh keys, pure adds)
        st.merge(netDf((200L until 230L).map(i => (i, "c", Some(s"n$i"), 5L))),
          fields, batchId = 2)
        q.processAllAvailable()
        (spark.table(tbl).count(), lastBatchPlan(q))
      } finally q.stop()
    }
    // this fixture is tiny, so pin minRows=0 to exercise the columnar
    // machinery; the small-batch demotion default has its own test below
    spark.conf.set("spark.graft.read.streamColumnarMinRows", "0")
    val (colCount, colPlan) = try drain("graft_tail_vec_on")
    finally spark.conf.unset("spark.graft.read.streamColumnarMinRows")
    assert(colPlan.contains("ColumnarToRow"),
      s"streaming tail must read vectorized:\n$colPlan")
    assert(colCount == 129L) // 100 - 1 masked + 30 tail adds
    // SMALL-BATCH demotion is the default: this 130-row lifecycle sits
    // far under streamColumnarMinRows (2M), so with no conf at all the
    // stream reads row-mode — the r15 fast path that refunds the
    // vectorized setup constant on trickle epochs — and its masked
    // snapshot row stays masked on the row path. Junk threshold values
    // fall back to the default instead of throwing at planning.
    spark.conf.set("spark.graft.read.streamColumnarMinRows", "junk")
    val (defCount, defPlan) = try drain("graft_tail_vec_def")
    finally spark.conf.unset("spark.graft.read.streamColumnarMinRows")
    assert(!defPlan.contains("ColumnarToRow"),
      s"a tiny batch must demote to row-mode by default:\n$defPlan")
    assert(defCount == colCount)
  }

  test("_file metadata column gives per-row provenance") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 4)
    val t = spark.read.format("graft").load(root)
    assert(!t.columns.contains("_file"), "metadata column must not leak into *")
    val perFile = t.select(col("id"), col("_file"))
      .groupBy("_file").count().collect()
    assert(perFile.length === 4, s"got ${perFile.length} files")
    assert(perFile.map(_.getLong(1)).sum === 400L)
    // filterable (residual evaluation over the spliced constant)
    val one = perFile.head
    assert(t.select(col("id"), col("_file"))
      .filter(col("_file") === one.getString(0)).count() === one.getLong(1))
    // deletion-vector-masked files report provenance for LIVE rows only
    st.deleteWhere(col("id") < 10L, batchId = 1)
    val t2 = spark.read.format("graft").load(root)
    assert(t2.select(col("_file")).count() === 390L)
    assert(t2.select(col("_file")).distinct().count() === 4L)
  }

  test("deletion-vector masked scans stay COLUMNAR") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 4000L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "v"), batchId = 0, nFiles = 8)
    // scattered masks: 4 of 8 files carry a deletion vector, so the
    // pre-r13 whole-scan demotion would put ALL files on the row path
    st.deleteWhere(col("id") % 1000 === 7, batchId = 1)
    assert(new ManifestStore(root, spark, "id").currentManifest.get
      .files.count(_.dv.isDefined) >= 3)
    val t = spark.read.format("graft").load(root)
    t.collect()
    val plan = t.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"masked scan must stay vectorized:\n$plan")
    // exact complement — masked rows dropped inside the batch transform
    assert(t.count() === 3996L)
    assert(t.select("id").as[Long].collect().toSet ===
      (0L until 4000L).filterNot(_ % 1000 == 7).toSet)
    // a projection WITHOUT the key still masks (the reader appends the
    // key into the batch and drops it again after filtering)
    val names = t.select("name").as[String].collect().toSet
    assert(names.size === 3996 && !names.contains("n7") &&
      !names.contains("n2007"))
    // aggregates over the masked columnar scan agree with the complement
    assert(t.agg(sum($"v")).head().getDouble(0) ===
      (0L until 4000L).filterNot(_ % 1000 == 7).map(_.toDouble).sum)
  }

  test("streaming: maxBytesPerTrigger paces the INITIAL SNAPSHOT too") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8) // 400 rows over 8 files
    val oneFile = st.manifest(0).get.files.map(_.bytes).max
    assert(oneFile > 0L)
    // a one-file budget slices the bootstrap into ~8 sub-version batches
    val out = Files.createTempDirectory("snp_out").toString
    val ck = Files.createTempDirectory("snp_ck").toString
    val q = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", oneFile.toString)
      .load(root).writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must self-stop")
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    assert(spark.read.parquet(out).count() === 400L,
      "paced bootstrap must lose and duplicate nothing")
    assert(prog.length >= 4,
      s"a one-file budget must slice the snapshot, got ${prog.length} batches")
    assert(prog.map(_.numInputRows).max <= 150L,
      s"no batch may approach the whole table: ${prog.map(_.numInputRows).toSeq}")

    // a restart MID-SNAPSHOT resumes from the checkpointed slice, and a
    // commit landing mid-bootstrap arrives after the snapshot completes
    val out2 = Files.createTempDirectory("snp_out2").toString
    val ck2 = Files.createTempDirectory("snp_ck2").toString
    def run(trigger: org.apache.spark.sql.streaming.Trigger): Unit = {
      val q2 = spark.readStream.format("graft")
        .option("maxBytesPerTrigger", oneFile.toString)
        .load(root).writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation", ck2).trigger(trigger).start()
      assert(q2.awaitTermination(120000))
    }
    run(org.apache.spark.sql.streaming.Trigger.Once()) // exactly one slice
    val afterOne = spark.read.parquet(out2).count()
    assert(afterOne > 0L && afterOne < 400L,
      s"Trigger.Once must emit one paced slice, got $afterOne")
    st.merge(netDf(Seq((1000L, "c", Some("late"), 9L))), fields, batchId = 1)
    run(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val resumed = spark.read.parquet(out2)
    assert(resumed.count() === 401L && resumed.select("id").distinct()
      .count() === 401L,
      "resume must complete the snapshot exactly once, then tail the merge")
  }

  test("streaming: maxBytesPerTrigger paces the backlog by manifest bytes") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 4)
    // 4 append versions of ~equal size — the backlog to pace
    (1 to 4).foreach { b =>
      st.merge(netDf((100L + (b - 1) * 25 until 100L + b * 25)
        .map(i => (i, "c", Some(s"n$i"), 5L))), fields, batchId = b.toLong)
    }
    // one version's added bytes, computed the way the source does: pure
    // manifest metadata
    val prev = st.manifest(0).get.files.map(_.name).toSet
    val oneVersion = st.manifest(1).get.files
      .filterNot(f => prev(f.name)).map(_.bytes).sum
    assert(oneVersion > 0L)
    def drain(budget: Option[Long]): (Long, Int) = {
      val out = Files.createTempDirectory("mbt_out").toString
      val r = spark.readStream.format("graft")
        .option("startingVersion", "1") // tail the 4 versions individually
      budget.foreach(b => r.option("maxBytesPerTrigger", b.toString))
      val q = r.load(root).writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation",
          Files.createTempDirectory("mbt_ck").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow must self-stop")
      (spark.read.parquet(out).count(),
        q.recentProgress.count(_.numInputRows > 0))
    }
    // a one-version budget admits exactly one version per batch (the
    // second version would blow the budget); nothing is lost to pacing
    val (nPaced, paced) = drain(Some(oneVersion))
    assert(nPaced == 100L, s"paced drain lost rows: $nPaced")
    assert(paced >= 4, s"a one-version budget must pace 4 versions: $paced")
    // uncapped: the whole backlog is one batch
    val (nAll, unpaced) = drain(None)
    assert(nAll == 100L)
    assert(unpaced <= 2, s"uncapped drain should not pace: $unpaced")
    // junk refuses loudly
    val bad = intercept[Exception] {
      spark.readStream.format("graft").option("maxBytesPerTrigger", "0")
        .load(root).writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("mbt_ck0").toString)
        .start().processAllAvailable()
    }
    assert(bad.getMessage != null)
  }

  test("streaming: Trigger.AvailableNow drains the tail and self-stops") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 4)
    st.merge(netDf((100L until 110L).map(i => (i, "c", Some(s"n$i"), 5L))),
      fields, batchId = 1)
    val ckpt = Files.createTempDirectory("avnow_ck").toString
    val out = Files.createTempDirectory("avnow_out").toString
    def run() = spark.readStream.format("graft").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val q = run()
    assert(q.awaitTermination(120000), "AvailableNow query must self-stop")
    assert(spark.read.parquet(out).count() === 110L)
    // the next scheduled run picks up exactly what landed in between
    st.merge(netDf(Seq((500L, "c", Some("late"), 9L))), fields, batchId = 2)
    val q2 = run()
    assert(q2.awaitTermination(120000))
    assert(spark.read.parquet(out).count() === 111L)
  }

  test("streaming: rewriting commits throw without ignoreChanges, pass with it") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 50L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 2)
    def start(opts: Map[String, String]) = {
      val r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(root).writeStream.format("memory")
        .queryName(s"graft_cw_${opts.size}")
        .option("checkpointLocation", Files.createTempDirectory("ck").toString)
        .start()
    }
    val strict = start(Map.empty)
    try {
      strict.processAllAvailable()
      st.merge(netDf(Seq((7L, "u", Some("upd"), 9L))), fields, batchId = 1)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        strict.processAllAvailable()
      }
    } finally strict.stop()

    val lax = start(Map("ignoreChanges" -> "true"))
    try {
      lax.processAllAvailable()
      // snapshot(after update) = 50 rows; rewritten file rows may repeat
      // on later changes but the first batch is just the snapshot
      assert(spark.table("graft_cw_1").count() == 50L)
    } finally lax.stop()
  }

  test("versionAsOf reads an older version through the connector") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 4)
    st.deleteWhere(col("id") < 100L, batchId = 1)
    assert(spark.read.format("graft").load(root).count() == 300L)
    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(root)
    assert(asSet(v0) == asSet(seedDf))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "9").load(root).count()
    }
  }

  test("timestampAsOf resolves at-or-before; boundaries error loudly") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 4)
    Thread.sleep(15) // distinct commit instants (tsMillis granularity)
    st.deleteWhere(col("id") < 100L, batchId = 1)
    val m0 = st.manifest(0L).get
    val m1 = st.manifest(1L).get
    assert(m0.tsMillis < m1.tsMillis, "premise: distinct commit instants")
    def read(ts: String) =
      spark.read.format("graft").option("timestampAsOf", ts).load(root)
    // exactly at v0, and anywhere between the commits → v0
    assert(read(m0.tsMillis.toString).count() == 400L)
    assert(read((m1.tsMillis - 1).toString).count() == 400L)
    // at v1's own instant → v1
    assert(read(m1.tsMillis.toString).count() == 300L)
    // an ISO instant spelling resolves identically
    assert(read(java.time.Instant.ofEpochMilli(m0.tsMillis).toString)
      .count() == 400L)
    // before-creation errors (no silent snap to v0)
    val e1 = intercept[IllegalArgumentException] {
      read((m0.tsMillis - 10).toString).count()
    }
    assert(e1.getMessage.contains("before the first commit"))
    // after-current errors, naming the newest commit
    val e2 = intercept[IllegalArgumentException] {
      read((m1.tsMillis + 60000).toString).count()
    }
    assert(e2.getMessage.contains("after the latest commit"))
    // the two time-travel spellings are mutually exclusive
    val e3 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "0")
        .option("timestampAsOf", m0.tsMillis.toString).load(root).count()
    }
    assert(e3.getMessage.contains("not both"))
    // an unparseable value names the accepted forms
    val e4 = intercept[IllegalArgumentException] {
      read("not-a-time").count()
    }
    assert(e4.getMessage.contains("cannot parse timestampAsOf"))
  }

  test("streaming startingVersion tails from a version, skipping the snapshot") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 100L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 4)
    st.merge(netDf((100L until 130L).map(i => (i, "c", Some(s"n$i"), 5L))),
      fields, batchId = 1)
    val q = spark.readStream.format("graft").option("startingVersion", "1")
      .load(root)
      .writeStream.format("memory").queryName("graft_sv")
      .option("checkpointLocation", Files.createTempDirectory("ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_sv").select("id").collect().map(_.getLong(0)).toSet
      assert(got == (100L until 130L).toSet)
    } finally q.stop()
  }

  test("runtime join-key In filters re-prune the partition list") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8)
    val schema = spark.read.format("graft").load(root).schema
    val scan = new GraftScanBuilder(root, schema, Map("path" -> root))
      .build().asInstanceOf[GraftScan]
    assert(scan.planInputPartitions().length == 8)
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("id"))
    // what Spark hands over when a broadcast join's build side resolves
    // first: the key set, as an In — 3 keys inside one 50-key file range
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(5L, 7L, 40L))))
    assert(scan.planInputPartitions().length == 1)
    // a key from another range widens it to exactly two files
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(5L, 399L))))
    assert(scan.planInputPartitions().length == 2)
  }

  test("SQL DELETE FROM masks rows via deletion vectors in place") {
    val root = newRoot
    spark.sql(s"CREATE TABLE graft_del (id BIGINT, name STRING) USING graft " +
      s"OPTIONS (key 'id', files '4') LOCATION '$root'")
    try {
      spark.sql("INSERT INTO graft_del " +
        "SELECT id, concat('n', id) FROM range(0, 400)")
      val st = new ManifestStore(root, spark, "id")
      val names0 = st.currentManifest.get.files.map(_.name).toSet
      spark.sql("DELETE FROM graft_del WHERE id < 100 OR name = 'n399'")
      assert(spark.table("graft_del").count() == 299L)
      val m = st.currentManifest.get
      // in place: no new data files; the fully-masked 0..99 file dropped,
      // the file holding n399 gained a sidecar
      assert(m.files.map(_.name).toSet.subsetOf(names0))
      assert(m.files.exists(_.dv.isDefined))
      assert(spark.read.format("graft").load(root).count() == 299L)
      // a condition the metadata path can't express now falls through to
      // the row-level delta rewrite (GraftRowOperation) instead of
      // refusing: evens of the surviving 100..398 range go
      spark.sql("DELETE FROM graft_del WHERE id % 2 = 0")
      assert(spark.table("graft_del").count() == 149L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_del")
  }

  test("a many-thousand-value IN prunes flat (regression: stack overflow)") {
    // prunedFiles used to FOLD the IN values into a reduce(_ || _) chain —
    // O(#values) expression DEPTH, which a DPP runtime filter's join-key
    // set (thousands of keys) blew past the driver stack. Now a flat
    // array+exists: depth O(1), width O(#values).
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(spark.range(16000).selectExpr("id", "CAST(id AS STRING) AS v"),
      batchId = 0, nFiles = 16)
    val keys = (0L until 5000L).map(java.lang.Long.valueOf)
    val df = spark.read.format("graft").load(root)
      .filter(col("id").isin(keys: _*))
    assert(df.count() === 5000L)
    val planned = df.rdd.getNumPartitions
    // repartitionByRange samples boundaries, so the 5000-key prefix can
    // straddle 5-7 of the 16 files — the point is it is nowhere near 16
    assert(planned <= 7, s"IN pruning planned $planned of 16 files")
    // past the exact-membership cap: the range ENVELOPE still prunes
    val st2 = new ManifestStore(root, spark, "id")
    val big = (0L until 12000L).filter(_ % 3 != 1) // 8000 values, max 11999
    val pf = st2.prunedFiles(st2.currentManifest.get,
      Seq(("id", "in", big)))
    assert(pf.size <= 14, s"envelope pruning kept ${pf.size} of 16")
  }

  test("dynamic partition pruning reaches the scan through a real join") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 100000L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 16)
    val fact = spark.read.format("graft").load(root)
    val dim = spark.range(100000)
      .select($"id", ($"id" % 1000).as("grp"))
      .filter($"grp" === 7 && $"id" < 2000)
    val joined = fact.join(dim, "id")
    assert(joined.count() == 2L) // ids 7 and 1007
    val plan = joined.queryExecution.executedPlan.toString
    // Spark's PartitionPruning planted a runtime key filter on the scan
    // (served by GraftScan.filter -> manifest stats re-pruning) ...
    assert(plan.contains("dynamicpruningexpression(id"), plan)
    // ... and join-constraint inference even pushed the dim's range as a
    // STATIC pushed filter, so planning-time pruning fires too
    assert(plan.contains("pushed=[LessThan(id,2000)]"), plan)
  }

  test("offset json round-trips; paced-snapshot offsets stay legacy-compatible") {
    assert(GraftOffset.parse(GraftOffset(42L).json()) == GraftOffset(42L))
    assert(GraftOffset.parse("""{"version": -1}""") == GraftOffset(-1L))
    // an UNPACED offset's json is byte-identical to the legacy form, so
    // pre-r14 checkpoints resume unchanged
    assert(GraftOffset(42L).json() == """{"version":42}""")
    // mid-snapshot offsets carry the emitted-file count
    assert(GraftOffset.parse(GraftOffset(7L, 3L).json()) == GraftOffset(7L, 3L))
    assert(GraftOffset(7L, 3L).json() == """{"version":7,"snap":3}""")
    intercept[IllegalArgumentException](GraftOffset.parse("""{"v":1}"""))
  }

  test("scan reports pruned-size statistics to catalyst") {
    val root = newRoot
    val st = new ManifestStore(root, spark, "id")
    st.commit(seedDf, batchId = 0, nFiles = 8)
    // join against a "small" graft scan must broadcast it: stats flow
    val dim = spark.read.format("graft").load(root).filter(col("id") < 50L)
    val fact = (0L until 400L).map(i => (i, i % 50L)).toDF("fid", "id")
    val joined = fact.join(dim, "id")
    assert(joined.count() == 400L)
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }
}
