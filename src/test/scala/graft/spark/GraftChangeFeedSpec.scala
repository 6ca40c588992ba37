package graft.spark

import graft.SparkSpec
import graft.cdc.{Changelog, ManifestStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Change data feed: commit-time capture ([[graft.cdc.ManifestStore]]'s
  * cdf=true change files) read back through
  * `format("graft").option("readChangeFeed", "true")` — batch version
  * ranges and the streaming source — with Delta's CDF change types and
  * ground-truth semantics (what actually changed, not what upstream
  * claimed).
  */
class GraftChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("id", "name")

  private def store(cdf: Boolean = true) = {
    val st = new ManifestStore(
      Files.createTempDirectory("cdfstore").toString, spark, "id")
    if (cdf) st.enableChangeFeed()
    st
  }

  private def netDf(rows: Seq[(Long, String, Option[String], Long)]) =
    rows.map { case (id, op, name, ts) =>
      (id, op, if (op == "d") None else Some(id), name, ts)
    }.toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
      Changelog.TsCol)
      .withColumn("after_id", col("after_id").cast("long"))

  private def seedDf = (0L until 100L).map(i => (i, s"n$i")).toDF("id", "name")

  private def feed(root: String, sv: Long, ev: Long): DataFrame =
    spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", sv.toString)
      .option("endingVersion", ev.toString)
      .load(root)

  private def rowsOf(df: DataFrame): Set[(Long, String, String, Long)] =
    df.select(col("id"), coalesce(col("name"), lit("∅")),
      col("_change_type"), col("_commit_version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  test("merge commit captures ground-truth change types; batch range read") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 4)
    // v1: update existing 0,1 — claimed as 'c' and 'u' (both must surface
    // as updates), insert fresh 200 claimed as 'u' (must surface as
    // insert), delete existing 2, delete ABSENT 999 (must emit nothing)
    st.merge(netDf(Seq(
      (0L, "c", Some("v0"), 100L), (1L, "u", Some("v1"), 100L),
      (200L, "u", Some("fresh"), 100L),
      (2L, "d", None, 100L), (999L, "d", None, 100L))), fields, batchId = 1)
    // v2: deleteWhere masks a range
    st.deleteWhere(col("id").between(10L, 12L), batchId = 2)
    val m1 = st.manifest(1L).get
    assert(m1.cdcFile.exists(_.nonEmpty) && m1.cdcRows == 6L,
      s"v1 must capture 6 feed rows (2 pre + 2 post + 1 insert + 1 delete), got $m1")

    val f1 = rowsOf(feed(st.root, 1, 1))
    assert(f1 == Set(
      (0L, "n0", "update_preimage", 1L), (0L, "v0", "update_postimage", 1L),
      (1L, "n1", "update_preimage", 1L), (1L, "v1", "update_postimage", 1L),
      (2L, "n2", "delete", 1L),
      (200L, "fresh", "insert", 1L)))
    val f2 = rowsOf(feed(st.root, 2, 2))
    assert(f2 == Set((10L, "n10", "delete", 2L), (11L, "n11", "delete", 2L),
      (12L, "n12", "delete", 2L)))
    // the full range is the union, each row stamped with its version
    assert(rowsOf(feed(st.root, 1, 2)) == (f1 ++ f2))
  }

  test("batch feed reads COLUMNAR: change files, snapshot parts, masked parts") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 4)
    st.merge(netDf(Seq(
      (0L, "u", Some("v0"), 100L), (300L, "c", Some("fresh"), 100L))),
      fields, batchId = 1)
    st.deleteWhere(col("id").between(5L, 7L), batchId = 2)
    // from the beginning (startingTimestamp 0 resolves to the initial
    // snapshot): data files with constant-appended CDF columns + captured
    // change files, one vectorized scan
    def fromStart(r: String) = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "0").load(r)
    val df = fromStart(st.root)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"batch feed must read vectorized:\n$plan")
    val rows = rowsOf(df)
    // snapshot-as-inserts at v0 covers ALL 100 seed keys (the masked
    // version only affects the PRESENT table, not v0's images)
    assert(rows.count(_._3 == "insert") === 101) // 100 seed + 1 fresh
    assert(rows.filter(_._4 == 2L) === Set(
      (5L, "n5", "delete", 2L), (6L, "n6", "delete", 2L),
      (7L, "n7", "delete", 2L)))
    assert(rows((0L, "v0", "update_postimage", 1L)))
    // the pruned form (no CDF metadata columns) stays columnar and exact
    val pruned = fromStart(st.root).select("id", "name")
    pruned.collect()
    assert(pruned.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(pruned.count() === rows.size.toLong)
    // MASKED snapshot parts (a clone carries the source's DV sidecars as
    // its own version 0): the columnar feed must subtract them too
    val cloneRoot = Files.createTempDirectory("cdfclone").toString + "/c"
    st.cloneTo(cloneRoot)
    val cf = fromStart(cloneRoot)
    cf.collect()
    assert(cf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "masked snapshot parts must batch too")
    val cRows = rowsOf(cf)
    assert(cRows.size === 98, s"clone feed: ${cRows.size}") // 101 - 3 masked
    assert(!cRows.exists(r => r._1 >= 5L && r._1 <= 7L))
    assert(cRows.forall(_._3 == "insert"))
  }

  test("merge-on-read commits capture the same feed as copy-on-write") {
    val stCow = store(); val stMor = store()
    val net = netDf(Seq(
      (0L, "u", Some("upd"), 50L), (300L, "c", Some("new"), 50L),
      (5L, "d", None, 50L)))
    stCow.commit(seedDf, batchId = 0, nFiles = 4)
    stMor.commit(seedDf, batchId = 0, nFiles = 4)
    stCow.merge(net, fields, batchId = 1)
    stMor.mergeOnRead(net, fields, batchId = 1)
    val a = rowsOf(feed(stCow.root, 1, 1))
    val b = rowsOf(feed(stMor.root, 1, 1))
    assert(a == b && a.nonEmpty, s"CoW $a vs MoR $b")
    assert(a == Set(
      (0L, "n0", "update_preimage", 1L), (0L, "upd", "update_postimage", 1L),
      (300L, "new", "insert", 1L), (5L, "n5", "delete", 1L)))
  }

  test("ts-guarded-out events leave no feed rows; empty feed is not an error") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    st.merge(netDf(Seq((7L, "u", Some("t100"), 100L))), fields, batchId = 1)
    // a STALE batch: guard drops it entirely — the commit records the
    // empty-feed marker and the reader emits nothing rather than failing
    st.merge(netDf(Seq((7L, "u", Some("t10"), 10L))), fields, batchId = 2)
    assert(st.manifest(2L).get.cdcFile.contains(""))
    assert(feed(st.root, 2, 2).count() === 0L)
    assert(rowsOf(feed(st.root, 1, 2)).map(_._2).contains("t100"))
  }

  test("pre-capture merge versions fail loudly; appends stream as inserts") {
    val st = store(cdf = false) // capture OFF
    st.commit(seedDf, batchId = 0, nFiles = 2)
    // append-only merge (fresh keys): knowable without capture -> inserts
    st.merge(netDf(Seq((500L, "c", Some("a"), 1L), (501L, "c", Some("b"), 1L))),
      fields, batchId = 1)
    assert(rowsOf(feed(st.root, 1, 1)) ==
      Set((500L, "a", "insert", 1L), (501L, "b", "insert", 1L)))
    // a real merge without capture: refuse, naming the fix
    st.merge(netDf(Seq((0L, "u", Some("x"), 5L))), fields, batchId = 2)
    val err = intercept[Exception](feed(st.root, 2, 2).collect())
    assert(err.getMessage.contains("cdf=true"))
    // ...unless the caller opts into append-approximation
    val approx = spark.read.format("graft")
      .option("readChangeFeed", "true").option("ignoreChanges", "true")
      .option("startingVersion", "2").load(st.root)
    assert(approx.select("_change_type").distinct().as[String].collect()
      .toSet == Set("insert"))
  }

  test("streaming feed: snapshot as inserts, then merge+delete epochs arrive") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 4)
    val tbl = s"cdf_stream_${math.abs(st.root.hashCode)}"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(st.root)
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("cdfck").toString)
      .start()
    try {
      q.processAllAvailable()
      val snap = spark.table(tbl)
      assert(snap.count() === 100L)
      assert(snap.select("_change_type").distinct().as[String].collect()
        .toSet == Set("insert"))
      // MID-STREAM: a merge epoch and a delete epoch land on the table
      st.merge(netDf(Seq((3L, "u", Some("mid"), 100L),
        (400L, "c", Some("new"), 100L))), fields, batchId = 1)
      st.deleteWhere(col("id") === 4L, batchId = 2)
      q.processAllAvailable()
      val got = rowsOf(spark.table(tbl).filter(col("_commit_version") > 0L))
      assert(got == Set(
        (3L, "n3", "update_preimage", 1L), (3L, "mid", "update_postimage", 1L),
        (400L, "new", "insert", 1L), (4L, "n4", "delete", 2L)))
    } finally q.stop()
  }

  test("streaming feed reads VECTORIZED; small batches demote to rows; rows identical") {
    def lastBatchPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String =
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
    // one FRESH store per drain so both runs see the identical history
    def drain(tbl: String): (Set[(Long, String, String, Long)], String) = {
      val st = store()
      st.commit(seedDf, batchId = 0, nFiles = 4)
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "0").load(st.root)
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation",
          Files.createTempDirectory("cdfvck").toString)
        .start()
      try {
        q.processAllAvailable()
        // a merge epoch lands mid-stream so the LAST batch is a captured
        // change file — the vectorization claim must cover change-file
        // parts, not just the snapshot batch
        st.merge(netDf(Seq((7L, "u", Some("vec"), 100L))), fields,
          batchId = 1)
        q.processAllAvailable()
        (rowsOf(spark.table(tbl)), lastBatchPlan(q))
      } finally q.stop()
    }
    // tiny fixture: pin minRows=0 to exercise the columnar machinery
    // (the small-batch demotion default is asserted after)
    spark.conf.set("spark.graft.read.streamColumnarMinRows", "0")
    val (colRows, colPlan) = try drain("cdf_vec_on")
    finally spark.conf.unset("spark.graft.read.streamColumnarMinRows")
    assert(colPlan.contains("ColumnarToRow"),
      s"streaming feed must read vectorized:\n$colPlan")
    assert(colRows.nonEmpty &&
      colRows.count(_._3 == "update_postimage") == 1)
    // SMALL-BATCH demotion is the default (r15): with no conf set, this
    // few-hundred-row feed sits far under streamColumnarMinRows (2M) and
    // reads row-mode — identical rows, none of the vectorized setup bill
    val (defRows, defPlan) = drain("cdf_vec_def")
    assert(!defPlan.contains("ColumnarToRow"),
      s"a tiny feed batch must demote to row-mode by default:\n$defPlan")
    assert(defRows == colRows)
  }

  test("feed captured before a RENAME COLUMN reads fully after it") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    st.merge(netDf(Seq((0L, "u", Some("preRename"), 10L))), fields,
      batchId = 1)
    // rename name -> label: change files carry PHYSICAL names, so the
    // v1 capture must still answer under the new logical name
    st.renameColumn("name", "label")
    val net2 = Seq((1L, "u", Some(1L), "postRename", 20L))
      .toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_label",
        Changelog.TsCol)
    st.merge(net2, Seq("id", "label"), batchId = 2)
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load(st.root)
    val got = feed.filter(col("_change_type") === "update_postimage")
      .select(col("id"), col("label"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((0L, "preRename", 1L), (1L, "postRename", 3L)),
      s"pre-rename capture must survive the mapping, got $got")
  }

  test("startingTimestamp resolves to the first commit at or after it") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    Thread.sleep(5L)
    val beforeV1 = System.currentTimeMillis()
    st.merge(netDf(Seq((0L, "u", Some("v1"), 10L))), fields, batchId = 1)
    Thread.sleep(5L)
    st.merge(netDf(Seq((1L, "u", Some("v2"), 20L))), fields, batchId = 2)
    // a timestamp just before v1's commit: both merges' changes, no snapshot
    val feed = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", beforeV1.toString).load(st.root)
    assert(feed.select("_commit_version").distinct().as[Long].collect()
      .toSet == Set(1L, 2L))
    // a timestamp after everything: a clear error
    val err = intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp",
        (System.currentTimeMillis() + 3600000L).toString)
      .load(st.root).collect())
    assert(err.getMessage.contains("after the latest commit"))
    // both start options together: refused
    val err2 = intercept[Exception](spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("startingTimestamp", beforeV1.toString)
      .load(st.root).collect())
    assert(err2.getMessage.contains("not both"))
  }

  test("maintenance delete with a captured change file still feeds its deletes") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    st.merge(netDf(Seq((0L, "u", Some("v1"), 10L))), fields, batchId = 1)
    // retention expiry interleaved with the ingest lineage: KEEPS the
    // parent's (batchId, streamId) — the lineage heuristic alone would
    // classify it as maintenance and silently skip its deletes
    val stats = st.deleteWhereMaintenance(col("id").between(20L, 22L))
    assert(stats.exists(_.maskedRows == 3L))
    val f = rowsOf(feed(st.root, 2, 2))
    assert(f == Set((20L, "n20", "delete", 2L), (21L, "n21", "delete", 2L),
      (22L, "n22", "delete", 2L)),
      s"a maintenance delete's captured feed rows must surface, got $f")
    // a TRUE maintenance commit (no data change) still contributes nothing
    st.optimize(targetFiles = 1)
    assert(feed(st.root, 3, 3).count() === 0L)
  }

  test("batch startingTimestamp at table creation emits version 0 as inserts") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    st.merge(netDf(Seq((0L, "u", Some("v1"), 10L))), fields, batchId = 1)
    // epoch 0 resolves to version 0 = "from the very beginning": the
    // initial snapshot arrives as insert rows (Delta's CDF batch shape),
    // then the feed — not a confusing range-require failure
    val f = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "0").load(st.root)
    val byType = f.groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(byType("insert") == 100L, s"expected the 100-row snapshot, got $byType")
    assert(rowsOf(f.filter(col("_commit_version") === 1L)) == Set(
      (0L, "n0", "update_preimage", 1L), (0L, "v1", "update_postimage", 1L)))
  }

  test("feed column pruning reads only the requested columns, both reader kinds") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    st.merge(netDf(Seq((0L, "u", Some("v1"), 100L),
      (300L, "c", Some("ins"), 100L), (1L, "d", None, 100L))), fields,
      batchId = 1)
    // change-file partitions, pruned to (id, _change_type)
    val pruned = feed(st.root, 1, 1).select("id", "_change_type")
    assert(pruned.queryExecution.executedPlan.toString.contains("cols=["),
      "the scan description must show the pruned column set")
    assert(pruned.as[(Long, String)].collect().toSet === Set(
      (0L, "update_preimage"), (0L, "update_postimage"),
      (300L, "insert"), (1L, "delete")))
    // metadata-only projection
    assert(feed(st.root, 1, 1).select("_commit_version").distinct()
      .as[Long].collect().toSeq === Seq(1L))
    // snapshot partitions (timestamp-resolved version 0) prune too
    val snap = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "0").load(st.root)
      .select("id", "_change_type")
    assert(snap.filter(col("_change_type") === "insert").count() === 101L)
    // data column without any metadata column
    assert(feed(st.root, 1, 1).select("name").count() === 4L)
  }

  test("streaming CDF prunes to the `columns` option: two-column stream " +
      "of a wide table reads two columns") {
    val st = store()
    // a WIDE table: the stream wants two data columns. Spark's optimizer
    // never calls pruneColumns on a micro-batch scan (the projection sits
    // ABOVE a full-width read — pinned below), so the subset is declared
    // at load time with the `columns` option; batch CDF reads prune
    // automatically and need no option.
    val wide = (0L until 50L).map { i =>
      (i, s"n$i", s"a$i", s"b$i", s"c$i", s"d$i", s"e$i", s"f$i", s"g$i",
        s"h$i", s"i$i", s"j$i")
    }.toDF("id", "name", "w1", "w2", "w3", "w4", "w5", "w6", "w7", "w8",
      "w9", "w10")
    st.commit(wide, batchId = 0, nFiles = 2)
    def run(opts: Map[String, String], name: String): String = {
      val ck = java.nio.file.Files.createTempDirectory("cdfprune").toString
      var r = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(st.root)
        .select("id", "_change_type")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck).start()
      try {
        q.processAllAvailable()
        org.apache.spark.sql.graft.StreamingPlanBridge.lastExecutedPlan(q)
      } finally q.stop()
    }
    // without the option: Spark leaves the scan full-width (the
    // limitation this knob exists for)
    val planFull = run(Map.empty, "graft_cdf_prune_full")
    assert(planFull.contains("w7"),
      s"premise: micro-batch scans don't prune through the optimizer:\n$planFull")
    // with it: the scan itself is two data columns + the metadata column
    val planPruned = run(Map("columns" -> "id"), "graft_cdf_prune")
    assert(!planPruned.contains("w7") && !planPruned.contains("name#"),
      s"the micro-batch scan must not read unselected columns:\n$planPruned")
    val got = spark.table("graft_cdf_prune").as[(Long, String)]
      .collect().toSet
    assert(got === (0L until 50L).map(i => (i, "insert")).toSet)
    // the tail source honors the same option
    val ck2 = java.nio.file.Files.createTempDirectory("tailprune").toString
    val q2 = spark.readStream.format("graft").option("columns", "id,name")
      .load(st.root)
      .writeStream.format("memory").queryName("graft_tail_prune")
      .option("checkpointLocation", ck2).start()
    try {
      q2.processAllAvailable()
      val p2 = org.apache.spark.sql.graft.StreamingPlanBridge
        .lastExecutedPlan(q2)
      assert(!p2.contains("w7"), s"tail stream must prune too:\n$p2")
      assert(spark.table("graft_tail_prune").columns.toSeq ===
        Seq("id", "name"))
      assert(spark.table("graft_tail_prune").count() === 50L)
    } finally q2.stop()
    // unknown names refuse loudly
    val e = intercept[Exception](spark.read.format("graft")
      .option("columns", "nope").load(st.root).count())
    assert(e.getMessage.contains("unknown columns"))
  }

  test("maxRowsPerTrigger paces the CDF initial snapshot; feed follows") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 4) // 100 rows over 4 files
    val ck = java.nio.file.Files.createTempDirectory("cdfsnap").toString
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("maxRowsPerTrigger", "30")
      .load(st.root)
      .writeStream.format("memory").queryName("cdf_paced_snap")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable() // the bootstrap: ~25-row sub-version slices
      val snapBatches = q.recentProgress.filter(_.numInputRows > 0)
      assert(snapBatches.length >= 3,
        s"a 30-row budget must slice the 100-row snapshot: ${snapBatches.length}")
      assert(snapBatches.map(_.numInputRows).max <= 60L,
        s"no bootstrap batch may approach the table: " +
          snapBatches.map(_.numInputRows).toSeq)
      st.merge(netDf(Seq((5L, "u", Some("v1"), 100L))), fields, batchId = 1)
      q.processAllAvailable() // the captured feed follows the bootstrap
      val t = spark.table("cdf_paced_snap")
      assert(t.count() === 102L) // 100 snapshot inserts + the update pair
      // every snapshot slice is stamped with the PINNED version
      assert(t.filter(col("_change_type") === "insert")
        .select("_commit_version").distinct().as[Long].collect()
        .toSeq === Seq(0L))
      assert(rowsOf(t.filter(col("_commit_version") === 1L)) === Set(
        (5L, "n5", "update_preimage", 1L), (5L, "v1", "update_postimage", 1L)))
    } finally q.stop()
  }

  test("maxVersionsPerTrigger bounds each micro-batch to N commits") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    (1 to 4).foreach(i => st.merge(
      netDf(Seq((i.toLong, "u", Some(s"e$i"), i * 10L))), fields,
      batchId = i))
    val tbl = s"cdf_rate_${math.abs(st.root.hashCode)}"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .load(st.root)
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("cdfrl").toString)
      .start()
    try {
      q.processAllAvailable()
      // every epoch arrives (2 rows each: pre + post)...
      assert(spark.table(tbl).count() === 8L)
      // ...but admission control split the backlog into >= 4 micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
        s"expected >= 4 rate-limited batches, got " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("filter-excluded versions ride free through paced admission") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    (1 to 8).foreach(i => st.merge(
      netDf(Seq((i.toLong, "u", Some(s"e$i"), i * 10L))), fields,
      batchId = i))
    // a version-filtered catch-up: only versions > 6 match. With
    // maxVersionsPerTrigger=1, the excluded versions 1..6 must ride
    // free through admission (they plan EMPTY) instead of burning one
    // trigger round each — the r15 feed sibling of the paced-snapshot
    // skip-ahead.
    val tbl = s"cdf_free_${math.abs(st.root.hashCode)}"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .option("pruneFilter", "_commit_version > 6")
      .load(st.root)
      .filter(col("_commit_version") > 6L)
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("cdffree").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(rowsOf(spark.table(tbl)) === Set(
        (7L, "n7", "update_preimage", 7L), (7L, "e7", "update_postimage", 7L),
        (8L, "n8", "update_preimage", 8L), (8L, "e8", "update_postimage", 8L)))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 2,
        s"two contributing versions -> two paced batches, got $dataBatches " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      assert(q.recentProgress.length <= 4,
        s"excluded versions must not burn trigger rounds: " +
          s"${q.recentProgress.length} rounds for 2 contributing of 8")
    } finally q.stop()
  }

  test("NON-key-filtered catch-up: captures with disjoint column stats " +
    "ride admission free; 2 matching versions drain in 2 paced batches") {
    // r16: captures record per-column min/max for the table's zone-map
    // columns, so a consumer filtered on a NON-key column free-rides
    // captured versions whose stats exclude the filter — previously
    // only the captured KEY range could cut, and a non-key filter paid
    // one trigger round per captured version under pacing.
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2, statsCols = Seq("name"))
    (1 to 6).foreach { i =>
      val nm = if (i % 3 == 0) s"zz$i" else s"e$i"
      st.merge(netDf(Seq((i.toLong, "u", Some(nm), i * 10L))), fields,
        batchId = i)
    }
    // fixture: the captures really carry non-key column stats, and the
    // matching/non-matching split is what the admission cut will see
    val m3 = st.manifest(3L).get
    val m4 = st.manifest(4L).get
    assert(m3.cdcCols.get("name").exists(_._2 >= "zz"),
      s"v3's capture must record a zz-reaching name range: ${m3.cdcCols}")
    assert(m4.cdcCols.get("name").exists(_._2 < "zz"),
      s"v4's capture range must exclude zz: ${m4.cdcCols}")
    val tbl = s"cdf_nonkey_${math.abs(st.root.hashCode)}"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .option("pruneFilter", "name >= 'zz'")
      .load(st.root)
      .filter(col("name") >= "zz") // pruneFilter is advisory: re-filter
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("cdfnonkey").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(rowsOf(spark.table(tbl)) === Set(
        (3L, "zz3", "update_postimage", 3L),
        (6L, "zz6", "update_postimage", 6L)))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 2,
        s"two matching captures -> two paced batches, got $dataBatches " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      assert(q.recentProgress.length <= 4,
        s"stat-excluded captures must not burn trigger rounds: " +
          s"${q.recentProgress.length} rounds for 2 matching of 6")
    } finally q.stop()
  }

  test("RENAME-aware capture stats: a filtered catch-up keeps its free " +
    "ride over PRE-RENAME captures") {
    // r17: capture column stats are keyed by PHYSICAL name (stable
    // across RENAME), and the admission cut now resolves the consumer's
    // current-logical conjuncts through the WALK-END manifest's mapping
    // — so captures recorded under the old name still ride free. Before,
    // the capture-time schema lookup missed the renamed column and every
    // pre-rename capture burned a trigger round (on a long-lived feed
    // that's most of the history).
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2, statsCols = Seq("name"))
    (1 to 6).foreach { i =>
      val nm = if (i % 3 == 0) s"zz$i" else s"e$i"
      st.merge(netDf(Seq((i.toLong, "u", Some(nm), i * 10L))), fields,
        batchId = i)
    }
    st.renameColumn("name", "label") // v7: metadata-only, rides free
    val tbl = s"cdf_ren_${math.abs(st.root.hashCode)}"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .option("pruneFilter", "label >= 'zz'")
      .load(st.root)
      .filter(col("label") >= "zz") // pruneFilter is advisory: re-filter
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("cdfren").toString)
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table(tbl)
        .filter(col("_change_type") === "update_postimage")
        .select(col("id"), col("label"), col("_commit_version"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got === Set((3L, "zz3", 3L), (6L, "zz6", 6L)),
        s"pre-rename captures must answer under the new name, got $got")
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 2,
        s"two matching captures -> two paced batches, got $dataBatches " +
          q.recentProgress.map(_.numInputRows).mkString(","))
      assert(q.recentProgress.length <= 4,
        s"pre-rename stat-excluded captures must not burn trigger " +
          s"rounds: ${q.recentProgress.length} rounds for 2 matching of 6")
    } finally q.stop()
  }

  test("admission verdicts memoize: ONE capture cut per version across " +
    "a whole paced drain") {
    // r17: latestOffset re-walks the remaining backlog every trigger;
    // without the memo a k-version filtered backlog under 1-version
    // pacing pays O(k^2/2) capture cuts across the drain (plus the
    // planning estimate's re-walk). The memo pins exactly one cut per
    // captured version for the stream's whole life.
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2, statsCols = Seq("name"))
    (1 to 8).foreach { i =>
      val nm = if (i % 3 == 0) s"zz$i" else s"e$i"
      st.merge(netDf(Seq((i.toLong, "u", Some(nm), i * 10L))), fields,
        batchId = i)
    }
    val before = GraftCdfMicroBatchStream.admissionPrunes.get()
    val tbl = s"cdf_memo_${math.abs(st.root.hashCode)}"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .option("pruneFilter", "name >= 'zz'")
      .load(st.root)
      .filter(col("name") >= "zz")
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("cdfmemo").toString)
      .start()
    try {
      q.processAllAvailable()
      val cuts = GraftCdfMicroBatchStream.admissionPrunes.get() - before
      assert(cuts == 8L,
        s"8 captured versions must cost exactly 8 admission cuts across " +
          s"the whole drain (memoized), measured $cuts")
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches == 2, // v3, v6 match ('zz3','zz6'; 8 % 3 != 0)
        s"two matching captures -> two paced batches, got $dataBatches")
    } finally q.stop()
  }

  test("maxRowsPerTrigger paces the feed by manifest row counts") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    // 4 captured versions of 2 feed rows each (pre + post per update)
    (1 to 4).foreach(i => st.merge(
      netDf(Seq((i.toLong, "u", Some(s"e$i"), i * 10L))), fields,
      batchId = i))
    def drain(budget: Option[Long]): (Long, Int) = {
      val tbl = s"cdf_rows_${math.abs(st.root.hashCode)}_${budget.getOrElse(0L)}"
      val r = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
      budget.foreach(b => r.option("maxRowsPerTrigger", b.toString))
      val q = r.load(st.root)
        .writeStream.format("memory").queryName(tbl)
        .option("checkpointLocation",
          Files.createTempDirectory("cdfrows").toString)
        .start()
      try {
        q.processAllAvailable()
        (spark.table(tbl).count(),
          q.recentProgress.count(_.numInputRows > 0))
      } finally q.stop()
    }
    // a 2-row budget admits exactly one version per batch; nothing lost
    val (nPaced, paced) = drain(Some(2L))
    assert(nPaced === 8L, s"paced drain lost rows: $nPaced")
    assert(paced >= 4, s"a 2-row budget must pace 4 versions: $paced")
    // uncapped: the backlog is one batch
    val (nAll, unpaced) = drain(None)
    assert(nAll === 8L)
    assert(unpaced <= 2, s"uncapped drain should not pace: $unpaced")
  }

  test("re-applying the feed through the native sink reproduces the table") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 4)
    st.merge(netDf(Seq((0L, "u", Some("upd0"), 100L),
      (250L, "c", Some("ins"), 100L))), fields, batchId = 1)
    st.deleteWhere(col("id").between(20L, 29L), batchId = 2)
    st.merge(netDf(Seq((1L, "u", Some("upd1"), 200L))), fields, batchId = 3)
    // downstream replica: stream the feed, drop preimages, map Delta's
    // change types onto the changelog ops the sink's opcol understands
    val dst = Files.createTempDirectory("cdfdst").toString
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(st.root)
      .filter(col("_change_type") =!= "update_preimage")
      .select(col("id"), col("name"),
        when(col("_change_type") === "delete", "d").otherwise("u").as("op"),
        col("_commit_version").as("last_ts"))
      .writeStream.format("graft")
      .option("key", "id").option("opcol", "op")
      .option("checkpointLocation",
        Files.createTempDirectory("cdfdstck").toString)
      .start(dst)
    try q.processAllAvailable() finally q.stop()
    val replica = spark.read.format("graft").load(dst)
      .select("id", "name").as[(Long, String)].collect().toSet
    val source = st.read().get
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(replica == source)
  }

  test("Trigger.AvailableNow drains the feed in paced batches, then stops") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 2)
    (1 to 3).foreach(i => st.merge(
      netDf(Seq((i.toLong, "u", Some(s"a$i"), i * 10L))), fields,
      batchId = i))
    val ckpt = Files.createTempDirectory("cdfan_ck").toString
    val out = Files.createTempDirectory("cdfan_out").toString
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .load(st.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    val q = run()
    // AvailableNow terminates BY ITSELF once the prepared horizon drains
    assert(q.awaitTermination(120000), "AvailableNow query must self-stop")
    assert(spark.read.parquet(out).count() === 6L) // 3 epochs x (pre+post)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      s"expected >= 3 paced batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    // a fresh AvailableNow run resumes from the checkpoint and drains
    // exactly the commits that landed after the first run
    st.merge(netDf(Seq((7L, "u", Some("late"), 99L))), fields, batchId = 9)
    val q2 = run()
    assert(q2.awaitTermination(120000))
    assert(spark.read.parquet(out).count() === 8L,
      "second drain must add just the late epoch's pre+post images")
  }

  test("restore on a CDF table captures the keyed diff as feed rows") {
    val st = store()
    st.commit(seedDf, batchId = 0, nFiles = 4) // v0: ids 0..99
    // v1: update 0, insert 200, delete 1
    st.merge(netDf(Seq(
      (0L, "u", Some("v1"), 100L), (200L, "u", Some("fresh"), 100L),
      (1L, "d", None, 100L))), fields, batchId = 1)
    // v2: restore to v0 — the diff UNDOES v1: 0 back to n0 (update),
    // 200 gone (delete), 1 back (insert)
    val v = st.restore(0L)
    assert(v === 2L)
    assert(rowsOf(feed(st.root, 2, 2)) === Set(
      (0L, "v1", "update_preimage", 2L),
      (0L, "n0", "update_postimage", 2L),
      (200L, "fresh", "delete", 2L),
      (1L, "n1", "insert", 2L)))
    // content is v0's again; history (and its feed) intact
    assert(st.read().get.count() === 100L)
    assert(rowsOf(feed(st.root, 1, 1))
      .exists(_ == (200L, "fresh", "insert", 1L)))
    // restore on a NON-cdf table is pure metadata and still correct
    val plain = store(cdf = false)
    plain.commit(seedDf, batchId = 0, nFiles = 2)
    plain.merge(netDf(Seq((5L, "d", None, 50L))), fields, batchId = 1)
    assert(plain.read().get.count() === 99L)
    plain.restore(0L)
    assert(plain.read().get.count() === 100L)
  }

  // ------------------------------------------------ filter pushdown (r14)

  /** A 4-version pushdown fixture: v0 snapshot ids 0..99 over 4
    * key-clustered files, v1 appends 500..549 (uncaptured, classifies
    * append-only), v2 appends 600..649, v3 a captured delete of ids 0..4.
    */
  private def pushdownStore(): ManifestStore = {
    val st = store(cdf = false)
    st.commit(seedDf, batchId = 0, nFiles = 4)
    st.merge(netDf((500L until 550L).map(i => (i, "c", Some(s"a$i"), 1L))),
      fields, batchId = 1)
    st.merge(netDf((600L until 650L).map(i => (i, "c", Some(s"b$i"), 2L))),
      fields, batchId = 2)
    st.enableChangeFeed()
    st.deleteWhere(col("id") < 5L, batchId = 3)
    st
  }

  private def partsOf(df: DataFrame): Int =
    df.queryExecution.executedPlan.execute().getNumPartitions

  test("pushed filters prune planned feed partitions; answers stay exact") {
    val st = pushdownStore()
    def feed0(f: DataFrame => DataFrame): DataFrame =
      f(spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingTimestamp", "0").load(st.root))
    val all = partsOf(feed0(identity))
    val cdcParts = all - 6 // 4 snapshot + 1 + 1 append files
    assert(cdcParts >= 1, s"premise: v3 contributes change parts, all=$all")

    // data-column zone maps cut snapshot files AND out-of-range appends
    val keyed = feed0(_.filter(col("id") <= 10L))
    assert(partsOf(keyed) === 1 + cdcParts,
      "ids<=10 must keep 1 of 4 snapshot files and no append file")
    assert(rowsOf(keyed) === ((0L to 10L).map(i => (i, s"n$i", "insert", 0L))
      ++ (0L until 5L).map(i => (i, s"n$i", "delete", 3L))).toSet)

    // a _commit_version envelope cuts whole versions
    val v2only = feed0(_.filter(col("_commit_version") === 2L))
    assert(partsOf(v2only) === 1, "version=2 keeps exactly v2's append file")
    assert(rowsOf(v2only) ===
      (600L until 650L).map(i => (i, s"b$i", "insert", 2L)).toSet)
    assert(partsOf(feed0(_.filter(col("_commit_version") >= 1L &&
      col("_commit_version") < 3L))) === 2)

    // a _change_type predicate that excludes `insert` skips every
    // snapshot/append partition
    val dels = feed0(_.filter(col("_change_type") === "delete"))
    assert(partsOf(dels) === cdcParts,
      "deletes-only must plan only v3's change-file parts")
    assert(rowsOf(dels) ===
      (0L until 5L).map(i => (i, s"n$i", "delete", 3L)).toSet)
    assert(partsOf(feed0(_.filter(col("_change_type")
      .isin("update_preimage", "update_postimage")))) === cdcParts)

    // conjuncts compose; disjuncts mixing metadata and data columns
    // disable the cut rather than prune wrongly
    assert(partsOf(feed0(_.filter(col("_change_type") === "delete" &&
      col("_commit_version") === 1L))) === 0)
    val mixed = feed0(_.filter(col("_change_type") === "delete" ||
      col("id") === 600L))
    assert(partsOf(mixed) === all, "an OR across columns must not prune")
    assert(rowsOf(mixed) === ((0L until 5L).map(i => (i, s"n$i", "delete", 3L))
      :+ ((600L, "b600", "insert", 2L))).toSet)

    // explicit version ranges intersect with the pushed envelope
    assert(partsOf(feed(st.root, 1, 3)
      .filter(col("_commit_version") === 2L)) === 1)
  }

  test("captured key ranges skip whole versions for keyed feed consumers") {
    val st = store() // capture ON: both versions write change files
    st.commit(seedDf, batchId = 0, nFiles = 4) // ids 0..99
    // v1 captures keys 5..9; v2 captures keys 90..94
    st.merge(netDf((5L to 9L).map(i => (i, "u", Some(s"lo$i"), 100L))),
      fields, batchId = 1)
    st.merge(netDf((90L to 94L).map(i => (i, "u", Some(s"hi$i"), 200L))),
      fields, batchId = 2)
    // the manifest records the captured key range, typed-serialized
    val m1 = st.manifest(1L).get
    assert(m1.cdcMinKey.contains("5") && m1.cdcMaxKey.contains("9"),
      s"v1 range=${(m1.cdcMinKey, m1.cdcMaxKey)}")
    def f(p: DataFrame => DataFrame): DataFrame = p(feed(st.root, 1, 2))
    val all = partsOf(f(identity))
    assert(all >= 2, s"premise: both versions contribute parts, all=$all")
    // a low-key consumer plans v1's parts only — v2's capture range
    // excludes it at the VERSION level, before any file is listed
    val lo = f(_.filter(col("id") <= 10L))
    assert(partsOf(lo) < all && partsOf(lo) > 0)
    assert(rowsOf(lo) === (5L to 9L).flatMap(i => Seq(
      (i, s"n$i", "update_preimage", 1L),
      (i, s"lo$i", "update_postimage", 1L))).toSet)
    val hi = f(_.filter(col("id") >= 80L))
    assert(partsOf(hi) < all && partsOf(hi) > 0)
    assert(rowsOf(hi) === (90L to 94L).flatMap(i => Seq(
      (i, s"n$i", "update_preimage", 2L),
      (i, s"hi$i", "update_postimage", 2L))).toSet)
    // a range both captures miss plans NOTHING
    assert(partsOf(f(_.filter(col("id").between(40L, 50L)))) === 0)
    // the streaming source takes the same cut through pruneFilter
    val ck = java.nio.file.Files.createTempDirectory("cdcrange").toString
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("pruneFilter", "id <= 10")
      .load(st.root)
      .writeStream.format("memory").queryName("cdc_range_cut")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).sum === 10L,
        "the keyed stream must admit only v1's captured rows")
    } finally q.stop()
  }

  test("pruneFilter prunes the CDF stream's per-epoch planning") {
    val st = pushdownStore()
    def run(opts: Map[String, String], name: String): Long = {
      val ck = java.nio.file.Files.createTempDirectory("cdfpf").toString
      var r = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(st.root)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck).start()
      try {
        q.processAllAvailable()
        q.recentProgress.map(_.numInputRows).sum
      } finally q.stop()
    }
    // without the option: snapshot 100 (95 live + 5 masked read-then-
    // dropped rows arrive as input before masking? masked files subtract
    // in-reader, so 95) + the 10 delete feed rows... pin only the ORDER:
    // pruned strictly below unpruned, and pruned content exact
    val fullRows = run(Map.empty, "cdf_pf_full")
    val prunedRows = run(Map("pruneFilter" -> "id >= 600"), "cdf_pf_cut")
    assert(prunedRows < fullRows,
      s"pruneFilter must cut source rows: $prunedRows vs $fullRows")
    // the stream START is the snapshot of the CURRENT version: 50 rows
    // of the 600-block survive file pruning; later epochs add nothing
    assert(spark.table("cdf_pf_cut").filter(col("id") >= 600L).count() === 50L)
    // a predicate over the feed METADATA columns works too: deletes-only
    val delRows = run(Map("pruneFilter" -> "_change_type = 'delete'",
      "startingVersion" -> "1"), "cdf_pf_del")
    assert(delRows === 5L, s"deletes-only stream admits only v3 parts, " +
      s"got $delRows")
    // untranslatable predicates refuse loudly
    val e = intercept[Exception](run(
      Map("pruneFilter" -> "length(name) - 2 > id"), "cdf_pf_bad"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("pruneFilter"), msgs)
  }

  test("pruneFilter prunes the tail stream's snapshot and per-version adds") {
    val st = store(cdf = false)
    st.commit(seedDf, batchId = 0, nFiles = 4)
    def run(opts: Map[String, String], name: String): Long = {
      val ck = java.nio.file.Files.createTempDirectory("tailpf").toString
      var r = spark.readStream.format("graft")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(st.root)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck).start()
      try {
        q.processAllAvailable()
        if (st.current.get._1 < 1) {
          st.merge(netDf((500L until 550L).map(i =>
            (i, "c", Some(s"a$i"), 1L))), fields, batchId = 1)
          st.merge(netDf((600L until 650L).map(i =>
            (i, "c", Some(s"b$i"), 2L))), fields, batchId = 2)
        }
        q.processAllAvailable()
        q.recentProgress.map(_.numInputRows).sum
      } finally q.stop()
    }
    // snapshot: ids<=10 keeps 1 of 4 files (25 rows); the 500/600 appends
    // are out of range and plan ZERO files in their epochs
    val rows = run(Map("pruneFilter" -> "id <= 10"), "tail_pf")
    assert(rows === 25L, s"1 of 4 snapshot files + no append file, got $rows")
    assert(spark.table("tail_pf").filter(col("id") <= 10L).count() === 11L)
    assert(spark.table("tail_pf").filter(col("id") >= 500L).count() === 0L)
  }
}
