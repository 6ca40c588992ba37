package graft.spark

import graft.SparkSpec
import graft.cdc.ManifestStore
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import java.nio.file.Files

/** The paced-bootstrap offset state machine, driven DIRECTLY (no real
  * streams, so a whole budget grid runs in seconds): for any byte/row
  * budget, the sub-version slices must exactly partition the pinned
  * version's file list — no overlap, no gap, no reorder — with every
  * slice non-empty, the budget respected except for single over-budget
  * files, and the tail/feed taking over only after the list drains.
  */
class PacedSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def walk(next: GraftOffset => GraftOffset,
                   parts: (GraftOffset, GraftOffset) => Seq[String])
      : Seq[Seq[String]] = {
    var off = GraftOffset(-1L)
    val slices = Seq.newBuilder[Seq[String]]
    var guard = 0
    var done = false
    while (!done && guard < 10000) {
      guard += 1
      val n = next(off)
      if (n == off) done = true
      else {
        slices += parts(off, n)
        off = n
      }
    }
    assert(guard < 10000, "offset walk must terminate")
    slices.result()
  }

  test("tail: byte-budget grid partitions the snapshot exactly") {
    val root = Files.createTempDirectory("paced_tail").toString
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 900L).map(i => (i, s"n$i" * (1 + (i % 3).toInt)))
      .toDF("id", "name"), batchId = 0, nFiles = 9)
    val m = st.currentManifest.get
    val order = m.files.map(_.name)
    val bytes = m.files.map(f => f.name -> f.bytes).toMap
    val total = m.files.map(_.bytes).sum
    val schema = spark.read.format("graft").load(root).schema
    for (budget <- Seq(1L, bytes.values.min, bytes.values.max,
      total / 3, total, total * 2)) {
      val s = new GraftMicroBatchStream(root, "id", schema, schema,
        Array.empty, Map("maxbytespertrigger" -> budget.toString))
      val slices = walk(
        o => s.latestOffset(o, ReadLimit.allAvailable())
          .asInstanceOf[GraftOffset],
        (a, b) => s.planInputPartitions(a, b).toSeq
          .map(_.asInstanceOf[GraftInputPartition].fileName))
      assert(slices.flatten == order,
        s"budget=$budget: slices must partition the file list in order")
      assert(slices.forall(_.nonEmpty), s"budget=$budget: empty slice")
      slices.foreach { sl =>
        assert(sl.map(bytes).sum <= budget || sl.size == 1,
          s"budget=$budget: over-budget multi-file slice $sl")
      }
      if (budget >= total) assert(slices.size == 1,
        s"budget=$budget covers the table: one batch, got ${slices.size}")
    }
    // the FILE budget paces the same machine (Delta's primary knob):
    // ceil(9 / n) slices of at most n files each, same exact partition
    for (budget <- Seq(1, 2, 4, 9, 20)) {
      val s = new GraftMicroBatchStream(root, "id", schema, schema,
        Array.empty, Map("maxfilespertrigger" -> budget.toString))
      val slices = walk(
        o => s.latestOffset(o, ReadLimit.allAvailable())
          .asInstanceOf[GraftOffset],
        (a, b) => s.planInputPartitions(a, b).toSeq
          .map(_.asInstanceOf[GraftInputPartition].fileName))
      assert(slices.flatten == order,
        s"fileBudget=$budget: slices must partition the file list in order")
      assert(slices.forall(sl => sl.nonEmpty && sl.size <= budget),
        s"fileBudget=$budget: slice sizes ${slices.map(_.size)}")
      assert(slices.size == (order.size + budget - 1) / budget,
        s"fileBudget=$budget: slice count ${slices.size}")
    }
    // both budgets together: the tighter cap wins per slice
    val s2 = new GraftMicroBatchStream(root, "id", schema, schema,
      Array.empty, Map("maxfilespertrigger" -> "3",
        "maxbytespertrigger" -> bytes.values.min.toString))
    val slices2 = walk(
      o => s2.latestOffset(o, ReadLimit.allAvailable())
        .asInstanceOf[GraftOffset],
      (a, b) => s2.planInputPartitions(a, b).toSeq
        .map(_.asInstanceOf[GraftInputPartition].fileName))
    assert(slices2.flatten == order && slices2.forall(_.size == 1),
      s"a one-file byte budget must dominate the 3-file cap: " +
        slices2.map(_.size))
  }

  test("tail: maxFilesPerTrigger paces versions and a real stream end to end") {
    val root = Files.createTempDirectory("paced_files").toString
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 400L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 4)
    val out = Files.createTempDirectory("pf_out").toString
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2")
      .load(root).writeStream.format("parquet").option("path", out)
      .option("checkpointLocation",
        Files.createTempDirectory("pf_ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    assert(spark.read.parquet(out).count() === 400L)
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    assert(prog.length >= 2 && prog.map(_.numInputRows).max <= 200L,
      s"2-file batches over a 4-file snapshot: " +
        prog.map(_.numInputRows).toSeq)
    // junk refuses loudly
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("maxFilesPerTrigger", "0")
        .load(root).writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("pf_ck0").toString)
        .start().processAllAvailable()
    }
    assert(e.getMessage != null)
  }

  test("tail: pruneFilter skip-ahead drains a keyed bootstrap in " +
    "O(matching) rounds; offsets stay raw-indexed across a restart") {
    val root = Files.createTempDirectory("paced_skip").toString
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 800L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8)
    val m = st.currentManifest.get
    val schema = spark.read.format("graft").load(root).schema
    def drain(opts: Map[String, String])
        : (Seq[GraftOffset], Seq[String]) = {
      val s = new GraftMicroBatchStream(root, "id", schema, schema,
        Array.empty, opts)
      var off = GraftOffset(-1L)
      val offs = Seq.newBuilder[GraftOffset]
      val planned = Seq.newBuilder[String]
      var done = false
      var guard = 0
      while (!done && guard < 100) {
        guard += 1
        val n = s.latestOffset(off, ReadLimit.allAvailable())
          .asInstanceOf[GraftOffset]
        if (n == off) done = true
        else {
          offs += n
          planned ++= s.planInputPartitions(off, n).toSeq
            .map(_.asInstanceOf[GraftInputPartition].fileName)
          off = n
        }
      }
      assert(guard < 100, "walk must terminate")
      (offs.result(), planned.result())
    }
    // control: no filter, 1-file budget -> one round per RAW file
    val (ctlOffs, ctlPlanned) = drain(Map("maxfilespertrigger" -> "1"))
    assert(ctlOffs.size == m.files.size &&
      ctlPlanned == m.files.map(_.name))
    // keyed bootstrap of two disjoint ranges: matching files only,
    // one round each — the 6 fully-pruned slices ride along free
    val filter = "id < 100 OR id >= 700"
    val keptNames = st.prunedFiles(m,
      Seq(("", "or", Seq(Seq(("id", "<", 100L)),
        Seq(("id", ">=", 700L)))))).map(_.name)
    assert(keptNames.size >= 1 && keptNames.size <= 3 &&
      keptNames.size < m.files.size,
      s"fixture: the cut must keep a small minority, got $keptNames")
    // planning-bill receipt: the whole filtered drain — admission AND
    // slice planning — runs ZERO Spark jobs (r16: the zone-map cut
    // evaluates driver-side; r15's one cached mask job is gone too)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sqls = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      // a Dataset action over a local relation runs no job, only this
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqls.incrementAndGet(); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (offs, planned) = try drain(Map("maxfilespertrigger" -> "1",
      "prunefilter" -> filter))
    finally {
      Thread.sleep(500) // listener bus drains async
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() == 0,
      s"pruned bootstrap planning must run jobless (driver-side " +
        s"zone-map cut), ran ${jobs.get()} jobs")
    assert(sqls.get() == 0,
      s"pruned bootstrap planning must run no SQL execution, ran ${sqls.get()}")
    assert(offs.size == keptNames.size,
      s"skip-ahead must drain in ${keptNames.size} rounds, got $offs")
    assert(planned == keptNames,
      "planned files across the walk must be exactly the matching files")
    // RAW indexing: every mid-snapshot offset's snap counts RAW files
    // passed (pruned riders included), so a restarted stream with a
    // DIFFERENT (here: absent) pruneFilter replans the committed slice
    // over the same raw range
    if (offs.size > 1) {
      val firstEnd = offs.head
      assert(firstEnd.snap > 1,
        s"snap must be a raw index past the free riders: $firstEnd")
      val bare = new GraftMicroBatchStream(root, "id", schema, schema,
        Array.empty, Map.empty)
      val replanned = bare.planInputPartitions(GraftOffset(-1L), firstEnd)
        .toSeq.map(_.asInstanceOf[GraftInputPartition].fileName)
      assert(replanned == m.files.map(_.name).take(firstEnd.snap.toInt),
        "a committed slice must replan to the same raw range")
    }
  }

  test("cdf: pruneFilter skip-ahead paces the bootstrap; an insert-free " +
    "filter drains the snapshot in one empty batch") {
    val root = Files.createTempDirectory("paced_cdf_skip").toString
    val st = new ManifestStore(root, spark, "id")
    st.enableChangeFeed()
    st.commit((0L until 800L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8)
    val m0 = st.manifest(0L).get
    val schema = spark.read.format("graft").load(root).schema
    def drain(opts: Map[String, String]): (Int, Seq[String]) = {
      val s = new GraftCdfMicroBatchStream(root, "id", schema, opts)
      var off = GraftOffset(-1L)
      var rounds = 0
      val planned = Seq.newBuilder[String]
      var done = false
      while (!done && rounds < 100) {
        val n = s.latestOffset(off, ReadLimit.allAvailable())
          .asInstanceOf[GraftOffset]
        if (n == off) done = true
        else {
          rounds += 1
          planned ++= s.planInputPartitions(off, n).toSeq.map { p =>
            p.asInstanceOf[GraftCdfPartition].inner.fileName
          }
          off = n
        }
      }
      assert(rounds < 100, "walk must terminate")
      (rounds, planned.result())
    }
    // keyed bootstrap under a row budget: only the matching file's rows
    // count, so the drain is one round, not eight
    val kept = st.prunedFiles(m0, Seq(("id", "<", 100L))).map(_.name)
    assert(kept.size >= 1 && kept.size <= 2 && kept.size < m0.files.size)
    val (rounds, planned) = drain(Map("maxrowspertrigger" -> "150",
      "prunefilter" -> "id < 100"))
    assert(rounds == kept.size && planned == kept,
      s"keyed CDF bootstrap: $rounds rounds, planned $planned, want $kept")
    // a filter that excludes inserts empties every snapshot slice:
    // drain in ONE batch with zero partitions, not one round per slice
    val (r2, p2) = drain(Map("maxrowspertrigger" -> "150",
      "prunefilter" -> "_change_type = 'delete'"))
    assert(r2 == 1 && p2.isEmpty,
      s"insert-free filter: one empty drain batch, got $r2 rounds / $p2")
  }

  test("tail: skip-ahead filter x budget grid — planned files always " +
    "equal the zone-map cut, rounds track matches") {
    val root = Files.createTempDirectory("paced_grid").toString
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 800L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8)
    val m = st.currentManifest.get
    val schema = spark.read.format("graft").load(root).schema
    val filters: Seq[(String, Seq[(String, String, Any)])] = Seq(
      "id < 0" -> Seq(("id", "<", 0L)), // matches nothing
      "id >= 0" -> Seq(("id", ">=", 0L)), // matches everything
      "id < 100" -> Seq(("id", "<", 100L)),
      "id >= 700" -> Seq(("id", ">=", 700L)),
      "id >= 300 AND id < 500" ->
        Seq(("id", ">=", 300L), ("id", "<", 500L)))
    for ((sql, preds) <- filters; budget <- Seq(1, 3, 20)) {
      val kept = st.prunedFiles(m, preds).map(_.name)
      val s = new GraftMicroBatchStream(root, "id", schema, schema,
        Array.empty, Map("maxfilespertrigger" -> budget.toString,
          "prunefilter" -> sql))
      var off = GraftOffset(-1L)
      val planned = Seq.newBuilder[String]
      var rounds = 0
      var done = false
      while (!done && rounds < 100) {
        val n = s.latestOffset(off, ReadLimit.allAvailable())
          .asInstanceOf[GraftOffset]
        if (n == off) done = true
        else {
          rounds += 1
          planned ++= s.planInputPartitions(off, n).toSeq
            .map(_.asInstanceOf[GraftInputPartition].fileName)
          off = n
        }
      }
      assert(rounds < 100, s"$sql/$budget: walk must terminate")
      assert(off == GraftOffset(0L),
        s"$sql/$budget: drain must land on the bare version offset, $off")
      assert(planned.result() == kept,
        s"$sql/$budget: planned files must equal the zone-map cut")
      val want = math.max(1, (kept.size + budget - 1) / budget)
      assert(rounds == want,
        s"$sql/$budget: ${kept.size} matching files under a $budget-file " +
          s"budget must drain in $want rounds, took $rounds")
    }
  }

  test("source metrics report lag, bootstrap progress, and pruning work") {
    val root = Files.createTempDirectory("metrics").toString
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 800L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8)
    val schema = spark.read.format("graft").load(root).schema
    val s = new GraftMicroBatchStream(root, "id", schema, schema,
      Array.empty, Map("maxfilespertrigger" -> "2",
        "prunefilter" -> "id < 400"))
    val o1 = s.latestOffset(GraftOffset(-1L), ReadLimit.allAvailable())
      .asInstanceOf[GraftOffset]
    s.planInputPartitions(GraftOffset(-1L), o1)
    val m1 = s.metrics(java.util.Optional.of(o1:
      org.apache.spark.sql.connector.read.streaming.Offset))
    assert(m1.get("latestVersion") == "0")
    assert(m1.get("backlogVersions") == "0")
    assert(o1.snap >= 0, s"fixture: the first paced offset must be " +
      s"mid-snapshot, got $o1")
    assert(m1.get("snapshotFilesRemaining").toLong == 8 - o1.snap,
      s"metrics=$m1")
    // the slice holds the 2 admitted matching files plus any pruned
    // free riders the skip-ahead let through (manifest order is not
    // key order)
    assert(m1.get("lastBatchPlannedFiles").toInt == 2 &&
      m1.get("lastBatchPrunedFiles").toInt == o1.snap - 2 &&
      m1.get("lastBatchPlannedRows").toLong == 200L, s"metrics=$m1")
    // end-to-end: Spark surfaces the source metrics in every progress
    val tbl = "graft_metrics_e2e"
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName(tbl)
      .option("checkpointLocation",
        Files.createTempDirectory("metck").toString)
      .start()
    try {
      q.processAllAvailable()
      val sm = q.lastProgress.sources(0).metrics
      assert(sm.get("latestVersion") == "0" &&
        sm.get("backlogVersions") == "0" &&
        sm.get("snapshotFilesRemaining") == "0", s"progress metrics: $sm")
    } finally q.stop()
    // SINK metrics ride the sink table: a graft-to-graft pipe reports
    // the post-epoch store state in progress.sink.metrics
    val dst = Files.createTempDirectory("metdst").toString + "/t"
    val q2 = spark.readStream.format("graft").load(root)
      .writeStream.format("graft").option("key", "id")
      .option("checkpointLocation",
        Files.createTempDirectory("metck2").toString)
      .start(dst)
    try {
      q2.processAllAvailable()
      val km = q2.lastProgress.sink.metrics
      assert(km.get("tableVersion") != null &&
        km.get("tableFiles").toInt >= 1 &&
        km.get("tableLiveRows").toLong == 800L &&
        km.get("tableMaskedRows") == "0", s"sink metrics: $km")
    } finally q2.stop()
    // the CDF source reports the same surface
    val c = new GraftCdfMicroBatchStream(root, "id", schema,
      Map("maxrowspertrigger" -> "150"))
    val co = c.latestOffset(GraftOffset(-1L), ReadLimit.allAvailable())
      .asInstanceOf[GraftOffset]
    c.planInputPartitions(GraftOffset(-1L), co)
    val cm = c.metrics(java.util.Optional.of(co:
      org.apache.spark.sql.connector.read.streaming.Offset))
    assert(cm.get("latestVersion") == "0" &&
      cm.get("backlogVersions") == "0" &&
      cm.get("snapshotFilesRemaining").toLong == 8 - co.snap &&
      cm.get("lastBatchPlannedFiles").toInt >= 1, s"cdf metrics: $cm")
  }

  test("cdf: row-budget grid partitions the snapshot; feed follows after") {
    val root = Files.createTempDirectory("paced_cdf").toString
    val st = new ManifestStore(root, spark, "id")
    st.enableChangeFeed()
    st.commit((0L until 800L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8) // 8 files of 100 rows
    val m0 = st.manifest(0L).get
    val order = m0.files.map(_.name)
    val liveRows = m0.files.map(f => f.name -> f.liveRows).toMap
    val schema = spark.read.format("graft").load(root).schema
    for (budget <- Seq(1L, 99L, 100L, 399L, 800L, 5000L)) {
      val s = new GraftCdfMicroBatchStream(root, "id", schema,
        Map("maxrowspertrigger" -> budget.toString))
      def label(a: GraftOffset, b: GraftOffset): Seq[String] =
        s.planInputPartitions(a, b).toSeq.map { p =>
          val c = p.asInstanceOf[GraftCdfPartition]
          s"${c.commitVersion}:${if (c.isCdc) "cdc" else c.inner.fileName}"
        }
      val slices = walk(
        o => s.latestOffset(o, ReadLimit.allAvailable())
          .asInstanceOf[GraftOffset], label)
      assert(slices.flatten == order.map(n => s"0:$n"),
        s"budget=$budget: slices must partition v0's file list in order, " +
          s"stamped with the pinned version")
      slices.foreach { sl =>
        val rows = sl.map(x => liveRows(x.stripPrefix("0:"))).sum
        assert(rows <= budget || sl.size == 1,
          s"budget=$budget: over-budget multi-file slice $sl")
      }
      if (budget >= 800L) assert(slices.size == 1,
        s"budget=$budget covers the table: one batch, got ${slices.size}")
    }
    // a captured version landing AFTER the bootstrap arrives as its own
    // batch — the feed takes over exactly where the snapshot ended
    st.merge(Seq((5L, "u", Some(5L), "upd", 100L))
      .toDF(graft.cdc.Changelog.KeyCol, graft.cdc.Changelog.OpCol,
        "after_id", "after_name", graft.cdc.Changelog.TsCol)
      .withColumn("after_id",
        org.apache.spark.sql.functions.col("after_id").cast("long")),
      Seq("id", "name"), batchId = 1)
    val s2 = new GraftCdfMicroBatchStream(root, "id", schema,
      Map("maxrowspertrigger" -> "100"))
    val drained = GraftOffset(0L) // the completed bootstrap's offset
    val next = s2.latestOffset(drained, ReadLimit.allAvailable())
      .asInstanceOf[GraftOffset]
    assert(next == GraftOffset(1L))
    val feedBatch = s2.planInputPartitions(drained, next).toSeq.map { p =>
      val c = p.asInstanceOf[GraftCdfPartition]
      (c.commitVersion, c.isCdc)
    }
    assert(feedBatch.nonEmpty && feedBatch.forall(_ == (1L, true)),
      s"the post-bootstrap batch must be v1's capture alone: $feedBatch")
  }
}
