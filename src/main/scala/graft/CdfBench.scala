package graft

import graft.cdc.{Changelog, ManifestStore}
import org.apache.spark.sql.functions._

/** What does CHANGE-DATA-FEED capture cost at scale? Two identical
  * 60M-row MoR stores absorb the same scattered micro-batches, one with
  * `cdf=true` and one without; the delta in commit wall time and the
  * change-file bytes ARE the capture bill. Then the captured feed is
  * read back and re-applied to a replica — the consumer side's cost.
  *
  * Usage: `sbt "runMain graft.CdfBench [nRows] [batchSize] [rounds]"` —
  * defaults 60M / 2k / 3, the STRESS.md MoR-ladder scale. Deterministic
  * content. Prints one JSON line.
  */
object CdfBench {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(60000000L)
    val batch = args.lift(1).map(_.toLong).getOrElse(2000L)
    val rounds = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val base = java.nio.file.Files.createTempDirectory("cdfbench")
    val fields = Seq("id", "name", "val", "payload")

    val table = spark.range(n).select(col("id"),
      concat(lit("name_"), col("id")).as("name"),
      (col("id") % 997).cast("double").as("val"),
      repeat(md5(col("id").cast("string")), 8).as("payload"))

    // scattered batch r: every (n/batch)-th key, shifted per round —
    // worst-case MoR scatter (one hit per file range), ts = round+1
    def net(r: Int) = {
      val stride = n / batch
      spark.range(batch).select(
        (col("id") * stride + r).cast("string").as(Changelog.KeyCol),
        lit("u").as(Changelog.OpCol), lit(r + 1L).as(Changelog.TsCol),
        (col("id") * stride + r).as("after_id"),
        concat(lit(s"upd${r}_"), col("id")).as("after_name"),
        lit(r * 1.0).as("after_val"),
        repeat(md5(concat(lit(r), col("id"))), 8).as("after_payload"))
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def mkStore(tag: String, cdf: Boolean): ManifestStore = {
      val st = new ManifestStore(s"$base/$tag", spark, "id")
      if (cdf) st.enableChangeFeed()
      st.commit(table, batchId = 0, nFiles = 64)
      st
    }

    val plain = mkStore("plain", cdf = false)
    val capt = mkStore("capt", cdf = true)
    val tPlain = (0 until rounds).map(r => timed {
      plain.mergeOnRead(net(r), fields, batchId = r + 1); ()
    })
    val tCapt = (0 until rounds).map(r => timed {
      capt.mergeOnRead(net(r), fields, batchId = r + 1); ()
    })
    val cdcMb = (1 to rounds).flatMap(v => capt.manifest(v.toLong))
      .flatMap(_.cdcFile).filter(_.nonEmpty)
      .map(d => {
        val p = java.nio.file.Paths.get(capt.root, "files", d)
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally s.close()
      }).sum / 1000000.0
    val cdcRows = (1 to rounds).flatMap(v => capt.manifest(v.toLong))
      .map(_.cdcRows).sum

    // consumer side: read the whole captured feed back
    var feedRows = 0L
    val tFeed = timed {
      feedRows = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").load(capt.root).count()
    }

    // BACKFILL side (r13, columnar feed): a from-the-beginning feed read
    // scans the whole 60M snapshot as inserts — timed against the direct
    // table scan of the same data; ~1x means the feed's constant-vector
    // CDF columns add no reader tax on a backfill
    def agg(df: org.apache.spark.sql.DataFrame): Double = {
      var s = 0.0
      val t = timed { s = df.agg(sum(col("val"))).head().getDouble(0) }
      require(s > 0); t
    }
    val tBackfill = (1 to 3).map(_ => agg(
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingTimestamp", "0").load(capt.root)
        .filter(col(ManifestStore.ChangeTypeCol) === "insert")
        .filter(col(ManifestStore.CommitVersionCol) === 0L))).min
    val tDirect = (1 to 3).map(_ => agg(
      spark.read.format("graft").load(capt.root))).min

    // PRUNED side (r14, filter pushdown): a consumer re-syncing ONE key
    // range reads O(matching files) of the feed, not the table — the
    // pushed predicate zone-map-prunes the snapshot/append files at
    // planning. Timed against the unpruned backfill above.
    val hi = n / 64 // ~ the first key-clustered file's range
    val tPruned = (1 to 3).map(_ => agg(
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingTimestamp", "0").load(capt.root)
        .filter(col("id") < hi))).min

    // STREAMING side (r14, vectorized micro-batches): drain the snapshot
    // + captured feed through the columnar STREAMING source.
    // AvailableNow terminates when drained.
    def drainStream(tag: String, pruneFilter: Option[String] = None): Double = {
      // pin minRows=0 so the drain stays columnar: the r15 small-batch
      // demotion would otherwise flip the pruned leg (sub-2M planned
      // rows) to row mode
      spark.conf.set("spark.graft.read.streamColumnarMinRows", "0")
      try timed {
        var r = spark.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("startingTimestamp", "0")
        pruneFilter.foreach(p => r = r.option("pruneFilter", p))
        val q = r.load(capt.root)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$base/ck_$tag")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally spark.conf.unset("spark.graft.read.streamColumnarMinRows")
    }
    val tStreamCol = drainStream("col")
    // a keyed consumer's drain: the pruneFilter option cuts the planned
    // files of every micro-batch to the matching key range
    val tStreamPruned = drainStream("pruned", pruneFilter = Some(s"id < $hi"))

    // PACED KEYED BOOTSTRAP (r15 skip-ahead): a byte-budgeted AvailableNow
    // drain of ONE key range (1 of 64 key-clustered files). The budget
    // admits ~one file per trigger round, so without the skip-ahead this
    // is ~64 rounds (63 of them planning empty); with it, excluded files
    // ride free and the drain is O(matching files) rounds. Reported:
    // wall + trigger rounds + rows.
    val (tPacedKeyed, pacedRounds, pacedRows) = {
      // COUNT VIA LISTENER, not q.recentProgress: Spark caps the latter
      // at spark.sql.streaming.numRecentProgressUpdates (default 100),
      // and the regression this leg exists to catch — no skip-ahead =>
      // ~64+ trigger rounds — is exactly where a capped array would
      // silently under-report both rounds and rows.
      // Matched by QUERY NAME, not q.id: the id is only known after
      // `.start()` returns, and the first trigger's progress event can
      // beat that assignment — an id-matched listener dropped those
      // early rounds, undercounting the very signal this leg watches.
      // The name is fixed BEFORE start; the terminated event (delivered
      // in-order after every progress event for the run) gates the read
      // of the counters, replacing a flaky fixed sleep.
      val qName = "cdf_paced_keyed"
      val roundsSeen = new java.util.concurrent.atomic.AtomicLong(0)
      val rowsSeen = new java.util.concurrent.atomic.AtomicLong(0)
      @volatile var watchedId: java.util.UUID = null
      val drained = new java.util.concurrent.CountDownLatch(1)
      val listener =
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit =
            if (e.name == qName) watchedId = e.id
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            if (e.progress.name == qName) {
              roundsSeen.incrementAndGet()
              rowsSeen.addAndGet(e.progress.numInputRows); ()
            }
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
            if (watchedId != null && e.id == watchedId) drained.countDown()
        }
      spark.streams.addListener(listener)
      try {
        val t0 = System.nanoTime()
        val q = spark.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("startingTimestamp", "0")
          .option("pruneFilter", s"id < $hi")
          .option("maxRowsPerTrigger", (n / 64 + batch).toString)
          .load(capt.root)
          .writeStream.format("noop")
          .queryName(qName)
          .option("checkpointLocation", s"$base/ck_paced_keyed")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        drained.await(30, java.util.concurrent.TimeUnit.SECONDS)
        (sec, roundsSeen.get(), rowsSeen.get())
      } finally spark.streams.removeListener(listener)
    }

    println(
      s"""{"bench":"cdf_capture","rows":$n,"batch":$batch,"rounds":$rounds,""" +
      s""""mor_commit_sec_plain":[${tPlain.map(t => f"$t%.1f").mkString(",")}],""" +
      s""""mor_commit_sec_cdf":[${tCapt.map(t => f"$t%.1f").mkString(",")}],""" +
      s""""cdc_rows":$cdcRows,"cdc_mb":${f"$cdcMb%.1f"},""" +
      s""""feed_read_sec":${f"$tFeed%.1f"},"feed_rows":$feedRows,""" +
      s""""backfill_feed_sec":${f"$tBackfill%.2f"},""" +
      s""""direct_scan_sec":${f"$tDirect%.2f"},""" +
      s""""pruned_feed_sec":${f"$tPruned%.2f"},""" +
      s""""stream_drain_sec_columnar":${f"$tStreamCol%.2f"},""" +
      s""""stream_drain_sec_pruned":${f"$tStreamPruned%.2f"},""" +
      s""""paced_keyed_sec":${f"$tPacedKeyed%.2f"},""" +
      s""""paced_keyed_rounds":$pacedRounds,""" +
      s""""paced_keyed_rows":$pacedRows}""")
    spark.stop()
  }
}
