package graft.cdc

import graft.SparkSpec
import graft.functions.BloomSketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.Files

/** Per-file key Bloom filters (table property `bloomfilter`) — Delta's
  * Bloom index idea at manifest grain. The value proposition is exactly
  * where zone maps go blind: on a BUCKETED table every file's key range
  * covers nearly the whole domain (hash buckets scatter ranges), so a
  * point lookup reads every bucket file; with per-file Blooms it plans
  * ~1. Soundness invariant: NO FALSE NEGATIVES — a file that holds (or
  * ever held) a key always survives pruning; false positives only cost a
  * wasted read.
  */
class BloomFileSkipSpec extends SparkSpec {
  import spark.implicits._

  private val N = 4000L
  private val Buckets = 8

  private def mkBucketed(bloom: Boolean): (String, ManifestStore) = {
    val root = Files.createTempDirectory(
      if (bloom) "bloomy" else "plain").toString
    val props = Map("buckets" -> Buckets.toString) ++
      (if (bloom) Map("bloomfilter" -> "8192") else Map.empty)
    ManifestStore.writeTableProps(root, props)
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until N).map(i => (i, s"name$i", i % 7))
      .toDF("id", "name", "grp"), batchId = 0, nFiles = Buckets)
    (root, st)
  }

  /** Data FILES the scan planned. A bucketed scan always emits all N
    * bucket partitions (the storage-partitioned-join contract needs the
    * full partition-value set), so pruning shows up as buckets carrying
    * ZERO files — count the files, not the partitions.
    */
  private def plannedFiles(df: DataFrame): Int = {
    df.collect() // force planning through AQE
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.inputPartitions.map {
        case gb: graft.spark.GraftBucketedPartition => gb.inner.length
        case _ => 1
      }.sum
    }.getOrElse(-1)
  }

  test("blob probe agrees with the decoded probe bit-for-bit") {
    val bits = 1024; val hashes = 6
    val words = new Array[Long](bits / 64)
    val members = (0 until 300).map(i => s"key-$i-${i * 31}")
    members.foreach(m =>
      BloomSketch.add(words, bits, hashes, UTF8String.fromString(m)))
    val blob = BloomSketch.encode(words, bits, hashes)
    val (w2, b2, h2) = BloomSketch.decode(blob)
    val dec = new BloomSketch.Decoded(w2, b2, h2)
    members.foreach { m =>
      val u = UTF8String.fromString(m)
      assert(BloomSketch.containsBlob(blob, u), s"false negative on $m")
      assert(dec.contains(u))
    }
    // absent probes: both probers must agree exactly (same bits read)
    (0 until 2000).foreach { i =>
      val u = UTF8String.fromString(s"absent-$i-${i * 97}")
      assert(BloomSketch.containsBlob(blob, u) == dec.contains(u),
        s"probe divergence on $u")
    }
  }

  test("keyHolds loads sidecars lazily, agrees with containsBlob") {
    import org.apache.spark.sql.types.StringType
    val bits = 1024; val hashes = 6
    val words = new Array[Long](bits / 64)
    val members = (0 until 300).map(i => s"sk-$i-${i * 17}")
    members.foreach(m =>
      BloomSketch.add(words, bits, hashes, UTF8String.fromString(m)))
    val blob = BloomSketch.encode(words, bits, hashes)
    val dir = Files.createTempDirectory("sidecarprobe")
    Files.write(dir.resolve("probe.bloom"), blob)
    val rootKey = s"sidecarprobe-spec-$dir"
    val dom = ManifestStore.pruneDomain(StringType).get
    val (lo, hi) = (UTF8String.fromString(""), UTF8String.fromString("~"))
    var loads = 0
    // the (file, key) test every key probe runs, against the range
    // [mn, hi] and the sidecar `name`
    def probe(name: String, v: String, mn: UTF8String = lo): Boolean = {
      val x = UTF8String.fromString(v)
      ManifestStore.keyHolds(dom.ord, mn, hi, Some(x),
        ManifestStore.bloomHashes(dom, StringType, x),
        { loads += 1; ManifestStore.loadBloom(rootKey, dir, name) })
        .contains(true)
    }
    members.foreach(m =>
      assert(probe("probe.bloom", m), s"false negative on $m"))
    (0 until 2000).foreach { i =>
      val v = s"absent-$i-${i * 53}"
      assert(probe("probe.bloom", v) ==
        BloomSketch.containsBlob(blob, UTF8String.fromString(v)),
        s"lazy/blob probe divergence on $v")
    }
    // lazy: a pair outside the file's range never reads the sidecar
    val before = loads
    assert(!probe("probe.bloom", "sk-1-17", mn = UTF8String.fromString("t")))
    assert(loads == before, "a range miss loaded the sidecar")
    // missing / vacuumed / unreadable sidecar: "maybe contains" — the file
    // keeps its range verdict, never a false negative
    assert(probe("no-such.bloom", "anything"))
  }

  test("lookup plans range AND bloom with 0 Spark jobs, 0 SQL executions") {
    val (_, st) = mkBucketed(bloom = true)
    ManifestStore.clearBloomCache() // sidecar loads are file I/O, not jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sqls = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqls.incrementAndGet(); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val planned =
      try st.lookup(Seq(17L)) // planning runs eagerly inside
      finally {
        Thread.sleep(500) // listener bus drains async
        spark.sparkContext.removeSparkListener(listener)
      }
    // the range and Bloom tests run over driver-held stats: no broadcast
    // and no local-relation query
    assert(jobs.get() == 0, s"lookup planning ran ${jobs.get()} jobs")
    assert(sqls.get() == 0,
      s"lookup planning ran ${sqls.get()} SQL executions")
    // and the driver plan still prunes to ~1 bucket file
    assert(plannedFiles(planned.get) <= 2,
      "bloom sharpening lost its pruning power in lookup planning")
  }

  test("bucketed point lookup plans ~1 file with blooms, all without") {
    val (rootB, _) = mkBucketed(bloom = true)
    val (rootP, _) = mkBucketed(bloom = false)

    def pointRead(root: String, k: Long): DataFrame =
      spark.read.format("graft").load(root).filter(col("id") === k)

    // without blooms every bucket file's range covers the probe
    assert(plannedFiles(pointRead(rootP, 1234L)) == Buckets)
    // with blooms only the owning bucket (plus FP residue) plans
    val withBloom = plannedFiles(pointRead(rootB, 1234L))
    assert(withBloom >= 1 && withBloom <= 2,
      s"expected ~1 planned file with blooms, got $withBloom")
    // and answers stay exact
    assert(pointRead(rootB, 1234L).select("name").as[String].head() == "name1234")
    assert(pointRead(rootB, N + 50).count() == 0)
  }

  test("IN-list pruning probes each sought key against each file's bloom") {
    val (root, _) = mkBucketed(bloom = true)
    val df = spark.read.format("graft").load(root)
      .filter(col("id").isin(17L, 2900L))
    val planned = plannedFiles(df)
    assert(planned >= 1 && planned <= 4,
      s"expected <=4 planned files for a 2-key IN, got $planned")
    assert(df.count() == 2)
  }

  test("no false negatives: every sampled key's row is found") {
    val (root, st) = mkBucketed(bloom = true)
    val keys = 0L.until(N, 97L)
    keys.foreach { k =>
      val got = spark.read.format("graft").load(root)
        .filter(col("id") === k).count()
      assert(got == 1L, s"bloom pruning lost key $k")
    }
    // the point-lookup path agrees
    val looked = st.lookup(keys).get.select("id").as[Long].collect().sorted
    assert(looked.toSeq == keys.toSeq)
  }

  test("merge prune: a one-key upsert rewrites ~1 bucket file, not all") {
    val (_, stB) = mkBucketed(bloom = true)
    val (_, stP) = mkBucketed(bloom = false)
    def oneKeyNet(k: Long): DataFrame =
      Seq((k.toString, "u", k, s"upd$k", k % 7, 99L))
        .toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
          "after_grp", Changelog.TsCol)
    val fields = Seq("id", "name", "grp")

    val outB = stB.mergeOptimistic(oneKeyNet(2048L), fields, batchId = 1,
      tsGuard = false)
    val statsB = outB.asInstanceOf[ManifestStore.MergedAt].stats
    assert(statsB.rewrittenFiles <= 2,
      s"bloom-pruned merge touched ${statsB.rewrittenFiles} files")

    val outP = stP.mergeOptimistic(oneKeyNet(2048L), fields, batchId = 1,
      tsGuard = false)
    val statsP = outP.asInstanceOf[ManifestStore.MergedAt].stats
    assert(statsP.rewrittenFiles == Buckets,
      s"range-only merge should touch every bucket file, got ${statsP.rewrittenFiles}")

    // both converge to the same content
    assert(stB.read().get.filter(col("id") === 2048L)
      .select("name").as[String].head() == "upd2048")
  }

  test("rewrites rebuild blooms; DV masks keep them sound (superset)") {
    val (root, st) = mkBucketed(bloom = true)
    // every committed file carries a bloom
    assert(st.currentManifest.get.files.forall(_.bloom.isDefined))
    // MoR delete: data files unchanged, blooms still valid (masked keys
    // remain in the filter — a safe superset); the masked key reads 0 rows
    st.deleteWhere(col("id") === 77L, batchId = 1)
    assert(spark.read.format("graft").load(root)
      .filter(col("id") === 77L).count() == 0)
    // optimize/recluster rewrites build fresh blooms
    st.optimize(targetFiles = 4)
    val after = st.currentManifest.get.files
    assert(after.forall(_.bloom.isDefined),
      "a rewrite dropped the per-file blooms")
    assert(spark.read.format("graft").load(root)
      .filter(col("id") === 78L).count() == 1)
  }

  test("pruned DELETE: conjuncts cut the candidate scan, answers unchanged") {
    val (rootB, stB) = mkBucketed(bloom = true)
    val (rootP, stP) = mkBucketed(bloom = false)
    // the pruned form (what SQL DELETE passes) and the unpruned form must
    // land the identical manifest shape and content
    val sB = stB.deleteWhere(col("id") === 2048L, batchId = 1,
      pruneConjuncts = Seq(("id", "=", 2048L))).get
    val sP = stP.deleteWhere(col("id") === 2048L, batchId = 1).get
    assert(sB.maskedFiles == 1 && sB.maskedRows == 1)
    assert(sP.maskedFiles == 1 && sP.maskedRows == 1)
    assert(spark.read.format("graft").load(rootB).count() == N - 1)
    assert(spark.read.format("graft").load(rootB)
      .filter(col("id") === 2048L).count() == 0)
    // absent key: the bloom-pruned candidate set is EMPTY, so the delete
    // is a no-op decided from metadata alone (no version churn)
    val vBefore = stB.current.get._1
    assert(stB.deleteWhere(col("id") === (N + 999), batchId = 2,
      pruneConjuncts = Seq(("id", "=", N + 999))).isEmpty)
    assert(stB.current.get._1 == vBefore)
  }

  test("SQL DELETE wires its filters into the candidate prune") {
    val wh = Files.createTempDirectory("bloomsql").toString
    spark.conf.set("spark.sql.catalog.gblm", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gblm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gblm.db")
    spark.sql("CREATE TABLE gblm.db.pts (id BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(8, id)) " +
      "TBLPROPERTIES ('key'='id', 'bloomfilter'='8192')")
    spark.sql("INSERT INTO gblm.db.pts SELECT id, concat('n', id) " +
      "FROM range(0, 4000)")
    spark.sql("DELETE FROM gblm.db.pts WHERE id = 1234")
    assert(spark.table("gblm.db.pts").count() == 3999L)
    assert(spark.table("gblm.db.pts").filter(col("id") === 1234L).count() == 0)
    val st = new ManifestStore(
      java.nio.file.Paths.get(wh, "db", "pts").toString, spark, "id")
    val masked = st.currentManifest.get.files.filter(_.dv.isDefined)
    assert(masked.size == 1, s"expected 1 masked file, got ${masked.size}")
  }

  test("sidecar lifecycle: clone links them, vacuum reaps only dead ones") {
    val (root, st) = mkBucketed(bloom = true)
    val liveBefore = st.currentManifest.get.files.flatMap(_.bloom).toSet
    // a rewrite strands v0's sidecars once retention passes
    st.optimize(targetFiles = 4)
    val liveAfter = st.currentManifest.get.files.flatMap(_.bloom).toSet
    assert(liveAfter.nonEmpty && liveAfter.intersect(liveBefore).isEmpty)
    val clone = Files.createTempDirectory("bloomclone").toString
    st.cloneTo(clone)
    liveAfter.foreach(b => assert(
      Files.exists(java.nio.file.Paths.get(clone, "files", b)),
      s"clone is missing bloom sidecar $b"))
    st.vacuum(keepLast = 1)
    liveBefore.foreach(b => assert(
      !Files.exists(java.nio.file.Paths.get(root, "files", b)),
      s"vacuum left the dead sidecar $b"))
    liveAfter.foreach(b => assert(
      Files.exists(java.nio.file.Paths.get(root, "files", b)),
      s"vacuum reaped the LIVE sidecar $b"))
    // and the probe path still works (cache must not serve reaped blobs
    // for fresh names; live ones still skip)
    assert(spark.read.format("graft").load(root)
      .filter(col("id") === 123L).count() == 1)
  }

  test("renameColumn renames bloomfiltercols; later writes keep the bloom") {
    val root = Files.createTempDirectory("bloomrn").toString
    ManifestStore.writeTableProps(root,
      Map("bloomfiltercols" -> "v", "bloomfilter" -> "4096"))
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 400L).map(i => (i, s"v$i")).toDF("id", "v"),
      batchId = 0, nFiles = 4, statsCols = Seq("v"))
    val before = st.currentManifest.get.files.map(_.name).toSet
    st.renameColumn("v", "w")
    assert(ManifestStore.readTableProps(root).get("bloomfiltercols")
      .contains("w"))
    assert(st.optimize(targetFiles = 1).isDefined)
    val fresh = st.currentManifest.get.files.filterNot(f => before(f.name))
    assert(fresh.nonEmpty)
    // sidecars stay keyed by the column's PHYSICAL name, which is `v`
    assert(fresh.forall(_.colBlooms.keySet == Set("v")),
      fresh.map(_.colBlooms))
    assert(st.read().get.filter(col("w") === "v123").count() == 1L)
  }

  test("secondary-column blooms prune a scattered non-key equality") {
    // key-clustered table: `tag` is high-cardinality and SCATTERED across
    // the key order, so every file's [min,max] on tag covers any probe —
    // only a per-file tag bloom can cut the file set
    def mk(withBloom: Boolean): (String, ManifestStore) = {
      val root = Files.createTempDirectory("bloomsc").toString
      if (withBloom) ManifestStore.writeTableProps(root,
        Map("bloomfiltercols" -> "tag", "bloomfilter" -> "8192"))
      val st = new ManifestStore(root, spark, "id")
      st.commit((0L until N).map(i =>
        (i, s"n$i", s"tag-${(i * 2654435761L) % 100000}"))
        .toDF("id", "name", "tag"),
        batchId = 0, nFiles = 8, statsCols = Seq("tag"))
      (root, st)
    }
    val (rootB, stB) = mk(withBloom = true)
    val (rootP, _) = mk(withBloom = false)
    val m = stB.currentManifest.get
    assert(m.files.forall(f => f.colBlooms.contains("tag") &&
      f.bloom.isDefined))

    val probe = s"tag-${(1234L * 2654435761L) % 100000}"
    def q(root: String) = spark.read.format("graft").load(root)
      .filter(col("tag") === probe)
    assert(plannedFiles(q(rootP)) == 8,
      "zone map alone should be blind on the scattered tag")
    val cut = plannedFiles(q(rootB))
    assert(cut >= 1 && cut <= 3, s"tag bloom should cut files, planned $cut")
    assert(q(rootB).count() == q(rootP).count())
    // no false negatives on a sample of tags
    0L.until(N, 389L).foreach { i =>
      val t = s"tag-${(i * 2654435761L) % 100000}"
      assert(spark.read.format("graft").load(rootB)
        .filter(col("tag") === t).count() ==
        spark.read.format("graft").load(rootP)
          .filter(col("tag") === t).count(), s"lost rows for $t")
    }
    // misconfiguration refuses loudly: bloom col not in statsCols
    val badRoot = Files.createTempDirectory("bloombad").toString
    ManifestStore.writeTableProps(badRoot,
      Map("bloomfiltercols" -> "name"))
    val bad = new ManifestStore(badRoot, spark, "id")
    val err = intercept[IllegalArgumentException] {
      bad.commit((0L until 10L).map(i => (i, s"n$i")).toDF("id", "name"),
        batchId = 0, nFiles = 1)
    }
    assert(err.getMessage.contains("zone-map column"))
  }

  test("struct-LEAF blooms prune a scattered nested equality") {
    // the documents/multimodal shape: `meta.tag` is hash-scattered across
    // the key clustering, so every file's leaf zone map covers any probe —
    // only a per-file bloom on the DOTTED leaf path can cut the file set
    def mk(withBloom: Boolean): (String, ManifestStore) = {
      val root = Files.createTempDirectory("bloomnst").toString
      if (withBloom) ManifestStore.writeTableProps(root,
        Map("bloomfiltercols" -> "meta.tag", "bloomfilter" -> "8192"))
      val st = new ManifestStore(root, spark, "id")
      st.commit((0L until N).map(i =>
        (i, s"n$i", s"tag-${(i * 2654435761L) % 100000}", i % 5))
        .toDF("id", "name", "tag", "grp")
        .select(col("id"), col("name"),
          struct(col("tag"), col("grp")).as("meta")),
        batchId = 0, nFiles = 8, statsCols = Seq("meta.tag", "meta.grp"))
      (root, st)
    }
    val (rootB, stB) = mk(withBloom = true)
    val (rootP, _) = mk(withBloom = false)
    val m = stB.currentManifest.get
    assert(m.files.forall(_.colBlooms.contains("meta.tag")),
      "a committed file is missing its struct-leaf bloom sidecar")

    val probe = s"tag-${(1234L * 2654435761L) % 100000}"
    def q(root: String) = spark.read.format("graft").load(root)
      .filter(col("meta.tag") === probe)
    assert(plannedFiles(q(rootP)) == 8,
      "the leaf zone map alone should be blind on the scattered tag")
    val cut = plannedFiles(q(rootB))
    assert(cut >= 1 && cut <= 3,
      s"leaf bloom should cut files, planned $cut")
    assert(q(rootB).count() == q(rootP).count())
    // no false negatives on a sample of leaf values
    0L.until(N, 389L).foreach { i =>
      val t = s"tag-${(i * 2654435761L) % 100000}"
      assert(spark.read.format("graft").load(rootB)
        .filter(col("meta.tag") === t).count() ==
        spark.read.format("graft").load(rootP)
          .filter(col("meta.tag") === t).count(), s"lost rows for $t")
    }
    // an unresolvable leaf path still refuses loudly (not in statsCols)
    val badRoot = Files.createTempDirectory("bloomnstbad").toString
    ManifestStore.writeTableProps(badRoot,
      Map("bloomfiltercols" -> "meta.tag"))
    val bad = new ManifestStore(badRoot, spark, "id")
    val err = intercept[IllegalArgumentException] {
      bad.commit((0L until 10L).map(i => (i, s"t$i", i))
        .toDF("id", "tag", "grp")
        .select(col("id"),
          struct(col("tag"), col("grp")).as("meta")),
        batchId = 0, nFiles = 1)
    }
    assert(err.getMessage.contains("zone-map column"))
  }

  test("randomized lifecycle: bloom table stays lookup-equal to its twin") {
    // deterministic fuzz of the whole soundness claim: whatever sequence
    // of scattered upserts and point deletes runs, a bloom-pruned table
    // must answer every point lookup exactly like its bloom-less twin
    // (blooms may only skip files, never answers)
    val rng = new scala.util.Random(4242L)
    val (rootB, stB) = mkBucketed(bloom = true)
    val (rootP, stP) = mkBucketed(bloom = false)
    val fields = Seq("id", "name", "grp")
    def upsertBatch(round: Int): DataFrame = {
      val keys = Seq.fill(25)(rng.nextLong(2 * N)).distinct
      keys.map(k => (k.toString, "u", k, s"r$round-$k", k % 7,
        100L + round)).toDF(Changelog.KeyCol, Changelog.OpCol, "after_id",
        "after_name", "after_grp", Changelog.TsCol)
    }
    (1 to 4).foreach { r =>
      val batch = upsertBatch(r)
      stB.mergeOptimistic(batch, fields, batchId = r, tsGuard = false)
      stP.mergeOptimistic(batch, fields, batchId = r, tsGuard = false)
      val dk = rng.nextLong(2 * N)
      stB.deleteWhere(col("id") === dk, batchId = 100 + r,
        pruneConjuncts = Seq(("id", "=", dk)))
      stP.deleteWhere(col("id") === dk, batchId = 100 + r)
      // sampled point lookups must agree exactly
      Seq.fill(15)(rng.nextLong(2 * N)).foreach { k =>
        val a = spark.read.format("graft").load(rootB)
          .filter(col("id") === k).select("name").as[String].collect().sorted
        val b = spark.read.format("graft").load(rootP)
          .filter(col("id") === k).select("name").as[String].collect().sorted
        assert(a.toSeq == b.toSeq, s"round $r key $k: bloom $a vs plain $b")
      }
      assert(spark.read.format("graft").load(rootB).count() ==
        spark.read.format("graft").load(rootP).count(), s"round $r counts")
    }
  }

  test("oversized IN stays under a pinned wall bound: 100k keys, 256 bucket files") {
    // the worst case the r13 advice named: every key ABSENT but inside
    // every file's range envelope (even keys committed, odd keys probed
    // on a bucketed layout whose file hulls span the domain) — phase 3
    // would pay O(files x keys x hashes) single-threaded without the
    // probe budget. The budget trips mid-fold; undecided files keep
    // conservatively, decided ones still drop, answers stay exact.
    val root = Files.createTempDirectory("bloombig").toString
    ManifestStore.writeTableProps(root,
      Map("buckets" -> "256", "bloomfilter" -> "8192"))
    val st = new ManifestStore(root, spark, "id")
    st.commit(spark.range(100000L)
      .selectExpr("id * 2 AS id", "concat('n', id) AS name"),
      batchId = 0, nFiles = 256)
    val m = st.currentManifest.get
    assert(m.files.size >= 256)
    val absent: Seq[Any] = (0L until 100000L).map(i => i * 2 + 1)
    val t0 = System.nanoTime()
    val kept = st.prunedFiles(m, Seq(("id", "in", absent)))
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 5.0,
      f"oversized-IN prune must stay bounded, took $sec%.1f s")
    // decided files dropped (the budget covers a good prefix), undecided
    // kept — never MORE than the range envelope admits
    assert(kept.size <= m.files.size)
    // no false negatives through the capped fold: present keys keep
    // their owning file and read back exactly
    val present: Seq[Any] = (0L until 100000L by 9973L).map(_ * 2)
    val keptP = st.prunedFiles(m, Seq(("id", "in", present)))
    assert(keptP.nonEmpty)
    import org.apache.spark.sql.functions.col
    present.take(4).foreach { k =>
      assert(spark.read.format("graft").load(root)
        .filter(col("id") === k.asInstanceOf[Long]).count() == 1L,
        s"capped fold lost key $k")
    }
  }

  test("cache-cold oversized IN: sidecar LOADS bill the budget; " +
    "conservative keeps, no false negatives") {
    // r14's budget counted probes only — a cache-cold pathological fold
    // still paid O(survivors) sidecar LOADS before it could trip. Loads
    // now charge their byte size against the same budget. Pin it with a
    // tiny injected budget: the FIRST cold load (~KB blob) spends it, so
    // every file keeps on its range envelope — degraded pruning, exact
    // answers, bounded wall.
    val root = Files.createTempDirectory("bloomcold").toString
    // 64 KiBit blooms: ~100 bits/key, so 40k absent probes per file see
    // ~0 false hits and the control leg can assert real drops
    ManifestStore.writeTableProps(root,
      Map("buckets" -> "64", "bloomfilter" -> "65536"))
    val st = new ManifestStore(root, spark, "id")
    st.commit(spark.range(40000L)
      .selectExpr("id * 2 AS id", "concat('n', id) AS name"),
      batchId = 0, nFiles = 64)
    val m = st.currentManifest.get
    val absent: Seq[Any] = (0L until 40000L).map(i => i * 2 + 1)
    // control: default budget, cold cache — every file decided (all
    // blobs say absent), the fold drops them all, still under the bound
    ManifestStore.clearBloomCache()
    val t0 = System.nanoTime()
    val keptDefault = st.prunedFiles(m, Seq(("id", "in", absent)))
    val secDefault = (System.nanoTime() - t0) / 1e9
    assert(secDefault < 5.0,
      f"cold oversized-IN must stay bounded, took $secDefault%.1f s")
    assert(keptDefault.size <= 3, // ~0 expected Bloom false hits
      s"absent keys must drop decided files, kept ${keptDefault.size}")
    // injected 512-unit budget: the first cold load alone overspends it
    sys.props("graft.inprobe.budget") = "512"
    try {
      ManifestStore.clearBloomCache()
      val t1 = System.nanoTime()
      val keptCold = st.prunedFiles(m, Seq(("id", "in", absent)))
      val secCold = (System.nanoTime() - t1) / 1e9
      assert(secCold < 5.0,
        f"spent-on-load fold must stay bounded, took $secCold%.1f s")
      assert(keptCold.size == m.files.size,
        s"a load-spent budget must keep every undecided file " +
          s"(range envelope held): ${keptCold.size} of ${m.files.size}")
      // no false negatives through the load-billed fold: present keys
      // keep their owning file and read back exactly
      ManifestStore.clearBloomCache()
      // 13,334 keys: still OVERSIZED, so this probe also rides phase 3
      val present: Seq[Any] = (0L until 40000L by 3L).map(_ * 2)
      val keptP = st.prunedFiles(m, Seq(("id", "in", present)))
      assert(keptP.size == m.files.size) // undecided: all keep
      import org.apache.spark.sql.functions.col
      present.take(3).foreach { k =>
        assert(spark.read.format("graft").load(root)
          .filter(col("id") === k.asInstanceOf[Long]).count() == 1L,
          s"load-billed fold lost key $k")
      }
    } finally { sys.props.remove("graft.inprobe.budget"); () }
  }

  test("capped sidecar loads: a cache-miss bigger than the remaining " +
    "budget is refused up front, never an overshoot") {
    val (root, st) = mkBucketed(bloom = true)
    val dir = java.nio.file.Paths.get(root, "files")
    val name = st.currentManifest.get.files.head.bloom.get
    val size = Files.size(dir.resolve(name))
    val rootKey = java.nio.file.Paths.get(root)
      .toAbsolutePath.normalize.toString
    ManifestStore.clearBloomCache()
    // budget below the blob: refused, zero bytes billed (r15 overshot
    // here by the whole blob)
    val (refused, paid0) =
      ManifestStore.loadBloomBilledCapped(rootKey, dir, name, size - 1)
    assert(refused.isEmpty && paid0 == 0L)
    // budget at the blob: loads and bills exactly its size
    val (loaded, paid) =
      ManifestStore.loadBloomBilledCapped(rootKey, dir, name, size)
    assert(loaded.isDefined && paid == size)
    // cache hit: free regardless of the cap
    val (hit, paidHit) =
      ManifestStore.loadBloomBilledCapped(rootKey, dir, name, 0L)
    assert(hit.isDefined && paidHit == 0L)
    // missing sidecar: refused like a failed load
    val (gone, paidGone) = ManifestStore.loadBloomBilledCapped(
      rootKey, dir, "no_such_sidecar", Long.MaxValue)
    assert(gone.isEmpty && paidGone == 0L)
  }

  test("clustered (non-bucketed) table: blooms present, answers exact") {
    val root = Files.createTempDirectory("bloomc").toString
    ManifestStore.writeTableProps(root, Map("bloomfilter" -> "true"))
    val st = new ManifestStore(root, spark, "id")
    st.commit((0L until 1000L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 8)
    assert(st.currentManifest.get.files.forall(_.bloom.isDefined))
    val df = spark.read.format("graft").load(root).filter(col("id") === 500L)
    // disjoint ranges already plan 1 file; bloom must not lose it
    assert(plannedFiles(df) == 1)
    assert(df.count() == 1)
  }
}
