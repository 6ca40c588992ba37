package graft.spark

import graft.SparkSpec
import graft.cdc.ManifestStore
import graft.functions.KmvSketch
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import java.nio.file.Files

/** Per-file KMV NDV sketches -> DSv2 column statistics -> Spark CBO.
  * The clustered task writer folds the sketches while it writes (store
  * commits and promoted DSv2 writes alike), the manifest carries one tiny
  * .kmv sidecar name per file, and the scan's
  * `estimateStatistics().columnStats()` reports merged distinct counts /
  * null counts / numeric min-max of exactly the planned files — so with
  * `spark.sql.cbo.enabled` the join planner sizes joins from NDV, not
  * bare row counts.
  */
class KmvStatsSpec extends SparkSpec {
  import spark.implicits._

  test("KMV estimator: exact below k, within error above, exact union") {
    val hasher = KmvSketch.hasherFor(LongType)
    // below k: exact
    val small = new KmvSketch.State(128)
    (0L until 100L).foreach(i => small.add(hasher(i)))
    (0L until 100L).foreach(i => small.add(hasher(i))) // duplicates free
    assert(KmvSketch.estimateNdv(Seq((128, small.toSortedArray))) == 100L)
    // above k: within ~3/sqrt(k) = 27%
    val big = new KmvSketch.State(128)
    (0L until 50000L).foreach(i => big.add(hasher(i * 7919L)))
    val est = KmvSketch.estimateNdv(Seq((128, big.toSortedArray)))
    assert(math.abs(est - 50000.0) / 50000.0 < 0.27, s"est=$est")
    // union of overlapping sketches estimates the UNION, not the sum
    val a = new KmvSketch.State(128)
    val b = new KmvSketch.State(128)
    (0L until 30000L).foreach(i => a.add(hasher(i)))
    (15000L until 45000L).foreach(i => b.add(hasher(i)))
    val u = KmvSketch.estimateNdv(Seq((128, a.toSortedArray),
      (128, b.toSortedArray)))
    assert(math.abs(u - 45000.0) / 45000.0 < 0.27, s"union est=$u")
    // serialization round-trips (null count rides in the blob)
    val blob = KmvSketch.encode(128, 7L, big.toSortedArray)
    val (dk, dn, dh) = KmvSketch.decode(blob)
    assert(dk == 128 && dn == 7L && dh.sameElements(big.toSortedArray))
    val multi = KmvSketch.encodeMulti(Seq("x" -> blob, "y" -> blob))
    assert(KmvSketch.decodeMulti(multi)("x").sameElements(blob))
  }

  test("commit folds KMV sidecars; ndvStats merges within error") {
    val root = Files.createTempDirectory("kmvstats").toString
    val st = new ManifestStore(root, spark, "id")
    // grp has exactly 97 distinct values; id is unique
    val df = (0L until 8000L).map(i => (i, i % 97L, s"n$i"))
      .toDF("id", "grp", "name")
    st.commit(df, batchId = 0, nFiles = 8, statsCols = Seq("grp"))
    val m = st.currentManifest.get
    assert(m.files.size == 8)
    assert(m.files.forall(_.kmv.isDefined), "every file carries a .kmv sidecar")
    val ndv = st.ndvStats(m, m.files).get
    assert(math.abs(ndv("id")._1 - 8000.0) / 8000.0 < 0.27,
      s"key ndv=${ndv("id")._1}")
    // 97 < k=128: per-file sketches unsaturated, union is EXACT
    assert(ndv("grp")._1 == 97L, s"grp ndv=${ndv("grp")._1}")
    assert(ndv("id")._2 == 0L && ndv("grp")._2 == 0L, "null counts ride along")
  }

  test("promoted files carry sketches equal to ones rebuilt from each file") {
    val warehouse = Files.createTempDirectory("kmv_wh").toString
    spark.conf.set("spark.sql.catalog.gkv", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gkv.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gkv.db")
    spark.sql("DROP TABLE IF EXISTS gkv.db.t")
    spark.sql("CREATE TABLE gkv.db.t (id BIGINT, seg STRING, v DOUBLE) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('key'='id')")
    // dynamic INSERT OVERWRITE is the promotion (1x-write) path
    val prevOw = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE gkv.db.t SELECT id, " +
      "CASE CAST(id % 2 AS INT) WHEN 0 THEN 'A' ELSE 'B' END, " +
      "CAST(id % 50 AS DOUBLE) FROM range(0, 6000)")
    finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevOw)
    val root = java.nio.file.Paths.get(warehouse, "db", "t").toString
    val st = new ManifestStore(root, spark, "id")
    val m = st.currentManifest.get
    assert(m.streamId.startsWith("dsv2-owp1x-"),
      s"expected the promoted lineage, got '${m.streamId}'")
    assert(m.files.forall(_.kmv.isDefined), "adopted files carry .kmv sidecars")
    val ndv = st.ndvStats(m, m.files).get
    assert(math.abs(ndv("id")._1 - 6000.0) / 6000.0 < 0.27,
      s"key ndv=${ndv("id")._1}")
    assert(ndv("seg")._1 == 2L, s"seg ndv=${ndv("seg")._1}")

    // every file's sidecar equals a sketch rebuilt from a plain read of
    // that file: same k, same null count, same retained hashes
    m.files.foreach { f =>
      val sidecar = KmvSketch.decodeMulti(Files.readAllBytes(
        java.nio.file.Paths.get(root, "files", f.kmv.get)))
      assert(sidecar.keySet == Set("id", "seg"), s"${f.name}: ${sidecar.keySet}")
      val df = spark.read.parquet(s"$root/files/${f.name}")
      sidecar.foreach { case (c, blob) =>
        val dt = df.schema(c).dataType
        val hasher = KmvSketch.hasherFor(dt)
        val rebuilt = new KmvSketch.State(KmvSketch.DefaultK)
        df.select(c).collect().map(_.get(0)).foreach {
          case null => rebuilt.nulls += 1
          case s: String => rebuilt.add(hasher(
            org.apache.spark.unsafe.types.UTF8String.fromString(s)))
          case v => rebuilt.add(hasher(v))
        }
        val (k, nulls, hashes) = KmvSketch.decode(blob)
        assert(k == KmvSketch.DefaultK && nulls == rebuilt.nulls,
          s"${f.name}.$c: k=$k nulls=$nulls vs ${rebuilt.nulls}")
        assert(hashes.sameElements(rebuilt.toSortedArray),
          s"${f.name}.$c: sketch differs from the rebuilt one")
      }
    }
  }

  test("columnStats reach the optimizer and NDV sizes a CBO join") {
    val rootA = Files.createTempDirectory("kmv_a").toString
    val rootB = Files.createTempDirectory("kmv_b").toString
    val stA = new ManifestStore(rootA, spark, "id")
    val stB = new ManifestStore(rootB, spark, "id")
    // A: 6000 rows, fk has 10 distinct values; B: 6000 rows, unique keys
    stA.commit((0L until 6000L).map(i => (i, i % 10L)).toDF("id", "fk"),
      batchId = 0, nFiles = 4, statsCols = Seq("fk"))
    stB.commit((0L until 6000L).map(i => (i, s"v$i")).toDF("id", "pv"),
      batchId = 0, nFiles = 4)

    val dfA = spark.read.format("graft").load(rootA)
    // attribute-level stats flow into the logical plan under CBO
    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val rel = dfA.queryExecution.optimizedPlan
      val attrStats = rel.stats.attributeStats
      val fkStat = attrStats.toSeq.collectFirst {
        case (a, s) if a.name == "fk" => s }
      assert(fkStat.isDefined, s"no fk column stat in ${attrStats.toSeq}")
      assert(fkStat.get.distinctCount.exists(dc =>
        dc.toLong >= 8L && dc.toLong <= 13L),
        s"fk distinctCount=${fkStat.get.distinctCount}")
      assert(fkStat.get.nullCount.contains(BigInt(0)))
      // min/max parsed from the zone maps (numeric path)
      assert(fkStat.get.min.contains(0L) && fkStat.get.max.contains(9L),
        s"fk min/max=${(fkStat.get.min, fkStat.get.max)}")

      // join sizing: |A join B on id| estimates ~ n1*n2/max(ndv) = 6000,
      // not the stats-free guess. Accept the NDV error band generously;
      // the point is the estimate is DRIVEN by distinct counts.
      val dfB = spark.read.format("graft").load(rootB)
      val j = dfA.join(dfB, "id")
      val joinNode = j.queryExecution.optimizedPlan.collectFirst {
        case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn }
      assert(joinNode.isDefined)
      val rc = joinNode.get.stats.rowCount
      assert(rc.isDefined, "CBO join estimate missing rowCount")
      assert(rc.get.toLong >= 3000L && rc.get.toLong <= 12000L,
        s"join rowCount estimate ${rc.get} should reflect NDV ~6000")
    } finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
  }

  test("NDV flips a real join decision: broadcast with stats, sort-merge without") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // 3-table shape: (A ⋈ B on id) ⋈ C on k2. A and B are 6k rows each —
    // with key NDV the intermediate estimates ~6k rows (n1*n2/max(ndv),
    // a few hundred KB) and becomes the BROADCAST side of the C join;
    // without column stats CBO falls back to the size PRODUCT for the
    // intermediate (~GBs), so the C join plans sort-merge. C itself sits
    // above the threshold so only the NDV-sized intermediate can flip it.
    val rootA = Files.createTempDirectory("kmv_ja").toString
    val rootB = Files.createTempDirectory("kmv_jb").toString
    val rootC = Files.createTempDirectory("kmv_jc").toString
    new ManifestStore(rootA, spark, "id").commit(
      (0L until 6000L).map(i => (i, s"pa-$i")).toDF("id", "pa"),
      batchId = 0, nFiles = 4)
    new ManifestStore(rootB, spark, "id").commit(
      (0L until 6000L).map(i => (i, i % 50L, s"pb-$i")).toDF("id", "k2", "pb"),
      batchId = 0, nFiles = 4, statsCols = Seq("k2"))
    new ManifestStore(rootC, spark, "cid").commit(
      (0L until 50000L).map(i =>
        (i, i % 50L, s"payload-$i-${i * 2654435761L}-${i * 40503L}"))
        .toDF("cid", "k2", "payload"),
      batchId = 0, nFiles = 4, statsCols = Seq("k2"))

    // the NO-STATS control: identical clones of A and B with their .kmv
    // sidecars stripped — ndvStats refuses partial unions, so the scan
    // reports NO columnStats on exactly the same data
    val rootA0 = Files.createTempDirectory("kmv_ja0").toString + "/t"
    val rootB0 = Files.createTempDirectory("kmv_jb0").toString + "/t"
    new ManifestStore(rootA, spark, "id").cloneTo(rootA0)
    new ManifestStore(rootB, spark, "id").cloneTo(rootB0)
    Seq(rootA0, rootB0).foreach { r =>
      val s = Files.list(java.nio.file.Paths.get(r, "files"))
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".kmv"))
        .foreach(Files.delete)
      finally s.close()
    }

    def secondJoin(aRoot: String, bRoot: String)
        : org.apache.spark.sql.execution.SparkPlan = {
      val a = spark.read.format("graft").load(aRoot)
      val b = spark.read.format("graft").load(bRoot)
      val c = spark.read.format("graft").load(rootC)
      val j = a.join(b, "id").join(c, "k2")
      assert(j.count() == 6000L * 1000L) // 6000 ids x (50000/50) C rows per k2
      // sparkPlan = the STATIC planner's choice (CBO stats), before AQE
      // re-plans from runtime sizes — the decision under test
      j.queryExecution.sparkPlan
    }

    val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1024 * 1024).toString)
    try {
      val withStats = secondJoin(rootA, rootB)
      assert(withStats.collect { case _: SortMergeJoinExec => 1 }.isEmpty,
        s"with NDV the intermediate must broadcast:\n$withStats")
      assert(withStats.collect { case _: BroadcastHashJoinExec => 1 }.size == 2,
        s"expected both joins broadcast under NDV:\n$withStats")
      val noStats = secondJoin(rootA0, rootB0)
      assert(noStats.collect { case _: SortMergeJoinExec => 1 }.nonEmpty,
        s"without column stats the C join must stay sort-merge:\n$noStats")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }
}
