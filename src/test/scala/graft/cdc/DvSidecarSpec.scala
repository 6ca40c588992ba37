package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Deletion-vector sidecars against a plain recomputation: after every
  * merge-on-read and predicate delete, each masked file's sidecar holds
  * exactly its old keys ∪ the keys this commit masked in it, once each,
  * all addressed to that file, and the manifest's `dvRows` is the
  * sidecar's row count. A touched file that gains no mask keeps its
  * (name, dv) identity. Sidecars written in the older `partitionBy`
  * layout (one `_p=<file>` partition directory adopted per file) read,
  * merge and optimize exactly like new ones.
  */
class DvSidecarSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("id", "name")

  // even keys only: an odd key lands inside a file's range without
  // matching any of its rows
  private def seeded(): ManifestStore = {
    val st = new ManifestStore(
      Files.createTempDirectory("dvside").toString, spark, "id")
    st.commit((0L until 400L by 2L).map(i => (i, s"n$i")).toDF("id", "name"),
      batchId = 0, nFiles = 4)
    st
  }

  private def net(rows: Seq[(Long, String)], ts: Long): DataFrame =
    rows.map { case (id, op) =>
      (id, op, if (op == "d") None else Some(id),
        if (op == "d") None else Some(s"v$id-$ts"), ts)
    }.toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
      Changelog.TsCol)

  private def sidecarRows(st: ManifestStore, dv: String): Seq[(String, Long)] =
    spark.read.parquet(Paths.get(st.root, "files", dv).toString)
      .select(col("_file"), col("_key").cast("long")).as[(String, Long)]
      .collect().toSeq

  private def fileKeys(st: ManifestStore, name: String): Set[Long] =
    spark.read.parquet(Paths.get(st.root, "files", name).toString)
      .select("id").as[Long].collect().toSet

  /** Every sidecar of the current manifest is old ∪ `added(file)`, with
    * no duplicate and `dvRows` equal to its row count.
    */
  private def assertSidecars(st: ManifestStore,
                             before: ManifestStore.Manifest,
                             added: String => Set[Long]): Unit = {
    val old = before.files.map(f => f.name -> f).toMap
    st.currentManifest.get.files.filter(_.dv.isDefined).foreach { f =>
      val rows = sidecarRows(st, f.dv.get)
      assert(rows.forall(_._1 == f.name), s"${f.dv} addresses another file")
      val keys = rows.map(_._2)
      assert(keys.distinct.size == keys.size, s"${f.dv} repeats a key: $keys")
      assert(f.dvRows == keys.size.toLong,
        s"${f.name}: dvRows ${f.dvRows} != sidecar rows ${keys.size}")
      val oldKeys = old.get(f.name).flatMap(_.dv)
        .map(d => sidecarRows(st, d).map(_._2).toSet).getOrElse(Set.empty)
      assert(keys.toSet == oldKeys ++ added(f.name), s"${f.name}")
    }
  }

  private def expected(st: ManifestStore,
                       live: Map[Long, String]): Unit = {
    val got = st.read().get.select("id", "name").as[(Long, String)]
      .collect().toMap
    assert(got == live)
  }

  private val base: Map[Long, String] =
    (0L until 400L by 2L).map(i => i -> s"n$i").toMap

  test("first mask and re-mask: sidecar = old ∪ new keys, dvRows = rows") {
    val st = seeded()
    val m0 = st.currentManifest.get
    val b1 = Seq(10L, 12L, 120L, 250L)
    st.mergeOnRead(net(b1.map(_ -> "u"), 1L), fields, batchId = 1)
    // a first mask: every masked key is one of the file's own rows
    assertSidecars(st, m0, f => fileKeys(st, f).intersect(b1.toSet))
    val m1 = st.currentManifest.get
    assert(m1.files.count(_.dv.isDefined) == 3)
    // re-mask: the same data files gain more keys (and the upsert file
    // written by batch 1 gets its own first sidecar)
    val b2 = Seq(12L, 14L, 122L, 300L)
    st.mergeOnRead(net(b2.map(_ -> "u"), 2L), fields, batchId = 2)
    assertSidecars(st, m1, f => fileKeys(st, f).intersect(b2.toSet))
    expected(st, base ++ (b1 ++ b2).map(k =>
      k -> s"v$k-${if (b2.contains(k)) 2 else 1}"))
  }

  test("a touched file that gains no mask keeps its (name, dv) identity") {
    val st = seeded()
    st.mergeOnRead(net(Seq(10L -> "u"), 1L), fields, batchId = 1)
    val m1 = st.currentManifest.get
    val masked = m1.files.find(_.dv.isDefined).get
    // 11 lies inside the masked file's range but is no row of it: the
    // file is touched, masks nothing and must carry as it was
    assert(masked.minKey.toLong < 11L && masked.maxKey.toLong > 11L)
    val stats = st.mergeOnRead(net(Seq(11L -> "u"), 2L), fields, batchId = 2)
    assert(stats.exists(_.maskedFiles == 0))
    val after = st.currentManifest.get.files.find(_.name == masked.name).get
    assert((after.name, after.dv, after.dvRows) ==
      (masked.name, masked.dv, masked.dvRows))
    expected(st, base + (10L -> "v10-1") + (11L -> "v11-2"))
  }

  test("deleteWhere masks the matched keys on top of the old sidecars") {
    val st = seeded()
    st.mergeOnRead(net(Seq(10L -> "u", 20L -> "d", 300L -> "d"), 1L),
      fields, batchId = 1)
    val m1 = st.currentManifest.get
    val cond = col("id") >= 4L && col("id") <= 30L
    st.deleteWhere(cond, batchId = 2)
    // the file masked at 300 is a candidate that matches nothing: it keeps
    // its (name, dv) identity
    val far = m1.files.find(f => f.dv.isDefined && f.minKey.toLong > 30L).get
    assert(st.currentManifest.get.files.exists(f =>
      (f.name, f.dv, f.dvRows) == (far.name, far.dv, far.dvRows)))
    // the delete masks every EFFECTIVE row the predicate matches: the data
    // file's live keys and the upsert file's row for 10
    val live1 = st.readVersion(m1.version).get.select("id").as[Long]
      .collect().toSet
    assertSidecars(st, m1, f =>
      fileKeys(st, f).filter(k => k >= 4L && k <= 30L && live1(k)))
    expected(st, (base - 20L - 300L).filterNot { case (k, _) => k >= 4L && k <= 30L })
  }

  test("sidecars in the older partitionBy layout read, merge and optimize") {
    val st = seeded()
    st.mergeOnRead(net(Seq(10L -> "u", 120L -> "u", 250L -> "d"), 1L),
      fields, batchId = 1)
    // rewrite every sidecar as the earlier writer laid it out: the mask
    // rows written partitioned by file, each `_p=<file>` directory then
    // adopted under the sidecar's name
    st.currentManifest.get.files.flatMap(f => f.dv.map(f.name -> _)).foreach {
      case (name, dv) =>
        val dir = Paths.get(st.root, "files", dv)
        val rows = sidecarRows(st, dv)
        val stage = Files.createTempDirectory("dvlegacy").resolve("out")
        rows.toDF("_file", "_key").withColumn("_p", col("_file"))
          .repartition(col("_p")).write.partitionBy("_p")
          .parquet(stage.toString)
        deleteTree(dir)
        Files.move(stage.resolve(s"_p=$name"), dir)
    }
    val live1 = base + (10L -> "v10-1") + (120L -> "v120-1") - 250L
    expected(st, live1)
    assert(st.lookup(Seq(10L, 12L, 250L)).get.select("id", "name")
      .as[(Long, String)].collect().toMap ==
      Map(10L -> "v10-1", 12L -> "n12"))
    val m1 = st.currentManifest.get
    val b2 = Seq(12L, 120L, 252L)
    st.mergeOnRead(net(b2.map(_ -> "u"), 2L), fields, batchId = 2)
    assertSidecars(st, m1, f => fileKeys(st, f).intersect(b2.toSet))
    val live2 = live1 ++ b2.map(k => k -> s"v$k-2")
    expected(st, live2)
    st.optimize(targetFiles = 2, dvFold = 0.01)
    assert(st.currentManifest.get.files.forall(_.dv.isEmpty))
    expected(st, live2)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteTree(c)) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}
