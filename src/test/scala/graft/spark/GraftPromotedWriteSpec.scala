package graft.spark

import graft.SparkSpec
import graft.cdc.ManifestStore
import org.apache.spark.sql.functions._

/** The 1x-write DSv2 commit path (ClusteredStaging): dynamic INSERT
  * OVERWRITE task output is range-clustered + cell-pure by the write's
  * required distribution, stats fold in the task writers, and the commit
  * ADOPTS the staged files by rename — nothing is re-read or re-written.
  * The promoted lineage is observable (`dsv2-owp1x-` streamId); stats
  * must equal what a plain read of each adopted file recomputes, or
  * zone-map pruning would silently skip rows.
  */
class GraftPromotedWriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_pw_wh_").toString

  private lazy val cat: Unit = {
    spark.conf.set("spark.sql.catalog.gpw", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpw.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpw.db")
  }
  private def sql(q: String) = { cat; spark.sql(q) }

  private def root(tbl: String) =
    java.nio.file.Paths.get(warehouse, "db", tbl).toString
  private def store(tbl: String) =
    new ManifestStore(root(tbl), spark, "id")

  private def dynOverwrite(stmt: String): Unit = {
    val prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try sql(stmt) finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  test("dynamic overwrite adopts staged files: promoted lineage, pure cells") {
    sql("DROP TABLE IF EXISTS gpw.db.t1")
    sql("CREATE TABLE gpw.db.t1 (id BIGINT, seg STRING, v DOUBLE) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('key'='id')")
    sql("INSERT INTO gpw.db.t1 SELECT id, " +
      "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'A' WHEN 1 THEN 'B' ELSE 'C' " +
      "END, CAST(id AS DOUBLE) FROM range(0, 3000)")
    dynOverwrite("INSERT OVERWRITE gpw.db.t1 " +
      "SELECT id, 'B', CAST(-id AS DOUBLE) FROM range(5000, 5400)")
    val m = store("t1").currentManifest.get
    assert(m.streamId.startsWith("dsv2-owp1x-"),
      s"expected the promoted (1x-write) lineage, got '${m.streamId}'")
    // the adopted files are partition-pure and carry exact stats
    val bFiles = m.files.filter(_.cols.get("seg").exists(_._1 == "B"))
    assert(bFiles.nonEmpty)
    bFiles.foreach { f =>
      assert(f.cols("seg") == (("B", "B")), s"cell purity: ${f.cols("seg")}")
      val real = spark.read.parquet(s"${root("t1")}/files/${f.name}")
        .agg(min("id"), max("id"), count(lit(1))).head()
      assert(f.minKey == real.getLong(0).toString &&
        f.maxKey == real.getLong(1).toString && f.rows == real.getLong(2),
        s"manifest stats ${(f.minKey, f.maxKey, f.rows)} vs file " +
          s"${(real.getLong(0), real.getLong(1), real.getLong(2))}")
    }
    // key ranges across the adopted files are disjoint (the required
    // ordering was honored: range-clustered like the store's own write)
    val ranges = bFiles.map(f => (f.minKey.toLong, f.maxKey.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"adopted files overlap in key range: $ranges")
      case _ =>
    }
    // content is right
    assert(spark.table("gpw.db.t1").filter($"seg" === "B").count() === 400L)
    assert(spark.table("gpw.db.t1").filter($"seg" =!= "B").count() === 2000L)
    assert(spark.table("gpw.db.t1").filter($"seg" === "B")
      .agg(sum("v")).head().getDouble(0) === -(5000L until 5400L).sum.toDouble)
  }

  test("promoted stats are exact across types (timestamp micros, doubles, " +
      "strings with nulls)") {
    sql("DROP TABLE IF EXISTS gpw.db.t2")
    sql("CREATE TABLE gpw.db.t2 (id BIGINT, seg STRING, ts TIMESTAMP, " +
      "d DOUBLE, s STRING) PARTITIONED BY (seg) " +
      "TBLPROPERTIES ('key'='id', 'statscols'='ts,d,s')")
    sql("INSERT INTO gpw.db.t2 SELECT id, 'X', " +
      "timestamp_micros(1700000000000000 + id * 1000000), " +
      "CAST(id AS DOUBLE) / 7.0, concat('k', id) FROM range(0, 100)")
    dynOverwrite("INSERT OVERWRITE gpw.db.t2 SELECT id, 'X', " +
      "timestamp_micros(1800000000000000 + id * 500000), " +
      "CAST(-id AS DOUBLE) / 3.0, " +
      "CASE WHEN id % 5 = 0 THEN NULL ELSE concat('v', id) END " +
      "FROM range(200, 260)")
    val m = store("t2").currentManifest.get
    assert(m.streamId.startsWith("dsv2-owp1x-"))
    val newFiles = m.files.filter(f => f.minKey.toLong >= 200L)
    assert(newFiles.nonEmpty)
    newFiles.foreach { f =>
      val df = spark.read.parquet(s"${root("t2")}/files/${f.name}")
      // recompute through the SAME serialization the store uses
      // (epoch micros for timestamps, plain string cast otherwise)
      val real = df.agg(
        unix_micros(min("ts")).cast("string"),
        unix_micros(max("ts")).cast("string"),
        sum(when($"ts".isNull, 1L).otherwise(0L)),
        min("d").cast("string"), max("d").cast("string"),
        sum(when($"d".isNull, 1L).otherwise(0L)),
        min("s").cast("string"), max("s").cast("string"),
        sum(when($"s".isNull, 1L).otherwise(0L))).head()
      assert(f.cols("ts") == ((real.getString(0), real.getString(1))),
        s"ts stats: manifest ${f.cols("ts")} vs file ${(real.getString(0), real.getString(1))}")
      assert(f.colNulls("ts") == real.getLong(2))
      assert(f.cols("d") == ((real.getString(3), real.getString(4))),
        s"d stats: manifest ${f.cols("d")} vs file ${(real.getString(3), real.getString(4))}")
      assert(f.colNulls("d") == real.getLong(5))
      assert(f.cols("s") == ((real.getString(6), real.getString(7))),
        s"s stats: manifest ${f.cols("s")} vs file ${(real.getString(6), real.getString(7))}")
      assert(f.colNulls("s") == real.getLong(8))
    }
    // the zone map built from promoted stats actually prunes
    val pruned = spark.table("gpw.db.t2").filter($"id" >= 250L)
    assert(pruned.count() === 10L)
  }

  test("CHECK'd tables fall back to the rewriting path and still enforce") {
    sql("DROP TABLE IF EXISTS gpw.db.t3")
    sql("CREATE TABLE gpw.db.t3 (id BIGINT, seg STRING, v DOUBLE) " +
      "PARTITIONED BY (seg) " +
      "TBLPROPERTIES ('key'='id', 'check.pos'='v >= 0.0')")
    sql("INSERT INTO gpw.db.t3 SELECT id, 'A', CAST(id AS DOUBLE) " +
      "FROM range(0, 100)")
    dynOverwrite("INSERT OVERWRITE gpw.db.t3 " +
      "SELECT id, 'A', CAST(id AS DOUBLE) FROM range(100, 150)")
    val m = store("t3").currentManifest.get
    assert(m.streamId.startsWith("dsv2-owp-"),
      s"CHECK'd table must stage and commit through the store's " +
        "(enforcing) write, " +
        s"got '${m.streamId}'")
    assert(spark.table("gpw.db.t3").count() === 50L)
    // and the CHECK still fires on a violating overwrite
    val e = intercept[Exception] {
      dynOverwrite("INSERT OVERWRITE gpw.db.t3 " +
        "SELECT id, 'A', CAST(-1.0 AS DOUBLE) FROM range(0, 5)")
    }
    assert(e.getMessage != null)
    assert(spark.table("gpw.db.t3").count() === 50L, "failed write must not land")
  }

  test("promoted overwrite lands exactly the rows its source SQL selects") {
    sql("DROP TABLE IF EXISTS gpw.db.t5")
    sql("CREATE TABLE gpw.db.t5 (id BIGINT, seg STRING, v DOUBLE) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('key'='id')")
    val seed = "SELECT id, " +
      "CASE CAST(id % 2 AS INT) WHEN 0 THEN 'E' ELSE 'O' END AS seg, " +
      "CAST(id AS DOUBLE) AS v FROM range(0, 1000)"
    val over = "SELECT id, 'E' AS seg, CAST(id * 2 AS DOUBLE) AS v " +
      "FROM range(2000, 2500)"
    sql(s"INSERT INTO gpw.db.t5 $seed")
    dynOverwrite(s"INSERT OVERWRITE gpw.db.t5 $over")
    val m = store("t5").currentManifest.get
    assert(m.streamId.startsWith("dsv2-owp1x-"), s"got '${m.streamId}'")
    // content: the overwrite's rows replace cell E; cell O is untouched
    val got = spark.table("gpw.db.t5").orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    val want = spark.sql(s"$over UNION ALL SELECT * FROM ($seed) " +
      "WHERE seg = 'O'").orderBy("id").as[(Long, String, Double)]
      .collect().toSeq
    assert(got === want)
    // the replaced cell's zone map covers exactly the source's key range,
    // and each adopted file's stats equal a plain read of it
    val fs = m.files.filter(_.cols.get("seg").exists(_._1 == "E"))
    assert((fs.map(_.rows).sum, fs.map(_.minKey.toLong).min,
      fs.map(_.maxKey.toLong).max) === ((500L, 2000L, 2499L)))
    fs.foreach { f =>
      val real = spark.read.parquet(s"${root("t5")}/files/${f.name}")
        .agg(min("id"), max("id"), count(lit(1))).head()
      assert((f.minKey, f.maxKey, f.rows) === ((real.getLong(0).toString,
        real.getLong(1).toString, real.getLong(2))))
    }
  }

  test("promoted writes fold per-file key blooms the probes can't miss on") {
    sql("DROP TABLE IF EXISTS gpw.db.t6")
    sql("CREATE TABLE gpw.db.t6 (id BIGINT, seg STRING, v DOUBLE) " +
      "PARTITIONED BY (seg) TBLPROPERTIES " +
      "('key'='id', 'bloomfilter'='8192')")
    sql("INSERT INTO gpw.db.t6 SELECT id, 'A', CAST(id AS DOUBLE) " +
      "FROM range(0, 500)")
    dynOverwrite("INSERT OVERWRITE gpw.db.t6 " +
      "SELECT id, 'B', CAST(id AS DOUBLE) FROM range(1000, 1500)")
    val m = store("t6").currentManifest.get
    // the overwrite PROMOTED (bloom fold must not force stage-and-commit)
    assert(m.streamId.startsWith("dsv2-owp1x-"), s"got '${m.streamId}'")
    assert(m.files.forall(_.bloom.isDefined),
      "an adopted file is missing its key bloom")
    // task-writer-folded blooms hash the key's manifest stat strings:
    // every key present in a file must probe TRUE against that file's
    // blob (no false negatives)
    m.files.foreach { f =>
      val blob = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root("t6"), "files", f.bloom.get))
      val keys = spark.read.parquet(s"${root("t6")}/files/${f.name}")
        .select("id").as[Long].collect()
      keys.foreach { k =>
        assert(graft.functions.BloomSketch.containsBlob(blob,
          org.apache.spark.unsafe.types.UTF8String.fromString(k.toString)),
          s"promoted bloom lost key $k of file ${f.name}")
      }
    }
    // and the scan stays exact through the bloom-probing pruner
    assert(spark.table("gpw.db.t6").filter($"id" === 1250L).count() === 1L)
    assert(spark.table("gpw.db.t6").filter($"id" === 750L).count() === 0L)
  }

  test("promoted writes fold SECONDARY-column blooms too") {
    sql("DROP TABLE IF EXISTS gpw.db.t7")
    sql("CREATE TABLE gpw.db.t7 (id BIGINT, seg STRING, v BIGINT) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('key'='id', 'statscols'='v', " +
      "'bloomfiltercols'='v', 'bloomfilter'='8192')")
    sql("INSERT INTO gpw.db.t7 SELECT id, 'A', (id * 2654435761) % 100000 " +
      "FROM range(0, 500)")
    dynOverwrite("INSERT OVERWRITE gpw.db.t7 " +
      "SELECT id, 'B', (id * 2654435761) % 100000 FROM range(1000, 1500)")
    val m = store("t7").currentManifest.get
    assert(m.streamId.startsWith("dsv2-owp1x-"), s"got '${m.streamId}'")
    assert(m.files.forall(_.colBlooms.contains("v")),
      "an adopted file is missing its secondary-column bloom")
    // every v value present in a file probes TRUE against that file's blob
    m.files.foreach { f =>
      val blob = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root("t7"), "files", f.colBlooms("v")))
      spark.read.parquet(s"${root("t7")}/files/${f.name}")
        .select("v").as[Long].collect().foreach { v =>
          assert(graft.functions.BloomSketch.containsBlob(blob,
            org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)),
            s"promoted secondary bloom lost v=$v of file ${f.name}")
        }
    }
    assert(spark.table("gpw.db.t7")
      .filter($"v" === (1250L * 2654435761L) % 100000).count() >= 1L)
  }

  test("promoted writes fold struct-LEAF secondary blooms (dotted paths)") {
    sql("DROP TABLE IF EXISTS gpw.db.t8")
    sql("CREATE TABLE gpw.db.t8 (id BIGINT, seg STRING, " +
      "meta STRUCT<lang: STRING, score: BIGINT>) PARTITIONED BY (seg) " +
      "TBLPROPERTIES ('key'='id', 'statscols'='meta.lang,meta.score', " +
      "'bloomfiltercols'='meta.lang', 'bloomfilter'='8192')")
    sql("INSERT INTO gpw.db.t8 SELECT id, 'A', named_struct(" +
      "'lang', concat('l', CAST((id * 2654435761) % 37 AS STRING)), " +
      "'score', id * 3) FROM range(0, 500)")
    dynOverwrite("INSERT OVERWRITE gpw.db.t8 SELECT id, 'B', named_struct(" +
      "'lang', concat('m', CAST((id * 2654435761) % 37 AS STRING)), " +
      "'score', id * 3) FROM range(1000, 1500)")
    val m = store("t8").currentManifest.get
    // the leaf-bloom fold must not force stage-and-commit
    assert(m.streamId.startsWith("dsv2-owp1x-"), s"got '${m.streamId}'")
    assert(m.files.forall(_.colBlooms.contains("meta.lang")),
      "an adopted file is missing its struct-leaf bloom")
    // every leaf value present in a file probes TRUE against that
    // file's blob (no false negatives)
    m.files.foreach { f =>
      val blob = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root("t8"), "files",
          f.colBlooms("meta.lang")))
      spark.read.parquet(s"${root("t8")}/files/${f.name}")
        .select($"meta.lang").as[String].collect().foreach { l =>
          assert(graft.functions.BloomSketch.containsBlob(blob,
            org.apache.spark.unsafe.types.UTF8String.fromString(l)),
            s"promoted leaf bloom lost lang=$l of file ${f.name}")
        }
    }
    // and the nested point predicate stays exact through the pruner
    assert(spark.table("gpw.db.t8")
      .filter($"meta.lang" === "m5").count() ===
      (1000L until 1500L).count(i => (i * 2654435761L) % 37 == 5).toLong)
  }
}
