package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{Files, Paths}

/** The one-pass write (`ManifestStore.writeDataFiles` driving
  * `GraftClusteredTaskWriter` + `adoptStagedFiles`): the task writer folds
  * every per-file fact while it writes, so each manifest entry must equal
  * what a plain read of its own data file recomputes — rows, key
  * min/max, zone-map min/max and null counts through the store's stat
  * casts — and every value must probe positive in the file's Bloom
  * sidecars. Every case also pins that the commit adopted task-staged
  * files (the adoption counter moves).
  */
class FusedWriteSpec extends SparkSpec {
  import spark.implicits._

  private def mkDf = {
    // nulls in the low half of `opt`, a skewed string column, 3k rows
    (0L until 3000L).map(i =>
      (i, if (i < 1500L) None else Some(s"v$i"), s"g${i % 7}", i.toDouble / 3))
      .toDF("id", "opt", "grp", "score")
  }

  private def commitOne(props: Map[String, String] = Map.empty)
      : (String, ManifestStore.Manifest) = {
    val root = Files.createTempDirectory("fusedw").toString
    if (props.nonEmpty) ManifestStore.writeTableProps(root, props)
    val st = new ManifestStore(root, spark, "id")
    adopts {
      st.commit(mkDf, batchId = 0, nFiles = 6, statsCols = Seq("opt", "grp"))
    }
    (root, st.currentManifest.get)
  }

  /** Run `body`, asserting it adopted task-staged files. */
  private def adopts[A](body: => A): A = {
    val before = ManifestStore.adoptedFiles.get()
    val out = body
    assert(ManifestStore.adoptedFiles.get() > before,
      "the write must adopt task-staged files")
    out
  }

  /** The store's stat serialization, restated: epoch micros for
    * TIMESTAMP, -0.0 folded into 0.0 for floats, the string cast
    * otherwise. */
  private def ser(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c).cast("string")
    case FloatType => (c + lit(0.0f)).cast("string")
    case DoubleType => (c + lit(0.0d)).cast("string")
    case _ => c.cast("string")
  }

  /** Every per-file fact of `m` against a plain read of that file. Stats
    * and sidecars are keyed by PHYSICAL name; the `stats.truncate`
    * widening applies to non-partition STRING columns. A SQL NULL
    * min/max is recorded in the manifest as the string "null".
    */
  private def assertPlainRead(root: String, m: ManifestStore.Manifest): Unit = {
    val schema = StructType.fromDDL(m.schemaDDL)
    val props = ManifestStore.readTableProps(root)
    val trunc = ManifestStore.statsTruncate(props)
    val exempt = props.get("partitioncol").toSeq
      .flatMap(_.split(",").map(_.trim)).toSet
    val key = m.keyField
    val keyDt = schema(key).dataType
    val sCols = m.statsCols.filter(c => c != key && schema.fieldNames.contains(c))
    val logicalOf = m.colMap.map(_.swap)
    def asManifest(s: String) = if (s == null) "null" else s
    assert(m.files.nonEmpty)
    m.files.foreach { f =>
      val df = spark.read.parquet(s"$root/files/${f.name}")
      val aggs = Seq(count(lit(1)), ser(min(col(key)), keyDt),
        ser(max(col(key)), keyDt)) ++ sCols.flatMap { c =>
          val p = col(s"`${m.phys(c)}`")
          val dt = schema(c).dataType
          Seq(ser(min(p), dt), ser(max(p), dt),
            sum(when(p.isNull, 1L).otherwise(0L)))
        }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      assert((f.rows, f.minKey, f.maxKey) ==
        ((r.getLong(0), r.getString(1), r.getString(2))), s"file ${f.name}")
      sCols.zipWithIndex.foreach { case (c, i) =>
        val (mn, mx) = (r.getString(3 + 3 * i), r.getString(4 + 3 * i))
        val want = trunc match {
          case Some(n) if mn != null && !exempt(c) &&
              schema(c).dataType == StringType =>
            (ManifestStore.truncMin(mn, n), ManifestStore.truncMax(mx, n))
          case _ => (mn, mx)
        }
        assert(f.cols(m.phys(c)) == ((asManifest(want._1), asManifest(want._2))),
          s"$c stats of ${f.name}")
        assert(f.colNulls(m.phys(c)) == r.getLong(5 + 3 * i),
          s"$c nulls of ${f.name}")
      }
      def probesAll(sidecar: String, c: Column, dt: DataType): Unit = {
        val blob = Files.readAllBytes(Paths.get(root, "files", sidecar))
        df.select(ser(c, dt)).as[String].collect().filter(_ != null)
          .foreach(v => assert(
            graft.functions.BloomSketch.containsBlob(blob,
              UTF8String.fromString(v)), s"$sidecar lost $v"))
      }
      f.bloom.foreach(b => probesAll(b, col(key), keyDt))
      f.colBlooms.foreach { case (p, b) =>
        probesAll(b, col(s"`$p`"), schema(logicalOf.getOrElse(p, p)).dataType)
      }
    }
  }

  /** Key ranges ordered and non-overlapping (range clustering). */
  private def disjointKeys(m: ManifestStore.Manifest): Unit = {
    val byMin = m.files.sortBy(_.minKey.toLong)
    byMin.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey.toLong < b.minKey.toLong,
        s"key ranges overlap: ${a.maxKey} vs ${b.minKey}")
      case _ => ()
    }
  }

  test("fused commit stats equal a plain read of every file") {
    val (root, m) = commitOne()
    assertPlainRead(root, m)
    disjointKeys(m)
    assert(m.files.map(_.rows).sum == 3000L)
    assert(m.files.forall(f => f.bytes > 0L && f.kmv.isDefined))
  }

  test("fused commit with key Bloom + secondary bloom + truncation matches") {
    val (root, m) = commitOne(Map(
      "bloomfilter" -> "4096",
      "bloomfiltercols" -> "grp",
      "stats.truncate" -> "2"))
    assertPlainRead(root, m)
    // truncation applied: every VALUE-bearing opt stat fits the 2-byte
    // budget (all-null files record their absent min/max as "null")
    val over = m.files
      .filter(f => f.colNulls.getOrElse("opt", 0L) < f.rows)
      .flatMap(f => f.cols.get("opt").toSeq.flatMap(t => Seq(t._1, t._2)))
      .filterNot(_.getBytes("UTF-8").length <= 2)
    assert(over.isEmpty, s"over-budget opt stats: ${over.mkString(",")}")
    // sidecars really landed on disk
    assert(m.files.forall(f => f.bloom.isDefined && f.colBlooms.contains("grp")))
  }

  test("fused bucketed commit keeps bucket purity and bucket ids") {
    val (root, m) = commitOne(Map("buckets" -> "4"))
    assertPlainRead(root, m)
    // each file holds exactly the rows of its recorded bucket,
    // placement = pmod(murmur3(key), n)
    m.files.foreach { f =>
      val bs = spark.read.parquet(s"$root/files/${f.name}")
        .select(pmod(hash(col("id")), lit(4))).distinct().as[Int].collect()
      assert(bs.toSeq == f.bucket.toSeq, s"file ${f.name}: buckets $bs")
    }
    assert(m.files.flatMap(_.bucket).distinct.sorted == Seq(0, 1, 2, 3))
  }

  test("fused partitioned commit writes cell-pure files") {
    val (root, m) = commitOne(Map("partitioncol" -> "grp"))
    assertPlainRead(root, m)
    // every file pure on grp: min == max, zero nulls
    assert(m.files.forall(f =>
      f.cols.get("grp").exists { case (mn, mx) => mn == mx && mn != "null" }))
    // rows per cell match the input's
    val cells = m.files.groupBy(_.cols("grp")._1)
      .view.mapValues(_.map(_.rows).sum).toMap
    assert(cells == mkDf.groupBy("grp").count().as[(String, Long)]
      .collect().toMap)
  }

  test("fused commit round-trips the data bit-for-bit") {
    val (root, _) = commitOne()
    val st = new ManifestStore(root, spark, "id")
    val back = st.read().get.orderBy("id").collect()
    val in = mkDf.orderBy("id").collect()
    assert(back.length == in.length)
    assert(back.zip(in).forall { case (a, b) => a == b })
    assert(Files.list(Paths.get(root, "files")).count() > 0)
  }

  test("column-mapped table: rename, merge and optimize adopt files keyed " +
      "by physical name") {
    val root = Files.createTempDirectory("fusedmap").toString
    ManifestStore.writeTableProps(root, Map("partitioncol" -> "grp",
      "stats.truncate" -> "2", "bloomfilter" -> "4096",
      "bloomfiltercols" -> "opt"))
    val st = new ManifestStore(root, spark, "id")
    st.commit(mkDf.withColumn("grp", concat(lit("cell-"), col("grp"))),
      batchId = 0, nFiles = 6, statsCols = Seq("opt", "grp"))
    // partitioncol and bloomfiltercols follow the renames
    st.renameColumn("grp", "segment")
    st.renameColumn("opt", "option")
    val mapped = st.currentManifest.get
    assert(mapped.colMap == Map("segment" -> "grp", "option" -> "opt"))
    val fields = Seq("id", "option", "segment", "score")
    val net = (0L until 3000L by 100L).map(i =>
      (i, "u", i, s"w$i", s"cell-g${i % 7}", -1.0, 10L))
      .toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_option",
        "after_segment", "after_score", Changelog.TsCol)
    adopts(st.merge(net, fields, batchId = 1))
    assertPlainRead(root, st.currentManifest.get)
    adopts(st.optimize(targetFiles = 1))
    val m = st.currentManifest.get
    assertPlainRead(root, m)
    // the renamed partition column stays exact under stats.truncate
    assert(m.files.forall(f => f.cols("grp")._1.startsWith("cell-g")))
    assert(m.files.forall(f => f.colBlooms.keySet == Set("opt")))
    val out = st.read().get
    // (the merge appends its ts-guard column)
    assert(out.columns.toSeq.take(4) == Seq("id", "option", "segment", "score"))
    assert(out.count() == 3000L)
    assert(out.filter(col("score") === -1.0).count() == 30L)
    assert(out.filter(col("id") === 1500L).select("option").as[String]
      .collect().toSeq == Seq("w1500"))
  }

  test("key-partitioned table writes one pure file per key value") {
    val root = Files.createTempDirectory("fusedkp").toString
    ManifestStore.writeTableProps(root, Map("partitioncol" -> "id"))
    val st = new ManifestStore(root, spark, "id")
    val df = (0L until 40L).map(i => (i % 20L, s"n$i")).toDF("id", "name")
    adopts(st.commit(df, batchId = 0, nFiles = 3, statsCols = Seq("name")))
    val m = st.currentManifest.get
    assertPlainRead(root, m)
    assert(m.files.size == 20)
    assert(m.files.forall(f => f.minKey == f.maxKey && f.rows == 2L))
    assert(st.read().get.count() == 40L)
  }

  test("TimestampNTZ stats column with a secondary bloom folds while writing") {
    val root = Files.createTempDirectory("fusedntz").toString
    ManifestStore.writeTableProps(root, Map("bloomfilter" -> "4096",
      "bloomfiltercols" -> "at"))
    val st = new ManifestStore(root, spark, "id")
    val t0 = java.time.LocalDateTime.of(2024, 3, 10, 1, 30)
    val df = (0L until 500L).map(i =>
      (i, if (i % 9 == 0) None else Some(t0.plusMinutes(i * 7L))))
      .toDF("id", "at")
    assert(df.schema("at").dataType == TimestampNTZType)
    adopts(st.commit(df, batchId = 0, nFiles = 4, statsCols = Seq("at")))
    val m = st.currentManifest.get
    assertPlainRead(root, m)
    assert(m.files.forall(_.colBlooms.contains("at")))
    // the zone map answers an NTZ point lookup exactly
    val probe = t0.plusMinutes(100L * 7L)
    assert(spark.read.format("graft").load(root)
      .filter(col("at") === lit(probe)).select("id").as[Long]
      .collect().toSeq == Seq(100L))
  }
}
