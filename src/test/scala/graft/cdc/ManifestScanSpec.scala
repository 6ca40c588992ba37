package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Paths}

/** Engine reads plan their scans from the manifest's recorded paths and
  * sizes. Every read here must return exactly the rows of a plain
  * `spark.read.parquet` of the same files (each file's sidecar masks
  * subtracted), on tables past Spark's 32-path parallel-listing
  * threshold, and a full read or a lookup over them runs no listing job.
  */
class ManifestScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(s"`$c`")).toSeq: _*)
      .collect().map(_.toString).sorted.toSeq

  private def paths(st: ManifestStore, fs: Seq[ManifestStore.FileEntry]) =
    fs.map(f => s"${st.root}/files/${f.name}")

  /** The reference the engine's reads must equal: `spark.read.parquet` of
    * `files` through the manifest's physical schema, logical names
    * restored, and every row whose (file, key) a sidecar of its own file
    * names dropped.
    */
  private def plainRead(st: ManifestStore, m: ManifestStore.Manifest,
                        files: Seq[ManifestStore.FileEntry]): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDDL)
    val phys = ManifestStore.toPhysical(schema, m.colMap)
    val data = spark.read.schema(phys).parquet(paths(st, files): _*)
      .select(schema.fields.toSeq.zip(phys.fields).map { case (l, p) =>
        col(s"`${p.name}`").cast(l.dataType).as(l.name)
      } :+ element_at(split(input_file_name(), "/"), -1).as("_f"): _*)
    val dvs = files.flatMap(_.dv)
    val live =
      if (dvs.isEmpty) data
      else {
        val side = spark.read.parquet(dvs.map(d => s"${st.root}/files/$d"): _*)
        data.join(side, data("_f") === side("_file") &&
          data(m.keyField) === side("_key"), "left_anti")
      }
    live.drop("_f")
  }

  private def net(rows: DataFrame, fields: Seq[String], ts: Long): DataFrame =
    rows.select((col("id").as(Changelog.KeyCol) +: lit("u").as(Changelog.OpCol) +:
      fields.map(f => col(f).as(s"after_$f"))) :+ lit(ts).as(Changelog.TsCol): _*)

  private def table40(): ManifestStore = {
    val st = new ManifestStore(tmp("mscan"), spark, "id")
    st.commit((0L until 4000L).map(i => (i, s"n$i", (i % 7).toInt))
      .toDF("id", "name", "n"), batchId = 0, nFiles = 40, statsCols = Seq("n"))
    assert(st.currentManifest.get.files.size > 32,
      "the table must sit past Spark's 32-path listing threshold")
    st
  }

  /** Every engine read of `st`'s current version against [[plainRead]]. */
  private def assertReadsMatch(st: ManifestStore): Unit = {
    val m = st.currentManifest.get
    val plain = plainRead(st, m, m.files)
    assert(rowsOf(st.read().get) == rowsOf(plain), "read()")
    val keys = Seq(5L, 1234L, 2100L, 3999L, 77777L)
    assert(rowsOf(st.lookup(keys).get) ==
      rowsOf(plain.filter(col("id").isin(keys: _*))), "lookup")
    val (rw, skip) = st.readWhere("id", 1000L, 1500L).get
    assert(rowsOf(rw) == rowsOf(plain.filter(col("id").between(1000L, 1500L))),
      "readWhere")
    assert(skip.nRead < m.files.size)
    val hit = st.readHit(keys.toDF(Changelog.KeyCol)).get
    val hitNames = hit.inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(hitNames.nonEmpty)
    assert(rowsOf(hit) ==
      rowsOf(plainRead(st, m, m.files.filter(f => hitNames(f.name)))), "readHit")
  }

  test("read, lookup, readWhere, readHit and optimize over 40 files match a plain read") {
    val st = table40()
    assertReadsMatch(st)
    val before = rowsOf(st.read().get)
    assert(st.optimize(4).isDefined)
    val m = st.currentManifest.get
    assert(m.files.size < 40)
    assert(rowsOf(st.read().get) == before)
    assert(rowsOf(plainRead(st, m, m.files)) == before)
  }

  test("a read of 40 files and a lookup across them run no listing job") {
    val st = table40()
    val readJobs = JobLabels.jobsOf(spark)(st.read().get.collect())
    assert(!readJobs.exists(_.endsWith(":parquet")), readJobs)
    val keys = (0L until 4000L by 97L).toSeq
    assert(st.lookup(keys).get.inputFiles.length > 32)
    val lookupJobs = JobLabels.jobsOf(spark)(st.lookup(keys).get.collect())
    assert(!lookupJobs.exists(_.endsWith(":parquet")), lookupJobs)
    assert(st.lookup(keys).get.count() == keys.size)
  }

  test("schema vintages: an added column and int widened to bigint") {
    val st = new ManifestStore(tmp("mscan_vint"), spark, "id")
    st.commit((0L until 4000L).map(i => (i, (i % 11).toInt)).toDF("id", "n"),
      batchId = 0, nFiles = 40)
    st.evolveSchema(StructType(Seq(StructField("id", LongType),
      StructField("n", LongType), StructField("tag", StringType))))
    val fields = Seq("id", "n", "tag")
    st.merge(net((Seq(5L, 2100L) ++ (4000L until 4010L))
      .map(i => (i, i * 1000000000L, s"t$i")).toDF("id", "n", "tag"), fields, 1L),
      fields, batchId = 1)
    val m = st.currentManifest.get
    val vintages = m.files.map(f => spark.read.parquet(s"${st.root}/files/${f.name}")
      .schema.fields.map(x => x.name -> x.dataType).toMap)
    assert(vintages.exists(_.get("n").contains(IntegerType)) &&
      vintages.exists(v => v.get("n").contains(LongType) && v.contains("tag")),
      "the table must hold both vintages")
    assertReadsMatch(st)
    assert(st.lookup(Seq(2100L)).get.collect().map(_.getAs[Long]("n")).toSeq ==
      Seq(2100L * 1000000000L))
  }

  test("a column-mapped table reads physical columns under logical names") {
    val st = table40()
    st.renameColumn("name", "label")
    val fields = Seq("id", "label", "n")
    st.merge(net((Seq(7L, 1234L) ++ (4000L until 4005L))
      .map(i => (i, s"L$i", 9)).toDF("id", "label", "n"), fields, 1L),
      fields, batchId = 1)
    val m = st.currentManifest.get
    assert(m.colMap.get("label").contains("name"))
    assertReadsMatch(st)
    assert(st.lookup(Seq(1234L)).get.select("label").as[String].collect().toSeq ==
      Seq("L1234"))
  }

  test("deletion-vector masks subtract per file, across reads, deletes and re-masks") {
    val st = table40()
    val fields = Seq("id", "name", "n")
    // updates of keys spread over many files: each old row is masked in
    // ITS file and the after-image lives in the new upsert file
    val upd = (0L until 4000L by 113L) ++ (4000L until 4010L)
    st.mergeOnRead(net(upd.map(i => (i, s"u$i", 8)).toDF("id", "name", "n"),
      fields, 1L), fields, batchId = 1)
    assert(st.currentManifest.get.files.count(_.dv.isDefined) > 20)
    assertReadsMatch(st)
    assert(st.lookup(Seq(113L)).get.select("name").as[String].collect().toSeq ==
      Seq("u113"), "a masked key surfaces once, from its upsert file")
    // re-mask files that already carry a sidecar (old sidecars re-read)
    st.mergeOnRead(net((0L until 4000L by 226L).map(i => (i, s"w$i", 8))
      .toDF("id", "name", "n"), fields, 2L), fields, batchId = 2)
    assertReadsMatch(st)
    // a predicate delete scans the candidates raw and subtracts masks
    assert(st.deleteWhere(col("n") === 3, batchId = 3).isDefined)
    assertReadsMatch(st)
    assert(st.read().get.filter(col("n") === 3).isEmpty)
    val before = rowsOf(st.read().get)
    assert(st.optimize(4, dvFold = 1e-9).isDefined)
    assert(rowsOf(st.read().get) == before)
    assertReadsMatch(st)
  }

  test("inputFiles and input_file_name name the same qualified paths as a plain read") {
    val st = table40()
    val m = st.currentManifest.get
    val plain = spark.read.parquet(paths(st, m.files): _*)
    assert(st.read().get.inputFiles.sorted.toSeq == plain.inputFiles.sorted.toSeq)
    def fileNames(df: DataFrame) =
      df.select(input_file_name()).distinct().as[String].collect().sorted.toSeq
    assert(fileNames(st.read().get) == fileNames(plain))
    val hit = st.lookup(Seq(5L, 3999L)).get
    val hitPlain = spark.read.parquet(hit.inputFiles: _*)
    assert(hit.inputFiles.length == 2 &&
      hit.inputFiles.sorted.toSeq == hitPlain.inputFiles.sorted.toSeq)
  }

  test("a data file deleted behind the manifest fails the read") {
    val st = table40()
    val gone = st.currentManifest.get.files.head
    Files.delete(Paths.get(st.root, "files", gone.name))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf).mkString(" | ")
    val e = intercept[Exception](st.read().get.collect())
    assert(chain(e).contains(gone.name), chain(e))
    val lo = gone.minKey.toLong
    assert(chain(intercept[Exception](st.lookup(Seq(lo)).get.collect()))
      .contains(gone.name))
  }
}
