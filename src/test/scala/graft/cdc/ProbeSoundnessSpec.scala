package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.nio.file.Files

/** The key probes — [[ManifestStore.lookup]] (driver planning),
  * [[ManifestStore.readHit]] and a merge's touched set (one task pass
  * each) — against a plain read of every file, per key type, with and
  * without key Bloom sidecars. Each table holds a file of null keys only
  * (null key stats), four range-pure files, deletion-vector masks on three
  * of them and one merge-grown file overlapping all four.
  *
  * Every probe must keep each file whose raw rows hold a sought key
  * (sound), and its file set must equal the pinned one. A file is named by
  * its raw `n` values ("min..max/count"), so one pin serves every key type.
  * The pins are the sets the broadcast-join probe chose on the same tables
  * without the null-key file, with two departures: that probe failed on a
  * null-key stat (its ANSI cast of the manifest's "null") and on a null
  * lookup key of a non-string type, where these probes find no file.
  *
  * The decimal(38,18) keys are small (n x 1e-7), so their non-ANSI string
  * forms are scientific ("0E-18", "6.00000000000E-7"): a Bloom probe that
  * renders a key other than the build's cast misses the file holding it.
  */
class ProbeSoundnessSpec extends SparkSpec {
  import spark.implicits._

  private final case class Kind(name: String, dt: DataType, of: Int => Any)

  private val kinds = Seq(
    Kind("long", LongType, n => n.toLong),
    Kind("int", IntegerType, n => n),
    Kind("string", StringType, n => f"k$n%06d"),
    Kind("date", DateType, n =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(n))),
    Kind("timestamp", TimestampType, n =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + n))),
    Kind("decimal", DecimalType(10, 2), n => java.math.BigDecimal.valueOf(n.toLong, 2)),
    Kind("decimal38", DecimalType(38, 18), n =>
      java.math.BigDecimal.valueOf(n.toLong, 7)))

  private val fields = Seq("id", "n")
  private val NullKeyNs = Seq(-102, -101, -100)
  private val Blocks = Seq(0, 60, 120, 180).map(lo => lo to (lo + 57) by 3)
  // masks 3, 63 and 129 in the first three blocks; 130 and 300 are new
  private val Upserts = Seq(3, 63, 129, 130, 300)

  private val Hits = Seq(0, 6, 66, 129, 300)
  private val Gaps = Seq(7, 61, 122, 181)
  private val Beyond = Seq(-5, 500)
  private val Wide = 7 +: (100000 to 110000)

  private def net(k: Kind, ns: Seq[Int], ts: Long): DataFrame = {
    val schema = StructType(Seq(
      StructField(Changelog.KeyCol, k.dt), StructField(Changelog.OpCol, StringType),
      StructField("after_id", k.dt), StructField("after_n", IntegerType),
      StructField(Changelog.TsCol, LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      ns.map(n => Row(k.of(n), "u", k.of(n), n, ts)), 1), schema)
  }

  private def keysDf(k: Kind, ns: Seq[Option[Int]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ns.map(n => Row(n.map(k.of).orNull)), 2),
      StructType(Seq(StructField(Changelog.KeyCol, k.dt))))

  private def build(k: Kind, bloom: Boolean): (String, ManifestStore) = {
    val root = Files.createTempDirectory(s"probe-${k.name}").toString
    if (bloom) ManifestStore.writeTableProps(root, Map("bloomfilter" -> "65536"))
    val st = new ManifestStore(root, spark, "id")
    st.commit(spark.createDataFrame(spark.sparkContext.parallelize(
      NullKeyNs.map(n => Row(null, n)), 1),
      StructType(Seq(StructField("id", k.dt), StructField("n", IntegerType)))),
      batchId = 0, nFiles = 1)
    Blocks.zipWithIndex.foreach { case (b, i) =>
      st.mergeOnRead(net(k, b, 10L + i), fields, batchId = 1L + i)
    }
    st.mergeOnRead(net(k, Upserts, 20L), fields, batchId = 5)
    (root, st)
  }

  /** "min..max/count" of a file's raw `n` values, and the values. */
  private def rawFiles(root: String, st: ManifestStore): Map[String, (String, Set[Int])] =
    st.currentManifest.get.files.map { f =>
      val ns = spark.read.parquet(s"$root/files/${f.name}").select("n")
        .as[Int].collect().toSet
      f.name -> (s"${ns.min}..${ns.max}/${ns.size}", ns)
    }.toMap

  private def readNames(df: DataFrame): Set[String] =
    df.inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  // the files of every table, by raw `n`: four range-pure blocks and the
  // merge-grown upsert file (the null-key file is never hit)
  private val (a, b, c, d, u) =
    ("0..57/20", "60..117/20", "120..177/20", "180..237/20", "3..300/5")
  private val pins: Map[String, Set[String]] = {
    val hits = Set(a, b, c, u)
    val all = Set(a, b, c, d, u)
    val none = Set.empty[String]
    Map(
      "false lookup hits" -> hits, "true lookup hits" -> hits,
      "false lookup gaps" -> all, "true lookup gaps" -> none,
      "false lookup beyond" -> none, "true lookup beyond" -> none,
      "false lookup duplicates" -> hits, "true lookup duplicates" -> hits,
      "false lookup null" -> none, "true lookup null" -> none,
      "false lookup empty" -> none, "true lookup empty" -> none,
      // 10,002 keys: the range test keeps the files holding 7, the
      // Bloom sidecars cut them
      "false lookup wide" -> Set(a, u), "true lookup wide" -> none,
      "false lookup string-on-long" -> Set(b, u),
      "true lookup string-on-long" -> Set(b),
      "false readHit hits" -> hits, "true readHit hits" -> hits,
      "false readHit gaps" -> all, "true readHit gaps" -> none,
      "false readHit beyond" -> none, "true readHit beyond" -> none,
      "false readHit hits+null" -> hits, "true readHit hits+null" -> hits,
      "false merge hits+gaps" -> all, "true merge hits+gaps" -> hits)
  }

  private def check(k: Kind, bloom: Boolean, what: String, sought: Seq[Int],
                    got: Set[String], files: Map[String, (String, Set[Int])]): Unit = {
    val gotSigs = got.flatMap(files.get).map(_._1)
    val truth = files.values.filter(_._2.exists(sought.contains)).map(_._1).toSet
    val tag = s"${k.name} bloom=$bloom $what"
    assert(truth.subsetOf(gotSigs), s"$tag dropped ${truth -- gotSigs}")
    val pin = pins(s"$bloom $what")
    assert(gotSigs == pin, s"$tag: ${gotSigs.toSeq.sorted} != pinned $pin")
  }

  for (k <- kinds; bloom <- Seq(false, true))
    test(s"${k.name} key, bloom=$bloom: probes keep every holding file, " +
      "pinned sets") {
      val (root, st) = build(k, bloom)
      val m = st.currentManifest.get
      assert(m.files.exists(_.dv.isDefined), "no deletion-vector masks")
      assert(m.files.exists(_.minKey == null), "no null-key-stat file")
      assert(m.files.forall(_.bloom.isDefined == bloom))
      val files = rawFiles(root, st)
      def lookupCase(shape: String, keys: Seq[Any], sought: Seq[Int]): Unit =
        check(k, bloom, s"lookup $shape", sought,
          readNames(st.lookup(keys).get), files)
      lookupCase("hits", Hits.map(k.of), Hits)
      lookupCase("gaps", Gaps.map(k.of), Gaps)
      lookupCase("beyond", Beyond.map(k.of), Beyond)
      lookupCase("duplicates", (Hits ++ Hits :+ 7).map(k.of), Hits)
      lookupCase("null", Seq(null), Nil)
      lookupCase("empty", Nil, Nil)
      lookupCase("wide", Wide.map(k.of), Wide)
      if (k.dt == LongType) lookupCase("string-on-long", Seq("66"), Seq(66))
      assert(st.lookup(Hits.map(k.of)).get.select("n").as[Int].collect()
        .toSet == Hits.toSet)
      def hitCase(shape: String, keys: Seq[Option[Int]]): Unit =
        check(k, bloom, s"readHit $shape", keys.flatten,
          readNames(st.readHit(keysDf(k, keys)).get), files)
      hitCase("hits", Hits.map(Some(_)))
      hitCase("gaps", Gaps.map(Some(_)))
      hitCase("beyond", Beyond.map(Some(_)))
      hitCase("hits+null", None +: Hits.map(Some(_)))
      // a copy-on-write merge replaces exactly the files it touched
      val before = m.files.map(_.name).toSet
      st.merge(net(k, Hits ++ Gaps, 30L), fields, batchId = 6)
      val after = st.currentManifest.get.files.map(_.name).toSet
      check(k, bloom, "merge hits+gaps", Hits ++ Gaps, before -- after, files)
    }

  test("an unparseable key stat (an older manifest's \"null\") is hit by " +
    "every probe") {
    val k = kinds.head
    val (built, _) = build(k, bloom = false)
    // older manifests stored a null key stat as the string "null"; a copy
    // of the table under a new root, so no cached manifest is reused
    val root = Files.createTempDirectory("probe-legacy").toString
    val src = java.nio.file.Paths.get(built)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val to = java.nio.file.Paths.get(root).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else if (p.getParent.getFileName.toString == "_LOG" &&
          p.toString.endsWith(".json"))
        Files.writeString(to, Files.readString(p)
          .replaceAll("\"(minKey|maxKey)\":null", "\"$1\":\"null\""))
      else Files.copy(p, to)
    } finally walk.close()
    val st = new ManifestStore(root, spark, "id")
    val m = st.currentManifest.get
    val legacy = m.files.filter(_.minKey == "null").map(_.name).toSet
    assert(legacy.size == 1)
    assert(legacy.subsetOf(readNames(st.lookup(Hits.map(k.of)).get)))
    assert(legacy.subsetOf(
      readNames(st.readHit(keysDf(k, Hits.map(Some(_)))).get)))
    val before = m.files.map(_.name).toSet
    st.merge(net(k, Hits, 30L), fields, batchId = 6)
    assert(legacy.subsetOf(before -- st.currentManifest.get.files.map(_.name).toSet))
    assert(st.read().get.filter("id IS NULL").count() == NullKeyNs.size)
  }
}
