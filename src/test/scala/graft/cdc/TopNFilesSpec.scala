package graft.cdc

import graft.SparkSpec
import graft.cdc.ManifestStore.{FileEntry, Manifest}
import java.nio.file.Files

/** Property coverage for [[ManifestStore.topNFiles]] — the covered-mass
  * file cut behind TopN pushdown. The invariant under test: for EVERY row
  * placement consistent with a file's recorded (min, max, rows) stats,
  * the global top-n rows live entirely inside the kept file set. Randomized
  * overlapping layouts are checked against three adversarial placements
  * (mass at the near endpoint, mass at the far endpoint, uniform), plus a
  * deterministic case for the in-Spark typed-compare fallback (decimal
  * stats, which the driver-side parser refuses).
  */
class TopNFilesSpec extends SparkSpec {

  private lazy val store = new ManifestStore(
    Files.createTempDirectory("topn_spec").toString, spark, "id")

  private def manifest(files: Seq[FileEntry],
                       statsCols: Seq[String] = Nil): Manifest =
    Manifest(version = 0L, batchId = 0L, streamId = "t", tsMillis = 0L,
      schemaDDL = "id BIGINT, d DECIMAL(10,2)", files = files,
      statsCols = statsCols, keyField = "id")

  /** All placements consistent with (lo, hi, rows): endpoints attained. */
  private def placements(lo: Long, hi: Long, rows: Int): Seq[Seq[Long]] = {
    if (rows == 1) return Seq(Seq(lo)) // lo == hi for a 1-row file's stats
    val atLo = Seq.fill(rows - 1)(lo) :+ hi
    val atHi = lo +: Seq.fill(rows - 1)(hi)
    val uniform = (0 until rows).map(i =>
      lo + (hi - lo) * i / math.max(1, rows - 1))
    Seq(atLo, atHi, uniform)
  }

  test("property: kept files always contain the true top-n, any placement") {
    val rnd = new scala.util.Random(20260814L)
    (1 to 60).foreach { iter =>
      val nFiles = 1 + rnd.nextInt(16)
      val files = (0 until nFiles).map { i =>
        val lo = rnd.nextInt(1000).toLong
        val hi = lo + (if (rnd.nextBoolean()) 0L else rnd.nextInt(200).toLong)
        val rows = if (lo == hi) 1 else 2 + rnd.nextInt(40)
        FileEntry(s"f$i", lo.toString, hi.toString, rows)
      }
      val n = 1 + rnd.nextInt(80)
      val asc = rnd.nextBoolean()
      val kept = store.topNFiles(manifest(files), files, "id", asc, n)
        .map(_.name).toSet
      // choose one placement per file (exhaustive across files would be
      // 3^16; sample 6 random combinations per layout instead)
      (1 to 6).foreach { _ =>
        val world: Seq[(String, Long)] = files.flatMap { f =>
          val ps = placements(f.minKey.toLong, f.maxKey.toLong, f.rows.toInt)
          ps(rnd.nextInt(ps.size)).map(v => f.name -> v)
        }
        val top = world.sortBy { case (_, v) => if (asc) v else -v }.take(n)
        val missing = top.filterNot { case (fn, _) => kept(fn) }
        assert(missing.isEmpty,
          s"iter $iter (n=$n asc=$asc): top-n rows from files " +
            s"${missing.map(_._1).distinct} were cut; files=" +
            files.map(f => (f.name, f.minKey, f.maxKey, f.rows)) +
            s" kept=$kept")
      }
      // and the cut is not vacuous: a tight prefix layout actually prunes
      ()
    }
  }

  test("disjoint clustered layout prunes to the covering prefix") {
    val files = (0 until 10).map(i =>
      FileEntry(s"f$i", (i * 100).toString, (i * 100 + 99).toString, 100))
    val m = manifest(files)
    val kept = store.topNFiles(m, files, "id", asc = true, n = 150)
    assert(kept.map(_.name) === Seq("f0", "f1"),
      s"got ${kept.map(_.name)}")
    val keptD = store.topNFiles(m, files, "id", asc = false, n = 50)
    assert(keptD.map(_.name) === Seq("f9"))
  }

  test("deletion vectors only shrink covered mass (over-keeping, never cutting)") {
    val files = Seq(
      FileEntry("a", "0", "99", 100, dv = Some("dv_a"), dvRows = 90),
      FileEntry("b", "100", "199", 100))
    // a's live mass is 10 < n: b must survive
    val kept = store.topNFiles(manifest(files), files, "id", asc = true, 50)
    assert(kept.map(_.name).toSet === Set("a", "b"))
  }

  test("typed fallback (decimal stats column) agrees with the long sweep") {
    val files = (0 until 6).map { i =>
      FileEntry(s"f$i", (i * 10).toString, (i * 10 + 9).toString, 10,
        cols = Map("d" -> ((s"${i * 10}.50", s"${i * 10 + 9}.50"))),
        colNulls = Map("d" -> 0L))
    }
    val m = manifest(files, statsCols = Seq("d"))
    // decimal stats sort through their typed domain; same answer shape
    val kept = store.topNFiles(m, files, "d", asc = true, n = 15)
    assert(kept.map(_.name) === Seq("f0", "f1"), s"got ${kept.map(_.name)}")
    // a file with RECORDED nulls in the ordering column vetoes pruning
    val withNulls = files.updated(5,
      files(5).copy(colNulls = Map("d" -> 3L)))
    val m2 = manifest(withNulls, statsCols = Seq("d"))
    assert(store.topNFiles(m2, withNulls, "d", asc = true, n = 15)
      .size === 6, "possible nulls must veto the cut")
  }

  test("string stats order as UTF-8 bytes (Spark's order), not UTF-16") {
    // U+1F600 GRINNING FACE: UTF-16 surrogate pair (0xD83D 0xDE00), UTF-8
    // F0 9F 98 80. U+FF01 FULLWIDTH EXCLAMATION: UTF-16 0xFF01, UTF-8
    // EF BC 81. JVM Ordering[String] puts the emoji FIRST
    // (0xD83D < 0xFF01); Spark's UTF8String binary order puts it LAST.
    val emoji = "😀"
    val fullwidth = "！"
    assert(emoji < fullwidth, "JVM order (the wrong one) sanity")
    // Spark itself is the oracle for the right order
    import spark.implicits._
    val sparkMax = Seq(emoji, fullwidth, "a").toDF("s")
      .orderBy(org.apache.spark.sql.functions.col("s").desc)
      .as[String].head()
    assert(sparkMax === emoji, "Spark sorts the emoji last (UTF-8 order)")
    val files = Seq(
      FileEntry("plain", "a", "b", 10),
      FileEntry("fw", fullwidth, fullwidth, 1),
      FileEntry("emoji", emoji, emoji, 1))
    val m = Manifest(0L, 0L, "t", 0L, schemaDDL = "id STRING",
      files = files, statsCols = Nil, keyField = "id")
    // ORDER BY id DESC LIMIT 1: the true max row lives in "emoji". Under
    // UTF-16 ordering the sweep counts "fw"'s mass as covering it and
    // cuts the file holding the real answer.
    val kept = store.topNFiles(m, files, "id", asc = false, n = 1)
    assert(kept.map(_.name).contains("emoji"),
      s"UTF-8 top file was cut: kept ${kept.map(_.name)}")
    // and ascending still prunes the non-answer files
    val keptAsc = store.topNFiles(m, files, "id", asc = true, n = 5)
    assert(keptAsc.map(_.name) === Seq("plain"), s"got ${keptAsc.map(_.name)}")
  }

  test("date stats order numerically: 5-digit and BCE years") {
    // lexicographically "+10000-01-01" < "9999-12-31" would be wrong;
    // epoch-day parsing orders them correctly
    assert(ManifestStore.parseIsoDateToEpochDay("9999-12-31") <
      ManifestStore.parseIsoDateToEpochDay("+10000-01-01"))
    assert(ManifestStore.parseIsoDateToEpochDay("-0044-03-15") <
      ManifestStore.parseIsoDateToEpochDay("0001-01-01"))
    assert(ManifestStore.parseIsoDateToEpochDay("2026-08-15") ===
      java.time.LocalDate.of(2026, 8, 15).toEpochDay)
    val files = Seq(
      FileEntry("old", "1990-01-01", "9999-12-31", 10),
      FileEntry("far", "+10000-01-01", "+10000-01-01", 1))
    val m = Manifest(0L, 0L, "t", 0L, schemaDDL = "id DATE",
      files = files, statsCols = Nil, keyField = "id")
    val kept = store.topNFiles(m, files, "id", asc = false, n = 1)
    assert(kept.map(_.name).contains("far"),
      s"the 5-digit-year file holds the max and was cut: ${kept.map(_.name)}")
  }
}
