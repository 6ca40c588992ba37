package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The candidate scope of a partition overwrite: which files a replaced
  * set of partition tuples takes out of the table (dropped whole when pure,
  * read and rewritten when straddling) and which carry by reference. Each
  * table is laid out one file at a time, so every file's partition-column
  * range is fixed, and the removed set is pinned by file label.
  */
class PartitionOverwriteScopeSpec extends SparkSpec {

  /** A table whose file `k` holds exactly `files(k)`'s rows (keys made
    * fresh per file, so each merge-on-read upsert writes one new file),
    * with zone-map stats on every non-key column and `partitioncol` set
    * to `pcs`. Returns the store and each file's name by label index.
    */
  private def layout(schema: StructType, pcs: Seq[String],
                     files: Seq[Seq[Seq[Any]]]): (ManifestStore, Seq[String]) = {
    val st = new ManifestStore(
      Files.createTempDirectory("ow_scope").toString, spark, "id")
    val fields = schema.fieldNames.toSeq
    def frame(k: Int) = spark.createDataFrame(files(k).zipWithIndex.map {
      case (vs, j) => Row.fromSeq((k * 1000L + j) +: vs)
    }.asJava, schema)
    st.commit(frame(0), batchId = 0, nFiles = 1, statsCols = fields.tail)
    files.indices.tail.foreach { k =>
      st.mergeOnRead(frame(k).select((col("id").as(Changelog.KeyCol) +:
        lit("u").as(Changelog.OpCol) +: fields.map(f => col(f).as(s"after_$f"))) :+
        lit(k.toLong).as(Changelog.TsCol): _*), fields, batchId = k)
    }
    val names = st.currentManifest.get.files.sortBy(_.minKey.toLong).map(_.name)
    assert(names.size == files.size)
    ManifestStore.writeTableProps(st.root, Map("partitioncol" -> pcs.mkString(",")))
    (st, names)
  }

  /** Overwrite the cells `replaced` with one new row each and return the
    * labels of the files the overwrite removed; the table must then hold
    * every old row outside those cells (NULL cells included) plus the new
    * rows.
    */
  private def removedBy(schema: StructType, pcs: Seq[String],
                        files: Seq[Seq[Seq[Any]]],
                        replaced: Seq[Seq[Any]]): Set[Int] = {
    val (st, names) = layout(schema, pcs, files)
    val pIdx = pcs.map(schema.fieldIndex(_) - 1)
    val fresh = replaced.zipWithIndex.map { case (cell, j) =>
      val other = files.flatten.head.zipWithIndex.map { case (v, i) =>
        val p = pIdx.indexOf(i)
        if (p >= 0) cell(p) else v
      }
      Row.fromSeq((900000L + j) +: other)
    }
    assert(st.overwritePartitions(spark.createDataFrame(fresh.asJava, schema),
      batchId = 99).isDefined)
    val kept = files.zipWithIndex.flatMap { case (rows, k) =>
      rows.zipWithIndex.collect { case (vs, j)
          if !replaced.contains(pIdx.map(vs)) => Row.fromSeq((k * 1000L + j) +: vs) }
    }
    // (merges add their event-time column; compare the laid-out columns)
    val got = st.read().get.select(schema.fieldNames.toSeq.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(got == (kept ++ fresh).map(_.toString).sorted)
    val after = st.currentManifest.get.files.map(_.name).toSet
    names.indices.filterNot(k => after(names(k))).toSet
  }

  private def schemaOf(pairs: (String, DataType)*): StructType =
    StructType(StructField("id", LongType) +:
      pairs.map { case (n, t) => StructField(n, t) })

  /** Files F0 {v1}, F1 {v1, v3}, F2 {v2}, F3 {v3, v4} (`v1 < v2 < v3 <
    * v4`), then `extra`. Replacing v2 takes the straddler F1 and the pure
    * F2; F0 and F3 carry.
    */
  private def singleColumn(dt: DataType, v: Seq[Any],
                           extra: Seq[Seq[Seq[Any]]] = Nil): Set[Int] =
    removedBy(schemaOf("p" -> dt, "x" -> StringType), Seq("p"),
      Seq(Seq(Seq(v(0), "r")), Seq(Seq(v(0), "r"), Seq(v(2), "r")),
        Seq(Seq(v(1), "r"), Seq(v(1), "r")),
        Seq(Seq(v(2), "r"), Seq(v(3), "r"))) ++ extra,
      Seq(Seq(v(1))))

  /** A file whose partition column is all NULL: the manifest records its
    * min and max as null, which reads back as the string "null". */
  private val nullFile = Seq(Seq(Seq(null, "r")))

  test("string partition column") {
    // "null" is a string like any other: its range [null, null] rules F4 out
    assert(singleColumn(StringType, Seq("a", "b", "c", "d"), nullFile) ==
      Set(1, 2))
  }

  test("int partition column") {
    assert(singleColumn(IntegerType, Seq(10, 20, 30, 40)) == Set(1, 2))
  }

  test("date partition column") {
    assert(singleColumn(DateType, Seq("2024-01-01", "2024-02-01", "2024-03-01",
      "2024-04-01").map(java.sql.Date.valueOf)) == Set(1, 2))
  }

  test("timestamp partition column") {
    assert(singleColumn(TimestampType, Seq("2024-01-01 00:00:00",
      "2024-01-01 00:00:00.000001", "2024-02-01 12:30:00",
      "2030-01-01 00:00:00").map(java.sql.Timestamp.valueOf)) == Set(1, 2))
  }

  test("decimal partition column") {
    assert(singleColumn(DecimalType(10, 2), Seq("1.10", "2.20", "3.30", "44.40")
      .map(new java.math.BigDecimal(_))) == Set(1, 2))
  }

  test("multi-column tuples replace cells, never the cross product") {
    // G0 (a,1), G1 (a,2), G2 (b,1), G3 (b,2), G4 {(a,1), (b,2)}:
    // replacing {(a,1), (b,2)} must not catch (a,2) or (b,1)
    val removed = removedBy(schemaOf("s" -> StringType, "i" -> IntegerType),
      Seq("s", "i"),
      Seq(Seq(Seq("a", 1)), Seq(Seq("a", 2)), Seq(Seq("b", 1)), Seq(Seq("b", 2)),
        Seq(Seq("a", 1), Seq("b", 2))),
      Seq(Seq("a", 1), Seq("b", 2)))
    assert(removed == Set(0, 3, 4))
  }

  test("a file whose stats do not parse stays a candidate and keeps its rows") {
    // an int column's "null" stat parses to no int: the file cannot be
    // ruled out, so it is read and rewritten, and its NULL rows survive
    assert(singleColumn(IntegerType, Seq(10, 20, 30, 40), nullFile) ==
      Set(1, 2, 4))
    // a column that does decide still rules a file out: the string
    // column's "null" range excludes "a" whatever the int column says
    val removed = removedBy(schemaOf("s" -> StringType, "i" -> IntegerType),
      Seq("s", "i"),
      Seq(Seq(Seq("a", 1)), Seq(Seq("a", 2)), Seq(Seq(null, null))),
      Seq(Seq("a", 1)))
    assert(removed == Set(0))
  }
}
