package graft

import graft.cdc._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Commit-I/O measurement of [[graft.cdc.ManifestStore]]'s stats-pruned
  * MERGE on a micro-batch confined to a narrow key range: the pruned path
  * is proportional to the touched key ranges, not the table.
  *
  * Usage: `sbt "runMain graft.MergeBench [nRows] [batchSize] [rounds]"`.
  * Deterministic content (range + column arithmetic, no randomness);
  * results print as one JSON line per round plus a summary line.
  *
  * `--mor-only` skips the copy-on-write legs and runs the
  * merge-on-read ACCUMULATION ladder alone: consecutive scattered batches
  * on one store (per-round bytes written + effective-read timing), then
  * OPTIMIZE and the post-fold read — the "does a long-lived MoR table
  * stay flat over time" question, sized for the 10x (60M-row) table.
  */
object MergeBench {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val n = pos.lift(0).map(_.toLong).getOrElse(2000000L)
    val batch = pos.lift(1).map(_.toLong).getOrElse(2000L)
    val rounds = pos.lift(2).map(_.toInt).getOrElse(3)
    val morOnly = args.contains("--mor-only")
    val nFiles = 64
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("mergebench")
    val fields = Seq("id", "name", "val", "payload")

    // ~256 B/row payload: without it a rewrite measures job overhead, not
    // I/O — the thing that actually scales with size
    val table = spark.range(n).select(col("id"),
      concat(lit("name_"), col("id")).as("name"),
      (col("id") % 997).cast("double").as("val"),
      repeat(md5(col("id").cast("string")), 8).as("payload"))

    val ms = new ManifestStore(s"$base/manifest", spark, "id")

    // --sql: the SQL row-level surface (UPDATE / MERGE INTO / subquery
    // DELETE through graft.spark.GraftRowOperation) against the SAME
    // n-row table — evidence that a SQL statement's cost tracks the rows
    // it touches (pruned scan + staged verdicts + pruned CoW commit), not
    // the table. Prints per-statement seconds + the manifest's
    // rewritten/carried split, then exits.
    if (args.contains("--sql")) {
      ms.commit(table, batchId = 0, nFiles = nFiles)
      spark.sql("DROP TABLE IF EXISTS graft_sql_bench")
      spark.sql("CREATE TABLE graft_sql_bench (id BIGINT, name STRING, " +
        "val DOUBLE, payload STRING) USING graft OPTIONS (key 'id') " +
        s"LOCATION '$base/manifest'")
      def bytesOf(st: ManifestStore, path: String): Long = {
        val d = java.nio.file.Paths.get(path, "files")
        val st2 = java.nio.file.Files.walk(d)
        try st2.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally st2.close()
      }
      def filesNow(st: ManifestStore = ms) =
        st.currentManifest.get.files.map(_.name).toSet
      def report(tag: String, st: ManifestStore, path: String,
                 before: Set[String], b0: Long, sec: Double): Unit = {
        val after = st.currentManifest.get.files
        val carried = after.count(f => before(f.name))
        val mb = (bytesOf(st, path) - b0) / 1e6
        println(s"""{"metric":"sql_dml_bench","op":"$tag","rows":$n,"sec":${f"$sec%.2f"},"written_mb":${f"$mb%.1f"},"carried_files":$carried,"new_files":${after.size - carried},"total_files":${after.size}}""")
      }
      val span = n / nFiles
      val mPath = s"$base/manifest"
      var b0 = filesNow(); var y0 = bytesOf(ms, mPath)
      val (_, updSec) = time(spark.sql(
        s"UPDATE graft_sql_bench SET name = 'sqlupd' " +
          s"WHERE id BETWEEN ${span * 5} AND ${span * 5 + batch}"))
      report("update_narrow", ms, mPath, b0, y0, updSec)
      spark.range(batch).selectExpr("id * " + (n / batch) + " AS sid",
        "'m' AS sname").createOrReplaceTempView("sql_bench_src")
      b0 = filesNow(); y0 = bytesOf(ms, mPath)
      val (_, mrgSec) = time(spark.sql(
        "MERGE INTO graft_sql_bench t USING sql_bench_src s ON t.id = s.sid " +
          "WHEN MATCHED THEN UPDATE SET name = s.sname " +
          "WHEN NOT MATCHED THEN INSERT (id, name, val, payload) " +
          "VALUES (s.sid, s.sname, 0.0, 'p')"))
      report("merge_scattered_cow", ms, mPath, b0, y0, mrgSec)
      b0 = filesNow(); y0 = bytesOf(ms, mPath)
      val (_, delSec) = time(spark.sql(
        "DELETE FROM graft_sql_bench WHERE id IN " +
          s"(SELECT sid FROM sql_bench_src WHERE sid < ${span * 2})"))
      report("delete_subquery", ms, mPath, b0, y0, delSec)
      spark.sql("DROP TABLE IF EXISTS graft_sql_bench")

      // the same scattered MERGE against a 'mor' table: deletion-vector
      // sidecars instead of file rewrites — bytes written must be
      // O(batch), files carried by name
      val morPath2 = s"$base/manifest_mor"
      val ms2 = new ManifestStore(morPath2, spark, "id")
      ms2.commit(table, batchId = 0, nFiles = nFiles)
      spark.sql("DROP TABLE IF EXISTS graft_sql_mor")
      spark.sql("CREATE TABLE graft_sql_mor (id BIGINT, name STRING, " +
        "val DOUBLE, payload STRING) USING graft " +
        "OPTIONS (key 'id', mor 'true') " +
        s"LOCATION '$morPath2'")
      b0 = filesNow(ms2); y0 = bytesOf(ms2, morPath2)
      val (_, morSec) = time(spark.sql(
        "MERGE INTO graft_sql_mor t USING sql_bench_src s ON t.id = s.sid " +
          "WHEN MATCHED THEN UPDATE SET name = s.sname " +
          "WHEN NOT MATCHED THEN INSERT (id, name, val, payload) " +
          "VALUES (s.sid, s.sname, 0.0, 'p')"))
      report("merge_scattered_mor", ms2, morPath2, b0, y0, morSec)
      spark.sql("DROP TABLE IF EXISTS graft_sql_mor")
      spark.stop()
      return
    }

    if (!morOnly) ms.commit(table, batchId = 0, nFiles = nFiles)

    /** `batch` updates confined to one narrow key range per round (round r
      * targets file ~r): the locality a CDC micro-batch actually has.
      */
    def netFor(round: Int): DataFrame = {
      val span = n / nFiles
      val lo = span * round
      spark.range(batch).select(
        (col("id") + lo).as(Changelog.KeyCol),
        lit("u").as(Changelog.OpCol),
        (col("id") + lo).as("after_id"),
        concat(lit(s"upd${round}_"), col("id")).as("after_name"),
        (col("id") % 31).cast("double").as("after_val"),
        repeat(md5(concat(lit("u"), col("id").cast("string"))), 8)
          .as("after_payload"),
        lit(1000L + round).as(Changelog.TsCol))
    }

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    if (!morOnly) {
      var mSum = 0.0
      (1 to rounds).foreach { r =>
        val (stats, mSec) = time(ms.merge(netFor(r), fields, batchId = r).get)
        mSum += mSec
        println(s"""{"round":$r,"manifest_sec":${f"$mSec%.2f"},"rewritten":${stats.rewrittenFiles},"reused":${stats.reusedFiles},"new":${stats.newFiles}}""")
      }
      println(s"""{"metric":"merge_bench","rows":$n,"batch":$batch,"files":$nFiles,"rounds":$rounds,"manifest_total_sec":${f"$mSum%.2f"}}""")

      // OPTIMIZE vs full recluster: leave a few small growth files beyond
      // the key range (insert-only batches), then measure partial
      // compaction — cost must track the DIRT (a few thousand rows), while
      // the full rewrite tracks the TABLE (n rows), however large n grows
      (1 to 3).foreach { i =>
        val ins = spark.range(batch).select(
          (col("id") + n + batch * (i - 1)).as(Changelog.KeyCol),
          lit("c").as(Changelog.OpCol),
          (col("id") + n + batch * (i - 1)).as("after_id"),
          concat(lit(s"ins${i}_"), col("id")).as("after_name"),
          lit(1.0).as("after_val"),
          repeat(md5(concat(lit("i"), col("id").cast("string"))), 8)
            .as("after_payload"),
          lit(2000L + i).as(Changelog.TsCol))
        ms.merge(ins, fields, batchId = rounds + i).get
      }
      val (oStats, oSec) = time(ms.optimize(nFiles).get)
      val (_, rSec) = time(ms.recluster(nFiles).get)
      println(s"""{"metric":"optimize_bench","optimize_sec":${f"$oSec%.2f"},"recluster_sec":${f"$rSec%.2f"},"compacted":${oStats.compactedFiles},"carried":${oStats.carriedFiles},"new":${oStats.newFiles},"speedup":${f"${rSec / oSec}%.1f"}}""")
    }

    // write amplification on the WORST case for copy-on-write: a small
    // batch SCATTERED over every file (one key per ~stride). CoW rewrites
    // all touched files (~the table); merge-on-read writes sidecars + one
    // upsert file (~the batch). bytes = what actually landed in files/
    def dirBytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    // round r masks a DISTINCT scattered key set (offset r within each
    // stride), so sidecars accumulate across rounds instead of replacing
    def scatteredAt(r: Int) = spark.range(batch).select(
      (col("id") * (n / batch) + r).as(Changelog.KeyCol),
      lit("u").as(Changelog.OpCol),
      (col("id") * (n / batch) + r).as("after_id"),
      concat(lit(s"sc${r}_"), col("id")).as("after_name"),
      lit(2.0).as("after_val"),
      repeat(md5(concat(lit(s"s$r"), col("id").cast("string"))), 8)
        .as("after_payload"),
      lit(3000L + r).as(Changelog.TsCol))
    val morStore = new ManifestStore(s"$base/mor", spark, "id")
    morStore.commit(table, batchId = 0, nFiles = nFiles)
    if (!morOnly) {
      val cowStore = new ManifestStore(s"$base/cow", spark, "id")
      cowStore.commit(table, batchId = 0, nFiles = nFiles)
      val cowB0 = dirBytes(java.nio.file.Paths.get(s"$base/cow/files"))
      val (_, cowSec) = time(cowStore.merge(scatteredAt(0), fields, batchId = 1).get)
      val cowMb = (dirBytes(java.nio.file.Paths.get(s"$base/cow/files")) - cowB0) / 1e6
      val morB0 = dirBytes(java.nio.file.Paths.get(s"$base/mor/files"))
      val (morStats, morSec) = time(morStore.mergeOnRead(scatteredAt(0), fields, batchId = 1).get)
      val morMb = (dirBytes(java.nio.file.Paths.get(s"$base/mor/files")) - morB0) / 1e6
      println(s"""{"metric":"mor_bench","batch":$batch,"cow_sec":${f"$cowSec%.2f"},"cow_written_mb":${f"$cowMb%.1f"},"mor_sec":${f"$morSec%.2f"},"mor_written_mb":${f"$morMb%.1f"},"masked_files":${morStats.maskedFiles},"write_amp_ratio":${f"${cowMb / morMb}%.1f"}}""")
    }

    // MoR over TIME: consecutive scattered batches on ONE store. The
    // 100 TB question is whether a long-lived MoR table stays flat —
    // commit bytes O(batch) every round (no creep as sidecars stack),
    // effective-read cost bounded, and one OPTIMIZE folding the debt back
    // to a clean layout whose read matches the pristine table's.
    val morPath = java.nio.file.Paths.get(s"$base/mor/files")
    def readProbe() = time {
      morStore.read().get.agg(count(lit(1)), sum(col("val"))).collect()
    }._2
    val baseReadSec = readProbe() // pristine-layout reference
    var bid = if (morOnly) 0L else 1L
    val ladder = 1 to math.max(3, rounds)
    ladder.foreach { r =>
      val b0 = dirBytes(morPath)
      bid += 1
      val (stats, sec) = time(
        morStore.mergeOnRead(scatteredAt(r), fields, batchId = bid).get)
      val mb = (dirBytes(morPath) - b0) / 1e6
      val rd = readProbe()
      val m = morStore.currentManifest.get
      println(s"""{"metric":"mor_ladder","round":$r,"mor_sec":${f"$sec%.2f"},"written_mb":${f"$mb%.1f"},"read_sec":${f"$rd%.2f"},"masked_files":${stats.maskedFiles},"files":${m.files.size},"dv_rows":${m.files.map(_.dvRows).sum}}""")
    }
    // the same masked table through the DSv2 connector: the store API pays
    // a (gated) anti-join against the sidecar union; the connector's
    // partition readers subtract per-file hash sets locally. Also time the
    // connector's planning-time pruning: a one-file key range vs the full
    // scan, with the planned partition count as the pruning witness.
    def dsv2() = spark.read.format("graft").load(s"$base/mor")
    def dsv2Probe() = time {
      dsv2().agg(count(lit(1)), sum(col("val"))).collect()
    }._2
    val apiMaskedSec = readProbe()
    val dsv2MaskedSec = dsv2Probe()
    val span = n / nFiles
    val rangeDf = dsv2().filter(col("id") >= lit(span * 3) && col("id") < lit(span * 3 + span / 4))
    val plannedParts = rangeDf.rdd.getNumPartitions
    val (_, dsv2PrunedSec) = time(rangeDf.agg(count(lit(1))).collect())
    println(s"""{"metric":"dsv2_bench_masked","api_read_sec":${f"$apiMaskedSec%.2f"},"dsv2_read_sec":${f"$dsv2MaskedSec%.2f"},"dsv2_pruned_range_sec":${f"$dsv2PrunedSec%.2f"},"pruned_planned_files":$plannedParts,"total_files":${morStore.currentManifest.get.files.size}}""")

    val (oSt, oSec2) = time(morStore.optimize(nFiles).get)
    val postReadSec = readProbe()
    val dsv2PostSec = dsv2Probe() // pristine layout -> columnar scan path
    println(s"""{"metric":"mor_ladder_optimize","rows":$n,"batch":$batch,"rounds":${ladder.size},"optimize_sec":${f"$oSec2%.2f"},"compacted":${oSt.compactedFiles},"carried":${oSt.carriedFiles},"base_read_sec":${f"$baseReadSec%.2f"},"post_optimize_read_sec":${f"$postReadSec%.2f"},"dsv2_post_optimize_read_sec":${f"$dsv2PostSec%.2f"},"dv_rows_after":${morStore.currentManifest.get.files.map(_.dvRows).sum}}""")
    spark.stop()
  }
}
