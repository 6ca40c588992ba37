package graft.perfbench

import graft.Verify
import graft.cdc.ManifestStore
import graft.streaming.{CdcStream, ManifestCdcStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The CDC pipeline benchmark on the manifest engine: Debezium JSON files
  * -> `ManifestCdcStream.processBatch` (schema resolve, parse/flatten,
  * per-key dedup, ts-guarded MERGE, manifest commit, in-stream optimize)
  * -> point lookups and full scans, every result checked against a plain
  * Scala [[Oracle]].
  *
  *   PipelineBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir>
  *
  * The last stdout line is one JSON object: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. Exit codes: 0 ok,
  * 1 an operation failed or disagreed with the oracle, 2 bad arguments,
  * 3 the offered rate was not sustainable (start lag kept growing).
  */
object PipelineBench {
  val KeyField = "id"
  val SetupReps = 3
  val ScanReps = 4
  val LookupKeys = 16 // keys the batch wrote, plus as many it did not touch
  // the in-stream optimize policy CdcMain sets on the manifest path:
  // reclusterOverFiles 256, with ManifestCdcStream's default reclusterFiles
  // and dvDebtFraction
  val ReclusterOverFiles = 256
  val ReclusterFiles = 64
  val DvDebtFraction = 0.25

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path)

  final class Unsustainable(msg: String) extends RuntimeException(msg)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parseArgs(argv)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        sys.exit(2)
      }
    val code =
      try run(args)
      catch { case e: Unsustainable =>
        System.err.println(s"[perfbench] UNSUSTAINABLE: ${e.getMessage}")
        3
      }
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def sleepUntil(t: Long): Unit = {
    var left = t - System.nanoTime()
    while (left > 0) {
      if (left > 2000000L) Thread.sleep((left - 1000000L) / 1000000L)
      else Thread.onSpinWait()
      left = t - System.nanoTime()
    }
  }

  val tableSchema: StructType = StructType(Oracle.Columns.map { case (n, t) =>
    StructField(n, t) })

  /** One table with its stream and oracle, built from scratch. */
  final class Pipeline(spark: SparkSession, spec: Spec, dir: Path, inDir: Path) {
    val root: String = dir.resolve("table").toString
    val cacheDir: String = dir.resolve("schema").toString
    val checkpointDir: String = dir.resolve("checkpoint").toString
    val store = new ManifestStore(root, spark, KeyField)
    // the manifest-path arguments CdcMain passes for storage manifest /
    // manifest_mor, ts guard on
    val stream = new ManifestCdcStream(spark,
      CdcStream.fileSource(spark, inDir.toString), store, KeyField,
      cacheDir, checkpointDir, tsGuard = true,
      reclusterOverFiles = ReclusterOverFiles, reclusterFiles = ReclusterFiles,
      dvDebtFraction = DvDebtFraction, mergeOnRead = spec.mor)
    lazy val streamId: String = CdcStream.lineageId(checkpointDir)
    val oracle = new Oracle

    def preload(rows: Array[Img]): Unit = {
      val ts = Workload.BaseTs - 1
      val data = rows.indices.map { k =>
        val r = rows(k)
        Row(k.toLong, r.grp, r.qty, r.price, r.note, ts)
      }
      store.commit(spark.createDataFrame(data.asJava, tableSchema),
        batchId = -1L, nFiles = spec.preloadFiles, streamId = streamId)
      oracle.preload(rows, ts)
    }
  }

  /** The checks every operation goes through; a failure or mismatch is
    * counted and reported, and turns the exit code to 1.
    */
  final class Checks {
    var attempted = 0
    var failed = 0
    /** Rows a check found brought back by a late event older than a
      * committed delete: the engine's known defect, see [[lookupMatches]].
      */
    var resurrectedRows = 0L
    def record(what: String)(ok: => Boolean): Boolean = {
      attempted += 1
      val good = try ok catch { case e: Exception =>
        System.err.println(s"[perfbench] $what threw: $e")
        e.printStackTrace()
        false
      }
      if (!good) { failed += 1; System.err.println(s"[perfbench] $what FAILED") }
      good
    }
  }

  def rowsOf(df: DataFrame): Seq[OrderRow] =
    df.select(Oracle.Columns.map(c => col(c._1)): _*).collect().toSeq.map(r =>
      OrderRow(r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getString(4), r.getLong(5)))

  def checksumOf(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(Oracle.Columns.map(c => col(c._1)): _*)
    val r = df.agg(count(lit(1)), sum(shiftrightunsigned(h, 32)),
      sum(h.bitwiseAND(0xFFFFFFFFL))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Keys for the lookup after batch `b`: half written by the batch, half
    * not touched by it.
    */
  def lookupKeys(spec: Spec, seed: Long, b: Int, batch: Array[Event]): Seq[Long] = {
    val rng = new SplittableRandom(seed * 7919L + b)
    val written = batch.map(_.key).distinct.sorted
    val touched = written.toSet
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(LookupKeys, written.length))
      picked += written(rng.nextInt(written.length))
    val others = mutable.LinkedHashSet.empty[Long]
    while (others.size < LookupKeys) {
      val k = rng.nextLong(spec.keySpace.toLong)
      if (!touched(k)) others += k
    }
    (picked ++ others).toSeq
  }

  /** Whether a lookup returned the oracle's rows for `keys`. A key the
    * oracle says is deleted may instead hold the row a MERGE without
    * tombstones brings back (see [[Oracle.resurrected]]): that is the
    * engine's known defect, counted in `checks` and reported, not
    * failed. Any other difference fails.
    */
  def lookupMatches(oracle: Oracle, keys: Seq[Long], rows: Seq[OrderRow],
                    checks: Checks): Boolean = {
    val got = rows.groupBy(_.id)
    val bad = keys.distinct.filter { k =>
      val have = got.getOrElse(k, Nil)
      val want = oracle.get(k).toSeq
      if (have == want) false
      else if (oracle.resurrected(k).exists(r => have == Seq(r))) {
        checks.resurrectedRows += 1
        false
      } else true
    }
    val ok = bad.isEmpty && got.keySet.subsetOf(keys.toSet)
    if (!ok) System.err.println(s"[perfbench] lookup mismatch on keys ${bad.take(3)}: " +
      s"got ${bad.take(3).map(got.get)} want ${bad.take(3).map(oracle.get)}")
    ok
  }

  /** Whether a scan's checksum is the oracle's; as for lookups, the table
    * may instead hold exactly the oracle's `untombed` view, whose extra rows
    * are counted in `checks`.
    */
  def scanMatches(oracle: Oracle, sum: (Long, Long, Long), checks: Checks): Boolean = {
    val want = oracle.checksum
    if (sum == want) true
    else if (sum == oracle.untombedChecksum) {
      checks.resurrectedRows += oracle.resurrectedCount
      true
    } else {
      System.err.println(s"[perfbench] scan got $sum want $want")
      false
    }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $what")

  def run(args: Args): Int = {
    val spec = Workload.byName(args.workload)
    // two task threads: the batches are small, and more threads only add
    // contention on a shared host (README.md)
    val cpus = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors()))
    val work = args.work
    deleteTree(work)
    Files.createDirectories(work)
    val inDir = work.resolve("in")
    Files.createDirectories(inDir)

    val t0Session = System.nanoTime()
    val spark = Verify.session(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    Verify.muteAdvisoryWarns()
    val sessionS = (System.nanoTime() - t0Session) / 1e9
    phase("session up")

    try {
      // inputs: one Debezium JSON-lines file per batch, from the seed
      val nTimed = spec.timedBatches(args.seconds)
      val nBatches = spec.warmupBatches + nTimed
      val batches = Workload.generate(spec, args.seed, nBatches).batches
      val files = batches.indices.map(b => inDir.resolve(f"batch-$b%05d.json"))
      batches.indices.foreach(b => Workload.writeBatch(files(b), batches(b)))
      val keysFor = batches.indices.map(b => lookupKeys(spec, args.seed, b, batches(b)))
      val preRows = Workload.preload(spec, args.seed)
      phase("inputs written")
      def read(b: Int): DataFrame = spark.read.format("text").load(files(b).toString)

      val checks = new Checks
      def commitOk(p: Pipeline, b: Int): Boolean = p.store.replayed(b.toLong, p.streamId)

      // set-up: the table preload, repeated on fresh tables (the first one
      // pays the JVM's cold start), then untimed warm-up batches on the last
      val preloadS = mutable.ArrayBuffer.empty[Double]
      var p: Pipeline = null
      (0 until SetupReps).foreach { r =>
        if (p != null) deleteTree(work.resolve(s"rep-${r - 1}"))
        val t = System.nanoTime()
        p = new Pipeline(spark, spec, work.resolve(s"rep-$r"), inDir)
        p.preload(preRows)
        preloadS += (System.nanoTime() - t) / 1e9
      }
      // each warm-up batch is followed by its lookup, as a timed batch is, so
      // that the lookup path is warm too
      val tw = System.nanoTime()
      (0 until spec.warmupBatches).foreach { b =>
        val t = System.nanoTime()
        p.stream.processBatch(read(b), b.toLong)
        p.oracle.putAll(batches(b))
        val rows = rowsOf(p.store.lookup(keysFor(b)).get)
        System.err.println(
          f"[perfbench] warm-up batch $b: ${(System.nanoTime() - t) / 1e6}%.0f ms with its lookup")
        checks.record(s"warm-up batch $b")(commitOk(p, b))
        checks.record(s"warm-up lookup $b")(lookupMatches(p.oracle, keysFor(b), rows, checks))
      }
      val warmupS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + median(preloadS.toSeq) + warmupS
      phase("set up")
      val pipe = p

      val tracer = new Tracer(spark.sparkContext)
      val listener = new JobListener
      if (args.trace) spark.sparkContext.addSparkListener(listener)
      val layer = new LayerStats(spec, cpus)

      // timed batches: open-loop schedule, event i due at t0 + i/rate, with
      // t0 set so that batch 0's last event is due as the timed phase starts
      val bytes0 = dirBytes(Paths.get(pipe.root))
      val nsPerEvent = 1e9 / spec.rate
      val t0 = System.nanoTime() - ((spec.batchEvents - 1) * nsPerEvent).toLong
      val batchMs = mutable.ArrayBuffer.empty[Double]
      val e2cMs = mutable.ArrayBuffer.empty[Double]
      val lagMs = mutable.ArrayBuffer.empty[Double]
      val lookupMs = mutable.ArrayBuffer.empty[Double]
      (0 until nTimed).foreach { k =>
        val b = spec.warmupBatches + k
        val due = t0 + (((k + 1L) * spec.batchEvents - 1) * nsPerEvent).toLong
        val v0 = pipe.store.current.get._1
        sleepUntil(due)
        val start = System.nanoTime()
        lagMs += (start - due) / 1e6
        if (lagMs.last > 20000.0) throw new Unsustainable(
          f"batch $k started ${lagMs.last}%.0f ms after its last event was due")
        // the traced run traces batches 0, 1, 4, 5, ... and runs the others
        // through processBatch: with an optimize every second batch both
        // kinds are traced, and each traced batch has an untraced one of the
        // same kind two batches later to read tracing overhead off
        val traced = args.trace && k % 4 < 2
        val ok = checks.record(s"batch $b") {
          if (traced) layer.tracedBatch(pipe, tracer, read(b), b)
          else pipe.stream.processBatch(read(b), b.toLong)
          commitOk(pipe, b)
        }
        val end = System.nanoTime()
        if (args.trace)
          layer.walls += ((traced, (end - start) / 1e6, pipe.store.current.get._1 - v0 > 1))
        batchMs += (end - start) / 1e6
        e2cMs += (end - due) / 1e6
        pipe.oracle.putAll(batches(b))
        if (ok) {
          val lt = System.nanoTime()
          val rows =
            if (traced) tracer.span("read.lookup", b)(layer.lookup(pipe, keysFor(b)))
            else rowsOf(pipe.store.lookup(keysFor(b)).get)
          lookupMs += (System.nanoTime() - lt) / 1e6
          checks.record(s"lookup $b")(lookupMatches(pipe.oracle, keysFor(b), rows, checks))
        }
        System.err.println(f"[perfbench] batch $b: ${batchMs.last}%.0f ms, start lag " +
          f"${lagMs.last}%.0f ms, lookup ${if (ok) lookupMs.last else Double.NaN}%.0f ms")
      }
      val writtenBytes = dirBytes(Paths.get(pipe.root)) - bytes0
      phase("timed batches done")
      // traced batches run slower by design; the traced run reports its lag
      // as driver.start_lag_ms instead of judging it
      if (!args.trace) backlogGuard(lagMs.toSeq, spec.intervalS * 1000)

      // full scans at run end
      val scanMs = mutable.ArrayBuffer.empty[Double]
      val lookupResurrected = checks.resurrectedRows
      (0 until ScanReps).foreach { r =>
        val t = System.nanoTime()
        val sum =
          if (args.trace) tracer.span("read.scan", -1L)(layer.scan(pipe))
          else checksumOf(pipe.store.read().get)
        scanMs += (System.nanoTime() - t) / 1e6
        checks.record(s"scan $r")(scanMatches(pipe.oracle, sum, checks))
      }
      val scanResurrected = (checks.resurrectedRows - lookupResurrected) / ScanReps
      if (checks.resurrectedRows > 0) System.err.println(s"[perfbench] KNOWN ENGINE DEFECT: " +
        s"$scanResurrected rows in the final table, and $lookupResurrected looked-up rows, " +
        "were brought back by late events older than a committed delete")

      phase("scans done")
      val m = pipe.store.currentManifest.get
      val sidecarBytes = m.files.flatMap(_.dv).map(d =>
        Files.size(Paths.get(pipe.root, "files", d))).sum
      val storedPerRow = (m.files.map(_.bytes).sum + sidecarBytes).toDouble /
        m.files.map(_.liveRows).sum
      val timedEvents = nTimed.toLong * spec.batchEvents
      val okFrac = (checks.attempted - checks.failed).toDouble / checks.attempted

      val metrics: Seq[(String, Double, String)] =
        if (!args.trace) Seq(
          ("setup_s", setupS, "s"),
          ("ingest_eps", timedEvents / (batchMs.sum / 1000), "1/s"),
          ("e2c_p50_ms", median(e2cMs.toSeq), "ms"),
          ("lookup_p50_ms", median(lookupMs.toSeq), "ms"),
          ("scan_ms", median(scanMs.toSeq), "ms"),
          ("write_bytes_per_event", writtenBytes.toDouble / timedEvents, "B/event"),
          ("stored_bytes_per_row", storedPerRow, "B/row"),
          ("ok_frac", okFrac, "frac"))
        else {
          org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
          layer.metrics(tracer, listener, m, lagMs.toSeq) :+
            (("oracle.resurrected_rows", scanResurrected.toDouble, "count"))
        }
      System.err.println(f"[perfbench] ${spec.name} seed=${args.seed} batches=$nTimed " +
        f"preloads=${preloadS.map(s => f"$s%.2f").mkString(",")} warm-up=$warmupS%.2f session=$sessionS%.2f " +
        f"batch p50=${median(batchMs.toSeq)}%.1fms interval=${spec.intervalS * 1000}%.0fms " +
        f"lag p50=${median(lagMs.toSeq)}%.1fms max=${lagMs.max}%.1fms")
      if (args.trace) {
        tracer.writeJsonl(work.resolve("spans.jsonl"))
        Files.writeString(work.resolve("layers.json"), resultLine(true, 0, 0, metrics))
      }
      deleteTree(work.resolve(s"rep-${SetupReps - 1}"))
      deleteTree(inDir)
      println(resultLine(checks.failed == 0, checks.attempted, checks.failed, metrics))
      if (checks.failed == 0) 0 else 1
    } finally {
      spark.stop()
      phase("session stopped")
    }
  }

  /** The result line: `{"correct", "attempted", "failed", "metrics"}`. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      s""""$n":{"value":${java.lang.Double.toString(v)},"unit":"$u"}"""
    }.mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""",
      ",", "}}")

  /** A run whose start lag keeps growing was offered more than it can
    * take; its latencies would measure the queue, not the pipeline.
    */
  def backlogGuard(lagMs: Seq[Double], intervalMs: Double): Unit =
    if (lagMs.size >= 2) {
      val q = math.max(1, lagMs.size / 4)
      val first = median(lagMs.take(q))
      val last = median(lagMs.takeRight(q))
      if (last > intervalMs && last > first + intervalMs / 2)
        throw new Unsustainable(f"start lag grew from $first%.0f ms to $last%.0f ms " +
          f"(batch interval $intervalMs%.0f ms)")
    }
}
