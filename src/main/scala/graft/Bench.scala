package graft
/** Per-round benchmark: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * timed end-to-end. Results go to the `noop` sink so the full projection is
  * evaluated (a bare `count()` would let Catalyst prune the very columns the
  * query exists to compute).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 32 = the driver's own setting (BENCH_r06.json records
    // cpus:32) and the stated local[32] contract; a local run at the old
    // default of 4 produced numbers 3-5x off the driver's artifact for
    // CPU-bound queries and read as phantom regressions
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    Verify.muteAdvisoryWarns() // setLogLevel may re-touch logger config
    // JMH-style warmup at a smaller SF: pays JVM/codegen JIT cost once so
    // the timed runs measure the query plans, not classloading. sf0.01 (not
    // sf0.001) so hot loops actually reach C2 compilation thresholds.
    // Warmup durations double as per-query cost estimates for outlier
    // detection below.
    val warmDir = "/root/testdata/sf0.01"
    val warmTime = collection.mutable.Map.empty[String, Double]
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          warmTime(name) = (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => () }
      }
    spark.catalog.clearCache() // timed runs build their own state

    // Per-query summed Spark-JOB wall time (r18 verdict item 8): at sf0.1
    // the fleet is overhead-bound (the 8-core total beat 32 cores), so
    // wall-only numbers under ~1.5 s cannot rank optimization targets —
    // the artifact now carries each query's scheduler-reported job time so
    // compute vs driver/scheduling gap is visible every round. Attribution
    // is a volatile current-pass key read at job END (streaming microbatch
    // jobs don't inherit a caller job description): every job of a pass
    // ends before the pass's blocking action returns, so cross-pass
    // leakage is bounded by listener-bus latency (ms) — a diagnostic
    // field, not a timing-methodology change (wall timing is untouched).
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]
    val jobSums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
    @volatile var curPassKey: String = ""
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobStarts.put(e.jobId, e.time); ()
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStarts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
        val k = curPassKey
        if (k.nonEmpty)
          jobSums.merge(k, java.lang.Double.valueOf((e.time - t0) / 1e3),
            (a, b) => java.lang.Double.valueOf(a.doubleValue + b.doubleValue))
        ()
      }
    })

    // Calibration control: a FIXED, plan-independent job — generated
    // data, hash agg + sort, no graft code, no file I/O — timed
    // best-of-3 before the suite and SAMPLED THROUGHOUT it. Its
    // round-over-round drift measures the MACHINE, not the plans: r11
    // burned judge+builder hours proving a uniform 1.26x fleet-wide
    // inflation was a slower VM, and r12's driver run degraded 3.3x
    // MID-run (control 3.5 -> 11.6 s) so a single up-front probe
    // mis-normalized 33 phantom deltas on a docs-only diff. The probe now
    // interleaves every ~15 queries; each query timestamps its run and
    // normalizes by the PIECEWISE-INTERPOLATED control at that instant.
    def controlOnce(): Double = {
      import org.apache.spark.sql.functions._
      curPassKey = "" // control jobs must not land in any query's jobsum
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .select((col("id") * 2654435761L % 1000003L).as("k"),
          (col("id") % 97L).as("v"))
        .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("c"))
        .orderBy(desc("sv")).limit(1000)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val suiteT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - suiteT0) / 1e9
    // (suite-relative instant, control seconds) samples, in time order
    val controlSamples = collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def sampleControl(bestOf: Int): Double = {
      val c = (1 to bestOf).map(_ => controlOnce()).min
      controlSamples += ((elapsed(), c))
      c
    }
    controlOnce() // its own warmup
    val control = sampleControl(bestOf = 3)

    // best-of-3 per query: the first timed run still pays residual JIT for
    // sf-specific plan shapes, and this VM shows heavy run-to-run noise.
    // Per-query bookkeeping for the r17 citation discipline: how many
    // timed passes produced the reported best (3, or 6 after a re-time),
    // and the very FIRST single-pass time — a cited delta whose
    // single-pass and best-of-N disagree on direction vs the prior
    // artifact is noise-band, not a plan move, and gets flagged.
    val runPasses = collection.mutable.Map.empty[String, Int]
    val firstRun = collection.mutable.Map.empty[String, Double]
    def bestOf3(name: String, fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Double = {
      val passBase = runPasses.getOrElse(name, 0)
      val times = (1 to 3).map { i =>
        curPassKey = s"$name#${passBase + i - 1}" // pass 0 = the cold pass
        spark.sparkContext.setJobDescription(name) // guide §1.5: label jobs
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        spark.catalog.clearCache() // teardown outside the timed span
        if (ok) elapsed else -1.0 // sentinel: a failed run must not read as fast
      }
      runPasses(name) = runPasses.getOrElse(name, 0) + 3
      if (!firstRun.contains(name)) firstRun(name) = times.head
      val good = times.filter(_ >= 0.0)
      if (good.nonEmpty) good.min else -1.0
    }

    // Idempotent-LIFECYCLE queries (r18 verdict item 1 — a measurement-bug
    // fix): for these, warm re-runs
    // legitimately skip to the settled store (the r9-prescribed
    // idempotent-replay pattern), so the best-of-3 minimum measured a
    // near-no-op restart path while the DECLARED work (DML lifecycle,
    // stream drain, multi-batch ingest) only runs on the COLD first pass —
    // a future regression in the actual lifecycle was invisible to PERF.
    // The reported per-query figure is now the cold FIRST-pass time (the
    // declared work); the warm minimum stays in the `warm` block and the
    // old-basis headline in `value_warm`, so both bases stay tracked.
    // NOT listed: the ~25 dsv2 read/prune gate queries whose seed-once
    // commit is test-FIXTURE setup — their declared work (the read) runs
    // every pass. Membership is exactly the r18 verdict's list: the 7 r18
    // warm-skips + the older dsv2_read_*/dsv2_sql_dml*/dedup_streaming_*
    // carriers.
    val lifecycle: Set[String] = Set(
      "dsv2_declarative_cdc", "dsv2_stream_sink", "dsv2_stream_cdf",
      "dsv2_incremental_agg", "dsv2_catalog_sql", "dsv2_partitioned",
      "dsv2_partitioned_multi", "dsv2_sql_dml", "dsv2_sql_dml_mor",
      "dsv2_read_mor", "dsv2_read_pruned", "dedup_streaming_index",
      "dedup_streaming_bands", "dedup_streaming_ttl")

    // Prior-ROUND trend baseline: BENCH_BASELINE.json, the copy of
    // BENCH_FULL.json that tools/round_close.sh snapshots when a round
    // ends. Diffing the working BENCH_FULL.json was wrong (r7 verdict #4):
    // intra-round runs overwrite it, so each run compared against the
    // previous RUN and real round-over-round drift (events_asof_join
    // 0.76->1.25 s) escaped both the re-time pass and the deltas block.
    // Queries that regressed >1.5x vs the baseline join the settled
    // re-time pass, and surviving deltas are reported in `deltas`.
    // Paths derived from the working directory, not hardcoded: sbt forks
    // with user.dir = the project root wherever the repo is cloned.
    val benchPath = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "BENCH_FULL.json")
    val baselinePath = java.nio.file.Paths.get(
      sys.props.getOrElse("user.dir", "."), "BENCH_BASELINE.json")
    val baselineTxt: Option[String] =
      try {
        val src = if (java.nio.file.Files.exists(baselinePath)) baselinePath
                  else benchPath // first round ever: no snapshot yet
        Some(java.nio.file.Files.readString(src))
      } catch { case _: Throwable => None }
    val prior: Map[String, Double] = baselineTxt.map { txt =>
      try {
        val tail = txt.substring(txt.indexOf("\"queries\":{") + "\"queries\":{".length)
        val body = tail.substring(0, tail.indexOf('}'))
        """"([A-Za-z0-9_]+)":(-?[0-9.eE+-]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty[String, Double] }
    }.getOrElse(Map.empty)
    // the prior round's control time, for the drift normalization; a
    // baseline without one (first round after this lands) means drift 1.0.
    // MIN of the prior run's start/end controls: the control measures
    // machine capability, so its BEST sample is the least
    // load-contaminated one (the r12 close recorded 3.367 at start and
    // 1.846 at end — the 3.367 was load, and dividing today's 1.1 s
    // control by it manufactured a phantom 3x "speedup")
    val priorControl: Option[Double] = baselineTxt.flatMap { txt =>
      val vals = Seq("control", "control_end", "control_min").flatMap(k =>
        (s""""$k":(-?[0-9.eE+-]+)""").r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble).filter(_ > 0.0))
      if (vals.isEmpty) None else Some(vals.min)
    }
    val drift: Double = priorControl.map(pc => control / pc).getOrElse(1.0)
    // the control curve at instant t (piecewise-linear between samples,
    // clamped at the ends) and the LOCAL machine drift vs the prior
    // round's control at that instant — what every per-query
    // normalization below divides by. Floored: a pathological near-zero
    // sample must not explode a normalized time.
    def controlAt(t: Double): Double = {
      val ss = controlSamples.toSeq
      if (ss.isEmpty) control
      else if (t <= ss.head._1) ss.head._2
      else if (t >= ss.last._1) ss.last._2
      else {
        val i = ss.lastIndexWhere(_._1 <= t)
        val (t0, c0) = ss(i); val (t1, c1) = ss(i + 1)
        if (t1 <= t0) c1 else c0 + (c1 - c0) * ((t - t0) / (t1 - t0))
      }
    }
    // FLOORED AT 1.0: the divisor below may only ever DEFLATE a time.
    // drift > 1 (machine slower now) explains away apparent regressions
    // that co-moved with the control — the r12 mid-run 3.3x slump case.
    // drift < 1 (machine faster now) must NOT inflate times: the
    // control-to-query transfer of a speedup factor is unreliable
    // (observed this round: raw drift 0.335 inflated every query 3x and
    // flagged 8 phantom regressions on an untouched suite); with the
    // floor, a faster machine falls back to the absolute-move criterion,
    // which still catches any real >1.3x regression.
    def driftAt(t: Double): Double =
      priorControl.map(pc => math.max(1.0, controlAt(t) / pc)).getOrElse(1.0)

    // timestamp of the run that produced each query's reported time (the
    // re-time pass updates it when its rerun wins min-of-passes)
    val queryTs = collection.mutable.Map.empty[String, Double]
    // the FIRST pass's own instant, frozen: queryTs moves to the re-time
    // pass when its rerun wins, but the `unstable` comparison below must
    // normalize f0 by the drift at the instant f0 was MEASURED
    val firstTs = collection.mutable.Map.empty[String, Double]
    var sinceProbe = 0
    val firstPass = SparkEntry.queries.map { case (name, fn) =>
      if (sinceProbe >= 15) { sampleControl(bestOf = 1); sinceProbe = 0 }
      sinceProbe += 1
      queryTs(name) = elapsed()
      firstTs(name) = queryTs(name)
      name -> bestOf3(name, fn)
    }
    // Session-degradation self-defense: best-of-3 inside one JVM window
    // doesn't protect against a session-wide slump (GC/code-cache state) —
    // one round recorded a 36x phantom that re-measured at 0.83s. Any query
    // whose best exceeds 5x a warmup-derived estimate is re-timed in a
    // second pass at the end, when the session has settled, and the min of
    // both passes is reported.
    // no warmup measurement (warmDir == sfDir, or the query failed warmup)
    // means no estimate — such queries are never flagged, or the 2.5s
    // fallback would re-bench most of the suite
    // w * 5 allows a query to scale ~5x over the 10x sf0.01 -> sf0.1 data
    // growth before the 5x slump multiplier engages; super-linear-but-honest
    // queries must not be flagged every run (a flag costs an extra
    // best-of-3), while the observed 36x phantom still trips it easily
    def estimate(name: String): Double =
      warmTime.get(name).map(w => 5.0 * math.max(0.5, w * 5.0))
        .getOrElse(Double.MaxValue)
    // lifecycle queries never join the re-time pass: their REPORTED figure
    // is the one-shot cold first pass, which a warm best-of-3 rerun cannot
    // re-measure (the store is settled for the rest of this JVM)
    val estFlagged = firstPass.filter { case (n, t) =>
      t > estimate(n) && !lifecycle(n) }.keys.toSeq
    // The estimate gate alone let a 12x phantom through (cdc_mongo_doc_map
    // recorded 7.4s, re-measured 0.61s — its UDF-heavy warmup inflated the
    // threshold). The slowest queries dominate the headline total, so always
    // re-time the top tail in the settled second pass regardless of estimate;
    // min-of-passes strictly improves accuracy and costs ~6 extra best-of-3s.
    val topSlow = firstPass.toSeq.filter(p => p._2 >= 0.0 && !lifecycle(p._1))
      .sortBy(-_._2).take(6).map(_._1)
    // Round-over-round movement criterion — the one the verdicts grade by
    // (>1.3x AND >0.15s absolute, either direction). The r10 gate used
    // 1.5x and let three real regressions (emb_semdedup 0.90->1.34s et al)
    // land unreported; the absolute floor keeps 0.02->0.04s noise out.
    def moved(p: Double, t: Double): Boolean =
      p > 0.0 && t >= 0.0 &&
        ((t > p * 1.3 && t - p > 0.15) || (p > t * 1.3 && p - t > 0.15))
    // regressed past the criterion vs the prior round's artifact -> re-time
    // before letting the regression land (most such entries are phantoms).
    // LOCALLY drift-normalized: a query that moved in lockstep with the
    // control curve AT ITS OWN INSTANT is the machine, not the plan, and
    // re-timing it buys nothing
    val trendFlagged = firstPass.filter { case (n, t) =>
      t >= 0.0 && !lifecycle(n) && prior.get(n).exists { p =>
        val norm = t / driftAt(queryTs.getOrElse(n, 0.0))
        moved(p, norm) && norm > p
      }
    }.keys.toSeq
    val suspects = (estFlagged ++ topSlow ++ trendFlagged).distinct
    // the re-time pass gets its OWN fresh control: it used to run at the
    // end of the suite — on a mid-run-degrading VM, exactly the slowest
    // point, so min-of-passes couldn't recover (r12 adjudication)
    if (suspects.nonEmpty) sampleControl(bestOf = 2)
    val results = firstPass ++ suspects.map { n =>
      val ts2 = elapsed()
      val rerun = bestOf3(n, SparkEntry.queries(n))
      if (rerun >= 0.0 && rerun < firstPass(n)) queryTs(n) = ts2
      n -> (if (rerun >= 0.0) math.min(firstPass(n), rerun) else firstPass(n))
    }

    // Per-query REPORTED figure: lifecycle queries report the cold first
    // pass (the declared work — see `lifecycle` above; a failed cold pass
    // falls back to the warm min rather than reporting the -1 sentinel);
    // everything else reports the best-of-N minimum exactly as before.
    val reported: Map[String, Double] = results.map { case (n, t) =>
      n -> (if (lifecycle(n) && firstRun.getOrElse(n, -1.0) >= 0.0) firstRun(n)
            else t)
    }
    // failed queries are excluded from the headline total (summing the -1
    // sentinels would make a DEGRADED run read as faster) and surfaced as a
    // count instead
    val failed = reported.values.count(_ < 0.0)
    val total = reported.values.filter(_ >= 0.0).sum
    // the pre-r19 warm-minimum basis, kept alongside for cross-round
    // comparability (r18 totals were warm-basis)
    val totalWarm = results.values.filter(_ >= 0.0).sum
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // The driver records only the LAST 2000 chars of stdout: with ~100
    // queries the full per-query map blows that window and the round's
    // bench parses as null (rounds 1, 2 and 5 were lost exactly this way —
    // the key names alone exceed 2000 chars). The stdout line therefore
    // carries the headline total plus the 30 slowest queries (the ones any
    // perf verdict is about), and the COMPLETE map goes to
    // BENCH_FULL.json in the repo, refreshed every run.
    val top = reported.toSeq.filter(_._2 >= 0.0).sortBy(-_._2).take(30)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val full = reported.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // lifecycle queries: the old warm-minimum basis, next to the reported
    // cold figure — both numbers per query, per the r18 verdict contract
    val warmJson = lifecycle.toSeq.sorted
      .flatMap(n => results.get(n).filter(_ >= 0.0)
        .map(v => s"\"" + n + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    // per-query jobsum (seconds of scheduler-reported job time): for
    // lifecycle queries the COLD pass's (matching the reported figure),
    // else the minimum across timed passes (matching best-of-N)
    def jobsumOf(n: String): Option[Double] = {
      val sums = (0 until runPasses.getOrElse(n, 0)).flatMap(i =>
        Option(jobSums.get(s"$n#$i")).map(_.doubleValue))
      if (sums.isEmpty) None
      else if (lifecycle(n))
        Option(jobSums.get(s"$n#0")).map(_.doubleValue).orElse(Some(sums.min))
      else Some(sums.min)
    }
    val jobsumJson = reported.toSeq.sortBy(_._1)
      .flatMap { case (k, _) => jobsumOf(k).map(v => s"\"" + k + "\":" + fmt(v)) }
      .mkString("{", ",", "}")
    // post-re-time deltas vs the prior artifact: ONLY entries that moved
    // past the verdict criterion after LOCAL drift normalization (now_norm
    // = now / interpolated control drift at the query's own instant) —
    // raw-only movement is the machine and is visible in the control
    // samples instead. Each entry carries both numbers so machine drift
    // and plan movement separate at a glance. Full block in
    // BENCH_FULL.json; stdout carries the 8 largest normalized ratios
    // (the 2000-char driver window).
    val controlEnd = sampleControl(bestOf = 1) // closes the control curve
    // r17 citation discipline: each delta carries how many timed passes
    // its `now` is the best of, and `unstable`: the FIRST single pass
    // and the best-of-N land on OPPOSITE sides of the prior figure — on
    // this VM (same-code runs differ ~2x under 3 s) such a delta is
    // noise-band evidence, not a plan move, and must not be cited as one
    val changed = reported.toSeq.collect {
      case (n, t) if t >= 0.0 && prior.get(n).exists(p =>
          moved(p, t / driftAt(queryTs.getOrElse(n, 0.0)))) =>
        val p = prior(n)
        val norm = t / driftAt(queryTs.getOrElse(n, 0.0))
        // f0 normalized by the drift AT ITS OWN INSTANT: the raw first
        // pass and the normalized best-of-N sit on different scales when
        // the control drift is away from 1.0, and comparing them raw
        // could mis-report stability in either direction (r17 ADVICE)
        val unstable = firstRun.get(n).exists { f0 =>
          val f0n = f0 / driftAt(firstTs.getOrElse(n, 0.0))
          f0 >= 0.0 && (f0n > p) != (norm > p)
        }
        (n, p, t, norm, math.max(norm / p, p / norm),
          runPasses.getOrElse(n, 3), unstable)
    }
    def deltaJson(xs: Seq[(String, Double, Double, Double, Double,
        Int, Boolean)]) = xs
      .map { case (n, p, t, norm, _, passes, unstable) =>
        s"\"$n\":{\"prev\":${fmt(p)},\"now\":${fmt(t)}," +
          s"\"now_norm\":${fmt(norm)},\"passes\":$passes," +
          s"\"unstable\":$unstable}" }
      .mkString("{", ",", "}")
    val deltasFull = deltaJson(changed.sortBy(_._1))
    val deltasTop = deltaJson(changed.sortBy(-_._5).take(8))
    def fmtC(v: Double) = fmt(v)
    val controlBlock =
      s""""control":${fmtC(control)},"control_end":${fmtC(controlEnd)},""" +
        s""""control_min":${fmtC((controlSamples.map(_._2) :+ controlEnd).min)},""" +
        s""""control_prev":${priorControl.map(fmtC).getOrElse(-1)},""" +
        s""""drift":${fmtC(drift)}"""
    // the full control curve (suite-relative instant, seconds) — the
    // evidence behind every now_norm; file artifact only (stdout budget)
    val samplesJson = controlSamples
      .map { case (t, c) => s"[${fmt(t)},${fmt(c)}]" }.mkString("[", ",", "]")
    // per-query pass counts (3, or 6 after a re-time): the N behind
    // every best-of-N figure a STRESS/close citation quotes
    val passesFull = results.toSeq.sortBy(_._1)
      .map { case (k, _) => s"\"$k\":${runPasses.getOrElse(k, 3)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(benchPath,
      s"""{"metric":"total","value":$total,"unit":"sec","value_warm":$totalWarm,$controlBlock,"control_samples":$samplesJson,"queries":$full,"warm":$warmJson,"jobsum":$jobsumJson,"passes":$passesFull,"sf":"$sfDir","failed":$failed,"reruns":${suspects.length},"deltas":$deltasFull}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","value_warm":${fmt(totalWarm)},$controlBlock,"queries":$top,"sf":"$sfDir","failed":$failed,"reruns":${suspects.length},"deltas":$deltasTop,"queries_full":"BENCH_FULL.json"}""")
    spark.stop()
  }
}
