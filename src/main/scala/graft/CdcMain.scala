package graft

import graft.cdc.ManifestStore
import graft.streaming._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The engine's CLI entry — the Spark-native form of
  * `cdc_stream.py --config config.json` (ref main dispatch
  * cdc_stream.py:1095-1108, supervision loop :981-991, graceful shutdown
  * :992-1002):
  *
  *   runMain graft.CdcMain <config.json> [--once]
  *
  * Dispatches on `database_config.type` (postgres envelope path vs mongodb
  * extended-JSON path; anything else is rejected, ref validation
  * config_manager.py:107-128), wires the file-based changelog source,
  * manifest store, schema cache and checkpoint from the config, and
  * supervises the query: config changes restart it with the new settings
  * (a torn/bad config file is skipped and the stream keeps running — ref
  * keeps the previous config on a bad reload), and a failed or terminated
  * query is recreated. `--once` processes the available backlog
  * (Trigger.AvailableNow) and exits. The shutdown hook drains the
  * in-flight batch (T4).
  *
  * Parity notes: `processing_config.batch_size` is accepted but unused —
  * the reference declares it and never reads it (config.json:25);
  * `kafka_config.fail_on_data_loss` has no analogue on the file source
  * stand-in (no offsets can be lost).
  */
object CdcMain {
  // reload-time validation guard; keep in sync with the dispatch match in
  // `stream` below (plus "auto", resolved before dispatch)
  private val ValidDbTypes =
    Set("mongodb", "mongo", "postgres", "postgresql", "auto")
  private val ValidStorage = Set("manifest", "manifest_mor")

  /** Semantic validation shared by startup (fail fast) and hot reload
    * (reject, keep the running stream). None = valid.
    */
  private[graft] def configError(cfg: CdcConfig): Option[String] =
    if (!ValidDbTypes.contains(cfg.databaseType))
      Some(s"unsupported database_config.type: '${cfg.databaseType}' " +
        s"(expected one of ${ValidDbTypes.toSeq.sorted.mkString(", ")})")
    else if (!ValidStorage.contains(cfg.storage))
      Some(s"unsupported delta_config.storage: '${cfg.storage}' " +
        s"(expected one of ${ValidStorage.toSeq.sorted.mkString(", ")})")
    else None

  /** The stream `cfg` runs for a resolved `database_config.type`. The wire
    * format picks the per-batch net-change step; everything after it — the
    * stats-pruned file MERGE ("manifest") or deletion-vector merge-on-read
    * ("manifest_mor"), auto-optimize, change feed, dedup side channel — is
    * one engine.
    */
  private[graft] def stream(spark: SparkSession, cfg: CdcConfig,
                            dbType: String, trigger: Trigger): ManifestCdcStream = {
    val format = dbType match {
      case "mongodb" | "mongo"       => ManifestCdcStream.Mongo()
      case "postgres" | "postgresql" => ManifestCdcStream.Postgres
      case other =>
        sys.error(s"unsupported database_config.type: '$other' " +
          "(expected postgres or mongodb)")
    }
    val store = new ManifestStore(cfg.outputPath, spark, cfg.keyColumn)
    // delta_config.change_feed: flip capture ON for every commit this
    // stream makes — downstream consumers then readChangeFeed off
    // cfg.outputPath (capture starts at the NEXT commit)
    if (cfg.changeFeed) store.enableChangeFeed()
    new ManifestCdcStream(spark,
      CdcStream.fileSource(spark, cfg.sourceDir, cfg.maxFilesPerTrigger),
      store, cfg.keyColumn, cfg.schemaCacheDir, cfg.checkpointDir,
      cfg.columnsToSave, trigger = trigger, reclusterOverFiles = 256,
      mergeOnRead = cfg.storage == "manifest_mor",
      dedup = cfg.dedupColumn.map(c => ManifestCdcStream.DedupConfig(
        c, cfg.dedupBands, cfg.dedupTtlBatches)),
      changeFormat = format)
  }

  def main(args: Array[String]): Unit = {
    val configPath = args.filterNot(_.startsWith("--")).headOption.getOrElse(
      sys.error("usage: CdcMain <config.json> [--once]"))
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(configPath)))
      sys.error(s"config not found: $configPath")
    val once = args.contains("--once")
    val cm = new ConfigManager(configPath)
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")

    @volatile var running = true
    @volatile var active: Option[(ManifestCdcStream, StreamingQuery)] = None

    // 'auto' (ref planned it in docs/keynotetochange.txt, never merged):
    // classify from the backlog's first events, ONCE — the resolved type is
    // pinned for the process so supervision restarts can never flip the
    // engine type against the same checkpoint/output lineage
    @volatile var pinnedAutoType: Option[String] = None
    def resolveType(cfg: CdcConfig): Option[String] =
      if (cfg.databaseType != "auto") Some(cfg.databaseType)
      else pinnedAutoType.orElse {
        val t = graft.cdc.SourceDetect.detectFromDir(spark, cfg.sourceDir)
        pinnedAutoType = t
        t
      }

    def makeStream(cfg: CdcConfig): (ManifestCdcStream, StreamingQuery) = {
      val trigger =
        if (once) Trigger.AvailableNow()
        else CronTrigger.resolveTrigger(cfg.processTime) // duration OR cron
      val dbType = resolveType(cfg).getOrElse(
        sys.error(s"database_config.type=auto but no classifiable event " +
          s"found in ${cfg.sourceDir}"))
      val s = stream(spark, cfg, dbType, trigger)
      (s, s.start())
    }

    def stopActive(): Unit = active.foreach { case (s, q) => s.stopGracefully(q) }

    sys.addShutdownHook { running = false; stopActive() }

    var currentCfg = cm.config // validated before first start; may throw: fine
    // fail FAST on a bad initial config: without this a typo like
    // storage="manifst" would silently run the copy-on-write engine
    // (hot-reload already rejects via the same configError; startup must
    // match)
    configError(currentCfg).foreach(sys.error)
    // Two kinds of rejected hot-reload, remembered so the ~2s poll doesn't
    // re-log (or stop/restart the healthy reverted stream) every cycle:
    // a semantically invalid config can never succeed -> suppressed until
    // the file changes again; a config that merely FAILED TO START may be a
    // transient (source dir not populated yet, target briefly down) -> retry
    // it after a backoff instead of stalling on the old config forever.
    var lastInvalidCfg: CdcConfig = null
    var lastFailedCfg: CdcConfig = null
    var failedCfgPolls = 0
    val FailedRetryPolls = 15 // ~30s at the 2s poll cadence
    // auto + empty backlog is a normal CDC cold start (producer not up yet):
    // wait for the first classifiable event instead of crashing; --once with
    // nothing to classify has nothing to process and fails fast
    if (!once && currentCfg.databaseType == "auto") {
      var announced = false
      while (running && resolveType(currentCfg).isEmpty) {
        if (!announced) {
          println(s"[cdc-main] type=auto: waiting for a classifiable event " +
            s"in ${currentCfg.sourceDir}")
          announced = true
        }
        Thread.sleep(2000)
      }
    }
    if (running) active = Some(makeStream(currentCfg))
    if (once) {
      active.foreach(_._2.awaitTermination())
    } else {
      // supervision loop: survive query failures, recreate terminated
      // queries, restart on (valid) config changes
      while (running) {
        try active.foreach(_._2.awaitTermination(2000))
        catch {
          case e: Exception =>
            System.err.println(s"[cdc-main] query failed: ${e.getMessage}; restarting")
        }
        if (running && active.exists(!_._2.isActive)) {
          Thread.sleep(1000) // backoff so a crash-looping query can't spin hot
          scala.util.Try(makeStream(currentCfg)) match {
            case scala.util.Success(s) => active = Some(s)
            case scala.util.Failure(e) =>
              System.err.println(s"[cdc-main] restart failed: ${e.getMessage}")
          }
        }
        if (running) {
          // ConfigManager keeps the previous config on a torn/bad file; ONE
          // read per poll (changed()+config would read and hash the file
          // twice with a writer race between them), and only a config that
          // actually parsed differently restarts the query
          val cfg = cm.config
          if (cfg == lastFailedCfg && cfg != currentCfg) {
            failedCfgPolls += 1
            if (failedCfgPolls >= FailedRetryPolls) {
              lastFailedCfg = null // forget the failure: next poll retries it
              failedCfgPolls = 0
            }
          }
          if (cfg != currentCfg && cfg != lastInvalidCfg && cfg != lastFailedCfg) {
            // a config that parses but is semantically invalid must not take
            // down the running stream (ref keeps prior config on bad reload)
            val err = configError(cfg)
            if (err.isDefined) {
              System.err.println(
                s"[cdc-main] ignoring config change: ${err.get}")
              lastInvalidCfg = cfg
            } else {
              println("[cdc-main] config changed; restarting query")
              lastInvalidCfg = null
              lastFailedCfg = null
              // a new source dir is a new lineage: the type pinned from the
              // OLD dir's events must not classify the new one. Save the
              // old pin so a failed start can restore it — the revert runs
              // the OLD lineage and must not inherit a type detected from
              // the NEW dir's events.
              val savedPin = pinnedAutoType
              if (cfg.sourceDir != currentCfg.sourceDir) pinnedAutoType = None
              stopActive()
              scala.util.Try(makeStream(cfg)) match {
                case scala.util.Success(s) =>
                  currentCfg = cfg
                  active = Some(s)
                case scala.util.Failure(e) =>
                  System.err.println("[cdc-main] new config failed to start: " +
                    s"${e.getMessage}; reverting to previous config " +
                    s"(will retry in ~${FailedRetryPolls * 2}s)")
                  // remember the failing config, or the poll would stop and
                  // restart the healthy reverted stream every ~2s while the
                  // bad file sits on disk; the backoff counter above retries
                  // it in case the failure was transient (cold source dir)
                  lastFailedCfg = cfg
                  failedCfgPolls = 0
                  pinnedAutoType = savedPin
                  // currentCfg untouched; if the revert fails too the
                  // supervision loop above keeps retrying it with backoff
                  scala.util.Try(makeStream(currentCfg))
                    .foreach(s => active = Some(s))
              }
            }
          }
        }
      }
    }
    spark.stop()
  }
}
