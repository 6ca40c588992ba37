package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Hot-reloading engine config (ref: spark_client/src/config_manager.py —
  * load :78-105, validation :107-128, defaults :130-175, per-batch re-read
  * of process_time cdc_stream.py:698-701).
  *
  * JSON shape mirrors the reference's sections; everything has a default so
  * a partial file is valid.
  */
final case class CdcConfig(
    keyColumn: String,
    processTime: String,
    batchSize: Int,
    columnsToSave: Option[Seq[String]],
    failOnDataLoss: Boolean,
    maxFilesPerTrigger: Option[Int],
    sourceDir: String,
    outputPath: String,
    checkpointDir: String,
    schemaCacheDir: String,
    databaseType: String,
    /** "manifest" (stats-pruned copy-on-write file MERGE) or
      * "manifest_mor" (deletion-vector merge-on-read) — the commit mode of
      * the manifest store behind the stream. Anything else is rejected at
      * startup and on hot reload.
      */
    storage: String,
    /** `processing_config.dedup.column`: content column to fingerprint for
      * the streaming-dedup side channel — see
      * [[ManifestCdcStream.DedupConfig]]. None = side channel off.
      */
    dedupColumn: Option[String] = None,
    /** `processing_config.dedup.bands`: also maintain the MinHash band
      * index for near-dup candidates.
      */
    dedupBands: Boolean = false,
    /** `processing_config.dedup.ttl_batches`: expire index claims older
      * than this many batches. None = claims live forever.
      */
    dedupTtlBatches: Option[Long] = None,
    /** `delta_config.change_feed`: capture a per-commit change file
      * (insert/update pre+post/delete images) so downstream consumers can
      * `readChangeFeed` off the output table — Delta's
      * `enableChangeDataFeed`.
      */
    changeFeed: Boolean = false)

object CdcConfig {
  val Default: CdcConfig = CdcConfig(
    keyColumn = "id",
    processTime = "1 minute",         // ref default config_manager.py:160
    batchSize = 1000,
    columnsToSave = None,
    failOnDataLoss = false,
    maxFilesPerTrigger = None,
    sourceDir = "in",
    outputPath = "out/table",
    checkpointDir = "out/_checkpoint",
    schemaCacheDir = "out/_schema",
    databaseType = "postgres",
    storage = "manifest")
}

final class ConfigManager(path: String) {
  // Content-hash change detection: mtime alone misses a second write landing
  // in the same millisecond (or a tool preserving mtime), and a failed parse
  // must not mask a later distinct write.
  @volatile private var lastParsedHash: String = ""
  @volatile private var lastFailedHash: String = ""
  @volatile private var cached: CdcConfig = CdcConfig.Default

  private def readWithHash(): Option[(String, String)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else {
      val content = Files.readString(p)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hash = md.digest(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      Some((content, hash))
    }
  }

  /** Current config; re-parses only when the file's content changed. A file
    * that fails to parse (torn write, bad JSON) is skipped and the previous
    * config stays in effect (ref: config_manager.py keeps the prior config
    * on a bad reload).
    */
  def config: CdcConfig = {
    readWithHash().foreach { case (content, hash) =>
      if (hash != lastParsedHash && hash != lastFailedHash) {
        try { cached = parse(content); lastParsedHash = hash; lastFailedHash = "" }
        catch { case e: Exception =>
          System.err.println(s"[config] ignoring unparseable $path: ${e.getMessage}")
          lastFailedHash = hash // remember the bad content so a fixed rewrite registers
        }
      }
    }
    cached
  }

  /** True when the file holds content not yet seen by `config` — the
    * query-restart signal (ref: cdc_stream.py:954-966 restart flag).
    */
  def changed(): Boolean =
    readWithHash().exists { case (_, hash) =>
      hash != lastParsedHash && hash != lastFailedHash
    }

  private[streaming] def parse(json: String): CdcConfig = {
    val root = new ObjectMapper().readTree(json)
    def str(sect: String, field: String, dflt: String): String = {
      val v = root.path(sect).path(field)
      if (v.isMissingNode || v.isNull) dflt else v.asText()
    }
    val d = CdcConfig.Default
    val cols = {
      val v = root.path("database_config").path("columns_to_save")
      if (v.isArray)                      // natural JSON-array form
        Some(v.elements().asScala.map(_.asText()).toSeq).filter(_.nonEmpty)
      else if (v.isMissingNode || v.isNull || v.asText().isEmpty) None
      else Some(v.asText().split(",").map(_.trim).toSeq)   // ref config.json:29
    }
    val mft = {
      val v = root.path("kafka_config").path("max_files_per_trigger")
      if (v.isMissingNode) None else Some(v.asInt())
    }
    CdcConfig(
      keyColumn = str("processing_config", "key_column", d.keyColumn),
      processTime = str("processing_config", "process_time", d.processTime),
      batchSize = root.path("processing_config").path("batch_size").asInt(d.batchSize),
      columnsToSave = cols,
      failOnDataLoss = root.path("kafka_config").path("fail_on_data_loss")
        .asBoolean(d.failOnDataLoss),
      maxFilesPerTrigger = mft,
      // file-based stand-in for kafka_config.topic (SURVEY §7.0)
      sourceDir = str("kafka_config", "source_dir", d.sourceDir),
      outputPath = str("delta_config", "output_path", d.outputPath),
      checkpointDir = str("delta_config", "checkpoint_dir", d.checkpointDir),
      schemaCacheDir = str("cache_config", "schema_path", d.schemaCacheDir),
      databaseType = str("database_config", "type", d.databaseType),
      storage = str("delta_config", "storage", d.storage),
      dedupColumn = {
        val v = root.path("processing_config").path("dedup").path("column")
        if (v.isMissingNode || v.isNull || v.asText().isEmpty) None
        else Some(v.asText())
      },
      dedupBands = root.path("processing_config").path("dedup").path("bands")
        .asBoolean(d.dedupBands),
      changeFeed = root.path("delta_config").path("change_feed")
        .asBoolean(d.changeFeed),
      dedupTtlBatches = {
        val v = root.path("processing_config").path("dedup").path("ttl_batches")
        if (v.isMissingNode || v.isNull) None else Some(v.asLong())
      })
  }
}

/** T5: cron-aligned trigger periods (ref: archive croniter variants,
  * e.g. streaming_from_kafka_to_minio copy 2.py:244-293 — trigger interval
  * = cron period with a 0.8 safety margin). Full 5-field cron
  * (minute hour day-of-month month day-of-week) with the standard term
  * grammar — `*`, fixed, `a-b` ranges, `*\/n` + `a-b/n` steps, comma
  * lists — and the standard OR rule when both day fields are restricted.
  * All computation is UTC and deterministic.
  */
object CronTrigger {

  private final case class Spec(minutes: Set[Int], hours: Set[Int],
                                doms: Set[Int], months: Set[Int], dows: Set[Int],
                                domStar: Boolean, dowStar: Boolean)

  /** One field: comma list of `*`, `a`, `a-b`, `*\/n`, `a/n`, `a-b/n`. */
  private def parseField(f: String, lo: Int, hi: Int, cron: String): (Set[Int], Boolean) = {
    def bad() = throw new IllegalArgumentException(s"unsupported cron field '$f' in: $cron")
    // every numeric term routes through here: an empty term ("1,,2") or an
    // oversized digit string must fail as an unsupported-field diagnostic,
    // not a NumberFormatException escaping isCron's intent
    def num(s: String): Int =
      if (s.nonEmpty && s.length <= 4 && s.forall(_.isDigit)) s.toInt else bad()
    val isStar = f == "*"
    val vals = f.split(",", -1).toSeq.flatMap { term =>
      val (rangePart, step, hasStep) = term.split("/", -1) match {
        case Array(r)    => (r, 1, false)
        case Array(r, s) => (r, { val n = num(s); if (n > 0) n else bad() }, true)
        case _           => bad()
      }
      val (a, b) = rangePart match {
        case "*" => (lo, hi)
        case r if r.nonEmpty && r.forall(_.isDigit) =>
          // bare value with an explicit step ("2/5", and also "2/1" — vixie
          // and croniter expand a/n to a..max even at n = 1) means
          // "from a to max"; a bare value without a slash is just {a}
          if (hasStep) (num(r), hi) else { val v = num(r); (v, v) }
        case r => r.split("-", -1) match {
          case Array(x, y) => (num(x), num(y))
          case _           => bad()
        }
      }
      if (a < lo || b > hi || a > b) bad()
      a.to(b, step)
    }
    (vals.toSet, isStar)
  }

  private def parse(cron: String): Spec = cron.trim.split("\\s+") match {
    case Array(m, h, dom, mon, dow) =>
      val (minutes, _)       = parseField(m, 0, 59, cron)
      val (hours, _)         = parseField(h, 0, 23, cron)
      val (doms, domStar)    = parseField(dom, 1, 31, cron)
      val (mons, _)          = parseField(mon, 1, 12, cron)
      val (dows0, dowStar)   = parseField(dow, 0, 7, cron)
      val dows = dows0.map(d => if (d == 7) 0 else d) // 7 == Sunday == 0
      Spec(minutes, hours, doms, mons, dows, domStar, dowStar)
    case _ => throw new IllegalArgumentException(s"not a 5-field cron: $cron")
  }

  import java.time.{LocalDateTime, ZoneOffset}

  /** First fire time strictly after `afterEpochSec`, as epoch seconds.
    * Skips day-by-day / hour-by-hour rather than minute-scanning, so even
    * a rare shape (Feb 29) resolves in bounded steps.
    */
  def nextFire(cron: String, afterEpochSec: Long): Long = {
    val spec = parse(cron)
    // standard cron rule: with both day fields restricted, a day matches
    // when EITHER matches; otherwise the restricted one decides
    def dayOk(t: LocalDateTime): Boolean = {
      val domOk = spec.doms.contains(t.getDayOfMonth)
      val dowOk = spec.dows.contains(t.getDayOfWeek.getValue % 7) // java MON=1..SUN=7 -> SUN=0
      (spec.domStar, spec.dowStar) match {
        case (true, true)   => true
        case (false, true)  => domOk
        case (true, false)  => dowOk
        case (false, false) => domOk || dowOk
      }
    }
    var t = LocalDateTime.ofEpochSecond(afterEpochSec - afterEpochSec % 60, 0, ZoneOffset.UTC)
      .plusMinutes(1)
    val limit = t.plusYears(8) // > max gap of any satisfiable shape (Feb 29)
    while (t.isBefore(limit)) {
      if (!spec.months.contains(t.getMonthValue))
        t = t.plusMonths(1).withDayOfMonth(1).withHour(0).withMinute(0)
      else if (!dayOk(t))
        t = t.plusDays(1).withHour(0).withMinute(0)
      else if (!spec.hours.contains(t.getHour))
        t = t.plusHours(1).withMinute(0)
      else if (!spec.minutes.contains(t.getMinute))
        t = t.plusMinutes(1)
      else
        return t.toEpochSecond(ZoneOffset.UTC)
    }
    throw new IllegalArgumentException(s"cron never fires: $cron")
  }

  /** Gap between the next two fires after `fromEpochSec` — the local period
    * of a possibly time-varying schedule (a daily shape yields 86400).
    */
  def periodSeconds(cron: String, fromEpochSec: Long): Long = {
    val first = nextFire(cron, fromEpochSec)
    nextFire(cron, first) - first
  }

  /** Deterministic single-arg form: period measured from a fixed epoch
    * (2026-01-01T00:00Z), preserving the original every-N-minutes/hourly
    * behavior while accepting any 5-field expression.
    */
  def periodSeconds(cron: String): Long =
    periodSeconds(cron, 1767225600L)

  /** Trigger interval with the reference's 0.8 margin. */
  def triggerMillis(cron: String, margin: Double = 0.8): Long =
    (periodSeconds(cron) * 1000 * margin).toLong

  /** True when the string parses as a 5-field cron (a Spark duration like
    * "1 minute" never has 5 fields).
    */
  def isCron(s: String): Boolean =
    scala.util.Try(parse(s)).isSuccess

  /** A config `process_time` is either a Spark duration or a cron
    * expression (ref accepts both via croniter); crons resolve through
    * [[triggerMillis]] with the 0.8 margin.
    */
  def resolveTrigger(processTime: String): org.apache.spark.sql.streaming.Trigger =
    if (isCron(processTime))
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMillis(processTime))
    else
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(processTime)
}
