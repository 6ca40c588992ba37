package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class ConfigManagerSpec extends AnyFunSuite {

  test("defaults apply for a partial config file") {
    val cm = new ConfigManager("/nonexistent/config.json")
    assert(cm.config == CdcConfig.Default)
    val parsed = cm.parse("""{"processing_config": {"key_column": "customerId"}}""")
    assert(parsed.keyColumn == "customerId")
    assert(parsed.processTime == "1 minute")
    assert(parsed.columnsToSave.isEmpty)
  }

  test("full config parses the reference's sections (config.json shape)") {
    val cm = new ConfigManager("/nonexistent/config.json")
    val parsed = cm.parse(
      """{"processing_config": {"key_column": "customerId", "process_time": "30 seconds", "batch_size": 500},
        |"database_config": {"type": "mongodb", "columns_to_save": "customerId,customerFName"},
        |"kafka_config": {"fail_on_data_loss": true, "max_files_per_trigger": 7},
        |"delta_config": {"output_path": "/data/out", "checkpoint_dir": "/data/ck"},
        |"cache_config": {"schema_path": "/data/schema"}}""".stripMargin)
    assert(parsed.processTime == "30 seconds")
    assert(parsed.batchSize == 500)
    assert(parsed.columnsToSave.contains(Seq("customerId", "customerFName")))
    assert(parsed.failOnDataLoss && parsed.maxFilesPerTrigger.contains(7))
    assert(parsed.outputPath == "/data/out" && parsed.databaseType == "mongodb")
    assert(parsed.storage == "manifest") // default engine
  }

  test("delta_config.storage selects the manifest engines") {
    val cm = new ConfigManager("/nonexistent/config.json")
    assert(cm.parse("""{"delta_config": {"storage": "manifest"}}""")
      .storage == "manifest")
    assert(cm.parse("""{"delta_config": {"storage": "manifest_mor"}}""")
      .storage == "manifest_mor")
    Seq("manifest", "manifest_mor").foreach(st =>
      assert(graft.CdcMain.configError(CdcConfig.Default.copy(storage = st)).isEmpty))
    // anything else is rejected at startup and on hot reload, naming the
    // two engines — a typo, and the removed whole-table engine
    Seq("manifst", "snapshot").foreach { st =>
      val err = graft.CdcMain.configError(CdcConfig.Default.copy(storage = st))
      assert(err.exists(e => e.contains("manifest") && e.contains("manifest_mor")), err)
    }
  }

  test("processing_config.dedup parses column, bands, ttl") {
    val cm = new ConfigManager("/nonexistent/config.json")
    // absent block: side channel off
    val off = cm.parse("""{"delta_config": {"storage": "manifest"}}""")
    assert(off.dedupColumn.isEmpty && !off.dedupBands
      && off.dedupTtlBatches.isEmpty)
    val on = cm.parse(
      """{"delta_config": {"storage": "manifest_mor"},
        |"processing_config": {"dedup": {"column": "payload", "bands": true,
        |"ttl_batches": 100}}}""".stripMargin)
    assert(on.dedupColumn.contains("payload"))
    assert(on.dedupBands && on.dedupTtlBatches.contains(100L))
    // column alone: bands/ttl default off
    val plain = cm.parse(
      """{"processing_config": {"dedup": {"column": "name"}}}""")
    assert(plain.dedupColumn.contains("name"))
    assert(!plain.dedupBands && plain.dedupTtlBatches.isEmpty)
  }

  test("delta_config.change_feed parses; default off") {
    val cm = new ConfigManager("/nonexistent/config.json")
    assert(!cm.parse("""{"delta_config": {"storage": "manifest"}}""")
      .changeFeed)
    assert(cm.parse(
      """{"delta_config": {"storage": "manifest_mor", "change_feed": true}}""")
      .changeFeed)
  }

  test("hot reload: config re-parses when the content changes") {
    val dir = Files.createTempDirectory("cfg")
    val p = Paths.get(dir.toString, "config.json")
    Files.writeString(p, """{"processing_config": {"process_time": "10 seconds"}}""")
    val cm = new ConfigManager(p.toString)
    assert(cm.config.processTime == "10 seconds")
    assert(!cm.changed())
    Files.writeString(p, """{"processing_config": {"process_time": "20 seconds"}}""")
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(cm.changed())
    assert(cm.config.processTime == "20 seconds")
    assert(!cm.changed())
  }

  test("hot reload: a rewrite that preserves mtime is still detected") {
    val dir = Files.createTempDirectory("cfgmt")
    val p = Paths.get(dir.toString, "config.json")
    Files.writeString(p, """{"processing_config": {"process_time": "10 seconds"}}""")
    val cm = new ConfigManager(p.toString)
    assert(cm.config.processTime == "10 seconds")
    val mtime = Files.getLastModifiedTime(p)
    Files.writeString(p, """{"processing_config": {"process_time": "20 seconds"}}""")
    Files.setLastModifiedTime(p, mtime) // same-millisecond second write
    assert(cm.changed())
    assert(cm.config.processTime == "20 seconds")
  }

  test("hot reload: a fixed rewrite after a torn write registers") {
    val dir = Files.createTempDirectory("cfgfix")
    val p = Paths.get(dir.toString, "config.json")
    Files.writeString(p, """{"processing_config": {"process_time": "10 seconds"}}""")
    val cm = new ConfigManager(p.toString)
    assert(cm.config.processTime == "10 seconds")
    val mtime = Files.getLastModifiedTime(p)
    Files.writeString(p, """{"processing_config": {"proc""") // torn write
    Files.setLastModifiedTime(p, mtime)
    assert(cm.config.processTime == "10 seconds") // previous kept
    assert(!cm.changed()) // bad content consumed, no restart storm
    Files.writeString(p, """{"processing_config": {"process_time": "30 seconds"}}""")
    Files.setLastModifiedTime(p, mtime) // repaired in the same millisecond
    assert(cm.changed())
    assert(cm.config.processTime == "30 seconds")
  }

  test("a torn/bad config file keeps the previous config in effect") {
    val dir = Files.createTempDirectory("cfgbad")
    val p = Paths.get(dir.toString, "config.json")
    Files.writeString(p, """{"processing_config": {"process_time": "10 seconds"}}""")
    val cm = new ConfigManager(p.toString)
    assert(cm.config.processTime == "10 seconds")
    Files.writeString(p, """{"processing_config": {"proc""") // torn write
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(cm.config.processTime == "10 seconds") // previous kept
    assert(!cm.changed()) // bad version consumed, no restart storm
  }

  test("cron trigger periods: the reference's every-N-minute shapes") {
    assert(CronTrigger.periodSeconds("* * * * *") == 60)
    assert(CronTrigger.periodSeconds("*/5 * * * *") == 300)
    assert(CronTrigger.periodSeconds("0 * * * *") == 3600)
    assert(CronTrigger.triggerMillis("*/5 * * * *") == 240000) // x0.8 margin
    intercept[IllegalArgumentException](CronTrigger.periodSeconds("bad"))
    intercept[IllegalArgumentException](CronTrigger.periodSeconds("61 * * * *"))
    intercept[IllegalArgumentException](CronTrigger.periodSeconds("* * * * * *"))
    // malformed terms fail as cron diagnostics, never NumberFormatException
    intercept[IllegalArgumentException](CronTrigger.periodSeconds(",5 * * * *"))
    intercept[IllegalArgumentException](CronTrigger.periodSeconds("1,,2 * * * *"))
    intercept[IllegalArgumentException](CronTrigger.periodSeconds("99999999999 * * * *"))
    assert(!CronTrigger.isCron(",5 * * * *"))
  }

  test("cron trigger periods: full 5-field shapes (daily, lists, ranges, dow)") {
    assert(CronTrigger.periodSeconds("0 0 * * *") == 86400)    // daily midnight
    assert(CronTrigger.periodSeconds("30 2 * * *") == 86400)   // daily 02:30
    assert(CronTrigger.periodSeconds("*/5 2 * * *") == 300)    // within the 2am window
    // vixie/croniter expand a/n to a..max even at n = 1: "2/1" fires every
    // minute from minute 2, not hourly at minute 2
    assert(CronTrigger.periodSeconds("2/1 * * * *") == 60)
    assert(CronTrigger.periodSeconds("10/15 * * * *") == 900)  // 10,25,40,55
    assert(CronTrigger.periodSeconds("0 9-17 * * *") == 3600)  // business hours
    assert(CronTrigger.periodSeconds("0,30 * * * *") == 1800)  // half-hourly list
    assert(CronTrigger.periodSeconds("0 0 * * 1") == 7 * 86400) // weekly Monday
  }

  test("resolveTrigger: durations pass through, crons get the margined period") {
    import org.apache.spark.sql.streaming.Trigger
    assert(CronTrigger.resolveTrigger("10 seconds") == Trigger.ProcessingTime("10 seconds"))
    assert(CronTrigger.resolveTrigger("*/5 * * * *") == Trigger.ProcessingTime(240000L))
    assert(CronTrigger.resolveTrigger("30 2 * * *") ==
      Trigger.ProcessingTime((86400000L * 8) / 10))
    assert(!CronTrigger.isCron("1 minute") && CronTrigger.isCron("0 0 * * *"))
  }

  test("cron nextFire: epoch arithmetic, dom/dow OR rule, month rollover") {
    val jan1 = 1767225600L // 2026-01-01T00:00:00Z, a Thursday
    assert(CronTrigger.nextFire("30 2 * * *", jan1) == jan1 + 2 * 3600 + 30 * 60)
    // strictly after: a fire exactly at `after` is skipped
    val at0230 = jan1 + 2 * 3600 + 30 * 60
    assert(CronTrigger.nextFire("30 2 * * *", at0230) == at0230 + 86400)
    // dom/dow both restricted -> OR: fires Jan 2 (dom=2) before Monday Jan 5
    assert(CronTrigger.nextFire("0 0 2 * 1", jan1) == jan1 + 86400)
    // month field: next fire in March rolls over Jan + Feb
    assert(CronTrigger.nextFire("0 0 1 3 *", jan1) ==
      jan1 + (31 + 28) * 86400L)
    // sunday as 7 == sunday as 0 (Jan 4 2026 is a Sunday)
    assert(CronTrigger.nextFire("0 0 * * 7", jan1) ==
      CronTrigger.nextFire("0 0 * * 0", jan1))
  }

  test("columns_to_save accepts the JSON-array form too") {
    val cm = new ConfigManager("/nonexistent/config.json")
    val parsed = cm.parse(
      """{"database_config": {"columns_to_save": ["a", "b"]}}""")
    assert(parsed.columnsToSave.contains(Seq("a", "b")))
    assert(cm.parse("""{"database_config": {"columns_to_save": []}}""")
      .columnsToSave.isEmpty)
  }
}
