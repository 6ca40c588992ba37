package graft.queries

import graft.cdc._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC operator queries + DuckDB oracles.
  *
  * Inputs are deterministic Debezium JSON changelogs synthesized from the
  * driver's `customer.parquet` (see [[graft.cdc.ChangelogGen]]), so each
  * oracle recomputes the expected result with plain SQL arithmetic — the
  * JSON round-trip is exercised only on the Spark side.
  */
object CdcQueries {
  import Changelog.SeqCol
  private val fields = ChangelogGen.customerFields
  private val names  = ChangelogGen.customerFieldNames

  import QueryUtil.scanParallel

  /** See [[QueryUtil.eventsNormalized]] — the single ts-vintage shim. */
  private def events(s: SparkSession, dir: String): DataFrame =
    QueryUtil.eventsNormalized(s, dir)

  /** parse -> flatten -> key over the generated changelog, with the dynamic
    * schema-inference path engaged (infer from first event, ref:
    * cdc_stream.py:573-577).
    */
  private def flattened(s: SparkSession, dir: String): DataFrame = {
    val raw = scanParallel(ChangelogGen.customerChangelog(s, dir), s)
    val inferred = Envelope.inferFieldInfo(raw.select("value").head().getString(0))
    val env = Envelope.envelopeSchema(Envelope.recordSchema(inferred))
    Changelog.withKey(
      Changelog.flatten(Changelog.parse(raw, env), inferred.map(_.name)), "c_custkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_parse_flatten" -> ((s, dir) => flattened(s, dir).drop(SeqCol)),

    "cdc_dedup_latest" -> ((s, dir) =>
      Changelog.dedupLatest(flattened(s, dir)).drop(SeqCol)),

    "cdc_apply_changelog" -> ((s, dir) => {
      val snapshot = s.read.parquet(s"$dir/customer.parquet")
      val net = Changelog.dedupLatest(flattened(s, dir))
      Merge.applyChanges(snapshot, net, "c_custkey", names)
    }),

    "cdc_incremental_agg" -> ((s, dir) => {
      // incremental view maintenance: fold the batch's net changes into a
      // pre-existing grouped COUNT/SUM state in O(delta) — the oracle
      // recomputes the aggregate from scratch over the merged snapshot, so
      // the gate proves maintained state == full recompute
      val snapshot = s.read.parquet(s"$dir/customer.parquet")
      // pinned: maintain() consumes the net changelog twice (touched-key
      // semi-join + after-image delta) — unpinned, the whole changelog
      // synthesis + dedup window ran twice per query. A MEMORY pin is the
      // cheap middle ground the r18 scratch-PARQUET staging experiment
      // (write + 2 reads, measured slower) was not: the bench clears the
      // cache between passes, so nothing outlives the query.
      val net = Changelog.dedupLatest(flattened(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      IncrementalAgg.maintain(
        IncrementalAgg.aggState(snapshot, "c_mktsegment", "c_acctbal"),
        snapshot, net, "c_custkey", "c_mktsegment", "c_acctbal")
        .select(col("c_mktsegment"), col("cnt").as("n_customers"),
          round(col("sum_val").cast("double"), 2).as("acctbal_sum"))
    }),

    "cdc_sql_history" -> ((s, dir) =>
      SqlHistory.fromFlattened(flattened(s, dir), "customer", fields, "c_custkey")
        .select("key_value", "timestamp", "sql_text")),

    "cdc_mongo_normalize" -> ((s, dir) => {
      // Mongo path: synthesize extended-JSON docs from `events`, then
      // normalize BSON wrappers with the Catalyst-native typed extraction.
      // (`ts` reads as LongType nanos under the nanosAsLong flag.)
      val ev = events(s, dir)
      val tsMs = expr("ts DIV 1000000")
      val doc = concat(
        lit("{\"_id\": {\"$oid\": \""), md5(col("event_id").cast("string")),
        lit("\"}, \"ts\": {\"$date\": "), tsMs.cast("string"),
        lit("}, \"user\": {\"$numberLong\": \""), col("user_id").cast("string"),
        lit("\"}, \"etype\": \""), col("event_type"), lit("\"}"))
      val docSchema = StructType(Seq(
        StructField("_id", StructType(Seq(StructField("$oid", StringType)))),
        StructField("ts", StructType(Seq(StructField("$date", LongType)))),
        StructField("user", StructType(Seq(StructField("$numberLong", StringType)))),
        StructField("etype", StringType)))
      val parsed = MongoChangelog.extractTyped(doc, docSchema)
      ev.select(
        parsed.getField("_id").getField("$oid").as("oid"),
        parsed.getField("ts").getField("$date").as("ts_ms"),
        parsed.getField("user").getField("$numberLong").cast("long").as("user_id"),
        parsed.getField("etype").as("event_type"))
    }),

    "cdc_mongo_doc_map" -> ((s, dir) => {
      // Schema-less first-contact path: the recursive extended-JSON walker
      // (normalizeUdf, ref: cdc_stream.py:427-497) over synthesized docs with
      // nested documents, arrays, and $number wrappers.
      val ev = events(s, dir)
      val doc = concat(
        lit("{\"_id\": {\"$oid\": \""), md5(col("event_id").cast("string")),
        lit("\"}, \"n\": {\"$numberLong\": \""), col("user_id").cast("string"),
        lit("\"}, \"nested\": {\"a\": \""), col("event_type"),
        lit("\", \"b\": {\"$numberInt\": \""), (col("event_id") % 100).cast("string"),
        lit("\"}}, \"tags\": [\"x\", {\"$numberLong\": \"5\"}]}"))
      val m = MongoChangelog.normalizeUdf(doc)
      ev.select(
        col("event_id"),
        element_at(m, "_id").as("oid"),
        element_at(m, "n").cast("long").as("n"),
        element_at(m, "nested").as("nested_json"),
        element_at(m, "tags").as("tags_json"))
    }),

    "cdc_mongo_pipeline" -> ((s, dir) => {
      // Full Mongo path: synthesized extended-JSON envelopes (before/after
      // as embedded JSON strings) -> netChanges (normalizeUdf + keyed dedup)
      // -> materialize to columns. Unique keys per event, so the oracle is
      // a pure per-row recompute.
      val ev = events(s, dir)
      val opCode = when(col("event_id") % 10 === 0, "d")
        .when(col("event_id") % 10 <= 3, "u").otherwise("c")
      val tsMs = expr("ts DIV 1000000")
      val oid = md5(col("event_id").cast("string"))
      val docJson = concat(
        lit("{\\\"_id\\\": {\\\"$oid\\\": \\\""), oid,
        lit("\\\"}, \\\"etype\\\": \\\""), col("event_type"),
        lit("\\\", \\\"user\\\": {\\\"$numberLong\\\": \\\""),
        col("user_id").cast("string"), lit("\\\"}}"))
      val after = when(opCode === "d", lit("null"))
        .otherwise(concat(lit("\""), docJson, lit("\"")))
      val before = when(opCode === "d", concat(lit("\""), docJson, lit("\"")))
        .otherwise(lit("null"))
      val value = concat(
        lit("{\"payload\":{\"before\":"), before, lit(",\"after\":"), after,
        lit(",\"source\":{\"connector\":\"mongodb\"},\"op\":\""), opCode,
        lit("\",\"ts_ms\":"), tsMs.cast("string"), lit("}}"))
      val net = MongoPipeline.netChanges(ev.select(value.as("value")), "_id")
      MongoPipeline.materialize(net, Seq("_id", "etype", "user"))
    }),

    "events_sessionize" -> ((s, dir) => {
      // gap-based sessionization: a session break is a >30min silence per
      // user; session id = running count of breaks (analytic window pair:
      // lag + cumulative sum). One shuffle on user_id.
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapNs = 30L * 60 * 1000 * 1000 * 1000
      val isBreak = when(
        col("ts") - lag(col("ts"), 1).over(w) > gapNs, 1).otherwise(0)
      ev.withColumn("brk", isBreak)
        .withColumn("session_id", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("min(ts) DIV 1000000").as("start_ms"),
          expr("max(ts) DIV 1000000").as("end_ms"))
    }),

    "events_session_window" -> ((s, dir) => {
      // built-in session_window form of sessionization (the streaming-native
      // operator; Windows.sessionAgg is the same code path used in
      // streaming). Merge rule pinned by WindowsSpec: diff <= gap merges.
      val ev = events(s, dir)
      graft.streaming.Windows.sessionAgg(ev,
        eventTime = timestamp_millis(expr("ts DIV 1000000")),
        gap = "30 minutes", watermarkDelay = None,
        groupCols = Seq(col("user_id")),
        aggs = Seq(count(lit(1)).as("n_events")))
        .select(col("user_id"),
          unix_millis(col("session_start")).as("session_start"),
          unix_millis(col("session_end")).as("session_end"), col("n_events"))
    }),

    "events_asof_join" -> ((s, dir) => {
      // as-of join (backward): each click event picks up the user's most
      // recent prior-or-equal purchase value. Right side pre-deduped to
      // (user_id, ts) -> max(value) for deterministic ties.
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("last_purchase_value"))
      graft.ops.AsofJoin.backward(clicks, purchases,
          Seq("user_id"), "ts", Seq("last_purchase_value"))
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000000").as("ts_ms"), col("last_purchase_value"))
    }),

    "cdc_props_extract" -> ((s, dir) => {
      // F2 on real data: JSON-path extraction from the events props column
      // + a grouped count over the extracted value
      val ev = events(s, dir)
      ev.select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
    }),

    "cdc_window_tumbling" -> ((s, dir) => {
      // W1/W2: tumbling event-time windows over the events stream table
      // (ref: archive/streaming_from_kafka_to_minio_2.py:177-183), through
      // the same Windows operator the streaming path uses.
      val ev = events(s, dir)
      graft.streaming.Windows.tumblingAgg(ev,
        eventTime = timestamp_millis(expr("ts DIV 1000000")),
        windowLength = "1 hour", watermarkDelay = None,
        groupCols = Seq(col("event_type")),
        aggs = Seq(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value")))
        .select(unix_millis(col("window_start")).as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    }),

    "jdbc_roundtrip" -> ((s, dir) => {
      // S7/K7 under the correctness gate: bulk-write the customer table
      // through the JDBC sink (embedded Derby — Spark's own jars) and read
      // it back with a partitioned range scan; the oracle reads the
      // original parquet, so the JDBC round-trip must be lossless.
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val url = "jdbc:derby:" +
        java.nio.file.Files.createTempDirectory("graft_jdbc") + "/db;create=true"
      graft.sources.Jdbc.write(customer, url, "customer_rt", mode = "overwrite")
      val back = graft.sources.Jdbc.readPartitioned(s, url, "customer_rt",
        partitionColumn = "c_custkey", lowerBound = 1, upperBound = 200000,
        numPartitions = 8)
      // canonical column case: Derby uppercases identifiers; re-alias to the
      // parquet names (Spark resolution is case-insensitive)
      back.select(customer.columns.map(n => col(n).as(n)).toSeq: _*)
    }),

    "source_format_roundtrip" -> ((s, dir) => {
      // Batch source/sink format surface under the correctness gate: part
      // flows parquet -> JSON lines -> ORC -> CSV(+header) and back, each
      // leg through Spark's native reader/writer; the oracle reads the
      // ORIGINAL parquet, so every leg must be lossless. CSV re-reads with
      // the explicit schema (type inference is not part of the contract);
      // doubles survive because Spark writes shortest-round-trip decimal
      // strings.
      val part = s.read.parquet(s"$dir/part.parquet")
      // per-JVM scratch dir (see QueryUtil.scratchDir): every leg uses
      // mode("overwrite"), so reruns rewrite in place instead of leaking
      // three table copies per invocation
      val tmp = QueryUtil.scratchDir("fmt_rt")
      part.write.mode("overwrite").json(s"$tmp/j")
      val fromJson = s.read.schema(part.schema).json(s"$tmp/j")
      fromJson.write.mode("overwrite").orc(s"$tmp/o")
      val fromOrc = s.read.orc(s"$tmp/o")
      fromOrc.write.mode("overwrite").option("header", "true").csv(s"$tmp/c")
      s.read.schema(part.schema).option("header", "true").csv(s"$tmp/c")
        .select(part.columns.map(col).toSeq: _*)
    }),

    "events_interval_join" -> ((s, dir) => {
      // the stream-stream interval join operator exercised in batch mode
      // (watermarks no-op there — one code path, two execution modes): each
      // click pairs with ALL same-user purchases in the preceding 30 min
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          timestamp_millis(expr("ts DIV 1000000")).as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          timestamp_millis(expr("ts DIV 1000000")).as("p_ts"),
          col("value").as("p_value"))
      graft.streaming.StreamJoin.intervalJoin(clicks, purchases,
        "c_user", "p_user", "c_ts", "p_ts", "10 minutes", "10 minutes",
        "30 MINUTES", "0 SECONDS")
        .select(col("c_id"), col("p_id"), col("c_user").as("user_id"),
          unix_millis(col("c_ts")).as("c_ms"), unix_millis(col("p_ts")).as("p_ms"),
          col("p_value"))
    }),

    "source_partition_prune" -> ((s, dir) => {
      // Hive-style partitioned layout under the correctness gate: write
      // events partitioned by event_type, read ONE partition back. The
      // equality filter resolves to PartitionFilters at planning time
      // (PLANS.md) — on a 100 TB table the scan touches only the requested
      // partition's files, never the other partitions' footers.
      val ev = events(s, dir)
      // per-JVM scratch dir, overwritten within a run: a fresh dir per
      // invocation would leak one full partitioned copy each time (smoke +
      // verify + bench best-of-3 re-runs)
      val tmp = QueryUtil.scratchDir("part_rt")
      ev.write.mode("overwrite").partitionBy("event_type").parquet(tmp)
      s.read.parquet(tmp).filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000000").as("ts_ms"), col("event_type"))
    }),

    "sketch_profile" -> ((s, dir) => {
      // Sketch-based profiling — the fixed-size-state statistics toolkit a
      // 100 TB profile pass needs: HLL++ distinct users and approximate
      // value quantiles per event type; sketch state is O(sketch config)
      // per group however large the input. The raw estimates are
      // engine-specific, so (the `sketch_heavy_hitters` pattern) the gate
      // asserts the sketches' THEOREMS as deterministic booleans the
      // oracle can recompute exactly:
      //   - HLL++ at rsd=0.02: |est - exact| <= 6% of exact + 2 (3 sigma
      //     with absolute slack for near-exact sparse-mode groups)
      //   - percentile_approx at accuracy=10000: the returned value is an
      //     element whose rank window [lt+1, le] intersects
      //     [ceil(p*n) - err, ceil(p*n) + err], err = n/10000 + 1 (the
      //     QuantileSummaries relative-rank-error contract)
      // All comparisons are integer (counts scaled by 100; rational rank
      // targets), so the booleans are deterministic under any partitioning
      // even though the estimates themselves are not portable.
      val ev = events(s, dir)
      val est = ev.groupBy("event_type").agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
        percentile_approx(col("value"), array(lit(0.5), lit(0.95)), lit(10000))
          .as("q"))
        .select(col("event_type").as("et"), col("approx_users"),
          element_at(col("q"), 1).as("p50_est"),
          element_at(col("q"), 2).as("p95_est"))
      // estimates are O(#event_types) rows — broadcast them back over the
      // events for a single exact-recompute pass (rank position of each
      // estimate + exact distinct), then fold to the boolean verdicts
      val j = ev.join(broadcast(est), ev("event_type") === est("et"))
      val g = j.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        min(col("approx_users")).as("au"),
        sum(when(col("value") < col("p50_est"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("p95_est"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("value") <= col("p95_est"), 1L).otherwise(0L)).as("le95"))
      val err = expr("n_events DIV 10000") + lit(1L)
      val r50 = expr("(n_events + 1) DIV 2")        // ceil(0.5 * n)
      val r95 = expr("(n_events * 19 + 19) DIV 20") // ceil(0.95 * n)
      g.select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("au") - col("exact_users")) * 100 <=
          col("exact_users") * 6 + lit(200L)).as("users_within_bound"),
        (col("le50") >= r50 - err && col("lt50") + 1 <= r50 + err)
          .as("p50_within_bound"),
        (col("le95") >= r95 - err && col("lt95") + 1 <= r95 + err)
          .as("p95_within_bound"))
    }),

    "cdc_compact_roundtrip" -> ((s, dir) => {
      // small-file compaction under the gate: commit the table fragmented
      // into per-trigger-sized files, OPTIMIZE them into a few target-size
      // files (a new version, same batch id), read back — must be
      // lossless. The file-selection and idempotence assertions live in
      // the ManifestStore specs; the oracle proves the rewrite changed
      // nothing.
      // scratch keyed BY SF DIR: the exists-gate below must never serve a
      // store seeded from a different scale in the same JVM (TimeOne warms
      // up at sf0.01 then times another sf dir). Keyed on the sanitized
      // dir string, not its hashCode — hashes can collide across dirs and
      // math.abs(Int.MinValue) is negative
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"compact_rt_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) st.commit(cust, batchId = 0, nFiles = 32)
      st.optimize(targetFiles = 4)
      st.read().get.select(cust.columns.map(col).toSeq: _*)
    }),

    "cdc_manifest_merge" -> ((s, dir) => {
      // The Delta-log architecture under the gate ([[ManifestStore]]):
      // commit the snapshot clustered into range-stat files, then MERGE the
      // changelog in two KEY-DISJOINT batches — low keys first, the rest
      // second. The low-key batch intersects only the low-range files, so
      // the store carries the high-range files into the new version by
      // reference (zero I/O); `pruning_effective` re-derives that from the
      // retained manifests (shared file names across v0/v1). Final content
      // must equal the ONE-batch flat merge (cdc_apply_changelog's oracle
      // body): per-key last-write-wins is key-independent, so the split is
      // semantically invisible — the gate proves both the pruned path's
      // losslessness and the batch-composition law at once.
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"manifest_m_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) {
        st.commit(cust, batchId = 0, nFiles = 16)
        val net = Changelog.dedupLatest(flattened(s, dir))
        val bound = cust.agg(max(col("c_custkey"))).head().getLong(0) / 4
        st.merge(net.filter(col(Changelog.KeyCol).cast("long") <= bound),
          names, batchId = 1)
        st.merge(net.filter(col(Changelog.KeyCol).cast("long") > bound),
          names, batchId = 2)
      }
      val Seq(m0, m1) = Seq(0L, 1L).map(v => st.manifest(v).get.files.map(_.name))
      val reused = (m0.toSet & m1.toSet).size
      st.read().get.select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"), col("last_ts"),
        lit(reused > 0 && reused < m0.size).as("pruning_effective"))
    }),

    "cdc_manifest_skip_read" -> ((s, dir) => {
      // Zone-map data skipping on the READ path ([[ManifestStore.readWhere]]):
      // the same per-file stats that prune MERGE I/O serve range queries —
      // a selective key range scans only the files whose [min,max]
      // intersect it. `skip_effective` re-derives from SkipStats that the
      // read touched SOME but not ALL files (pruning engaged and was
      // lossless — the row content is the oracle's exact BETWEEN).
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"manifest_sr_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) st.commit(cust, batchId = 0, nFiles = 16)
      val maxK = cust.agg(max(col("c_custkey"))).head().getLong(0)
      val (lo, hi) = (maxK / 4, maxK / 4 + maxK / 20)
      val (df, skip) = st.readWhere("c_custkey", lo, hi).get
      df.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit(skip.nSkipped > 0 && skip.nRead < skip.nFiles)
          .as("skip_effective"))
    }),

    "cdc_manifest_zorder" -> ((s, dir) => {
      // OPTIMIZE ZORDER BY ([[ManifestStore.reclusterZorder]]): recluster
      // customer by the Morton value of (c_nationkey, c_acctbal). Key
      // clustering scatters c_nationkey across every file (no pruning on
      // it); the Z layout gives each file a tight box in BOTH dimensions,
      // so a NON-key range read skips files. `zorder_skip` re-derives the
      // engagement from SkipStats; rows must equal the exact BETWEEN.
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"manifest_z_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) {
        st.commit(cust, batchId = 0, nFiles = 16,
          statsCols = Seq("c_nationkey", "c_acctbal"))
        st.reclusterZorder("c_nationkey", "c_acctbal", nFiles = 16, bits = 6)
      }
      val (df, skip) = st.readWhere("c_nationkey", 3, 7).get
      df.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"),
        lit(skip.nSkipped > 0 && skip.nRead < skip.nFiles).as("zorder_skip"))
    }),

    "cdc_zorder_rank" -> ((s, dir) => {
      // N-column RANK-binned Z-order ([[ManifestStore.reclusterZorderCols]],
      // Delta's OPTIMIZE ZORDER BY (a,b,c) shape): recluster customer by
      // (c_nationkey, c_acctbal, c_custkey) with equi-DEPTH bins — each
      // dimension's 2^bits-1 approximate quantiles from ONE pass. Unlike
      // the equi-width pair form, rank bins keep pruning power on skewed
      // distributions; layout never reaches answers, so the oracle checks
      // exact BETWEEN content and the gate checks the skip engaged on a
      // NON-key dimension.
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"zrank_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) {
        st.commit(cust, batchId = 0, nFiles = 16,
          statsCols = Seq("c_nationkey", "c_acctbal"))
        st.reclusterZorderCols(
          Seq("c_nationkey", "c_acctbal", "c_custkey"), nFiles = 16, bits = 6)
        ()
      }
      val (df, skip) = st.readWhere("c_acctbal", 1000.0, 3000.0).get
      df.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"),
        lit(skip.nSkipped > 0 && skip.nRead < skip.nFiles).as("zrank_skip"))
    }),

    "cdc_zorder_rank_str" -> ((s, dir) => {
      // STRING-dimension rank-binned Z-order: c_phone rank-bins on its
      // first 8 UTF-8 bytes ("25-989-7..." — the country-code prefix is
      // where URLs/domains/paths carry their selectivity too), so after
      // reclustering by (c_phone, c_custkey) a LIKE '25-%' prefix scan
      // plans a few files instead of all 16 — composing the string
      // Z-order with the manifest's prefix file pruning. Content is
      // oracle-exact; the gate pins the file cut.
      val root = QueryUtil.scratchDir(
        s"zrankstr_${dir.replaceAll("[^A-Za-z0-9]", "_")}")
      val st = new ManifestStore(root, s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_name"),
          concat(lit("host"),
            lpad(col("c_nationkey").cast("string"), 3, "0"),
            lit("/"), col("c_name")).as("url"))
      if (!st.exists) {
        st.commit(cust, batchId = 0, nFiles = 16, statsCols = Seq("url"))
        st.reclusterZorderCols(Seq("url", "c_custkey"),
          nFiles = 16, bits = 6)
        ()
      }
      val df = s.read.format("graft").load(root)
        .filter(col("url").startsWith("host003"))
      val planned = QueryUtil.plannedPartitions(df)
      df.select(col("c_custkey"), col("c_name"), col("url"),
        lit(planned >= 1 && planned <= 8).as("zstr_pruned"))
    }),

    "cdc_manifest_delete_where" -> ((s, dir) => {
      // Predicate DELETE on deletion vectors ([[ManifestStore.deleteWhere]])
      // — the retention/GDPR erasure primitive: one effective scan, every
      // matching row's key masked in its file's sidecar, zero data files
      // rewritten (the predicate scatters matches across every
      // key-clustered file — the copy-on-write worst case again).
      // `delete_in_place` proves all original file names survived AND
      // sidecars exist; content must equal the oracle's complement.
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"manifest_dw_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) st.commit(cust, batchId = 0, nFiles = 16)
      if (st.current.get._2 < 1)
        st.deleteWhere(col("c_mktsegment") === "BUILDING", batchId = 1)
      val names0 = st.manifest(0L).get.files.map(_.name).toSet
      val m = st.currentManifest.get
      val inPlace = m.files.map(_.name).toSet == names0 &&
        m.files.exists(_.dv.isDefined)
      st.read().get.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"), lit(inPlace).as("delete_in_place"))
    }),

    "cdc_manifest_merge_mor" -> ((s, dir) => {
      // Deletion-vector merge-on-read under the gate: same two-batch
      // key-disjoint changelog as cdc_manifest_merge, applied via
      // ManifestStore.mergeOnRead — data files are never rewritten, each
      // touched file gains a sidecar masking its superseded keys, and the
      // after-images land in per-batch upsert files. The content must
      // still equal the one-batch flat merge; `mor_zero_rewrite` proves
      // every original data file survived BY NAME across both commits
      // (the O(batch) write-amplification claim) and at least one sidecar
      // exists (the path actually engaged).
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"manifest_mor_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "c_custkey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) {
        st.commit(cust, batchId = 0, nFiles = 16)
        val net = Changelog.dedupLatest(flattened(s, dir))
        val bound = cust.agg(max(col("c_custkey"))).head().getLong(0) / 4
        st.mergeOnRead(net.filter(col(Changelog.KeyCol).cast("long") <= bound),
          names, batchId = 1)
        st.mergeOnRead(net.filter(col(Changelog.KeyCol).cast("long") > bound),
          names, batchId = 2)
      }
      val m0Names = st.manifest(0L).get.files.map(_.name).toSet
      val m2 = st.currentManifest.get
      val zeroRewrite = m0Names.subsetOf(m2.files.map(_.name).toSet) &&
        m2.files.exists(_.dv.isDefined)
      st.read().get.select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"), col("last_ts"),
        lit(zeroRewrite).as("mor_zero_rewrite"))
    }),

    "cdc_manifest_merge_strkey" -> ((s, dir) => {
      // The manifest store's TYPED key stats under the gate: same
      // two-key-disjoint-batch merge as cdc_manifest_merge, but the table
      // is keyed by a STRING ('C' + zero-padded custkey — order-isomorphic
      // to the numeric key, so the low/high split hits the same files).
      // This is the reference's own default shape (Mongo string `_id`,
      // ref: cdc_stream.py:1018); with long-only stats this store would
      // cast the key to null, prune nothing, and silently duplicate every
      // updated key. `pruning_effective` proves the string ranges pruned
      // exactly like the numeric ones.
      val sk = (c: org.apache.spark.sql.Column) =>
        concat(lit("C"), lpad(c.cast("string"), 9, "0"))
      val sfields = Seq("skey", "c_name", "c_acctbal")
      val st = new ManifestStore(
        QueryUtil.scratchDir(
          s"manifest_sk_${dir.replaceAll("[^A-Za-z0-9]", "_")}"), s, "skey")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      if (!st.exists) {
        st.commit(cust.select(sk(col("c_custkey")).as("skey"), col("c_name"),
          col("c_acctbal")), batchId = 0, nFiles = 16)
        val net = Changelog.dedupLatest(flattened(s, dir)).select(
          sk(col(Changelog.KeyCol)).as(Changelog.KeyCol),
          col(Changelog.OpCol), col(Changelog.TsCol),
          sk(col("after_c_custkey")).as("after_skey"),
          col("after_c_name"), col("after_c_acctbal"))
        val bound = sk(lit(cust.agg(max(col("c_custkey"))).head().getLong(0) / 4))
        st.merge(net.filter(col(Changelog.KeyCol) <= bound), sfields, batchId = 1)
        st.merge(net.filter(col(Changelog.KeyCol) > bound), sfields, batchId = 2)
      }
      val Seq(m0, m1) = Seq(0L, 1L).map(v => st.manifest(v).get.files.map(_.name))
      val reused = (m0.toSet & m1.toSet).size
      st.read().get.select(col("skey"), col("c_name"), col("c_acctbal"),
        col("last_ts"), lit(reused > 0 && reused < m0.size).as("pruning_effective"))
    }),

    "layout_zorder_zonemap" -> ((s, dir) =>
      // Z-order layout demo under the gate: bin (user_id, value) to 8 bits
      // each, interleave to a Morton value, cut into 64 file spans, and
      // emit each file's min/max box in BOTH dimensions — the zone map a
      // reader prunes with. See [[graft.ops.Layout.zoneMap]].
      graft.ops.Layout.zoneMap(events(s, dir), "user_id", "value",
        bits = 8, nFiles = 64)),

    "layout_skip_eval" -> ((s, dir) =>
      // the pruning WIN quantified under the gate: for a box predicate
      // (user_id 30-60, value 100-200) over the Z-ordered layout, count
      // files a zone-map reader skips and the read amplification of the
      // survivors — exact integers, not prose
      graft.ops.Layout.skipEval(events(s, dir), "user_id", "value",
        bits = 8, nFiles = 64, loL = 30L, hiL = 60L, loD = 100.0, hiD = 200.0)),

    "sketch_heavy_hitters" -> ((s, dir) => {
      // Misra-Gries frequent items (native TypedImperativeAggregate,
      // bounded O(k) state per partial buffer) evaluated against exact
      // counts on a deterministically skewed item column: three hot items
      // at ~n/6 each over a ~10k-key cold tail. The oracle pins the
      // sketch's THEOREMS (every item above n/k present; undercount at
      // most n/k) — deterministic under any merge order, unlike the
      // estimates themselves.
      val ev = events(s, dir)
      val item = when(col("event_id") % 2 === 0,
        concat(lit("hot_"), (col("event_id") % 3).cast("string")))
        .otherwise(concat(lit("cold_"), (col("event_id") % 9973).cast("string")))
      graft.ops.HeavyHitters.evalGuarantees(ev, item, k = 16)
    }),

    "events_funnel" -> ((s, dir) =>
      // ordered-step funnel (view -> click -> purchase): see
      // [[graft.ops.Analytics.funnel]] — one user-keyed agg+join per stage
      graft.ops.Analytics.funnel(events(s, dir), "user_id", "event_type", "ts",
        Seq("view" -> "n_view", "click" -> "n_view_click",
          "purchase" -> "n_funnel"))),

    "events_rolling" -> ((s, dir) =>
      // trailing 24h rolling mean over sparse hourly sums (RANGE frame,
      // fixed-point mean): see [[graft.ops.Analytics.rollingMean]]
      graft.ops.Analytics.rollingMean(events(s, dir), "user_id", "ts", "value",
        periodLen = 3600000000000L, trailing = 23)),

    "events_retention" -> ((s, dir) =>
      // first-week cohort retention: see [[graft.ops.Analytics.retention]]
      graft.ops.Analytics.retention(events(s, dir), "user_id", "ts",
        periodLen = 604800000000000L)),

    "events_gap_fill" -> ((s, dir) =>
      // hourly resample + forward fill: see [[graft.ops.Analytics.gapFill]]
      graft.ops.Analytics.gapFill(events(s, dir), "user_id", "ts",
        periodLen = 3600000000000L,
        periodAgg = round(sum(col("value")), 2))),

    "events_value_histogram" -> ((s, dir) =>
      // fixed-width histogram as one groupBy on a computed bin — the
      // distributed histogram primitive (bin expression is pure per-row
      // float arithmetic both engines evaluate identically; min/max carry
      // no accumulation so they compare exactly)
      events(s, dir)
        .groupBy(floor(col("value") / 50.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))),

    "sketch_incremental" -> ((s, dir) => {
      // mergeable-sketch state: per-day DataSketches HLL sketches (the
      // incremental-update granule a profiling table keeps) PLUS the
      // all-days rollup computed by unioning the daily sketches — no
      // second pass over raw history, the O(sketch)-cost re-aggregation a
      // 100 TB rollup needs. The estimates are engine-specific, so (the
      // `sketch_heavy_hitters` pattern) the gate asserts the THEOREMS as
      // deterministic booleans:
      //   - est_within_bound: |estimate - exact distinct| <= 6% + 2, per
      //     day and for the day=-1 rollup (lgConfigK=12 => rsd ~1.6%, so
      //     6% is ~3.7 sigma; +2 absolute covers tiny sparse-mode days)
      //   - union_within_bound (rollup row): the estimate of the UNION of
      //     the daily sketches is itself within the same bound of exact —
      //     merging loses nothing beyond the configured error.
      // NOTE deliberately NOT asserted: estimate(union of parts) ==
      // estimate(sketch-of-whole). That equality is not a DataSketches HLL
      // theorem — a directly-built sketch keeps the (insertion-order-
      // dependent) HIP estimator while merge paths can fall back to the
      // composite estimator, so past sparse/set mode the two paths may
      // legitimately differ by a few counts (observed at sf0.1, ~1500
      // distincts, right at the lgK=12 promotion boundary). The mergeable
      // contract that IS guaranteed — and gated here — is that the merged
      // estimate still honors the error bound.
      val ev = events(s, dir)
      val daily = ev.groupBy(expr("ts DIV 86400000000000").as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("exact_users"))
      val withinBound = (e: org.apache.spark.sql.Column,
                         x: org.apache.spark.sql.Column) =>
        abs(e - x) * 100 <= x * 6 + lit(200L)
      val dailyRows = daily.select(col("day"), col("n_events"),
        col("exact_users"),
        withinBound(hll_sketch_estimate(col("sk")), col("exact_users"))
          .as("est_within_bound"),
        lit(true).as("union_within_bound")) // vacuous on daily rows; real check below
      val whole = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("whole_est"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      val rollup = daily.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("union_est"))
        .crossJoin(whole)
        .select(lit(-1L).as("day"), col("n_events"), col("exact_users"),
          withinBound(col("whole_est"), col("exact_users"))
            .as("est_within_bound"),
          withinBound(col("union_est"), col("exact_users"))
            .as("union_within_bound"))
      dailyRows.unionByName(rollup)
    }),

    "cdc_change_feed" -> ((s, dir) => {
      // change data feed: derive the changelog BETWEEN two snapshot
      // versions (inverse of the merge; Delta-CDF role). New version =
      // the same seeded drift family as cdc_validate_drift: %97 keys
      // deleted, %101 balances bumped, %89 keys re-inserted shifted.
      val src = s.read.parquet(s"$dir/customer.parquet")
      val newSnap = src.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 101 === 0, col("c_acctbal") + 1)
            .otherwise(col("c_acctbal")))
        .unionByName(src.filter(col("c_custkey") % 89 === 0)
          .withColumn("c_custkey", col("c_custkey") + 1000000))
      ChangeFeed.diff(src, newSnap, "c_custkey")
    }),

    "cdc_validate_drift" -> ((s, dir) => {
      // In-engine consistency validator (ref: test/validate_cdc_data.py):
      // seed deterministic drift into a copy of the customer snapshot —
      // dropped keys, injected keys, mutated cells, one dropped + one added
      // column — and diff it back against the source. The drift recipe is
      // mirrored verbatim in the oracle's target CTE.
      val src = s.read.parquet(s"$dir/customer.parquet")
      val base = src.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 101 === 0, col("c_acctbal") + 1)
            .otherwise(col("c_acctbal")))
      val injected = src.filter(col("c_custkey") % 89 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000)
      val target = base.unionByName(injected)
        .drop("c_mktsegment")
        .withColumn("t_loaded", lit("batch-0"))
      Validate.diff(src, target, "c_custkey")
    }))

  /** Shared Z-order layout CTEs (bins, interleave, per-file boxes) — one
    * definition for the zone-map oracle and the skip-rate oracle, mirror
    * of [[graft.ops.Layout.zoneMap]] at bits=8, nFiles=64.
    */
  private lazy val zorderCtes: String = {
    val terms = (0 until 8).map(j =>
      s"(((ba >> $j) & 1) << ${2 * j}) + (((bb >> $j) & 1) << ${2 * j + 1})")
      .mkString(" + ")
    s"""WITH s AS (
       |  SELECT min(user_id) AS mnu, max(user_id) AS mxu,
       |         min(value) AS mnv, max(value) AS mxv
       |  FROM events
       |), b AS (
       |  SELECT user_id, value,
       |         ((user_id - mnu) * 256) // (mxu - mnu + 1) AS ba,
       |         CASE WHEN mxv = mnv THEN 0
       |              ELSE CAST(least(floor((value - mnv) / ((mxv - mnv) / 256.0)),
       |                              255.0) AS BIGINT) END AS bb
       |  FROM events CROSS JOIN s
       |), z AS (SELECT user_id, value, $terms AS zv FROM b),
       |zm AS (
       |  SELECT least(zv // 1024, 63) AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
       |         min(user_id) AS min_user_id, max(user_id) AS max_user_id,
       |         min(value) AS min_value, max(value) AS max_value
       |  FROM z GROUP BY 1
       |)""".stripMargin
  }

  private val fl = ChangelogGen.flattenedSql
  private val latestCte =
    """, latest AS (
      |  SELECT * FROM fl
      |  QUALIFY row_number() OVER (PARTITION BY key_value ORDER BY "timestamp" DESC) = 1
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "cdc_parse_flatten" -> s"$fl SELECT * FROM fl",

    "cdc_dedup_latest" -> s"$fl$latestCte SELECT * FROM latest",

    "cdc_apply_changelog" ->
      s"""$fl$latestCte
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |       CAST(NULL AS BIGINT) AS last_ts
         |FROM customer WHERE c_custkey NOT IN (SELECT key_value FROM latest)
         |UNION ALL
         |SELECT after_c_custkey, after_c_name, after_c_nationkey,
         |       after_c_acctbal, after_c_mktsegment, "timestamp"
         |FROM latest WHERE operation <> 'd'""".stripMargin,

    // from-scratch recompute over the merged state: the equivalence that
    // makes the O(delta) maintained aggregate trustworthy
    "cdc_incremental_agg" ->
      s"""$fl$latestCte, merged AS (
         |  SELECT c_mktsegment, c_acctbal FROM customer
         |  WHERE c_custkey NOT IN (SELECT key_value FROM latest)
         |  UNION ALL
         |  SELECT after_c_mktsegment, after_c_acctbal FROM latest
         |  WHERE operation <> 'd'
         |)
         |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers,
         |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE), 2) AS acctbal_sum
         |FROM merged GROUP BY 1""".stripMargin,

    "cdc_sql_history" ->
      s"""$fl SELECT key_value, "timestamp",
         |CASE operation
         |  WHEN 'd' THEN 'DELETE FROM customer WHERE c_custkey = ' || key_value || ';'
         |  WHEN 'u' THEN 'UPDATE customer SET c_name = ''' || replace(after_c_name, '''', '''''')
         |       || ''', c_nationkey = ' || after_c_nationkey
         |       || ', c_acctbal = ' || printf('%.2f', after_c_acctbal)
         |       || ', c_mktsegment = ''' || replace(after_c_mktsegment, '''', '''''')
         |       || ''' WHERE c_custkey = ' || key_value || ';'
         |  ELSE 'INSERT INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) VALUES ('
         |       || after_c_custkey || ', ''' || replace(after_c_name, '''', '''''')
         |       || ''', ' || after_c_nationkey || ', ' || printf('%.2f', after_c_acctbal)
         |       || ', ''' || replace(after_c_mktsegment, '''', '''''') || ''');'
         |END AS sql_text
         |FROM fl""".stripMargin,

    "cdc_mongo_normalize" ->
      """SELECT md5(CAST(event_id AS VARCHAR)) AS oid, epoch_ms(ts) AS ts_ms,
        |       user_id, event_type
        |FROM events""".stripMargin,

    "cdc_mongo_doc_map" ->
      """SELECT event_id, md5(CAST(event_id AS VARCHAR)) AS oid, user_id AS n,
        |       '{"a":"' || event_type || '","b":"' || (event_id % 100) || '"}' AS nested_json,
        |       '["x","5"]' AS tags_json
        |FROM events""".stripMargin,

    "cdc_mongo_pipeline" ->
      """SELECT md5(CAST(event_id AS VARCHAR)) AS key_value,
        |  CASE WHEN event_id % 10 = 0 THEN 'd'
        |       WHEN event_id % 10 <= 3 THEN 'u' ELSE 'c' END AS operation,
        |  epoch_ms(ts) AS "timestamp",
        |  CASE WHEN event_id % 10 = 0 THEN NULL
        |       ELSE md5(CAST(event_id AS VARCHAR)) END AS after__id,
        |  CASE WHEN event_id % 10 = 0 THEN NULL ELSE event_type END AS after_etype,
        |  CASE WHEN event_id % 10 = 0 THEN NULL
        |       ELSE CAST(user_id AS VARCHAR) END AS after_user
        |FROM events""".stripMargin,

    "events_sessionize" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM t
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms
        |FROM s GROUP BY 1, 2""".stripMargin,

    "events_session_window" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, epoch_ms(ts) AS tsm,
        |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, tsm,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM t
        |)
        |SELECT user_id, min(tsm) AS session_start,
        |       max(tsm) + 1800000 AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "events_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id, ts, max(value) AS last_purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS ts_ms,
        |       p.last_purchase_value
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "cdc_props_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "cdc_window_tumbling" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start,
        |       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "jdbc_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",

    "source_partition_prune" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
        |FROM events WHERE event_type = 'click'""".stripMargin,

    "events_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= t1.t1 GROUP BY 1
        |), t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= t2.t2 GROUP BY 1
        |)
        |SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
        |       (SELECT count(*) FROM t1) AS n_view,
        |       (SELECT count(*) FROM t2) AS n_view_click,
        |       (SELECT count(*) FROM t3) AS n_funnel""".stripMargin,

    "events_rolling" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS h,
        |         sum(CAST(value AS DECIMAL(20,2))) AS sdec
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, h, round(CAST(sdec AS DOUBLE), 2) AS hour_sum,
        |       CAST(sum(sdec) OVER w * 10000 AS BIGINT) // (count(*) OVER w) AS mean_24h_e4,
        |       count(*) OVER w AS n_window
        |FROM hourly
        |WINDOW w AS (PARTITION BY user_id ORDER BY h
        |             RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin,

    "events_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS w
        |  FROM events
        |), fw AS (
        |  SELECT user_id, min(w) AS cohort_w FROM uw GROUP BY 1
        |)
        |SELECT fw.cohort_w, uw.w - fw.cohort_w AS week_offset,
        |       count(DISTINCT uw.user_id) AS n_users
        |FROM uw JOIN fw USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "events_gap_fill" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS h,
        |         round(sum(value), 2) AS hour_value
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, min(epoch_ns(ts) // 3600000000000) AS h0,
        |         max(epoch_ns(ts) // 3600000000000) AS h1
        |  FROM events GROUP BY 1
        |), grid AS (
        |  SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM span
        |)
        |SELECT g.user_id, g.h,
        |       last_value(hv.hour_value IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.h
        |         ROWS UNBOUNDED PRECEDING) AS filled_value,
        |       CASE WHEN hv.hour_value IS NULL THEN 1 ELSE 0 END AS is_gap
        |FROM grid g LEFT JOIN hourly hv
        |  ON g.user_id = hv.user_id AND g.h = hv.h""".stripMargin,

    "events_value_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin, count(*) AS n,
        |       min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1""".stripMargin,

    // the stats-pruned, two-batch manifest merge must be indistinguishable
    // from the one-batch flat merge (cdc_apply_changelog's oracle body);
    // pruning_effective gates that the low-key batch reused >=1 but not all
    // of v0's files by reference
    "cdc_manifest_merge" ->
      s"""$fl$latestCte
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |       CAST(NULL AS BIGINT) AS last_ts, TRUE AS pruning_effective
         |FROM customer WHERE c_custkey NOT IN (SELECT key_value FROM latest)
         |UNION ALL
         |SELECT after_c_custkey, after_c_name, after_c_nationkey,
         |       after_c_acctbal, after_c_mktsegment, "timestamp", TRUE
         |FROM latest WHERE operation <> 'd'""".stripMargin,

    // Z-ordered layout's non-key range read must equal the exact BETWEEN
    "cdc_manifest_zorder" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |       TRUE AS zorder_skip
        |FROM customer WHERE c_nationkey BETWEEN 3 AND 7""".stripMargin,

    // rank-binned N-col Z layout's non-key range read = the exact BETWEEN
    "cdc_zorder_rank" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |       TRUE AS zrank_skip
        |FROM customer WHERE c_acctbal BETWEEN 1000.0 AND 3000.0""".stripMargin,

    // string-dim Z-order + prefix file pruning must return the exact
    // LIKE rows, with the file-cut gate true
    "cdc_zorder_rank_str" ->
      """SELECT c_custkey, c_name,
        |       'host' || lpad(CAST(c_nationkey AS VARCHAR), 3, '0') ||
        |         '/' || c_name AS url,
        |       TRUE AS zstr_pruned
        |FROM customer
        |WHERE 'host' || lpad(CAST(c_nationkey AS VARCHAR), 3, '0') ||
        |        '/' || c_name LIKE 'host003%'""".stripMargin,

    // DV-masked predicate delete must read back as the exact complement
    "cdc_manifest_delete_where" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
        |       TRUE AS delete_in_place
        |FROM customer WHERE c_mktsegment <> 'BUILDING'""".stripMargin,

    // zone-map pruned range read must equal the exact BETWEEN
    "cdc_manifest_skip_read" ->
      """WITH b AS (SELECT max(c_custkey) AS mk FROM customer)
        |SELECT c_custkey, c_name, c_acctbal, TRUE AS skip_effective
        |FROM customer, b
        |WHERE c_custkey BETWEEN mk // 4 AND mk // 4 + mk // 20""".stripMargin,

    // merge-on-read variant: deletion-vector sidecars + upsert files must
    // read back as exactly the flat one-batch merge
    "cdc_manifest_merge_mor" ->
      s"""$fl$latestCte
         |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
         |       CAST(NULL AS BIGINT) AS last_ts, TRUE AS mor_zero_rewrite
         |FROM customer WHERE c_custkey NOT IN (SELECT key_value FROM latest)
         |UNION ALL
         |SELECT after_c_custkey, after_c_name, after_c_nationkey,
         |       after_c_acctbal, after_c_mktsegment, "timestamp", TRUE
         |FROM latest WHERE operation <> 'd'""".stripMargin,

    // string-keyed variant: the typed-stat store must reproduce the same
    // last-write-wins content keyed by the order-isomorphic string key
    "cdc_manifest_merge_strkey" ->
      s"""$fl$latestCte
         |SELECT 'C' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS skey,
         |       c_name, c_acctbal, CAST(NULL AS BIGINT) AS last_ts,
         |       TRUE AS pruning_effective
         |FROM customer WHERE c_custkey NOT IN (SELECT key_value FROM latest)
         |UNION ALL
         |SELECT 'C' || lpad(CAST(after_c_custkey AS VARCHAR), 9, '0'),
         |       after_c_name, after_c_acctbal, "timestamp", TRUE
         |FROM latest WHERE operation <> 'd'""".stripMargin,

    // the compacted table must be byte-equivalent to the source table
    "cdc_compact_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",

    // same fixed-width bins, bit interleave, and file spans as
    // Layout.zoneMap — the per-file min/max boxes must agree exactly
    "layout_zorder_zonemap" -> s"$zorderCtes SELECT * FROM zm",

    // zone-map pruning arithmetic over the shared layout CTEs: files whose
    // box misses the predicate are skipped; read amplification = rows in
    // surviving files vs true matches
    "layout_skip_eval" ->
      s"""$zorderCtes, f AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_files,
         |         CAST(sum(CASE WHEN max_user_id >= 30 AND min_user_id <= 60
         |                        AND max_value >= 100.0 AND min_value <= 200.0
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_read,
         |         CAST(sum(CASE WHEN max_user_id >= 30 AND min_user_id <= 60
         |                        AND max_value >= 100.0 AND min_value <= 200.0
         |                       THEN 0 ELSE 1 END) AS BIGINT) AS n_skipped,
         |         CAST(sum(CASE WHEN max_user_id >= 30 AND min_user_id <= 60
         |                        AND max_value >= 100.0 AND min_value <= 200.0
         |                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_read
         |  FROM zm
         |), t AS (
         |  SELECT CAST(sum(CASE WHEN user_id BETWEEN 30 AND 60
         |                        AND value BETWEEN 100.0 AND 200.0
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS rows_matching
         |  FROM events
         |)
         |SELECT n_files, n_read, n_skipped, rows_read, rows_matching
         |FROM f CROSS JOIN t""".stripMargin,

    // exact recompute of the heavy-hitter set; in_sketch/est_within_bound
    // are the Misra-Gries theorems, so the oracle asserts them as literals
    // — any sketch bug shows up as a false on the Spark side
    "sketch_heavy_hitters" ->
      """WITH it AS (
        |  SELECT CASE WHEN event_id % 2 = 0
        |              THEN 'hot_' || CAST(event_id % 3 AS VARCHAR)
        |              ELSE 'cold_' || CAST(event_id % 9973 AS VARCHAR) END AS item
        |  FROM events
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM it),
        |exact AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS true_cnt FROM it GROUP BY 1
        |)
        |SELECT item, true_cnt, true AS in_sketch, true AS est_within_bound
        |FROM exact CROSS JOIN n WHERE true_cnt * 16 > n""".stripMargin,

    // exact recompute of the deterministic columns; the *_within_bound
    // booleans are the sketches' theorems (HLL 3-sigma band, quantile
    // rank-error window), so the oracle asserts them as literals — a
    // sketch bug shows up as a false on the Spark side
    "sketch_profile" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       true AS users_within_bound,
        |       true AS p50_within_bound,
        |       true AS p95_within_bound
        |FROM events GROUP BY 1""".stripMargin,

    // per-day exact distincts + theorem literals; day=-1 is the rollup row
    // whose union_within_bound pins that merging daily sketches preserves
    // the error bound (exact equality with a direct sketch is NOT an HLL
    // theorem — see the query's comment)
    "sketch_incremental" ->
      """WITH d AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        |  FROM events GROUP BY 1
        |)
        |SELECT day, n_events, exact_users,
        |       true AS est_within_bound, true AS union_within_bound FROM d
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT),
        |       (SELECT CAST(count(*) AS BIGINT) FROM events),
        |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events),
        |       true, true""".stripMargin,

    "events_interval_join" ->
      """SELECT c.event_id AS c_id, p.event_id AS p_id, c.user_id,
        |       epoch_ms(c.ts) AS c_ms, epoch_ms(p.ts) AS p_ms,
        |       p.value AS p_value
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_ms(p.ts) BETWEEN epoch_ms(c.ts) - 1800000 AND epoch_ms(c.ts)""".stripMargin,

    "source_format_roundtrip" ->
      "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",

    // mirror of ChangeFeed.diff: same drift recipe, full-outer key join,
    // op from key presence + null-safe any-cell compare
    "cdc_change_feed" ->
      """WITH nw AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 1
        |              ELSE c_acctbal END AS c_acctbal,
        |         c_mktsegment
        |  FROM customer WHERE c_custkey % 97 <> 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey % 89 = 0
        |), j AS (
        |  SELECT o.c_custkey AS ok, n.c_custkey AS nk,
        |         o.c_name AS o_name, o.c_nationkey AS o_nat,
        |         o.c_acctbal AS o_bal, o.c_mktsegment AS o_seg,
        |         n.c_name AS n_name, n.c_nationkey AS n_nat,
        |         n.c_acctbal AS n_bal, n.c_mktsegment AS n_seg
        |  FROM customer o FULL OUTER JOIN nw n ON o.c_custkey = n.c_custkey
        |)
        |SELECT CASE WHEN ok IS NULL THEN 'c' WHEN nk IS NULL THEN 'd'
        |            ELSE 'u' END AS operation,
        |       coalesce(nk, ok) AS c_custkey,
        |       CASE WHEN ok IS NULL THEN NULL ELSE o_name END AS before_c_name,
        |       CASE WHEN ok IS NULL THEN NULL ELSE o_nat END AS before_c_nationkey,
        |       CASE WHEN ok IS NULL THEN NULL ELSE o_bal END AS before_c_acctbal,
        |       CASE WHEN ok IS NULL THEN NULL ELSE o_seg END AS before_c_mktsegment,
        |       CASE WHEN nk IS NULL THEN NULL ELSE n_name END AS after_c_name,
        |       CASE WHEN nk IS NULL THEN NULL ELSE n_nat END AS after_c_nationkey,
        |       CASE WHEN nk IS NULL THEN NULL ELSE n_bal END AS after_c_acctbal,
        |       CASE WHEN nk IS NULL THEN NULL ELSE n_seg END AS after_c_mktsegment
        |FROM j
        |WHERE ok IS NULL OR nk IS NULL
        |   OR o_name IS DISTINCT FROM n_name OR o_nat IS DISTINCT FROM n_nat
        |   OR o_bal IS DISTINCT FROM n_bal OR o_seg IS DISTINCT FROM n_seg""".stripMargin,

    // mirror of Validate.diff over the seeded-drift target: same drift
    // recipe, same full-outer key diff, same first-differing-column order
    // (c_name, c_nationkey, c_acctbal), same null-safe equality
    "cdc_validate_drift" ->
      """WITH tbase AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 1
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 97 <> 0
        |), tinj AS (
        |  SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey, c_acctbal
        |  FROM customer WHERE c_custkey % 89 = 0
        |), target AS (
        |  SELECT * FROM tbase UNION ALL SELECT * FROM tinj
        |), j AS (
        |  SELECT s.c_custkey AS sk, t.c_custkey AS tk,
        |         s.c_name AS sn, t.c_name AS tn,
        |         s.c_nationkey AS snk, t.c_nationkey AS tnk,
        |         s.c_acctbal AS sab, t.c_acctbal AS tab
        |  FROM customer s FULL OUTER JOIN target t ON s.c_custkey = t.c_custkey
        |)
        |SELECT 'missing' AS kind, sk AS c_custkey, CAST(NULL AS VARCHAR) AS col_name,
        |       CAST(NULL AS VARCHAR) AS source_val, CAST(NULL AS VARCHAR) AS target_val
        |FROM j WHERE tk IS NULL
        |UNION ALL
        |SELECT 'extra', tk, NULL, NULL, NULL FROM j WHERE sk IS NULL
        |UNION ALL
        |SELECT 'mismatch', sk,
        |  CASE WHEN sn IS DISTINCT FROM tn THEN 'c_name'
        |       WHEN snk IS DISTINCT FROM tnk THEN 'c_nationkey'
        |       ELSE 'c_acctbal' END,
        |  CASE WHEN sn IS DISTINCT FROM tn THEN CAST(sn AS VARCHAR)
        |       WHEN snk IS DISTINCT FROM tnk THEN CAST(snk AS VARCHAR)
        |       ELSE CAST(sab AS VARCHAR) END,
        |  CASE WHEN sn IS DISTINCT FROM tn THEN CAST(tn AS VARCHAR)
        |       WHEN snk IS DISTINCT FROM tnk THEN CAST(tnk AS VARCHAR)
        |       ELSE CAST(tab AS VARCHAR) END
        |FROM j WHERE sk IS NOT NULL AND tk IS NOT NULL
        |  AND (sn IS DISTINCT FROM tn OR snk IS DISTINCT FROM tnk
        |       OR sab IS DISTINCT FROM tab)
        |UNION ALL
        |SELECT 'column_missing', CAST(NULL AS BIGINT), 'c_mktsegment', NULL, NULL
        |UNION ALL
        |SELECT 'column_extra', CAST(NULL AS BIGINT), 't_loaded', NULL, NULL""".stripMargin)
}
