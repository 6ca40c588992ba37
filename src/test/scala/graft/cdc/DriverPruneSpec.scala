package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Driver-side planning over zone-map stats: `ManifestStore.prunedFiles`,
  * the exactness check behind stats-answered aggregates, the aggregates
  * themselves (plain and grouped), top-N and optimize's overlap groups
  * read the driver-held stat strings through one typed domain
  * (`ManifestStore.pruneDomain`) and run no Spark job. Values the domain
  * does not take directly (a String on the Long key, a raw Long on a
  * TIMESTAMP column) go through Spark's own cast, evaluated on the driver.
  * The contract this spec pins, against a plain read of the table's files:
  *
  *   1. SOUNDNESS: across a grid of every supported op on every supported
  *      type (dotted struct leaves, nulls, NaN, ±0.0, extreme-year dates,
  *      off-grid decimals, truncated string stats, OR trees, Bloom-backed
  *      = / IN, the cast value shapes and an oversized IN), every file a
  *      plain read finds a matching row in is kept.
  *   2. STRENGTH: each kept set, as file indices in key order, equals the
  *      set pinned below, so no pruning is lost.
  *   3. JOBLESSNESS: every case plans with ZERO Spark jobs.
  *   4. Stats answers equal `count`/`min`/`max` (`GROUP BY`) over a plain
  *      read.
  */
class DriverPruneSpec extends SparkSpec {
  import spark.implicits._

  private val N = 800L

  /** Mixed-type fixture: disjoint key ranges per file, per-type stats
    * columns, nulls in `s`, NaN islands in `d`, scattered `meta.tag`
    * with its own Bloom sidecar, and a key Bloom.
    */
  private def mkTyped(truncate: Option[Int]): (String, ManifestStore) = {
    val root = Files.createTempDirectory("drvprune").toString
    ManifestStore.writeTableProps(root,
      Map("bloomfilter" -> "8192",
        "bloomfiltercols" -> "s,meta.tag,z,nt,dy") ++
        truncate.map(n => "stats.truncate" -> n.toString))
    val st = new ManifestStore(root, spark, "id")
    val base = (0L until N).map { i =>
      (i,
        if (i % 17 == 0) null else f"str-$i%03d",
        if (i % 97 == 0) Double.NaN else i / 7.0,
        (i % 50).toFloat / 4.0f,
        // NEGATIVE ZERO island: files 0-3 carry min == max == -0.0f —
        // Spark's own comparisons say -0.0 == 0.0, so `z >= 0.0f` must
        // KEEP these files (the pre-fix TotalOrdering dropped them)
        if (i < N / 2) -0.0f else 1.0f,
        (i % 1000).toInt,
        (i % 365).toInt,
        i * 3600L,
        i,
        i % 2 == 0,
        s"tag-${(i * 2654435761L) % 1000}",
        i % 5)
    }.toDF("id", "s", "d", "fl", "z", "i32", "dayoff", "secoff", "cents",
      "b", "tag", "n")
    val df = base.select(col("id"), col("s"), col("d"), col("fl"), col("z"),
      col("i32"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        col("dayoff")).as("dt"),
      timestamp_seconds(lit(1704067200L) + col("secoff")).as("ts"),
      timestamp_seconds(lit(1704067200L) + col("secoff"))
        .cast("timestamp_ntz").as("nt"),
      // EXTREME years: files 0-3 sit around year -0768, files 4-7 around
      // year +10000 — the renderings ("-0768-…", "+10000-…") a
      // hand-rolled ISO writer refused; Spark's own DateFormatter
      // renders and Bloom-probes them driver-side since r17
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        when(col("id") < N / 2, lit(-1000000) + col("dayoff"))
          .otherwise(lit(2932897) + col("dayoff"))).as("dy"),
      (col("cents").cast("decimal(12,2)") / 100)
        .cast("decimal(10,2)").as("dec"),
      col("b"),
      struct(col("tag"), col("n").as("n")).as("meta"))
    st.commit(df, batchId = 0, nFiles = 8,
      statsCols = Seq("s", "d", "fl", "z", "i32", "dt", "ts", "nt", "dy",
        "dec", "b", "meta.tag", "meta.n"))
    (root, st)
  }

  private def grid: Seq[(String, Seq[(String, String, Any)])] = {
    def p(preds: (String, String, Any)*): Seq[(String, String, Any)] =
      preds.toSeq
    Seq(
      "key eq" -> p(("id", "=", 123L)),
      "key gt" -> p(("id", ">", 500L)),
      "key le" -> p(("id", "<=", 250L)),
      "key ne single" -> p(("id", "!=", 0L)),
      "key in small" -> p(("id", "in", Seq(3L, 450L, 799L, 9999L))),
      "string eq (bloomed)" -> p(("s", "=", "str-250")),
      "string eq absent" -> p(("s", "=", "zzz-nope")),
      "string prefix" -> p(("s", "startswith", "str-2")),
      "string in" -> p(("s", "in", Seq("str-010", "str-777", "nope"))),
      "string isnull" -> p(("s", "isnull", null)),
      "string notnull + range" ->
        p(("s", "notnull", null), ("id", "<", 400L)),
      "double gt" -> p(("d", ">", 50.0d)),
      "double eq" -> p(("d", "=", 14.0d)),
      "double le NaN (NaN greatest)" -> p(("d", "<=", Double.NaN)),
      "float eq" -> p(("fl", "=", 2.5f)),
      "float gt all" -> p(("fl", ">", 100.0f)),
      "int in" -> p(("i32", "in", Seq(5, 10, 700))),
      "int ge" -> p(("i32", ">=", 500)),
      "date eq (java.sql)" ->
        p(("dt", "=", java.sql.Date.valueOf("2024-03-01"))),
      "date lt (LocalDate)" ->
        p(("dt", "<", java.time.LocalDate.of(2024, 2, 1))),
      "ts gt (java.sql)" ->
        p(("ts", ">", java.sql.Timestamp.from(
          java.time.Instant.parse("2024-01-20T00:00:00Z")))),
      "ts le (Instant)" ->
        p(("ts", "<=", java.time.Instant.parse("2024-01-05T12:00:00Z"))),
      // timestamp_ntz: Spark's own parse/convert/format functions make
      // ranges AND Bloomed equality jobless — including the trimmed
      // fraction renderings (".123456" probes against whole-second
      // builds must MISS)
      "ntz gt" -> p(("nt", ">", java.time.LocalDateTime
        .ofEpochSecond(1704067200L + 400L * 3600L, 0,
          java.time.ZoneOffset.UTC))),
      "ntz le" -> p(("nt", "<=", java.time.LocalDateTime
        .ofEpochSecond(1704067200L + 100L * 3600L, 0,
          java.time.ZoneOffset.UTC))),
      "ntz eq (bloomed)" -> p(("nt", "=", java.time.LocalDateTime
        .ofEpochSecond(1704067200L + 250L * 3600L, 0,
          java.time.ZoneOffset.UTC))),
      "ntz eq fractional absent (bloomed)" ->
        p(("nt", "=", java.time.LocalDateTime.ofEpochSecond(
          1704067200L + 250L * 3600L, 123456000,
          java.time.ZoneOffset.UTC))),
      // extreme-year dates: ranges AND Bloom probes through the exotic
      // sign/width renderings, at zero jobs
      "extreme date eq (bloomed)" ->
        p(("dy", "=", java.time.LocalDate.ofEpochDay(-999850L))),
      "extreme date gt" ->
        p(("dy", ">", java.time.LocalDate.ofEpochDay(0L))),
      "extreme date in (bloomed)" ->
        p(("dy", "in", Seq(java.time.LocalDate.ofEpochDay(2932897L + 50L),
          java.time.LocalDate.ofEpochDay(12345L)))),
      "decimal eq" -> p(("dec", "=", new java.math.BigDecimal("1.23"))),
      "decimal lt" -> p(("dec", "<", new java.math.BigDecimal("4.00"))),
      // off-grid decimal probes: canonicalized onto the (10,2) grid so
      // they prune EXACTLY (`> 1.225` ≡ `> 1.22` over scale-2 values; a
      // HALF_UP cast would test `> 1.23` and over-prune a file whose max
      // is 1.23)
      "decimal gt off-grid" ->
        p(("dec", ">", new java.math.BigDecimal("1.225"))),
      "decimal ge off-grid" ->
        p(("dec", ">=", new java.math.BigDecimal("1.225"))),
      "decimal lt off-grid" ->
        p(("dec", "<", new java.math.BigDecimal("3.745"))),
      "decimal le off-grid" ->
        p(("dec", "<=", new java.math.BigDecimal("3.745"))),
      "decimal eq off-grid (no row can match)" ->
        p(("dec", "=", new java.math.BigDecimal("1.225"))),
      "decimal in mixed grid" ->
        p(("dec", "in", Seq(new java.math.BigDecimal("1.23"),
          new java.math.BigDecimal("1.225"),
          new java.math.BigDecimal("7.99")))),
      "decimal beyond max lt (keeps non-null)" ->
        p(("dec", "<", new java.math.BigDecimal("99999999999"))),
      "decimal beyond max gt (no row can match)" ->
        p(("dec", ">", new java.math.BigDecimal("99999999999"))),
      "decimal integral probe" -> p(("dec", "=", 3L)),
      // ±0.0: stats serialize -0.0 as "0.0", the driver ordering treats
      // the zeros as equal (Spark semantics), and Bloom probes render
      // the normalized form
      "float zero ge (+0 probe on -0 stats)" -> p(("z", ">=", 0.0f)),
      "float zero le (-0 probe)" -> p(("z", "<=", -0.0f)),
      "float zero eq (bloomed)" -> p(("z", "=", 0.0f)),
      "float zero eq neg (bloomed)" -> p(("z", "=", -0.0f)),
      "float zero in" -> p(("z", "in", Seq(-0.0f, 5.0f))),
      "bool eq" -> p(("b", "=", true)),
      "struct leaf eq (bloomed)" ->
        p(("meta.tag", "=", s"tag-${(123L * 2654435761L) % 1000}")),
      "struct leaf in" ->
        p(("meta.tag", "in",
          Seq(s"tag-${(5L * 2654435761L) % 1000}", "tag-absent"))),
      "struct leaf range" -> p(("meta.n", ">=", 3L)),
      "conjunction mixed" ->
        p(("id", ">", 100L), ("id", "<", 300L), ("b", "=", false),
          ("s", "notnull", null)),
      "or two ranges" ->
        p(("", "or", Seq(Seq(("id", "<", 100L)),
          Seq(("id", ">=", 700L))))),
      "or with bloom branch" ->
        p(("", "or", Seq(Seq(("id", "=", 42L)),
          Seq(("s", "=", "str-650"))))),
      "or nested" ->
        p(("", "or", Seq(
          Seq(("", "or", Seq(Seq(("id", "<", 50L)),
            Seq(("id", ">", 760L)))), ("b", "=", true)),
          Seq(("i32", "=", 400)))))
    )
  }

  /** The shapes [[ManifestStore.probeValue]] casts, each with the row
    * filter it stands for (`lit(v).cast(dt)` semantics).
    */
  private def castShapes: Seq[(String, Seq[(String, String, Any)], Column)] = {
    val tsSec = 1704067200L + 400L * 3600L
    Seq(
      ("string on long key eq", Seq(("id", "=", "123")),
        col("id") === lit("123").cast("long")),
      ("string on long key lt", Seq(("id", "<", "250")),
        col("id") < lit("250").cast("long")),
      ("string on long key in", Seq(("id", "in", Seq("5", "450"))),
        col("id").isin(5L, 450L)),
      // epoch SECONDS, as `lit(long).cast(timestamp)` reads it
      ("tsLong", Seq(("ts", ">", java.lang.Long.valueOf(tsSec))),
        col("ts") > lit(tsSec).cast("timestamp")))
  }

  /** A predicate triple as the row filter it stands for. */
  private def rowCond(preds: Seq[(String, String, Any)]): Column =
    preds.map {
      case (_, "or", bs) =>
        bs.asInstanceOf[Seq[Seq[(String, String, Any)]]].map(rowCond)
          .reduce(_ || _)
      case (c, op, v) =>
        val x = col(c)
        op match {
          case "="          => x === lit(v)
          case "!="         => x =!= lit(v)
          case ">"          => x > lit(v)
          case ">="         => x >= lit(v)
          case "<"          => x < lit(v)
          case "<="         => x <= lit(v)
          case "in"         => x.isin(v.asInstanceOf[Seq[Any]]: _*)
          case "startswith" => x.startsWith(v.asInstanceOf[String])
          case "isnull"     => x.isNull
          case "notnull"    => x.isNotNull
        }
    }.reduce(_ && _)

  /** Runs `body`, asserting it started no Spark job and no Dataset
    * action: a collect over a local relation runs without a job, so the
    * SQL executions are counted too.
    */
  private def jobless[A](what: String)(body: => A): A = {
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          jobs.incrementAndGet(); ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try body finally {
      Thread.sleep(500) // listener bus drains async
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() == 0,
      s"$what must run ZERO Spark jobs or queries, ran ${jobs.get()}")
    out
  }

  /** File name -> index in key order. */
  private def keyOrder(m: ManifestStore.Manifest): Map[String, Int] =
    m.files.sortBy(_.minKey.toLong).map(_.name).zipWithIndex.toMap

  /** Key-order indices of the files a PLAIN read (every file, no pruning)
    * finds a row matching `cond` in. Parquet row-group pushdown is off:
    * its float stats order -0.0 below 0.0 and would skip -0.0 rows that
    * `= 0.0` matches.
    */
  private def holding(root: String, m: ManifestStore.Manifest,
                      cond: Column): Set[Int] = {
    val idx = keyOrder(m)
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try spark.read.parquet(m.files.map(f => s"$root/files/${f.name}"): _*)
      .filter(cond).select(element_at(split(input_file_name(), "/"), -1))
      .distinct().collect().map(r => idx(r.getString(0))).toSet
    finally spark.conf.unset("spark.sql.parquet.filterPushdown")
  }

  /** Prune every case without a job, then check each kept set against a
    * plain read (sound) and against its pin (as strong as pinned).
    */
  private def checkCases(root: String, st: ManifestStore,
                         cases: Seq[(String, Seq[(String, String, Any)], Column)],
                         pins: Map[String, Seq[Int]]): Map[String, Seq[Int]] = {
    val m = st.currentManifest.get
    val idx = keyOrder(m)
    ManifestStore.clearBloomCache()
    val kept = jobless("driver-side pruning") {
      cases.map { case (name, preds, _) =>
        name -> st.prunedFiles(m, preds).map(f => idx(f.name)).sorted
      }.toMap
    }
    cases.foreach { case (name, _, cond) =>
      val need = holding(root, m, cond)
      assert(need.subsetOf(kept(name).toSet),
        s"[$name] unsound: rows in files $need, kept ${kept(name)}")
      assert(kept(name) == pins(name),
        s"[$name] kept ${kept(name)}, pinned ${pins(name)}")
    }
    kept
  }

  // kept sets as file indices in key order (file k holds ids
  // [100k, 100k + 99]), captured before the Spark-job evaluator was
  // deleted: where it and the driver evaluator agreed, and for the cast
  // shapes the sets it alone computed
  private val gridPins: Map[String, Seq[Int]] = Map(
    "key eq" -> Seq(1),
    "key gt" -> Seq(5, 6, 7),
    "key le" -> Seq(0, 1, 2),
    "key ne single" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "key in small" -> Seq(0, 4, 7),
    "string eq (bloomed)" -> Seq(2),
    "string eq absent" -> Seq(),
    "string prefix" -> Seq(2),
    "string in" -> Seq(0, 7),
    "string isnull" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "string notnull + range" -> Seq(0, 1, 2, 3),
    "double gt" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "double eq" -> Seq(0),
    "double le NaN (NaN greatest)" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "float eq" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "float gt all" -> Seq(),
    "int in" -> Seq(0, 7),
    "int ge" -> Seq(5, 6, 7),
    "date eq (java.sql)" -> Seq(0, 3, 4, 7),
    "date lt (LocalDate)" -> Seq(0, 3, 7),
    "ts gt (java.sql)" -> Seq(4, 5, 6, 7),
    "ts le (Instant)" -> Seq(0, 1),
    "ntz gt" -> Seq(4, 5, 6, 7),
    "ntz le" -> Seq(0, 1),
    "ntz eq (bloomed)" -> Seq(2),
    "ntz eq fractional absent (bloomed)" -> Seq(),
    "extreme date eq (bloomed)" -> Seq(1),
    "extreme date gt" -> Seq(4, 5, 6, 7),
    "extreme date in (bloomed)" -> Seq(4, 7),
    "decimal eq" -> Seq(1),
    "decimal lt" -> Seq(0, 1, 2, 3),
    "decimal gt off-grid" -> Seq(1, 2, 3, 4, 5, 6, 7),
    "decimal ge off-grid" -> Seq(1, 2, 3, 4, 5, 6, 7),
    "decimal lt off-grid" -> Seq(0, 1, 2, 3),
    "decimal le off-grid" -> Seq(0, 1, 2, 3),
    "decimal eq off-grid (no row can match)" -> Seq(),
    "decimal in mixed grid" -> Seq(1, 7),
    "decimal beyond max lt (keeps non-null)" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "decimal beyond max gt (no row can match)" -> Seq(),
    "decimal integral probe" -> Seq(3),
    "float zero ge (+0 probe on -0 stats)" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "float zero le (-0 probe)" -> Seq(0, 1, 2, 3),
    "float zero eq (bloomed)" -> Seq(0, 1, 2, 3),
    "float zero eq neg (bloomed)" -> Seq(0, 1, 2, 3),
    "float zero in" -> Seq(0, 1, 2, 3),
    "bool eq" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "struct leaf eq (bloomed)" -> Seq(1),
    "struct leaf in" -> Seq(0),
    "struct leaf range" -> Seq(0, 1, 2, 3, 4, 5, 6, 7),
    "conjunction mixed" -> Seq(1, 2),
    "or two ranges" -> Seq(0, 7),
    "or with bloom branch" -> Seq(0, 6),
    "or nested" -> Seq(0, 4, 7),
    "string on long key eq" -> Seq(1),
    "string on long key lt" -> Seq(0, 1, 2),
    "string on long key in" -> Seq(0, 4),
    "tsLong" -> Seq(4, 5, 6, 7),
    "oversized IN" -> Seq(0, 1, 2, 3, 4, 5, 6, 7)
  )

  private val truncPins: Map[String, Seq[Int]] = Map(
    "eq" -> Seq(2),
    "prefix" -> Seq(7),
    "lt" -> Seq(0, 1, 2, 3, 4),
    "in" -> Seq(0)
  )

  test("kept sets identical driver-vs-Spark across the typed grid; " +
    "the driver path runs ZERO Spark jobs") {
    val (root, st) = mkTyped(truncate = None)
    assert(st.currentManifest.get.files.size == 8)
    val kept = checkCases(root, st,
      grid.map { case (n, ps) => (n, ps, rowCond(ps)) }, gridPins)
    // sanity: the grid actually prunes (not vacuously all-keep)
    assert(kept("key eq").size == 1)
    assert(kept("string eq absent").size <= 2) // bloom cut
    assert(kept("or two ranges").size < 8)
    // ±0.0: the -0.0-statted files 0-3 are KEPT against a +0.0 probe
    // (all 8 survive `>= 0.0`), and only they survive `<= -0.0` / `= 0.0`
    assert(kept("float zero ge (+0 probe on -0 stats)").size == 8)
    assert(kept("float zero le (-0 probe)").size == 4)
    assert(kept("float zero eq (bloomed)").size == 4)
    assert(kept("float zero eq neg (bloomed)").size == 4)
    // off-grid decimals prune EXACTLY: `> 1.225` keeps the file whose
    // max is on-grid 1.23+ (7 of 8), an off-grid `=` keeps nothing, a
    // beyond-range `<` keeps everything, an integral probe lands on-grid
    assert(kept("decimal gt off-grid").size == 7)
    assert(kept("decimal lt off-grid").size == 4)
    assert(kept("decimal eq off-grid (no row can match)").isEmpty)
    assert(kept("decimal beyond max lt (keeps non-null)").size == 8)
    assert(kept("decimal beyond max gt (no row can match)").isEmpty)
    assert(kept("decimal integral probe").size == 1)
    // extreme-year date renderings really probe (not vacuous keeps)
    assert(kept("extreme date eq (bloomed)").size == 1)
    assert(kept("extreme date gt").size == 4)
    assert(kept("ntz eq fractional absent (bloomed)").size <= 1)
  }

  test("unsupported value shapes fall back and still agree") {
    // values `dom.convert` refuses fall back to the driver-side cast; the
    // pins are the sets the Spark-job evaluator computed for them
    val (root, st) = mkTyped(truncate = None)
    val kept = checkCases(root, st, castShapes, gridPins)
    // a raw Long on a TIMESTAMP column is epoch SECONDS (cast semantics,
    // not internal micros): hour 400 of the ramp splits the files in half
    assert(kept("tsLong").size == 4)
  }

  test("oversized IN rides the shared phase-3 fold in both modes") {
    // an IN past `InPruneMaxValues`: its Bloom cut is phase 3, on the
    // one evaluator both former modes now share
    val (root, st) = mkTyped(truncate = None)
    val odd: Seq[Any] = (0L until 10050L).map(i => i * 2 + 1) // mostly absent
    checkCases(root, st,
      Seq(("oversized IN", Seq(("id", "in", odd)), col("id").isin(odd: _*))),
      gridPins)
  }

  test("truncated string stats: kept sets sound against a plain read and " +
    "pinned") {
    val (root, st) = mkTyped(truncate = Some(6))
    val preds = Seq(
      "eq" -> Seq(("s", "=", "str-250"): (String, String, Any)),
      "prefix" -> Seq(("s", "startswith", "str-7"): (String, String, Any)),
      "lt" -> Seq(("s", "<", "str-400"): (String, String, Any)),
      "in" -> Seq(("s", "in", Seq("str-001", "str-799")): (String, String, Any)))
    checkCases(root, st, preds.map { case (n, ps) => (n, ps, rowCond(ps)) },
      truncPins)
    // soundness through truncation: the hit row is still found
    assert(spark.read.format("graft").load(root)
      .filter(col("s") === "str-250").count() == 1)
  }

  test("stats-answered aggregates fold driver-side: same answers as " +
    "the Spark fold, zero jobs") {
    import ManifestStore.StatAgg
    val (root, st) = mkTyped(truncate = None)
    val m = st.currentManifest.get
    val tsSec = 1704067200L + 400L * 3600L
    // (predicates, aggregates, the row filter the predicates stand for)
    val cases: Seq[(Seq[(String, String, Any)], Seq[ManifestStore.StatAgg],
        Column)] = Seq(
      (Nil, Seq(StatAgg.CountStar, StatAgg.MinCol("id"),
        StatAgg.MaxCol("id")), lit(true)),
      (Nil, Seq(StatAgg.MinCol("dt"), StatAgg.MaxCol("ts"),
        StatAgg.MinCol("dec"), StatAgg.MaxCol("fl"),
        StatAgg.MinCol("d"), StatAgg.MaxCol("i32"),
        StatAgg.MinCol("nt"), StatAgg.MaxCol("nt")), lit(true)),
      (Nil, Seq(StatAgg.CountCol("s"), StatAgg.MinCol("s"),
        StatAgg.MaxCol("b")), lit(true)),
      // a predicate no file is pure under refuses
      (Seq(("b", "=", true)), Seq(StatAgg.CountStar), col("b") === true),
      // file-aligned range predicates answer
      (Seq(("id", "<", 400L)), Seq(StatAgg.CountStar), col("id") < 400L),
      (Seq(("id", ">=", 100L), ("id", "<", 300L)),
        Seq(StatAgg.CountStar, StatAgg.CountCol("s")),
        col("id") >= 100L && col("id") < 300L),
      // a String on the Long key: decided through the cast, answers
      (Seq(("id", "<", "400")), Seq(StatAgg.CountStar),
        col("id") < lit("400").cast("long")),
      // a raw Long on TIMESTAMP (epoch seconds) — not file-aligned
      (Seq(("ts", ">", java.lang.Long.valueOf(tsSec))), Seq(StatAgg.CountStar),
        col("ts") > lit(tsSec).cast("timestamp")))
    val answers = jobless("driver-side agg answers") {
      cases.map { case (preds, aggs, _) => st.aggFromStats(m, preds, aggs) }
    }
    // which cases answer: pinned, so no stats answer is lost
    assert(answers.map(_.isDefined) ==
      Seq(true, true, true, false, true, true, true, false))
    val t = spark.read.parquet(m.files.map(f => s"$root/files/${f.name}"): _*)
    cases.zip(answers).foreach { case ((preds, aggs, cond), ans) =>
      ans.foreach { got =>
        val cols = aggs.map {
          case StatAgg.CountStar   => count(lit(1))
          case StatAgg.CountCol(c) => count(col(c))
          case StatAgg.MinCol(c)   => min(col(c))
          case StatAgg.MaxCol(c)   => max(col(c))
        }
        val want = t.filter(cond).agg(cols.head, cols.tail: _*).head().toSeq
        assert(got == want, s"$preds $aggs: stats=$got, plain read=$want")
      }
    }
    assert(answers.head.get.head == 800L)
  }

  test("grouped stats-answered aggregates fold driver-side: same rows, " +
    "zero jobs") {
    import ManifestStore.StatAgg
    val root = Files.createTempDirectory("drvagg").toString
    ManifestStore.writeTableProps(root, Map("partitioncol" -> "part"))
    val st = new ManifestStore(root, spark, "id")
    val df = (0L until 800L).map { i =>
      (i, i / 200L,
        if (i % 17 == 0) null else f"str-$i%03d",
        i / 7.0, i * 3600L)
    }.toDF("id", "part", "s", "d", "secoff")
      .select(col("id"), col("part"), col("s"), col("d"),
        timestamp_seconds(lit(1704067200L) + col("secoff")).as("ts"))
    st.commit(df, batchId = 0, nFiles = 8,
      statsCols = Seq("part", "s", "d", "ts"))
    val m = st.currentManifest.get
    val aggs = Seq(StatAgg.CountStar, StatAgg.CountCol("s"),
      StatAgg.MinCol("d"), StatAgg.MaxCol("ts"), StatAgg.MinCol("s"))
    val got = jobless("driver-side grouped answers") {
      st.aggFromStatsGrouped(m, Nil, Seq("part"), aggs)
    }
    assert(got.isDefined, "partition-pure fixture must answer")
    val want = spark.read
      .parquet(m.files.map(f => s"$root/files/${f.name}"): _*)
      .groupBy("part").agg(count(lit(1)), count(col("s")), min(col("d")),
        max(col("ts")), min(col("s")))
      .collect().map(_.toSeq).toSet
    assert(got.get.map(_.toSeq).toSet == want,
      s"grouped: stats=${got.get} plain read=$want")
    assert(want.size == 4) // part in 0..3
  }

  test("top-N and optimize's overlap groups sort on the driver: " +
    "typed order, ZERO Spark jobs") {
    import ManifestStore.FileEntry
    import org.apache.spark.sql.types.{LongType, StringType}
    val (root, st) = mkTyped(truncate = None)
    val m = st.currentManifest.get
    val idx = keyOrder(m)
    val (topN, groups, numeric, strings) = jobless("top-N and overlap groups") {
      def top(c: String, asc: Boolean, n: Int): Seq[Int] =
        st.topNFiles(m, m.files, c, asc, n).map(f => idx(f.name)).sorted
      val topN = Seq(
        top("id", asc = true, 150), top("i32", asc = false, 50),
        // decimal, timestamp_ntz and boolean stats sort through their
        // typed domains too
        top("dec", asc = true, 15), top("nt", asc = false, 120),
        top("b", asc = true, 10))
      val groups = st.overlapGroups(m.files, LongType)
        .map { case (f, g) => idx(f) -> g }
      // overlapping ranges chain into one group; the same stats order
      // as Longs under LongType and as strings ("9" > "40") under
      // StringType
      def fe(n: String, lo: String, hi: String) = FileEntry(n, lo, hi, 1L)
      val layout = Seq(fe("a", "0", "10"), fe("b", "5", "20"),
        fe("c", "21", "30"), fe("d", "30", "40"), fe("e", "100", "200"),
        fe("x", "9", "9"))
      val numeric = st.overlapGroups(layout, LongType)
      val strings = st.overlapGroups(layout, StringType)
      (topN, groups, numeric, strings)
    }
    assert(topN == Seq(Seq(0, 1), Seq(7), Seq(0), Seq(6, 7),
      (0 until 8)))
    assert(groups == (0 until 8).map(i => i -> (i + 1L)).toMap)
    assert(numeric == Map("a" -> 1L, "b" -> 1L, "x" -> 1L, "c" -> 2L,
      "d" -> 2L, "e" -> 3L))
    assert(strings == Map("a" -> 1L, "e" -> 2L, "c" -> 3L, "d" -> 3L,
      "b" -> 4L, "x" -> 5L))
    // the kept prefix holds the true top rows (a plain read)
    assert(holding(root, m, col("id") < 150L) == topN.head.toSet)
  }

  test("canonDecimalPreds rewrite table: grid-exact ops, constants, " +
    "pass-throughs") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("dec", DecimalType(10, 2)),
      StructField("s", StringType),
      StructField("d", DoubleType)))
    def canon(p: (String, String, Any)): (String, String, Any) =
      ManifestStore.canonDecimalPreds(schema, Seq(p)).head
    def bd(s: String) = new java.math.BigDecimal(s)
    // off-grid strict/non-strict: FLOOR for >/<=, CEILING for >=/<
    assert(canon(("dec", ">", bd("1.225"))) == (("dec", ">", bd("1.22"))))
    assert(canon(("dec", "<=", bd("1.225"))) == (("dec", "<=", bd("1.22"))))
    assert(canon(("dec", ">=", bd("1.225"))) == (("dec", ">=", bd("1.23"))))
    assert(canon(("dec", "<", bd("1.225"))) == (("dec", "<", bd("1.23"))))
    // on-grid values rescale only (scale 2), ops unchanged
    assert(canon(("dec", ">", bd("1.2"))) == (("dec", ">", bd("1.20"))))
    // equality off the grid can match nothing; != off the grid matches
    // every NON-null row
    assert(canon(("dec", "=", bd("1.225"))) == (("dec", "alwaysfalse", null)))
    assert(canon(("dec", "!=", bd("1.225"))) == (("dec", "notnull", null)))
    assert(canon(("dec", "=", bd("1.23"))) == (("dec", "=", bd("1.23"))))
    // beyond the type's range: constants by sign and op direction
    val huge = bd("99999999999"); val nhuge = bd("-99999999999")
    assert(canon(("dec", ">", huge)) == (("dec", "alwaysfalse", null)))
    assert(canon(("dec", ">=", huge)) == (("dec", "alwaysfalse", null)))
    assert(canon(("dec", "<", huge)) == (("dec", "notnull", null)))
    assert(canon(("dec", "<=", huge)) == (("dec", "notnull", null)))
    assert(canon(("dec", "<", nhuge)) == (("dec", "alwaysfalse", null)))
    assert(canon(("dec", ">", nhuge)) == (("dec", "notnull", null)))
    // integral probes land on the grid; IN lists keep only exact fits
    assert(canon(("dec", "=", java.lang.Long.valueOf(3L))) ==
      (("dec", "=", bd("3.00"))))
    assert(canon(("dec", "in", Seq(bd("1.23"), bd("1.225"), bd("7.99")))) ==
      (("dec", "in", Seq(bd("1.23"), bd("7.99")))))
    assert(canon(("dec", "in", Seq(bd("1.225")))) ==
      (("dec", "alwaysfalse", null)))
    // pass-throughs: non-decimal leaves, non-numeric probes (today's
    // fallback behavior), and OR trees rewrite inside branches only
    assert(canon(("s", ">", "x")) == (("s", ">", "x")))
    assert(canon(("dec", ">", java.lang.Double.valueOf(1.225))) ==
      (("dec", ">", java.lang.Double.valueOf(1.225))))
    val or = ("", "or", Seq(
      Seq(("dec", ">", bd("1.225")): (String, String, Any)),
      Seq(("s", "=", "x"): (String, String, Any))))
    assert(canon(or) == (("", "or", Seq(
      Seq(("dec", ">", bd("1.22")): (String, String, Any)),
      Seq(("s", "=", "x"): (String, String, Any))))))
  }
}
