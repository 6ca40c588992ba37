package graft.cdc

import graft.SparkSpec

class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  test("diff emits c/d/u for the changed keys only, with correct images") {
    val old = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal")
    val neu = Seq(
      (1L, "a", 10.0),            // unchanged -> no row
      (2L, "b", 25.0),            // updated
      (4L, "D", 40.0),            // updated (string cell)
      (5L, "e", 50.0))            // inserted; 3 deleted
      .toDF("k", "name", "bal")
    val out = ChangeFeed.diff(old, neu, "k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(out == Set(("u", 2L), ("d", 3L), ("u", 4L), ("c", 5L)))

    val rows = ChangeFeed.diff(old, neu, "k").collect()
      .map(r => r.getLong(1) -> r).toMap
    // update carries both images
    assert(rows(2L).getAs[Double]("before_bal") == 20.0)
    assert(rows(2L).getAs[Double]("after_bal") == 25.0)
    // delete: after-image null; insert: before-image null
    assert(rows(3L).isNullAt(rows(3L).fieldIndex("after_name")))
    assert(rows(5L).isNullAt(rows(5L).fieldIndex("before_name")))
    assert(rows(5L).getAs[String]("after_name") == "e")
  }

  test("diff of identical snapshots is empty; null cells compare null-safe") {
    val a = Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("k", "name")
    assert(ChangeFeed.diff(a, a, "k").count() == 0)
    // null -> value and value -> null are updates, not no-ops
    val b = Seq((1L, Some("y")), (2L, Option.empty[String])).toDF("k", "name")
    val ops = ChangeFeed.diff(a, b, "k").collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(ops == Map(1L -> "u", 2L -> "u"))
  }

  test("ignore set excludes bookkeeping columns from the comparison") {
    val old = Seq((1L, "a", "batch-0")).toDF("k", "name", "loaded")
    val neu = Seq((1L, "a", "batch-9")).toDF("k", "name", "loaded")
    assert(ChangeFeed.diff(old, neu, "k", ignore = Set("loaded")).count() == 0)
  }

  test("feed between two retained ManifestStore versions (the CDF wiring)") {
    val root = java.nio.file.Files.createTempDirectory("cf_store").toString
    val store = new ManifestStore(root, spark, "k")
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "name"), batchId = 0,
      nFiles = 1)
    store.commit(Seq((2L, "B"), (3L, "c")).toDF("k", "name"), batchId = 1,
      nFiles = 1)
    val feed = ChangeFeed.diff(
      store.readVersion(0).get, store.readVersion(1).get, "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(feed == Set(("d", 1L), ("u", 2L), ("c", 3L)))
    // a version past the current one is not readable
    assert(store.readVersion(99).isEmpty)
  }

  test("merge-then-diff inverse: the feed reproduces the effective changes") {
    import org.apache.spark.sql.functions.col
    // apply a changelog with Merge, then diff (before, after): the feed
    // must surface exactly the changes that took effect — an update, an
    // insert, a delete — and nothing for untouched keys
    val snap = Seq((1L, "old", Some(10L)), (2L, "keep", Some(10L)),
      (3L, "gone", Some(10L))).toDF("id", "name", Merge.LastTsCol)
    val net = Seq(
      (1L, "u", Some(1L), Some("new"), 20L),
      (3L, "d", None, None, 20L),
      (4L, "c", Some(4L), Some("ins"), 20L))
      .toDF(Changelog.KeyCol, Changelog.OpCol, "after_id", "after_name",
        Changelog.TsCol)
      .withColumn("after_id", col("after_id").cast("long"))
    val merged = Merge.applyChanges(snap, net, "id", Seq("id", "name"))
    val feed = ChangeFeed.diff(
      snap.drop(Merge.LastTsCol), merged.drop(Merge.LastTsCol), "id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(feed == Set(("u", 1L), ("d", 3L), ("c", 4L)))
  }

  test("columns only in the new version must be opted into ignore, not dropped") {
    val old = Seq((1L, "a")).toDF("k", "name")
    val neu = Seq((1L, "a", "fresh")).toDF("k", "name", "status")
    val e = intercept[IllegalArgumentException](ChangeFeed.diff(old, neu, "k"))
    assert(e.getMessage.contains("status"))
    assert(ChangeFeed.diff(old, neu, "k", ignore = Set("status")).count() == 0)
  }

  test("key-only snapshots degrade to a presence diff; null keys keep their side") {
    val old = Seq(Some(1L), Some(2L), None).toDF("k")
    val neu = Seq(Some(2L), Some(3L)).toDF("k")
    val ops = ChangeFeed.diff(old, neu, "k").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getLong(1))).toSet
    // 1 deleted, 3 inserted, 2 unchanged; the null-key old row is a DELETE
    // (presence marker, not key nullness, decides the op)
    assert(ops == Set(("d", 1L), ("c", 3L), ("d", null)))
  }
}
