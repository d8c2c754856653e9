package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Evolve, Quality}

/** Behavioral tests for the table-lifecycle operators: SCD2 change
  * collapsing and interval chaining, merge-equals-full-recompute, and
  * planted data-quality violations.
  */
class LifecycleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("scd2 collapses unchanged runs and chains validity intervals") {
    val log = Seq(
      // key 1: a -> a -> b -> b -> a   => versions a, b, a
      (1L, 1L, "2024-01-01 00:00:00", "a"),
      (1L, 2L, "2024-01-02 00:00:00", "a"),
      (1L, 3L, "2024-01-03 00:00:00", "b"),
      (1L, 4L, "2024-01-04 00:00:00", "b"),
      (1L, 5L, "2024-01-05 00:00:00", "a"),
      // key 2: single observation
      (2L, 6L, "2024-01-01 12:00:00", "x")
    ).toDF("k", "seq", "ts_s", "v").withColumn("ts", $"ts_s".cast("timestamp"))

    val hist = Evolve.scd2(log, "k", "ts", Seq("v"), tieBreak = Seq("seq"))
      .orderBy("k", "valid_from").collect()

    assert(hist.length == 4)
    val k1 = hist.filter(_.getLong(0) == 1L)
    assert(k1.map(_.getAs[String]("v")).toSeq == Seq("a", "b", "a"))
    // intervals chain: valid_to of row i == valid_from of row i+1
    k1.sliding(2).foreach { case Array(prev, next) =>
      assert(prev.getAs[java.sql.Timestamp]("valid_to") ==
        next.getAs[java.sql.Timestamp]("valid_from"))
    }
    assert(k1.count(_.getAs[Boolean]("is_current")) == 1)
    assert(k1.last.getAs[Boolean]("is_current"))
  }

  test("scd2 keeps a first version whose tracked attribute is NULL") {
    val log = Seq(
      (1L, 1L, "2024-01-01 00:00:00", Option.empty[String]),
      (1L, 2L, "2024-01-02 00:00:00", Some("a"))
    ).toDF("k", "seq", "ts_s", "v").withColumn("ts", $"ts_s".cast("timestamp"))
    val hist = Evolve.scd2(log, "k", "ts", Seq("v"), tieBreak = Seq("seq"))
    assert(hist.count() == 2)
  }

  test("mergeUpsert(base, delta) equals latest-per-key over the full log") {
    val ev = queries.T.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_id", "ts", "event_type")
    val cutoff = lit("2024-01-15").cast("timestamp")
    val merged = Evolve.mergeUpsert(
      ev.filter($"ts" < cutoff), ev.filter($"ts" >= cutoff),
      Seq("user_id"), Seq("ts", "event_id"))

    val expected = ev
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy($"ts".desc, $"event_id".desc)))
      .filter($"rn" === 1).drop("rn")

    assert(merged.count() == expected.count())
    assert(merged.join(expected,
      merged.columns.toSeq, "left_anti").count() == 0)
  }

  test("quality suite counts planted violations per check") {
    val child = Seq(
      (1L, Some("ok"), 5.0), (1L, Some("ok"), 5.0), // dup key (1 excess)
      (2L, None, -1.0),                             // null status, low value
      (3L, Some("bad"), 99.0),                      // not accepted
      (99L, Some("ok"), 5.0)                        // orphan parent ref
    ).toDF("id", "status", "v")
    val parent = Seq(1L, 2L, 3L).toDF("id")

    val res = Quality.suite(Seq(
      Quality.rowChecks(child, Seq(
        Quality.notNull("status"),
        Quality.acceptedValues("status", Seq("ok")),
        Quality.inRange("v", 0.0, 50.0))),
      Quality.unique(child, Seq("id")),
      Quality.references(child, "id", parent, "id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    assert(res("not_null:status") == 1L)
    assert(res("accepted_values:status") == 2L) // 'bad' + NULL
    assert(res("in_range:v") == 2L)             // -1.0 and 99.0
    assert(res("unique:id") == 1L)
    assert(res("references:id->id") == 1L)      // key 99
  }

  test("profileColumns reports rows/nulls/distincts/min/max per column") {
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None),
      (Some(3L), Some("a")), (None, Some("a"))
    ).toDF("k", "v")
    val prof = Quality.profileColumns(df, Seq("k", "v"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(prof.toSeq == Seq(
      ("k", 4L, 1L, 2L, "1", "3"),
      ("v", 4L, 1L, 2L, "a", "b")))
    // approx variant: same scan shape, sketch counts within rsd of exact
    val approx = Quality.profileColumnsApprox(df, Seq("k", "v"))
      .select("n_distinct").as[Long].collect()
    assert(approx.forall(n => n >= 1 && n <= 3))
  }

  test("aggMaintain: two folded deltas equal a full recompute exactly") {
    // start from an empty registry (earlier suites share this session)
    graft.ops.Pins.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val orders = graft.queries.T.orders(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("aggmaint").toString
    Evolve.aggBuild(orders.filter(col("o_orderkey") % 3 === 0), dir,
      "o_custkey", "o_totalprice")
    Evolve.aggFold(orders.filter(col("o_orderkey") % 3 === 1), dir,
      "o_custkey", "o_totalprice")
    Evolve.aggFold(orders.filter(col("o_orderkey") % 3 === 2), dir,
      "o_custkey", "o_totalprice")
    val served = Evolve.aggServe(spark, dir, "o_custkey")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val full = orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(dec)).as("total_amount"))
    // decimal precision differs between one-shot and folded sums; compare
    // on a common type (values are exact either way)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_custkey"), col("n_rows").cast("long"),
        col("total_amount").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
    assert(norm(served).except(norm(full)).isEmpty &&
      norm(full).except(norm(served)).isEmpty,
      "folded aggregate must equal the full recompute")
    // compaction: artifact collapses to one row per group, totals
    // unchanged, and a post-compaction fold still appends cleanly
    Evolve.aggCompact(spark, dir, "o_custkey")
    val rows = graft.ops.Models.load(spark, dir, "agg")
    assert(rows.count() == rows.select("o_custkey").distinct().count(),
      "compaction must leave one partial row per group")
    val afterCompact = Evolve.aggServe(spark, dir, "o_custkey")
    assert(norm(afterCompact).except(norm(full)).isEmpty &&
      norm(full).except(norm(afterCompact)).isEmpty)
    Evolve.aggFold(orders.filter(col("o_orderkey") % 3 === 0), dir,
      "o_custkey", "o_totalprice") // re-fold a slice: schema must merge
    assert(Evolve.aggServe(spark, dir, "o_custkey").count() == full.count())
    // aggCompact pins nothing: releaseAll leaves the registry empty
    graft.ops.Pins.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "Pins.releaseAll left persisted RDDs behind after aggCompact")
  }

  test("joinView maintenance: two cross-side appends equal the full " +
      "re-join; empty deltas are a no-op") {
    val sf = "/root/testdata/sf0.001"
    val orders = graft.queries.T.orders(spark, sf)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    val li = graft.queries.T.lineitem(spark, sf)
      .select(col("l_orderkey").as("okey"), col("l_linenumber"),
        col("l_extendedprice"))
    val dir = java.nio.file.Files.createTempDirectory("joinview").toString
    // 3-way split on DIFFERENT keys per side: every delta term
    // (dL x R, L x dR, dL x dR) is exercised non-trivially
    Evolve.joinViewBuild(orders.filter(col("okey") % 3 === 0),
      li.filter(col("l_linenumber") % 3 === 0), dir, "okey")
    Evolve.joinViewAppend(spark, dir,
      orders.filter(col("okey") % 3 === 1),
      li.filter(col("l_linenumber") % 3 === 1), "okey")
    Evolve.joinViewAppend(spark, dir,
      orders.filter(col("okey") % 3 === 2),
      li.filter(col("l_linenumber") % 3 === 2), "okey")
    val served = Evolve.joinViewServe(spark, dir)
    val full = orders.join(li, "okey")
    // joined rows are unique per (okey, l_linenumber): set compare is
    // multiset compare here
    assert(served.count() == full.count(),
      s"view has ${served.count()} rows, full join ${full.count()}")
    assert(served.except(full).isEmpty && full.except(served).isEmpty,
      "maintained view must equal the full re-join exactly")
    // empty deltas must append nothing
    Evolve.joinViewAppend(spark, dir,
      orders.filter(lit(false)), li.filter(lit(false)), "okey")
    assert(Evolve.joinViewServe(spark, dir).count() == full.count())
    // the map-only claim, plan-pinned: every join in the delta term is a
    // broadcast join — the stored bases are scanned, never shuffled
    val deltaPlan = Evolve.joinViewDelta(
        orders, li, orders.limit(10), li.limit(10), "okey")
      .queryExecution.executedPlan.toString
    assert(!deltaPlan.contains("SortMergeJoin") &&
      !deltaPlan.contains("ShuffledHashJoin"),
      s"join-view delta must not shuffle-join the bases:\n$deltaPlan")
    assert("BroadcastHashJoin".r.findAllIn(deltaPlan).size == 3,
      s"expected 3 broadcast joins in the delta term:\n$deltaPlan")
  }

  test("tableDiff classifies planted add/remove/change exactly") {
    import graft.ops.Evolve
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v")
    val cur = Seq((1L, "a"), (2L, "CHANGED"), (4L, "d"), (5L, "e"))
      .toDF("id", "v")
    val res = Evolve.tableDiff(base, cur, Seq("id"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res == Map("unchanged" -> 2L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("sequence packing: budget boundaries, totals conserved, order deterministic") {
    import graft.ops.Pipeline
    val docs = Seq(
      (0L, "s1", ("w " * 100).trim),   // 100 tokens
      (1L, "s1", ("w " * 200).trim),   // crosses into seq 1
      (2L, "s1", ("w " * 10).trim),
      (3L, "s2", ("w " * 300).trim))   // separate shard restarts at seq 0
      .toDF("doc_id", "source", "text")
    val packs = Pipeline.packSequences(docs, budget = 256)
      .orderBy("source", "seq_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // s1: doc0 starts at 0 (seq 0), doc1 starts at 100 (seq 0), doc2 at 300 (seq 1)
    assert(packs.toSeq == Seq(("s1", 0L, 2L, 300L), ("s1", 1L, 1L, 10L),
      ("s2", 0L, 1L, 300L)))
    // token totals conserved across sequences
    assert(packs.filter(_._1 == "s1").map(_._4).sum == 310L)
  }
}
