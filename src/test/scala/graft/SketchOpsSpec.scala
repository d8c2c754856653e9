package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CountMin, ScaleOps}

/** Count-min sketch and KMV set-operation properties: additivity (the
  * mergeability that makes the sketches the 100 TB path), the CMS
  * one-sided guarantee, artifact-geometry round-tripping, and overlap
  * estimator accuracy on planted ground truth.
  */
class SketchOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def cellMap(cells: DataFrame): Map[(Int, Long), Long] =
    cells.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("cms cells are additive: shard-folded cells equal the one-pass " +
      "sketch bit-for-bit") {
    val ev = queries.T.events(spark, sf).filter(col("user_id").isNotNull)
    val onePass = CountMin.cmsCells(ev, "user_id", 4, 64)
    val folded = (0 until 3)
      .map(i => CountMin.cmsCells(
        ev.filter(col("event_id") % 3 === i), "user_id", 4, 64))
      .reduce(_ unionByName _)
      .groupBy("row_i", "bucket").agg(sum(col("cnt")).cast("long").as("cnt"))
    assert(cellMap(folded) == cellMap(onePass),
      "per-shard partial cells must fold to the exact one-pass counters")
  }

  test("cms estimates never undercount, and overcount within e*N/width " +
      "for every key") {
    val ev = queries.T.events(spark, sf).filter(col("user_id").isNotNull)
    val n = ev.count()
    val width = 64
    val cells = CountMin.cmsCells(ev, "user_id", 4, width)
    val keys = ev.select("user_id").distinct()
    val est = CountMin.cmsEstimate(cells, keys, "user_id", 4, width)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"CMS undercounted key $k: ${est(k)} < $c")
      assert(est(k) <= c + math.E * n / width,
        s"CMS overcount beyond eps*N for key $k: ${est(k)} vs exact $c")
    }
  }

  test("cms absent key estimates zero (empty buckets floor the min)") {
    import spark.implicits._
    // 4 distinct keys in a width-1024 sketch: an unseen key's 4 buckets
    // are almost surely all empty; this fixed key's are (deterministic)
    val df = Seq(1L, 1L, 2L, 3L, 4L).toDF("k")
    val cells = CountMin.cmsCells(df, "k")
    val est = CountMin.cmsEstimate(cells, Seq(999999L).toDF("k"), "k")
      .collect()
    assert(est.head.getLong(1) == 0L)
  }

  test("cms artifact lifecycle: geometry round-trips through meta, " +
      "append+serve equals the one-pass sketch, compact is invariant") {
    val ev = queries.T.events(spark, sf).filter(col("user_id").isNotNull)
    val dir = java.nio.file.Files.createTempDirectory("cms_art").toString
    // non-default geometry — cmsAppend/cmsServe take NO geometry args,
    // so agreement proves they read (depth=3, width=32) back from the
    // manifest
    CountMin.cmsBuild(ev.filter(col("event_id") % 2 === 0), dir,
      "user_id", depth = 3, width = 32)
    CountMin.cmsAppend(ev.filter(col("event_id") % 2 =!= 0), dir, "user_id")
    val keys = ev.select("user_id").distinct()
    def servedMap() = CountMin.cmsServe(spark, dir, keys, "user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = CountMin.cmsEstimate(
        CountMin.cmsCells(ev, "user_id", 3, 32), keys, "user_id", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = servedMap()
    assert(served == onePass,
      "build+append+serve must equal the one-pass sketch exactly")
    CountMin.cmsCompact(spark, dir)
    assert(servedMap() == served, "compaction must not change estimates")
    val cellRows = graft.ops.Models.load(spark, dir, "cells").count()
    assert(cellRows <= 3 * 32, "compacted artifact exceeds depth*width rows")
  }

  test("hll cube: append-built cube serves the same range estimates as " +
      "a one-pass build, within 5% of exact") {
    import graft.ops.ScaleOps
    val ev = queries.T.events(spark, sf).filter(col("user_id").isNotNull)
    val d1 = java.nio.file.Files.createTempDirectory("hllcube1").toString
    val d2 = java.nio.file.Files.createTempDirectory("hllcube2").toString
    ScaleOps.hllCubeBuild(ev, d1)
    // split by day parity: each (day, group) sketch lands whole in one
    // batch, so the appended cube's row multiset equals the one-pass cube
    ScaleOps.hllCubeBuild(ev.filter(dayofmonth(col("ts")) % 2 === 0), d2)
    ScaleOps.hllCubeAppend(ev.filter(dayofmonth(col("ts")) % 2 =!= 0), d2)
    def range(dir: String) =
      ScaleOps.hllCubeRangeDistinct(spark, dir, "2024-01-05", "2024-01-25")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (one, app) = (range(d1), range(d2))
    assert(one == app,
      "append-built cube must serve identical estimates to one-pass")
    val exact = ev
      .filter(to_date(col("ts")).between("2024-01-05", "2024-01-25"))
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) =>
      assert(math.abs(one(k) - c) <= 0.05 * c,
        s"range estimate ${one(k)} vs exact $c beyond 5% for $k")
    }
  }

  // ------------------------------------------------------- KMV overlap

  private def mkDocs(groups: (String, Range)*): DataFrame = {
    import spark.implicits._
    groups.flatMap { case (src, ids) =>
      ids.map(i => (src, s"a$i b$i c$i d$i e$i"))
    }.toDF("source", "text")
  }

  test("kmv overlap: identical sources estimate jaccard 1, disjoint 0") {
    val docs = mkDocs(
      "A" -> (0 until 200), "B" -> (0 until 200), "C" -> (500 until 700))
    val res = ScaleOps.kmvSourceOverlap(docs, k = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = res(("A", "B"))
    assert(ab.getDouble(ab.fieldIndex("jaccard_kmv")) == 1.0)
    assert(ab.getDouble(ab.fieldIndex("jaccard_exact")) == 1.0)
    val ac = res(("A", "C"))
    assert(ac.getDouble(ac.fieldIndex("jaccard_kmv")) == 0.0)
    assert(ac.getLong(ac.fieldIndex("n_inter")) == 0L)
  }

  test("kmv overlap: planted 1/3 jaccard estimated within 3 sigma, " +
      "exact columns exact") {
    // A = T1 u T2, B = T2 u T3; each Ti contributes 300 docs x 3 unique
    // shingles, so J = |T2| / |T1 u T2 u T3| = 1/3 exactly
    val docs = mkDocs(
      "A" -> (0 until 600), "B" -> (300 until 900))
    val r = ScaleOps.kmvSourceOverlap(docs, k = 128).collect().head
    assert(r.getLong(r.fieldIndex("n_union")) == 2700L)
    assert(r.getLong(r.fieldIndex("n_inter")) == 900L)
    val jExact = r.getDouble(r.fieldIndex("jaccard_exact"))
    assert(math.abs(jExact - 1.0 / 3.0) < 1e-12)
    val jKmv = r.getDouble(r.fieldIndex("jaccard_kmv"))
    val sigma = math.sqrt(jExact * (1 - jExact) / 128)
    assert(math.abs(jKmv - jExact) <= 3 * sigma + 1e-9,
      s"jaccard_kmv $jKmv vs exact $jExact beyond 3 sigma")
    val uKmv = r.getDouble(r.fieldIndex("union_kmv"))
    assert(math.abs(uKmv - 2700.0) <= 3.0 / math.sqrt(126.0) * 2700.0,
      s"union_kmv $uKmv vs 2700 beyond 3 sigma")
  }

  test("kmv overlap: sketch-only form emits no exact columns and agrees " +
      "with the gated form's estimates") {
    val docs = mkDocs("A" -> (0 until 300), "B" -> (150 until 450))
    val lean = ScaleOps.kmvSourceOverlap(docs, k = 64, withExact = false)
    assert(lean.columns.toSeq ==
      Seq("source_a", "source_b", "union_kmv", "jaccard_kmv", "inter_kmv"))
    val full = ScaleOps.kmvSourceOverlap(docs, k = 64)
    val a = lean.collect().head
    val b = full.select("source_a", "source_b", "union_kmv", "jaccard_kmv",
      "inter_kmv").collect().head
    assert(a == b)
  }

  test("kmv overlap: the quadratic pair fan is guarded — too many distinct " +
      "sources fails fast, and topSources restricts the matrix to the " +
      "highest-volume sources") {
    import spark.implicits._
    // 20 one-doc tail sources + 2 big ones
    val tail = (0 until 20).map(i => (s"t$i", s"x$i y$i z$i w$i v$i"))
    val docs = mkDocs("A" -> (0 until 100), "B" -> (0 until 100))
      .unionByName(tail.toDF("source", "text"))
    val e = intercept[IllegalArgumentException] {
      ScaleOps.kmvSourceOverlap(docs, k = 16, maxSources = 8).collect()
    }
    assert(e.getMessage.contains("maxSources"))
    // top-2 by volume keeps only the (A, B) pair — the tail never
    // reaches the shingle scan or the pair build
    val top = ScaleOps.kmvSourceOverlap(docs, k = 16, maxSources = 8,
      topSources = 2).collect()
    assert(top.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("A", "B")))
    assert(top.head.getDouble(top.head.fieldIndex("jaccard_exact")) == 1.0)
  }
}
