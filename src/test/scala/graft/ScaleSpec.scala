package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ScaleOps

/** Scale-technique correctness + plan proofs: salting must not change join
  * or aggregation results, and bucketed joins must plan without a shuffle.
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"/tmp/graft_warehouse_${System.nanoTime()}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("salted join result equals plain join result") {
    val li = queries.T.lineitem(spark, sf)
    val orders = queries.T.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority")
    val plain = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().toSeq
    val salted = ScaleOps
      .saltedJoin(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), orders,
        "o_orderkey", col("l_linenumber"), 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(salted == plain)
  }

  test("heavy hitters equal the exact HAVING answer (skewed and flat keys)") {
    // derived skewed key: ~97% of lineitem rows collapse to key 0
    val skewed = queries.T.lineitem(spark, sf).select(
      when(col("l_orderkey") % 32 =!= 0, lit(0L))
        .otherwise(col("l_orderkey")).as("k"))
    def exact(support: Double): Map[Long, Long] = {
      val n = skewed.count()
      skewed.groupBy("k").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > lit(support) * lit(n))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def got(support: Double): Map[Long, Long] =
      ScaleOps.heavyHitters(skewed, "k", support)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // high support: only the hot key survives — the skew-detector shape
    assert(got(0.5) == exact(0.5))
    assert(got(0.5).keySet == Set(0L), s"expected only the hot key: ${got(0.5)}")
    // low support: every qualifying key, exactly (candidate superset + recount)
    assert(got(0.001) == exact(0.001))
    assert(got(0.001).size > 1, "low support should admit the cold keys too")
  }

  test("heavy hitters include a NULL key group, like SQL's GROUP BY") {
    // null out the hot key: >97% of rows now carry k = NULL, which the
    // candidate isin alone would silently drop (isin(NULL) is NULL)
    val withNulls = queries.T.lineitem(spark, sf).select(
      when(col("l_orderkey") % 32 =!= 0, lit(null).cast("long"))
        .otherwise(col("l_orderkey")).as("k"))
    val out = ScaleOps.heavyHitters(withNulls, "k", support = 0.5).collect()
    assert(out.length == 1 && out.head.isNullAt(0),
      s"the NULL group is the only heavy hitter: ${out.toSeq}")
    val exactNullCnt = withNulls.filter(col("k").isNull).count()
    assert(out.head.getLong(1) == exactNullCnt)
  }

  test("z-order layout bounds both dims per file; a 2-D box prunes most files") {
    def stats = ScaleOps.zorderFileStats(
      queries.T.orders(spark, sf), "o_custkey", "o_totalprice",
      bits = 8, fileBits = 6)
    val rows = stats.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    // a box covering the middle 10% of EACH dim — the 2-D range predicate a
    // reader prunes with per-file min/max footer stats
    val (overlapping, total) = ScaleOps.zorderBoxOverlap(stats, boxFrac = 0.1)
    assert(overlapping.toDouble / total <= 0.25,
      s"z-order should prune most files for a 2-D box: $overlapping/$total")
    // determinism: stats are a pure function of the data
    val again = stats.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the 100 TB shuffle-pruning idiom: a selective filter on the dim side
    // injects a bloom filter into the fact-side scan at runtime, so rows
    // that cannot join are dropped BEFORE the shuffle. Spark's size
    // thresholds are tuned for real tables; zero them so the optimizer
    // applies the rewrite at test scale (the plan shape, not the sizes, is
    // what's being pinned).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      // creation side must be SMALLER than its threshold (raise it) and the
      // application-side scan BIGGER than its threshold (zero it)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = queries.T.lineitem(spark, sf)
      val ord = queries.T.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n$plan")
      // and the rewrite is result-preserving vs the un-bloomed join
      val n = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(n == plain)
    } finally {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      saved.foreach { case (k, v) => conf.set(k, v) }
    }
  }

  test("explicit bloom join prune: no false negatives, measured map-side selectivity") {
    val li = queries.T.lineitem(spark, sf)
    val sel = queries.T.orders(spark, sf).filter(col("o_totalprice") < 20000)
      .select("o_orderkey", "o_orderpriority")
    // the pruned fact side keeps EVERY true match (no false negatives)...
    val pruned = ScaleOps.bloomPrune(li, sel, "l_orderkey", "o_orderkey")
    val trueMatches = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      .count()
    val afterExact = pruned.join(sel, col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(afterExact == trueMatches,
      s"bloom prune lost true matches: $afterExact vs $trueMatches")
    // ...while passing only a small fraction of the fact rows map-side:
    // ~1/26 true-match rate plus the bloom FP rate — well under 10%
    val total = li.count()
    val survivors = pruned.count()
    assert(survivors < total / 10,
      s"prune not selective: $survivors of $total fact rows survived")
    assert(survivors >= trueMatches, "prune passed fewer rows than true matches")
  }

  test("compaction: file count collapses, data survives, footers prune") {
    val orders = queries.T.orders(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    orders.repartition(50).write.mode("overwrite").parquet(s"$base/frag")
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/frag").length == 50)
    val n = orders.count()
    val target = 1000L
    val expectFiles = ((n + target - 1) / target).toInt
    ScaleOps.compactTo(spark, s"$base/frag", s"$base/out", target,
      Seq("o_orderkey"))
    assert(parquetFiles(s"$base/out").length == expectFiles,
      s"expected $expectFiles compacted files")
    // lossless: per-status aggregate identical
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("o_orderstatus")
      .agg(count(lit(1)), sum(col("o_orderkey")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(agg(spark.read.parquet(s"$base/out")) == agg(orders))
    // layout: a narrow o_orderkey range predicate reads ~1 file's rows,
    // not the table — the footer min/max ranges are non-overlapping
    val scan = spark.read.parquet(s"$base/out")
      .filter(col("o_orderkey") === orders.agg(min("o_orderkey")).head().getLong(0))
    scan.collect()
    val leaves = scan.queryExecution.executedPlan.collectLeaves()
    val decoded = leaves.head.metrics.get("numOutputRows").map(_.value)
    // vectorized scans report rows AFTER row-group pruning: one file's
    // worth at most, not n
    assert(decoded.exists(_ <= target * 2),
      s"range-sorted compaction should prune the scan: decoded=$decoded of $n")
  }

  test("salted distinct count equals countDistinct") {
    val li = queries.T.lineitem(spark, sf)
    val plain = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_distinct_l_partkey"))
      .orderBy("l_returnflag").collect().toSeq
    val salted = ScaleOps
      .saltedDistinctCount(li, "l_returnflag", "l_partkey", col("l_orderkey"), 8)
      .orderBy("l_returnflag").collect().toSeq
    assert(salted == plain)
  }

  test("full-replace sink is idempotent (reference write semantics, SURVEY §1.4)") {
    val out = java.nio.file.Files.createTempDirectory("replace_sink").toString
    val df = queries.T.region(spark, sf)
    graft.model.Sources.writeReplace(df, out)
    val first = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    // rebuild over the same target — mode("overwrite") must fully replace
    graft.model.Sources.writeReplace(df.filter(col("r_regionkey") < 100), out)
    val second = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(first == second)
    assert(second.size == df.count())
  }

  test("partitioned write prunes directories, not just row groups") {
    val out = java.nio.file.Files.createTempDirectory("part_write").toString
    val orders = queries.T.orders(spark, sf)
    ScaleOps.writePartitioned(orders, out, "o_orderstatus")
    // layout: one directory per status value
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("o_orderstatus=")).sorted
    assert(dirs.nonEmpty && dirs.forall(_.contains("=")))
    val back = spark.read.parquet(out).filter(col("o_orderstatus") === "F")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"status filter did not become a partition prune:\n$plan")
    assert(back.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("bucketed join plans with zero Exchange") {
    val orders = queries.T.orders(spark, sf)
    val li = queries.T.lineitem(spark, sf)
      .withColumnRenamed("l_orderkey", "o_orderkey")
    // a prior JVM's managed-table dirs survive while catalog entries don't;
    // clear both so Overwrite can recreate cleanly
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    ScaleOps.writeBucketed(orders, "b_orders", "o_orderkey", 8)
    ScaleOps.writeBucketed(li, "b_lineitem", "o_orderkey", 8)
    // disable auto-broadcast: the point is the bucket layout replacing the
    // shuffle, not a broadcast sidestepping it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = ScaleOps.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      assert(joined.count() ==
        queries.T.lineitem(spark, sf).join(queries.T.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ORC round-trips with filter pushdown, same results as parquet") {
    val dir = java.nio.file.Files.createTempDirectory("orc_rt")
    val src = queries.T.orders(spark, sf)
    src.write.mode("overwrite").orc(dir.toString)
    val back = spark.read.orc(dir.toString).filter(col("o_custkey") < 100)
      .select("o_orderkey", "o_custkey")
    val expected = src.filter(col("o_custkey") < 100)
      .select("o_orderkey", "o_custkey")
    assert(back.collect().map(_.getLong(0)).sorted.toSeq ==
      expected.collect().map(_.getLong(0)).sorted.toSeq)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,100)]"),
      s"ORC scan must push the filter:\n$scan")
  }

  test("JSON-lines round-trips with an explicit schema and prunes columns") {
    // the raw-crawl interchange format a training-data pipeline ingests
    // before columnarizing: write documents as JSONL, read back with the
    // parquet schema pinned (never inferSchema at scale — one extra full
    // pass over 100 TB), project two columns, expect identical rows
    val dir = java.nio.file.Files.createTempDirectory("jsonl_rt")
    val src = queries.T.documents(spark, sf)
    src.write.mode("overwrite").json(dir.toString)
    val back = spark.read.schema(src.schema).json(dir.toString)
    assert(back.count() == src.count())
    val got = back.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = src.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want)
    // schema-pinned JSON scans prune to the projected fields at the reader
    val scan = back.select("doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"JSON scan must prune columns:\n$scan")
  }

  test("skew-safe minhash edges: a dominant duplicate class yields the " +
      "SAME components as full pair enumeration, at linear (not " +
      "quadratic) edge cost") {
    import graft.ops.{Dedup, Neutral}
    // corpus where one near-dup class owns half the rows: every even doc
    // becomes doc 1's text + a 1-word suffix (pairwise J ~ 0.96), odd
    // docs keep their natural text (incl. the planted ' dup' pairs)
    val docs = queries.T.documents(spark, sf).limit(200)
    val base = docs.filter(col("doc_id") === 1)
      .select(col("text").as("base_text"))
    val skewed = docs.crossJoin(broadcast(base))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("base_text"), lit(" zz"),
            (col("doc_id") % 5).cast("string")))
          .otherwise(col("text")).as("text"))
      .cache()
    val nClass = skewed.filter(col("doc_id") % 2 === 0).count()

    // full enumeration: ~nClass^2/2 verified pairs (the quadratic hazard)
    val fullPairs = Neutral.minHashCandidates(skewed)
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b")
      .cache()
    val nFull = fullPairs.count()
    assert(nFull >= nClass * (nClass - 1) / 4,
      s"expected a quadratic pair set from the planted class, got $nFull")

    // skew-safe: oversized buckets emit star edges — O(class size)
    val safeEdges = Neutral.minHashCandidates(skewed, starCap = Some(16))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b")
      .cache()
    val nSafe = safeEdges.count()
    assert(nSafe < nFull / 10,
      s"star edges must be far below the pair count ($nSafe vs $nFull)")
    assert(nSafe < 8 * nClass,
      s"edge count must be linear in the class size ($nSafe vs $nClass)")

    // identical closure: the star hub links the class transitively
    def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cFull = comps(fullPairs)
    val cSafe = comps(safeEdges)
    assert(cSafe == cFull,
      "components from star edges must equal full-pair components on a " +
        "duplicate-class skew")
    skewed.unpersist(); fullPairs.unpersist(); safeEdges.unpersist()
  }

  private def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    graft.ops.Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("phash star branch: an over-cap hash bucket yields the SAME " +
      "components as full enumeration, at linear (not quadratic) cost") {
    import spark.implicits._
    import graft.ops.Multimodal
    // a dominant duplicate class of 60 images: every hash is the base
    // hash with ONE flipped low bit (pairwise Hamming <= 2, well under
    // the verify threshold 7), so all 60 land in the same (t, bucket)
    // for at least 6 of the 8 banding tables — the boilerplate-corpus
    // shape the r15 sf1 sweep measured quadratic. Plus 30 unrelated
    // images with alternating-pattern hashes (pairwise Hamming >> 7).
    val base = 0x5a5a5a5aL
    val cls = (1L to 60L).map { i =>
      (i, base ^ (1L << ((i % 16) + 8)), base)
    }
    val other = (1L to 30L).map { i =>
      (1000L + i, (i * 0x9e3779b9L) & 0xffffffffL,
        (i * 0x85ebca6bL) & 0xffffffffL)
    }
    val hashes = (cls ++ other).toDF("doc_id", "ph_lo", "ph_hi").cache()

    val full = Multimodal.phashPairsOf(hashes, starCap = None).cache()
    val star = Multimodal.phashPairsOf(hashes, starCap = Some(8)).cache()
    val nFull = full.count(); val nStar = star.count()
    assert(nFull >= 60L * 59 / 2,
      s"the planted class must fully enumerate uncapped, got $nFull")
    assert(nStar < nFull / 5,
      s"star pairs must be far below full enumeration ($nStar vs $nFull)")
    assert(comps(star) == comps(full),
      "phash star components must equal full-enumeration components on " +
        "a duplicate-class bucket")
    // the capped DEGREE output keeps the has-near-dup signal: exactly
    // the docs with a near-dup under full enumeration have n_near > 0
    def flagged(starCap: Option[Int]): Set[Long] =
      Multimodal.phashNearDups(hashes, starCap = starCap)
        .filter(col("n_near") > 0).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    assert(flagged(Some(8)) == flagged(None),
      "star-capped degree must preserve the has-near-dup flag set")
    hashes.unpersist(); full.unpersist(); star.unpersist()
  }

  test("video posting-list star cap: exact verification keeps the " +
      "Jaccard decisions, and capped components equal full enumeration") {
    import spark.implicits._
    import graft.ops.Multimodal
    // 40 videos of one duplicate class sharing frame CONTENT, trimmed to
    // 4..8 keyframes (pairwise Jaccard = min/max >= 0.5 — all near-dups),
    // so every shared frame's posting list has 8..40 entries; plus 20
    // unrelated videos with unique frames (singleton postings)
    val cls = for {
      i <- 1L to 40L
      j <- 0 until (4 + (i % 5)).toInt
    } yield (i, j, 100L + j, 200L + j)
    val other = for {
      i <- 1L to 20L
      j <- 0 until 5
    } yield (500L + i, j, 10000L + i * 100 + j, 20000L + i * 100 + j)
    val fh = (cls ++ other).toDF("doc_id", "frame_idx", "ph_lo", "ph_hi")
      .cache()

    // a cap that never engages must reproduce the uncapped single-pass
    // form EXACTLY (pins the candidate+verify path against the old one)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Multimodal.videoNearDups(fh, maxPosting = Some(1000)))
        == rows(Multimodal.videoNearDups(fh, maxPosting = None)),
      "an unengaged posting cap must be bit-identical to uncapped")

    // engaged: star candidates + exact m re-count — every emitted pair's
    // Jaccard is exact, and the closure matches full enumeration
    val full = Multimodal.videoNearDupPairs(fh, maxPosting = None).cache()
    val star = Multimodal.videoNearDupPairs(fh, maxPosting = Some(8)).cache()
    val nFull = full.count(); val nStar = star.count()
    assert(nFull >= 40L * 39 / 2,
      s"the planted class must fully enumerate uncapped, got $nFull")
    assert(nStar < nFull / 5,
      s"star pairs must be far below full enumeration ($nStar vs $nFull)")
    assert(comps(star) == comps(full),
      "video star components must equal full-enumeration components on " +
        "a duplicate-class posting list")
    val flaggedStar = Multimodal.videoNearDups(fh, maxPosting = Some(8))
      .filter(col("n_near") > 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val flaggedFull = Multimodal.videoNearDups(fh, maxPosting = None)
      .filter(col("n_near") > 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(flaggedStar == flaggedFull,
      "star-capped video degree must preserve the has-near-dup flag set")
    fh.unpersist(); full.unpersist(); star.unpersist()
  }

  test("dedupCorpusClustered via the star default equals full " +
      "enumeration on a dominant duplicate class (real entry point)") {
    import graft.ops.Neutral
    val docs = queries.T.documents(spark, sf).limit(200)
    val base = docs.filter(col("doc_id") === 1)
      .select(col("text").as("base_text"))
    // suffix is UNIQUE per doc (doc_id, not doc_id % 5): the clustered
    // pipeline's exact-dedup stage must NOT collapse the class before
    // the near-dup stage, or the star branch never engages
    val skewed = docs.crossJoin(broadcast(base))
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(col("doc_id") % 2 === 0,
          concat(col("base_text"), lit(" zz"),
            col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      .cache()
    def survivors(starCap: Option[Int]): Set[Long] =
      Neutral.dedupCorpusClustered(skewed, starCap = starCap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // starCap = 16 engages on the planted class (~100 members share all
    // 16 band buckets); survivors must match exact full enumeration
    assert(survivors(Some(16)) == survivors(None),
      "star-capped clustered dedup must keep the same survivors as full " +
        "enumeration on a duplicate-class skew")
    // and the pair-drop entry point: all but the hub of the planted
    // class drop under the star default exactly as under full pairs
    def pairDropSurvivors(starCap: Option[Int]): Set[Long] =
      graft.ops.Dedup.dedupCorpus(skewed, starCap = starCap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairDropSurvivors(Some(16)) == pairDropSurvivors(None),
      "star-capped pair-drop dedup must keep the same survivors on a " +
        "duplicate-class skew")
    skewed.unpersist()
  }

  test("cosine-LSH star branch: an over-cap sign bucket yields the SAME " +
      "components as full enumeration, at linear (not quadratic) cost") {
    import spark.implicits._
    import graft.ops.Neutral
    // a dominant near-dup class of 60 embeddings: ONE base direction
    // scaled by (i + 1) — sign projections are scale-invariant, so all 60
    // land in the SAME (t, bucket) for every table, the dense-corpus
    // shape the r16 two-point screen measured quadratic (rows slope
    // 1.95–2.00, SCALE_SWEEP_r16all). Plus 40 unrelated random vectors
    // (pairwise cos ~ N(0, 1/64), never near 0.8).
    val rnd = new scala.util.Random(42)
    val dim = 64
    val base = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val cls = (1L to 60L).map { i =>
      (i, base.map(_ * (i + 1).toDouble).toSeq)
    }
    val other = (1L to 40L).map { i =>
      (100L + i, Array.fill(dim)(rnd.nextDouble() * 2 - 1).toSeq)
    }
    val emb = (cls ++ other).toDF("vec_id", "embedding").cache()

    def pairs(starCap: Option[Int]) =
      Neutral.cosineNearDupPairs(emb, 0.8, starCap = starCap)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // an unengaged cap must be bit-identical to uncapped
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(pairs(Some(10000))) == rows(pairs(None)),
      "an unengaged star cap must be bit-identical to uncapped")

    val full = pairs(None).cache()
    val star = pairs(Some(8)).cache()
    val nFull = full.count(); val nStar = star.count()
    assert(nFull >= 60L * 59 / 2,
      s"the planted class must fully enumerate uncapped, got $nFull")
    assert(nStar < nFull / 5,
      s"star pairs must be far below full enumeration ($nStar vs $nFull)")
    assert(comps(star) == comps(full),
      "cosine star components must equal full-enumeration components on " +
        "a duplicate-class sign bucket")
    // the capped DEGREE output keeps the has-near-dup signal: exactly
    // the vectors with a near-dup under full enumeration have n_near > 0
    def flagged(starCap: Option[Int]): Set[Long] =
      Neutral.cosineNearDupCounts(emb, 0.8, starCap = starCap)
        .filter(col("n_near") > 0).select("vec_id").collect()
        .map(_.getLong(0)).toSet
    assert(flagged(Some(8)) == flagged(None),
      "star-capped cosine degree must preserve the has-near-dup flag set")
    // the threshold curve under the cap sees the star candidate stream:
    // n_docs at the verify floor must still cover the whole class
    val curve = Neutral.cosineThresholdCurve(emb, Seq(0.8),
        starCap = Some(8)).collect()
    assert(curve.head.getAs[Long]("n_docs") == 60L,
      "capped curve must still see every member of the planted class")
    emb.unpersist(); full.unpersist(); star.unpersist()
  }
}
