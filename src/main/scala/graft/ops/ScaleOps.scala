package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique operators (SCALING.md): explicit skew salting and
  * bucketed co-located joins. AQE handles moderate skew automatically;
  * these are the deliberate tools for the pathological cases a 100 TB
  * pipeline hits (one hot user, one hot join key) and for amortizing the
  * shuffle of a repeatedly-joined fact table.
  */
object ScaleOps {

  /** Scale-adaptive fan-out for heavy per-row compute downstream of an
    * under-split scan (guide §2.5 "input skew: one unsplittable file —
    * repartition immediately after the read"): the bench corpora are
    * single-row-group parquet files, so Spark's scan gives them ONE task
    * regardless of split settings, and every compute-heavy map stage
    * (minhash signatures, winnow fingerprints, codec decode, regex
    * stacks) serialized on one core — measured 9.5 s of 1-task executor
    * time inside a 3.0 s-wall winnow query at sf0.1/32 cores. A
    * deterministic hash repartition on the id column spreads the compute;
    * the exchange moves only the rows the caller selected (text/ids, KB
    * to MB here).
    *
    * ONE width rule for every caller: `min(8, defaultParallelism)`
    * partitions. r17 measured the full 32-way fan NEGATIVE on sigTable
    * (every downstream stage pays 32 task launches through long chains);
    * 8 was the measured sweet spot there and every later fan site adopted
    * it. The cap only binds above 8 cores. SCALE-ADAPTIVE: when the
    * source already holds at least one scan split per fan partition (any
    * real multi-split table — a 100 TB corpus has ~10⁵ splits), this is
    * the identity, so no cluster-scale query pays a gratuitous
    * full-corpus shuffle. */
  def fanOutCompute(df: DataFrame, byCol: String = "doc_id"): DataFrame = {
    val tgt = math.min(8, df.sparkSession.sparkContext.defaultParallelism)
    // size probe from the ANALYZED plan's statistics (footer-based for
    // scans — no physical planning, no jobs; an .rdd.getNumPartitions
    // probe measured ~0.5 s of driver planning per call). A source under
    // one scan-split-per-core of bytes cannot fan out on its own; above
    // that, Spark's own split sizing already parallelizes and the
    // repartition would be a gratuitous corpus shuffle — identity there.
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    // suffix-aware parse ("128m" is 128 MB, not 128 bytes — a literal
    // digit-strip made the fan-out silently an identity under suffixed
    // configs)
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    if (bytes >= BigInt(tgt) * maxSplit) df
    else if (df.columns.contains(byCol)) df.repartition(tgt, col(byCol))
    else df.repartition(tgt) // generic caller without the id column
  }

  /** Salted equi-join for a skewed LEFT side: the left side deterministically
    * salts each row by hashing `saltBy` into `salts` buckets; the right side
    * replicates `salts`× via explode. One hot key now spreads over `salts`
    * reducers. Deterministic (hash salt, not rand()) so results are
    * reproducible and oracle-comparable. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltBy: Column, salts: Int): DataFrame = {
    val saltedLeft = left.withColumn("__salt", pmod(xxhash64(saltBy), lit(salts)))
    val saltedRight = right
      .withColumn("__salt", explode(expr(s"sequence(0, ${salts - 1})")))
      .withColumn("__salt", col("__salt").cast("long"))
    saltedLeft.join(saltedRight, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-stage (salted) aggregation for skewed group keys: partial
    * aggregation per (key, salt) then final merge per key. For algebraic
    * aggregates Spark's partial aggregation already does this implicitly;
    * the explicit form is for holistic aggregates (exact distinct via
    * two-stage set union) where the partial step isn't automatic. */
  def saltedDistinctCount(df: DataFrame, key: String, distinctCol: String,
      saltBy: Column, salts: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltBy), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(collect_set(col(distinctCol)).as("__partial"))
      .groupBy(col(key))
      .agg(size(array_distinct(flatten(collect_list(col("__partial")))))
        .cast("long").as(s"n_distinct_$distinctCol"))

  /** Bucketed, sorted table write: subsequent equi-joins between tables
    * bucketed on the same key plan WITHOUT a shuffle (verified in
    * ScaleSpec). The 100 TB idiom for fact tables joined every run. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table) // managed table under spark.sql.warehouse.dir

  /** Join two same-key bucketed tables — bucket-local sort-merge join,
    * zero Exchange. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key))

  /** Small-file compaction — the lakehouse maintenance op for the
    * append-heavy tables every streaming/ingest loop here produces: a
    * sink that appends one file set per micro-batch accretes thousands
    * of KB-sized files, and at 100 TB the scan's task-scheduling and
    * footer-read overhead (one open + footer parse per file) comes to
    * dominate actual IO. Rewrites `srcDir` into `dstDir` as
    * ceil(rows/targetRowsPerFile) files, RANGE-PARTITIONED AND SORTED
    * on `sortCols` — so the compaction pass doubles as a layout pass:
    * the rewritten footers carry narrow non-overlapping min/max ranges
    * on the sort key, and range predicates on it prune like the
    * word-sorted postings index. One shuffle (the range partitioner),
    * data byte-identical (ScaleSpec asserts aggregate equality and the
    * file-count bound). Writes to a NEW directory: parquet cannot
    * overwrite a directory mid-read, and generation-swap (write new,
    * flip the reader's path, drop old) is the crash-safe pattern a real
    * table format wraps in a metadata commit. */
  def compactTo(spark: SparkSession, srcDir: String, dstDir: String,
      targetRowsPerFile: Long, sortCols: Seq[String]): Long = {
    require(sortCols.nonEmpty, "compaction needs a sort key for the layout")
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val src = spark.read.parquet(srcDir)
    val n = src.count()
    val nFiles = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile)
    src.repartitionByRange(nFiles.toInt, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(dstDir)
    nFiles
  }

  /** Hive-style column-partitioned parquet write — the other table-layout
    * idiom next to bucketing: a predicate on the partition column becomes a
    * directory prune (PartitionFilters) before any file is opened, so a
    * one-day query over a years-deep 100 TB table reads one directory.
    * Verified in ScaleSpec (plan shows the filter under PartitionFilters,
    * not PushedFilters). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Heavy hitters: every value of `key` with frequency STRICTLY above
    * `support`·N — exactly, without ever shuffling the full key space.
    * Two passes:
    *  1. candidate generation with Spark's `freqItems` (the Karp/
    *     Misra-Gries one-pass summary behind `DataFrame.stat`): fixed
    *     O(1/support) memory per partition, merge-associative, and
    *     GUARANTEED to return a superset of every item with freq > s·N
    *     (false positives possible, false negatives not);
    *  2. exact recount of only the candidate keys — the groupBy shuffles
    *     just the rows matching ≤ 1/support keys, then the s·N threshold
    *     drops the false positives.
    * The superset guarantee makes the output provably EQUAL to the exact
    * `HAVING count(*) > s·N` answer, so the op is oracle-exact while the
    * expensive pass stays fixed-memory — this is also the skew detector
    * that feeds [[saltedJoin]]'s salt list at 100 TB. The candidate list
    * and row total are driver-side scalars (≤ 1/support items — model-
    * parameter-sized, the BPE-merge-table precedent), not data rows.
    * NULL keys form their own group (as in SQL's GROUP BY): they bypass
    * the candidate filter entirely — `isin` would null them out and
    * silently break the exact-equality contract — and are recounted
    * unconditionally, one group, no sketch needed.
    *
    * Superset-guarantee fine print: freqItems sizes its Misra-Gries map as
    * k = (1/support).toInt counters, and the summary only guarantees
    * coverage of keys with freq > N/k. For non-integral 1/support (e.g.
    * 0.003 → k=333, N/k > 0.003·N) a key in the gap (support·N, N/k] could
    * be silently dropped — a false NEGATIVE, breaking exactness. So the
    * candidate pass runs at the strictly tighter support
    * 1/(⌈1/support⌉+1), whose k = ⌈1/support⌉+1 gives N/k < support·N for
    * every support, restoring the superset guarantee; pass 2 keeps the
    * caller's true threshold. */
  def heavyHitterCandidates(df: DataFrame, key: String,
      support: Double): Seq[Any] = {
    require(support >= 1.0 / 9999 && support < 1.0,
      "support must be in [1/9999, 1) — the tightened candidate support " +
        "must stay above freqItems' documented 1e-4 floor")
    val tightened = 1.0 / (math.ceil(1.0 / support) + 1)
    df.stat.freqItems(Seq(key), tightened).head().getSeq[Any](0)
  }

  def heavyHitters(df: DataFrame, key: String, support: Double,
      precomputedCandidates: Option[Seq[Any]] = None): DataFrame = {
    require(support >= 1.0 / 9999 && support < 1.0,
      "support must be in [1/9999, 1) — see heavyHitterCandidates")
    val candidates = precomputedCandidates
      .getOrElse(heavyHitterCandidates(df, key, support))
    val total = df.count()
    df.filter(col(key).isin(candidates: _*) || col(key).isNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(support) * lit(total))
  }

  /** Z-order (Morton curve) layout: quantize two layout dimensions to
    * `bits`-bit grid cells against their global min/max, interleave the
    * bits into one key, and assign files by key prefix. Sorting a write by
    * z-key clusters BOTH dimensions into each file, so per-file min/max
    * stats prune multi-dimensional range predicates — the data-skipping
    * idiom single-column sorting can't give (a sort by x leaves y striped
    * across every file). Min/max come from a 1-row aggregate broadcast
    * (never a global window), the interleave is a literal `bits`·2-term
    * integer expression (codegen'd, map-only), and the file split is a key
    * prefix — no global sort is required for the STATS; the physical write
    * would range-partition by z exactly like any sorted write. */
  def zorderFileStats(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 8, fileBits: Int = 6): DataFrame = {
    require(bits >= 1 && bits <= 16, "bits must be in [1, 16]")
    require(fileBits >= 1 && fileBits <= 2 * bits, "fileBits in [1, 2*bits]")
    val bounds = df.agg(
      min(col(xCol)).cast("double").as("__xmin"),
      max(col(xCol)).cast("double").as("__xmax"),
      min(col(yCol)).cast("double").as("__ymin"),
      max(col(yCol)).cast("double").as("__ymax"))
    val cells = (1 << bits).toDouble
    def quant(c: Column, lo: Column, hi: Column): Column =
      least(lit((1 << bits) - 1), greatest(lit(0),
        floor((c.cast("double") - lo) / (hi - lo + lit(1e-9)) * cells)
          .cast("long")))
    val withQ = df.crossJoin(broadcast(bounds))
      .withColumn("__qx", quant(col(xCol), col("__xmin"), col("__xmax")))
      .withColumn("__qy", quant(col(yCol), col("__ymin"), col("__ymax")))
    val z = (0 until bits).map { i =>
      shiftleft(shiftright(col("__qx"), i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(col("__qy"), i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
    withQ
      .withColumn("zval", z.cast("long"))
      .withColumn("zfile", shiftright(col("zval"), 2 * bits - fileBits))
      .groupBy(col("zfile"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(xCol)).as("x_min"), max(col(xCol)).as("x_max"),
        min(col(yCol)).as("y_min"), max(col(yCol)).as("y_max"))
  }

  /** (overlapping, total) file counts for an axis-aligned box covering the
    * middle `boxFrac` of each dimension's global range, against
    * [[zorderFileStats]] output — the data-skipping measurement shared by
    * ScaleSpec and ScaleEvidence. Driver-side on ≤ 2^fileBits stat rows
    * (the file-stats table a reader's pruning pass scans anyway). */
  def zorderBoxOverlap(stats: DataFrame, boxFrac: Double = 0.1): (Int, Int) = {
    val rs = stats.select(
        col("x_min").cast("double"), col("x_max").cast("double"),
        col("y_min").cast("double"), col("y_max").cast("double"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val (xLo, xHi) = (rs.map(_._1).min, rs.map(_._2).max)
    val (yLo, yHi) = (rs.map(_._3).min, rs.map(_._4).max)
    val (lo, hi) = ((1 - boxFrac) / 2, (1 + boxFrac) / 2)
    val (bx1, bx2) = (xLo + lo * (xHi - xLo), xLo + hi * (xHi - xLo))
    val (by1, by2) = (yLo + lo * (yHi - yLo), yLo + hi * (yHi - yLo))
    val n = rs.count { case (fx1, fx2, fy1, fy2) =>
      fx1 <= bx2 && fx2 >= bx1 && fy1 <= by2 && fy2 >= by1 }
    (n, rs.length)
  }

  /** KMV (k-minimum-values) distinct-count sketch per group: hash each
    * value to a 32-bit md5 prefix, keep the k smallest distinct hashes
    * per group, estimate distinct = (k−1)·2³² / kth-minimum (the
    * uniform-order-statistics estimator, CV ≈ 1/√(k−2)); a group with
    * fewer than k hashes reports its exact hash count. Scale shape: the
    * per-group k-minimum is a bottom-k window, which Spark plans as a
    * map-side-pruned WindowGroupLimit (the domain-cap idiom) — each
    * partition forwards at most k rows per group, so the shuffle is
    * O(groups·k) regardless of distinct-value volume, the same win HLL
    * buys. Unlike HLL, the md5 hash makes the sketch DETERMINISTIC and
    * engine-neutral: the estimate itself hash-matches a DuckDB twin,
    * so the driver gate verifies the sketch's value, not just a
    * tolerance boolean. */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 3, "KMV needs k >= 3")
    val h = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol),
        conv(substring(md5(col(valueCol).cast("string")), 1, 8), 16, 10)
          .cast("long").as("hv"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("hv")
    h.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(groupCol)
      .agg(max(col("hv")).as("__hk"), count(lit(1)).as("__nh"))
      .select(col(groupCol),
        when(col("__nh") >= k,
          lit((k - 1) * 4294967296.0) / col("__hk"))
          .otherwise(col("__nh").cast("double")).as("kmv_est"))
  }

  /** Distinct 32-bit md5-prefix hashes of word-`shingleN`-gram shingles
    * per source — the hashed set representation the exact and sketched
    * overlap paths share (same md5-prefix family as [[kmvDistinct]] and
    * the MinHash oracle chain, so every hash is SQL-reproducible). */
  private[graft] def sourceShingleHashes(docs: DataFrame, srcCol: String,
      textCol: String, shingleN: Int): DataFrame =
    // compiled kernel: shingle + md5-prefix in one pass, longs only — the
    // composable form below (Ref, ExprSpec-pinned) materialized every
    // shingle string and round-tripped each hash through 32 hex chars
    docs.select(col(srcCol).as("source"),
        explode(graft.expr.Md5ShingleHashes.md5ShingleHashes(col(textCol),
          shingleN)).as("hv"))
      .distinct()

  /** Composable reference form of [[sourceShingleHashes]] (ExprSpec pins
    * the kernel's explode+distinct result against this). */
  private[graft] def sourceShingleHashesRef(docs: DataFrame, srcCol: String,
      textCol: String, shingleN: Int): DataFrame =
    docs.select(col(srcCol).as("source"),
        explode(graft.expr.ShingleStrings.shingleStrings(col(textCol),
          shingleN)).as("g"))
      .select(col("source"),
        conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long").as("hv"))
      .distinct()

  /** KMV SET-OPERATION sketch: pairwise cross-source overlap estimated
    * from per-source k-minimum-value signatures over shingle hashes —
    * "how much of source B's content is already in source A" as
    * Jaccard / union / intersection CARDINALITIES, the sketched twin of
    * [[Neutral.crossSourceOverlap]]'s verified near-dup pair matrix.
    *
    * Estimator (Beyer et al., the KMV θ-sketch construction): the union
    * sketch of a pair is the k smallest hashes of K_A ∪ K_B (computable
    * from the two signatures ALONE — the merge property); the kth minimum
    * estimates |A ∪ B| exactly as in [[kmvDistinct]]; the fraction of
    * union-sketch members present in BOTH signatures is an unbiased
    * Jaccard estimate (each of the k uniform union minima lies in A ∩ B
    * with probability J, CV ≈ √((1−J)/(J·k))); intersection = J̃ · |A∪B|̃.
    *
    * Scale shape: the signature build is the [[kmvDistinct]] bottom-k
    * window — a map-side-pruned WindowGroupLimit, O(sources·k) shuffle
    * regardless of corpus size — and every pairwise step runs on
    * signatures only (sources²·k rows, broadcastable), NEVER on the full
    * shingle sets: at 100 TB the signatures are the only thing that moves.
    * `withExact = true` (the driver-gate form) additionally computes the
    * exact distinct-hash overlap for tolerance verification — as a
    * co-occurrence equi self-join on the hash plus per-source totals
    * (inclusion–exclusion), so even the exact side is linear in the hash
    * sets, never a per-pair replication; it exists for the gate, not the
    * serve path. Deterministic throughout (md5 hashing, integer
    * counters), so the ESTIMATES hash-match the DuckDB twin.
    *
    * BOUNDED-SOURCE CONTRACT: the pairwise output (and the pair build) is
    * quadratic in the number of distinct sources — the intended shape is a
    * curated source TAXONOMY (crawl snapshots, corpus releases, licensed
    * collections: tens to hundreds), never a free-form key like the
    * registered domain (millions ⇒ 10^12 pairs). The guard makes the
    * contract explicit: the op counts distinct sources (one cheap agg over
    * the source column) and fails fast above `maxSources` rather than
    * launching a quadratic job. For heavy-tailed source columns pass
    * `topSources = M` to restrict the matrix to the M highest-volume
    * sources first (a broadcast semi join — the tail never reaches the
    * shingle scan). */
  def kmvSourceOverlap(docs: DataFrame, k: Int = 128, shingleN: Int = 3,
      srcCol: String = "source", textCol: String = "text",
      withExact: Boolean = true, maxSources: Int = 1024,
      topSources: Int = 0): DataFrame = {
    require(k >= 3, "KMV needs k >= 3")
    import org.apache.spark.sql.expressions.Window
    val base =
      if (topSources <= 0) docs
      else {
        val top = docs.groupBy(col(srcCol).as("source"))
          .agg(count(lit(1)).as("__n"))
          .orderBy(col("__n").desc, col("source"))
          .limit(topSources)
          .select(col("source").as(srcCol))
        docs.join(broadcast(top), Seq(srcCol), "left_semi")
      }
    // cached: the signature window, the pair expansion, and (gated form)
    // the exact side all fan out over the hashed sets; ledger-tracked so
    // a consumer can release it (CacheHygieneSpec contract)
    val hv = Pins.cache(
      sourceShingleHashes(fanOutCompute(base), srcCol, textCol, shingleN))
    val wSrc = Window.partitionBy("source").orderBy("hv")
    val sig = hv.withColumn("__rn", row_number().over(wSrc))
      .filter(col("__rn") <= k).drop("__rn")
    val srcs = base.select(col(srcCol).as("source")).distinct()
    val nSrc = srcs.count()
    require(nSrc <= maxSources,
      s"kmvSourceOverlap saw $nSrc distinct sources (> maxSources=" +
        s"$maxSources): the pair matrix is quadratic in sources and this " +
        "op's contract is a bounded source taxonomy — pre-aggregate the " +
        s"source column, raise maxSources deliberately, or pass " +
        "topSources=M to cap the matrix at the M highest-volume sources")
    // both sides ≤ maxSources rows by the guard above — broadcast the
    // fan like every other k-bounded cross in the repo
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(broadcast(srcs.select(col("source").as("source_b"))))
      .filter(col("source_a") < col("source_b"))
    def sided(hashes: DataFrame): DataFrame = {
      val a = pairs.join(hashes.withColumnRenamed("source", "source_a"),
          Seq("source_a"))
        .select(col("source_a"), col("source_b"), col("hv"),
          lit(1).as("ia"), lit(0).as("ib"))
      val b = pairs.join(hashes.withColumnRenamed("source", "source_b"),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"), col("hv"),
          lit(0).as("ia"), lit(1).as("ib"))
      a.unionByName(b)
        .groupBy("source_a", "source_b", "hv")
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
    }
    val wPair = Window.partitionBy("source_a", "source_b").orderBy("hv")
    val est = sided(sig)
      .withColumn("__rn", row_number().over(wPair))
      .filter(col("__rn") <= k)
      .groupBy("source_a", "source_b")
      .agg(max(col("hv")).as("__kth"), count(lit(1)).as("__nu"),
        sum(when(col("ia") === 1 && col("ib") === 1, 1).otherwise(0))
          .as("__nboth"))
      .select(col("source_a"), col("source_b"),
        when(col("__nu") >= k, lit((k - 1) * 4294967296.0) / col("__kth"))
          .otherwise(col("__nu").cast("double")).as("union_kmv"),
        (col("__nboth").cast("double") / col("__nu")).as("jaccard_kmv"))
      .withColumn("inter_kmv", col("jaccard_kmv") * col("union_kmv"))
    if (!withExact) est
    else {
      // exact side via CO-OCCURRENCE, not pair expansion: one equi
      // self-join on the hash emits a (source_a, source_b) row only where
      // a hash is genuinely shared (output ∝ true overlap, tiny at low J),
      // then |A ∪ B| = |A| + |B| − |A ∩ B| from the 1-row-per-source
      // totals — the full hash sets are scanned twice, never replicated
      // once per pair (a pairs×sets expansion is quadratic in sources)
      val totals = hv.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = hv.select(col("source").as("source_a"), col("hv"))
        .join(hv.select(col("source").as("source_b"), col("hv")), Seq("hv"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("__ni"))
      val exact = pairs
        .join(broadcast(totals.select(col("source").as("source_a"),
          col("n").as("__na"))), Seq("source_a"))
        .join(broadcast(totals.select(col("source").as("source_b"),
          col("n").as("__nb"))), Seq("source_b"))
        .join(inter, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          (col("__na") + col("__nb")
            - coalesce(col("__ni"), lit(0L))).as("n_union"),
          coalesce(col("__ni"), lit(0L)).as("n_inter"))
        .withColumn("jaccard_exact",
          col("n_inter").cast("double") / col("n_union"))
      exact.join(est, Seq("source_a", "source_b"))
    }
  }

  /** DuckDB twin of [[kmvSourceOverlap]] (withExact form) over the
    * `documents` relation. */
  def kmvSourceOverlapOracleSql(k: Int = 128, shingleN: Int = 3): String = {
    val gram = (0 until shingleN).map(o => s"w[i+$o]").mkString(" || ' ' || ")
    s"""WITH tok AS (
       |  SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS w
       |  FROM documents
       |),
       |shn AS (
       |  SELECT source,
       |         list_distinct(list_transform(
       |           generate_series(1, len(w) - ${shingleN - 1}),
       |           i -> $gram)) AS s
       |  FROM tok WHERE len(w) >= $shingleN
       |),
       |g AS (
       |  SELECT DISTINCT source,
       |         CAST('0x' || substring(md5(gr), 1, 8) AS BIGINT) AS hv
       |  FROM (SELECT source, unnest(s) AS gr FROM shn) q
       |),
       |sig AS (
       |  SELECT source, hv FROM (
       |    SELECT source, hv,
       |           row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
       |    FROM g) r WHERE rn <= $k
       |),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b
       |  FROM srcs a JOIN srcs b ON a.source < b.source
       |),
       |su AS (
       |  SELECT source_a, source_b, hv, max(ia) AS ia, max(ib) AS ib FROM (
       |    SELECT p.source_a, p.source_b, s.hv, 1 AS ia, 0 AS ib
       |    FROM pairs p JOIN sig s ON s.source = p.source_a
       |    UNION ALL
       |    SELECT p.source_a, p.source_b, s.hv, 0, 1
       |    FROM pairs p JOIN sig s ON s.source = p.source_b
       |  ) u GROUP BY source_a, source_b, hv
       |),
       |ku AS (
       |  SELECT * FROM (
       |    SELECT source_a, source_b, hv, ia, ib,
       |           row_number() OVER (PARTITION BY source_a, source_b
       |                              ORDER BY hv) AS rn
       |    FROM su) r WHERE rn <= $k
       |),
       |est AS (
       |  SELECT source_a, source_b,
       |         CASE WHEN count(*) >= $k
       |              THEN ${(k - 1).toDouble} * 4294967296.0 / max(hv)
       |              ELSE CAST(count(*) AS DOUBLE) END AS union_kmv,
       |         CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
       |              AS DOUBLE) / count(*) AS jaccard_kmv
       |  FROM ku GROUP BY source_a, source_b
       |),
       |eu AS (
       |  SELECT source_a, source_b, hv, max(ia) AS ia, max(ib) AS ib FROM (
       |    SELECT p.source_a, p.source_b, g.hv, 1 AS ia, 0 AS ib
       |    FROM pairs p JOIN g ON g.source = p.source_a
       |    UNION ALL
       |    SELECT p.source_a, p.source_b, g.hv, 0, 1
       |    FROM pairs p JOIN g ON g.source = p.source_b
       |  ) u GROUP BY source_a, source_b, hv
       |),
       |ex AS (
       |  SELECT source_a, source_b,
       |         CAST(count(*) AS BIGINT) AS n_union,
       |         CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_inter
       |  FROM eu GROUP BY source_a, source_b
       |)
       |SELECT ex.source_a, ex.source_b, ex.n_union, ex.n_inter,
       |       CAST(ex.n_inter AS DOUBLE) / ex.n_union AS jaccard_exact,
       |       est.union_kmv, est.jaccard_kmv,
       |       est.jaccard_kmv * est.union_kmv AS inter_kmv,
       |       true AS within_tol
       |FROM ex JOIN est USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin
  }

  // ------------------------------------------------------ HLL sketch cube

  /** Pre-aggregated HLL sketch cube: one DataSketches HLL sketch per
    * (day, group) persisted as a binary column — the sketch-rollup table
    * a warehouse keeps so "distinct users over ANY date range" is
    * answered by unioning a handful of fixed-size (~1.5 KB) sketches
    * instead of rescanning the event log. Distinct counts are not
    * additive, so a plain daily-count rollup cannot answer range
    * queries; sketch union is exactly the algebra that makes the rollup
    * composable. The cube is days × groups rows regardless of event
    * volume; appending a new day's sketches is a batch-only scan
    * ([[hllCubeAppend]] — [[hllCubeRangeDistinct]] union-aggs multiple rows
    * per (day, group) transparently, so appends never rewrite). The
    * cube is LAID OUT day-partitioned (Hive-style directories), so a
    * range serve reads only the covered days' files — static partition
    * pruning, pinned in PlanSpec. */
  def hllCubeBuild(events: DataFrame, dir: String,
      groupCol: String = "event_type", valueCol: String = "user_id",
      tsCol: String = "ts"): Unit =
    Models.save(events.sparkSession, dir)(_.write("cube",
      hllCubePartial(events, groupCol, valueCol, tsCol), "day"))

  /** One batch's cube rows (the table [[hllCubeBuild]] commits and
    * [[hllCubeAppend]] adds to). */
  def hllCubePartial(events: DataFrame, groupCol: String = "event_type",
      valueCol: String = "user_id", tsCol: String = "ts"): DataFrame =
    events.filter(col(valueCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("day"), col(groupCol))
      .agg(hll_sketch_agg(col(valueCol)).as("sk"))

  def hllCubeAppend(batch: DataFrame, dir: String,
      groupCol: String = "event_type", valueCol: String = "user_id",
      tsCol: String = "ts"): Unit =
    Models.append(batch.sparkSession, dir)(_.write("cube",
      hllCubePartial(batch, groupCol, valueCol, tsCol)))

  /** Range-distinct from the cube: union the covered days' sketches per
    * group — reads days × groups fixed-size rows, never the event log.
    * Day-partition pruning applies when the cube is saved partitioned. */
  def hllCubeRangeDistinct(spark: SparkSession, dir: String,
      fromDay: String, toDay: String,
      groupCol: String = "event_type"): DataFrame =
    Models.load(spark, dir, "cube")
      .filter(col("day") >= lit(fromDay) && col("day") <= lit(toDay))
      .groupBy(groupCol)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_cnt"))

  /** Bloom hash count for [[bloomJoinPruned]]. */
  val BloomJoinK = 4

  private def bloomJoinPos(key: Column, j: Int, mBits: Int): Column =
    conv(substring(md5(concat(lit(s"bjoin:$j:"), key.cast("string"))), 1, 8),
      16, 10).cast("long") % mBits

  /** Bloom-filter join pruning — the runtime-filter technique for a big
    * fact ⋈ selective-dim join where the DIM IS TOO WIDE TO BROADCAST
    * but its key set's Bloom fingerprint is tiny: build the distinct
    * occupied positions of the dim keys (≤ min(k·|dim|, mBits) rows of
    * one long — broadcastable at any dim width), probe each fact row's k
    * positions via k sequential BROADCAST LEFT-SEMI joins (each map-only,
    * zero shuffle), and only then run the exact shuffle join over the
    * survivors. No false negatives (a true match hits all k positions),
    * and the exact join removes the false positives — so the result is
    * EXACTLY the plain join's, but the shuffle carries only plausible
    * matches: with a 1-in-37 selective dim, ~97% of the fact's shuffle
    * volume never leaves the map side. This is the explicit form of
    * Spark's AQE runtime bloom filter, usable where AQE's heuristics
    * don't fire (non-equi residuals, pre-planned pipelines). */
  def bloomJoinPruned(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, mBits: Int = 1 << 16): DataFrame = {
    val pruned = bloomPrune(big, small, bigKey, smallKey, mBits)
    pruned.join(small, pruned(bigKey) === small(smallKey))
  }

  /** The map-side half of [[bloomJoinPruned]]: fact rows surviving the k
    * broadcast semi probes. Public so the prune's measured selectivity
    * (true-match fraction + Bloom false positives) is testable on its
    * own — at a 1-in-37 dim it passes ~2.8% of rows. */
  def bloomPrune(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, mBits: Int = 1 << 16): DataFrame = {
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    val occupied = small
      .select(explode(array((0 until BloomJoinK)
        .map(j => bloomJoinPos(col(smallKey), j, mBits)): _*)).as("pos"))
      .distinct()
    (0 until BloomJoinK).foldLeft(big) { (acc, j) =>
      acc.join(broadcast(occupied.select(col("pos").as(s"__p$j"))),
        bloomJoinPos(col(bigKey), j, mBits) === col(s"__p$j"), "left_semi")
    }
  }

  // ---------------------------------------------------------------------
  // Distributed prefix aggregation — the scale-safe form of a GLOBAL
  // running sum/max. `Window.orderBy(t)` with no partitionBy plans as ONE
  // partition holding the whole input (the documented q_w3 hazard); the
  // two-pass form never materializes a data-sized single partition:
  //   pass 1: a window PARTITIONED by a caller-supplied bucket (any
  //           expression monotone non-decreasing along the global order,
  //           e.g. to_date(ts)) computes the running agg inside each
  //           bucket — all buckets in parallel;
  //   pass 2: the per-bucket totals (one row per bucket — bounded by the
  //           bucket domain, not the data) are prefix-combined on a tiny
  //           single partition and BROADCAST back as per-bucket offsets.
  // combine(local running, offset of strictly-preceding buckets) is then
  // exact because the order never interleaves across buckets. The order
  // must be total (tie-break with a unique column) for per-row prefix
  // values to be well-defined.
  // ---------------------------------------------------------------------

  private def prefixAgg(df: DataFrame, bucket: Column,
      order: Seq[Column], value: Column, out: String, strict: Boolean,
      aggFn: Column => Column, combine: (Column, Column) => Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = df.withColumn("__bkt", bucket)
    val localEnd = if (strict) -1L else Window.currentRow
    val wLocal = Window.partitionBy("__bkt").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, localEnd)
    val local = b.withColumn("__run", aggFn(value).over(wLocal))
    // B bucket rows on one partition — bounded, never the data itself
    val wOff = Window.orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1L)
    val offsets = b.groupBy("__bkt").agg(aggFn(value).as("__tot"))
      .withColumn("__off", aggFn(col("__tot")).over(wOff))
      .select("__bkt", "__off")
    local.join(broadcast(offsets), "__bkt")
      .withColumn(out, combine(col("__run"), col("__off")))
      .drop("__bkt", "__run", "__off", "__tot")
  }

  /** Global running sum of `value` along `order` (total order required),
    * bucket-parallel (see above). Adds column `out`; long-typed input
    * recommended (sum widens int → long on both engines). */
  def prefixSum(df: DataFrame, bucket: Column, order: Seq[Column],
      value: Column, out: String): DataFrame =
    prefixAgg(df, bucket, order, value, out, strict = false,
      c => sum(c), (run, off) => run + coalesce(off, lit(0L)))

  /** Global running max of `value` along `order`. With `strict = true`
    * the frame excludes the current row (max over STRICTLY preceding
    * rows — null for the global first row), the shape skyline/record-
    * tracking scans need. */
  def prefixMax(df: DataFrame, bucket: Column, order: Seq[Column],
      value: Column, out: String, strict: Boolean = false): DataFrame =
    prefixAgg(df, bucket, order, value, out, strict,
      c => max(c),
      (run, off) => when(run.isNull, off).otherwise(
        when(off.isNull, run).otherwise(greatest(run, off))))

  /** Sweep-line maximum concurrency per day: each interval [start, end)
    * contributes a +1 point at start and a −1 at end; the global running
    * sum of deltas ordered by (time, delta) — ends sort before starts at
    * equal time, making the interval half-open — is the number of live
    * intervals at each instant, and its per-day max is the answer. The
    * running sum is a [[prefixSum]] bucketed by day, so no single
    * partition ever holds the point set: the classic "max concurrent
    * sessions" query at 100 TB without a global-order window. */
  def concurrencySweep(intervals: DataFrame, startCol: String,
      endCol: String): DataFrame = {
    val pts = intervals.select(col(startCol).as("t"), lit(1).as("d"))
      .unionByName(intervals.select(col(endCol).as("t"), lit(-1).as("d")))
    prefixSum(pts, to_date(col("t")), Seq(col("t"), col("d")),
        col("d").cast("long"), "c")
      .groupBy(to_date(col("t")).as("day"))
      .agg(max(col("c")).as("max_concurrent"))
  }

  /** Big-big point-in-interval join without a cross product: each range
    * [lo, hi] explodes to the fixed-width buckets it overlaps (cost ∝
    * width/`bucketWidth` rows, not |points|·|ranges|), each point joins
    * its single bucket — a plain shuffled EQUI join Catalyst can plan —
    * and the residual lo ≤ p ≤ hi filter runs inside the matched bucket.
    * A qualifying pair meets exactly once (the point's own bucket), so
    * no dedup pass. The scale-safe form of `ON p BETWEEN lo AND hi` when
    * NEITHER side broadcasts; pick `bucketWidth` near the typical range
    * width so replication stays O(1) per range. */
  def intervalBucketJoin(points: DataFrame, pointCol: String,
      ranges: DataFrame, loCol: String, hiCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val w = lit(bucketWidth)
    val r = ranges.withColumn("__bkt",
      explode(sequence(floor(col(loCol) / w).cast("long"),
        floor(col(hiCol) / w).cast("long"))))
    points.withColumn("__bkt", floor(col(pointCol) / w).cast("long"))
      .join(r, "__bkt")
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bkt")
  }

  /** 3-D Pareto skyline (all dims maximized) without a cartesian — the
    * 2-D `prefixMax` algebra does not generalize past two dims, so this
    * is the dominance-GRID form:
    *
    *  1. GRID PRUNE (drops ~everything): bucket (x, y) into fixed-width
    *     cells (FIXED absolute widths, the q_j11 lesson — a relative
    *     width makes pair volume grow with sf²). For each cell compute
    *     max z, densify the grid (a `spark.range` cross-index, no join —
    *     so the windows below compose over EMPTY cells too), and take the
    *     2-D strict suffix max S(i,j) = max{ M(i',j') : i'>i, j'>j } as
    *     two windows over the |grid|-row table (grid is width-bounded,
    *     never data-sized). Any point in a strictly higher cell has
    *     STRICTLY larger x and y, so a point with S(cell) ≥ z is
    *     dominated and is dropped by one broadcast equi join. Soundness
    *     of pruning candidates' dominators too: if q dominates p and q is
    *     itself grid-pruned by some r, then r dominates p and sits in a
    *     strictly higher cell than p — so p was already pruned.
    *     Contrapositive: a SURVIVOR's dominators all survive, so the
    *     exact phase may run candidates-vs-candidates only.
    *  2. EXACT among candidates: a dominator q (cell i_q) can dominate
    *     points in any i-cell ≤ i_q, so explode q over its covering
    *     cells 0..i_q — the intervalBucketJoin equi-key-restoration
    *     trick; fan ≤ grid width over the CANDIDATE set, not the corpus
    *     — and anti-join candidates on the restored equi key with the
    *     full dominance residual (≥ on all dims, > on at least one). A
    *     plain shuffled equi join: no CartesianProduct, no
    *     BroadcastNestedLoopJoin (PlanSpec-pinned).
    *
    * Expects columns (idCol, x, y, z); returns the skyline rows.
    * Duplicate coordinate triples survive together (neither strictly
    * dominates), matching the NOT-EXISTS oracle. */
  def skyline3d(points: DataFrame, idCol: String, wx: Double,
      wy: Double): DataFrame = {
    require(wx > 0 && wy > 0, "cell widths must be positive")
    val spark = points.sparkSession
    import org.apache.spark.sql.expressions.Window
    // raw cell ids in LONG (an int cast of floor(x/wx) silently wraps for
    // |x/wx| > 2^31), then NORMALIZED by the min cell so the dense grid's
    // cell-0 origin and the exact phase's 0..__qci covering-cell explode
    // are correct for negative coordinates too — without this, a
    // candidate in a negative cell never met its dominators (ADVICE r11)
    val raw = points
      .withColumn("__cil", floor(col("x") / wx).cast("long"))
      .withColumn("__cjl", floor(col("y") / wy).cast("long"))
    // 1-row collect: four longs (the grid extent) — never data-sized
    val ext = raw.agg(min(col("__cil")), min(col("__cjl")),
      max(col("__cil")), max(col("__cjl"))).head()
    if (ext.isNullAt(0)) return points.limit(0) // empty input
    val (ci0, cj0) = (ext.getLong(0), ext.getLong(1))
    val (giL, gjL) = (ext.getLong(2) - ci0 + 1, ext.getLong(3) - cj0 + 1)
    // the dense grid is extent/width-sized and broadcast below: fail fast
    // when the chosen widths make it unboundedly large relative to the
    // data extent instead of OOMing the driver (per-dim check first so
    // the product can't overflow)
    require(giL <= 4000000L && gjL <= 4000000L && giL * gjL <= 4000000L,
      s"dominance grid ${giL}x${gjL} exceeds 4M cells — widen wx/wy " +
        "toward the data extent")
    val (gi, gj) = (giL.toInt, gjL.toInt)
    val pts = raw
      .withColumn("__ci", (col("__cil") - lit(ci0)).cast("int"))
      .withColumn("__cj", (col("__cjl") - lit(cj0)).cast("int"))
      .drop("__cil", "__cjl")
    val grid = pts.groupBy("__ci", "__cj").agg(max(col("z")).as("__mz"))
    val dense = spark.range(gi.toLong * gj)
      .select((col("id") / gj).cast("int").as("__ci"),
        (col("id") % gj).cast("int").as("__cj"))
      .join(grid, Seq("__ci", "__cj"), "left")
    // T(i,j) = max over j' > j of M(i,j'); S(i,j) = max over i' > i of
    // T(i',j) — together the strict 2-D suffix max, two windows over the
    // dense width-bounded grid
    val wT = Window.partitionBy("__ci").orderBy(desc("__cj"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wS = Window.partitionBy("__cj").orderBy(desc("__ci"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sGrid = dense
      .withColumn("__t", max(col("__mz")).over(wT))
      .withColumn("__s", max(col("__t")).over(wS))
      .select(col("__ci"), col("__cj"), col("__s"))
    val cand = pts.join(broadcast(sGrid), Seq("__ci", "__cj"), "left")
      .filter(col("__s").isNull || col("__s") < col("z"))
      .drop("__s", "__cj")
    val doms = cand.select(col("x").as("__qx"), col("y").as("__qy"),
        col("z").as("__qz"), col("__ci").as("__qci"))
      .withColumn("__ci", explode(sequence(lit(0), col("__qci"))))
    cand.alias("p").join(doms.alias("q"),
        col("p.__ci") === col("q.__ci") &&
          col("q.__qx") >= col("p.x") && col("q.__qy") >= col("p.y") &&
          col("q.__qz") >= col("p.z") &&
          (col("q.__qx") > col("p.x") || col("q.__qy") > col("p.y") ||
            col("q.__qz") > col("p.z")),
        "left_anti")
      .drop("__ci")
  }
}
