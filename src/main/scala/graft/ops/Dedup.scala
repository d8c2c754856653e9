package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.expr.ArrayExprs.jaccardSorted

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB contract):
  *  - Exact dedup groups by a 256-bit content digest, so the shuffle carries
  *    32 bytes + id per row instead of full document text.
  *  - Near-dup candidate generation (MinHash/LSH, SimHash, embedding
  *    LSH) has one implementation each, the md5-seeded pipelines in
  *    [[Neutral]] that the DuckDB oracle reproduces; [[dedupCorpus]] runs
  *    the MinHash one. The only shuffle there is on (band, bucket) —
  *    candidate pairs are generated per bucket, never all-pairs.
  *  - The n-gram pipeline blocks on each doc's rarest shingles
  *    (PPJoin-style prefix filter), so candidate volume follows near-dup
  *    density rather than corpus size.
  *  - Shingle hashing and pair scoring run in custom Catalyst expressions
  *    (graft.expr.ShingleHashes/ShingleStrings/JaccardSorted) — compiled
  *    single-pass loops where the built-in lambda forms pay interpreted
  *    per-element overhead; still plain Columns to Catalyst, never UDFs.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct content digest with the
    * survivor id (min) and the number of copies. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Lower-cased whitespace word array. */
  def words(textCol: String): Column = split(lower(trim(col(textCol))), "\\s+")

  /** Word n-gram shingle array (distinct), built with array lambdas —
    * no explode, no UDF. Indexed concat (w[i] is 0-based in Spark SQL)
    * rather than slice+array_join: ~3x cheaper in the interpreted
    * higher-order-function path. */
  def shingleExpr(n: Int): String = {
    val parts = (0 until n).map(k => s"w[i + $k]").mkString(", ")
    // guard: sequence(0, negative) steps backwards in Spark, so short texts
    // must short-circuit to an empty array
    s"CASE WHEN size(w) < $n THEN array() " +
      s"ELSE array_distinct(transform(sequence(0, size(w) - $n), i -> concat_ws(' ', $parts))) END"
  }

  /** docs + `shingles` column of word n-grams. */
  def withShingles(docs: DataFrame, textCol: String = "text", n: Int = 3): DataFrame =
    docs.withColumn("w", words(textCol))
      .withColumn("shingles", expr(shingleExpr(n)))
      .drop("w")

  /** (doc_id, hs): distinct shingles hashed to xxhash64 longs, cached —
    * the n-gram pipeline's pair-scoring table ([[ngramScoredPairs]]
    * re-attaches it to both sides of every candidate pair, so it is read
    * twice). Long arrays make the cache, the shuffles and the merge-walk
    * Jaccard kernel several times cheaper than string shingles; Jaccard on
    * 64-bit hashes equals Jaccard on shingles up to negligible collision
    * probability. */
  private def shingleTable(docs: DataFrame, textCol: String, n: Int): DataFrame =
    // NOT fanned (r18): the Neutral.sigTable 8-way pre-cache fan was a
    // clear win there, but the same fan HERE measured 1.47 -> 2.06 s (on
    // q_ns_dedup_corpus, which then read this table) — consumers join the
    // long hash arrays directly, and the extra shuffle outweighs the
    // parallelized kernel.
    docs
      .select(col("doc_id"),
        graft.expr.ShingleHashes.shingleHashes(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)
      .cache()
      .transform(Pins.track)

  /** MinHash-LSH candidate pairs (doc_a < doc_b, verified jaccard) — a
    * forwarder to [[Neutral.minHashCandidates]], the one md5-seeded
    * implementation the DuckDB oracle reproduces; same parameters, same
    * `maxBucket` (drop) and `starCap` (star) bucket policies. Kept as a
    * named entry point because the benchmark harness composes
    * [[dedupCorpus]]'s stages through it, so its traced run stays equal
    * to the real call. */
  def minHashCandidates(docs: DataFrame, textCol: String = "text",
      shingleN: Int = 3, bands: Int = 16, rows: Int = 4,
      maxBucket: Option[Int] = None,
      starCap: Option[Int] = None): DataFrame =
    Neutral.minHashCandidates(docs, textCol, shingleN, bands, rows,
      maxBucket = maxBucket, starCap = starCap)

  /** Shared core of the n-gram pipeline (PPJoin-style rarest-prefix
    * blocking): candidates must share one of each doc's `prefixK`
    * globally-RAREST shingles — rare shingles have small inverted lists,
    * so the candidate pair space scales with near-dup density, not
    * quadratically with corpus size. Pairs are deduped on narrow (id, id)
    * keys before shingle arrays are re-attached for exact scoring.
    * Returns DIRECTED (doc_a, doc_b, jaccard), both orientations. */
  private def ngramScoredPairs(docs: DataFrame, textCol: String,
      shingleN: Int, prefixK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleTable(docs, textCol, shingleN)
    // rarest-prefix selection works on STRING shingles ordered by
    // (df, shingle) — a deterministic, engine-neutral order (hash-value
    // tie-breaks can't be reproduced by a SQL oracle), so the candidate set
    // is exactly reproducible in DuckDB; exact pair scoring still runs on
    // the hashed arrays (merge-walk kernel), where the volume is. At 100 TB
    // the exploded string shingles would be dictionary-encoded first; the
    // shuffle key order (df, shingle) is the same either way. Compiled
    // kernel (ShingleStrings): this subtree is planned on four branches
    // (dfreq + both candidate sides + prefix), and the interpreted lambda
    // form re-paid ~2ms/doc on each.
    val exploded = docs.select(col("doc_id"),
      explode(graft.expr.ShingleStrings.shingleStrings(col(textCol), shingleN)).as("g"))
    val dfreq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
    val wRare = Window.partitionBy("doc_id").orderBy(col("df").asc, col("g").asc)
    val prefix = exploded.join(dfreq, "g")
      .withColumn("rn", row_number().over(wRare))
      .filter(col("rn") <= prefixK)
      .select("doc_id", "g")
    val cand = prefix.select(col("doc_id").as("doc_a"), col("g"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram Jaccard best-match per doc over the rarest-prefix
    * candidate set. Docs with no candidate get a null best match. */
  def ngramJaccardBestMatch(docs: DataFrame, textCol: String = "text",
      shingleN: Int = 3, prefixK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wBest = Window.partitionBy("doc_a")
      .orderBy(col("jaccard").desc, col("doc_b").asc)
    val best = ngramScoredPairs(docs, textCol, shingleN, prefixK)
      .withColumn("rn", row_number().over(wBest))
      .filter(col("rn") === 1)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("best_match_id"),
        col("jaccard").as("best_jaccard"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
  }

  /** UNDIRECTED near-dup pairs (doc_a < doc_b) at `minJaccard` from the
    * rarest-prefix candidate set — the deterministic, oracle-reproducible
    * edge list for cluster-level dedup. */
  def ngramJaccardPairs(docs: DataFrame, textCol: String = "text",
      shingleN: Int = 3, prefixK: Int = 5, minJaccard: Double = 0.8): DataFrame =
    ngramScoredPairs(docs, textCol, shingleN, prefixK)
      .filter(col("doc_a") < col("doc_b") && col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")

  /** Connected components over an undirected (doc_a, doc_b) edge list by
    * min-label propagation: every node repeatedly adopts the smallest
    * component id among itself and its neighbors until fixpoint — the
    * cluster identification step that turns pairwise near-dup hits into
    * dedup groups (pair-level dropping over-drops on transitive chains
    * A~B~C where A!~C). Each iteration is one join + partial-aggregated
    * min shuffle, plus a pointer jump (component -> that node's own
    * component) that halves remaining path lengths — O(log diameter)
    * rounds. The driver loop carries only a 1-row label-sum convergence
    * check, never data. Returns (doc_id, component) for every node that
    * appears in `pairs`. The result is left as one materialized local
    * checkpoint (constant-size plan for downstream consumers); the
    * per-query clearState in Bench/Verify releases it.
    *
    * Errors (rather than silently returning intermediate labels) if the
    * graph has not converged within `maxIter` hops — near-dup clusters are
    * shallow, so hitting 100 hops means the input is not the expected
    * near-dup graph and partial labels would diverge from the exact
    * closure. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 100): DataFrame = {
    // localCheckpoint, not cache: the pair list usually arrives with a BIG
    // logical plan behind it (a full minhash/ngram candidate pipeline), and
    // a cache only saves EXECUTION — every loop iteration's plan would
    // still embed and re-analyze the giant lineage driver-side, which
    // measured as ~1s per action at sf0.1 (~15s per components call).
    // Checkpointing truncates the logical plan to the materialized rows,
    // so the iteration plans stay a few nodes deep. The checkpoint is
    // released once the loop has consumed it.
    val edges = Pins.checkpoint(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .distinct())
    // Labels are localCheckpoint'ed per iteration, NOT cached: the
    // pointer-jump below references the step result on BOTH sides of a
    // self-join, so a cached-but-lazy plan TREE doubles per iteration —
    // measured as ~700 exchanges in the returned plan after 6 rounds
    // (execution dedups through the cache, but the driver re-analyzes the
    // exponential tree on every downstream action). Checkpointing resets
    // each round's plan to its materialized rows; superseded checkpoints
    // are released as the loop advances.
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("component", col("doc_id"))
      .cache()
    val initialLabels = labels
    // Convergence via the label-sum invariant: every step takes a least()
    // of the current label, so per-node labels are monotonically
    // non-increasing and the exact sum is strictly decreasing until the
    // fixpoint — equal sums ⟺ no label moved. This replaces a
    // per-iteration join against the previous labels with a one-row
    // aggregate in the same action that materializes the new labels.
    // DECIMAL(38,0), not BIGINT: Spark's non-ANSI sum(LongType) wraps
    // silently on overflow, and a billion-node graph with large doc_ids
    // overflows 2^63 — a wrapped sum could alias across iterations and
    // fake convergence. Decimal sums are exact (and error on 38-digit
    // overflow instead of wrapping).
    def labelSum(df: DataFrame): BigDecimal = {
      val r = df.agg(sum(col("component").cast(DecimalType(38, 0)))).head()
      if (r.isNullAt(0)) BigDecimal(0) else BigDecimal(r.getDecimal(0))
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("component").as("nc")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nc")).as("nbr_min"))
      // cached: the pointer-jump below reads it on BOTH join sides —
      // uncached it would re-execute the neighbor-min subtree twice per
      // round (released before the round ends)
      val stepped = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        .cache()
      // pointer jumping: follow component -> that node's own component
      // (labels are always node ids, so the lookup relation is `stepped`
      // itself). Halves the remaining path length every round on top of
      // the 1-hop neighbor min, so convergence is O(log diameter) rounds
      // instead of O(diameter) — a 15-long near-dup chain converges in 4
      // rounds, and each driver round costs a full job. Same fixpoint:
      // jumping only short-circuits label flow along already-discovered
      // paths, it never crosses a non-edge.
      // LAZY checkpoint, fused with the convergence sum: the labelSum
      // aggregate below is the round's first action, so it materializes
      // (and persists + truncates) the checkpoint as a side effect — one
      // driver round-trip per iteration instead of an eager-checkpoint job
      // followed by a separate aggregate job. The plan-truncation contract
      // is unchanged (the Dataset is backed by the marked RDD either way).
      val next = Pins.checkpoint(stepped
        .join(stepped.select(col("doc_id").as("component"), col("component").as("jc")),
          Seq("component"), "left")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("jc"), col("component")))
            .as("component")), eager = false)
      val newSum = labelSum(next)
      if (iter == 0) initialLabels.unpersist() else Pins.release(labels)
      stepped.unpersist()
      labels = next
      converged = newSum == prevSum
      prevSum = newSum
      iter += 1
    }
    Pins.release(edges)
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations — " +
        "component ids would be partial; raise maxIter for deep graphs")
    // the returned labels ride the final checkpoint, which stays pinned.
    // NOTE the checkpoint contract: release only AFTER consuming the result
    // (truncated lineage cannot recompute).
    labels
  }

  /** Eval-set decontamination: per corpus doc, the count of distinct word
    * n-gram shingles shared with ANY benchmark doc and the count of
    * benchmark docs touched; `contaminated` when shared shingles >=
    * `minShared`. The join is an inverted-list equi join on the shingle —
    * the contamination-check shape every training pipeline runs before a
    * release (benchmark sets are small: at scale the benchmark side
    * broadcast-joins against the corpus scan). Self-pairs (same doc id on
    * both sides) are excluded so a benchmark drawn from the corpus doesn't
    * flag itself. */
  def contaminationCheck(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", shingleN: Int = 3,
      minShared: Int = 2): DataFrame = {
    def ex(df: DataFrame, idAs: String) = df.select(
      col("doc_id").as(idAs),
      explode(graft.expr.ShingleStrings.shingleStrings(col(textCol), shingleN)).as("g"))
    val shared = ex(docs, "doc_id")
      .join(ex(benchmark, "bench_id"), Seq("g"))
      .filter(col("doc_id") =!= col("bench_id"))
      .groupBy("doc_id")
      .agg(
        countDistinct(col("g")).as("n_shared_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    docs.select("doc_id")
      .join(shared, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shared_shingles", "n_bench_docs"))
      .withColumn("contaminated", col("n_shared_shingles") >= minShared)
  }

  /** End-to-end corpus dedup — the API a training-data pipeline calls:
    * drop exact duplicates (keep min doc_id per digest), then drop the
    * larger id of every MinHash-verified near-dup pair at `minJaccard`.
    * Candidates come from [[Neutral.minHashCandidates]] (md5-seeded
    * lanes, 16×4 bands), so the whole stage is reproducible by the
    * `q_ns_dedup_corpus` oracle. Returns the retained rows of `docs`
    * unchanged.
    *
    * Defaults to the skew-safe star candidates (r16): a dominant
    * duplicate class measured quadratic under full enumeration (r15 sf1
    * sweep), while star edges keep the drop decision on genuine classes —
    * every member is the greater side of its hub edge, so all but the
    * hub still drop — at O(size) bucket cost. The cap never engages at
    * driver-oracle scale (largest fixture bucket ≪ 256), so the oracle's
    * full-enumeration pair set yields bit-identical results there;
    * `starCap = None` restores exact enumeration at any scale. */
  def dedupCorpus(docs: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8,
      starCap: Option[Int] = Some(256)): DataFrame = {
    val exactKeep = exactGroups(docs, textCol)
      .select(col("keep_doc_id").as("doc_id"))
    // kept feeds both the near-dup candidate search and the final anti
    // join — uncached, the exact-dedup digest groupBy re-executes twice
    val kept = Pins.track(docs.join(exactKeep, Seq("doc_id"), "left_semi").cache())
    val nearDrop = Neutral.minHashCandidates(kept, textCol, starCap = starCap)
      .filter(col("jaccard") >= minJaccard)
      .select(greatest(col("doc_a"), col("doc_b")).as("doc_id"))
      .distinct()
    kept.join(nearDrop, Seq("doc_id"), "left_anti")
  }

  /** Duplicated-span detection — the exact-substring dedup family of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), re-expressed for Spark. The reference algorithm
    * builds a corpus-wide suffix array, which is inherently sequential;
    * the distributed equivalent anchors on fixed-width token k-grams: any
    * duplicated substring of >= k tokens is a run of duplicated k-grams,
    * so marking every occurrence whose gram appears >= 2 times corpus-wide
    * (in another doc OR elsewhere in the same doc) and merging the
    * overlapping marks per document recovers every maximal duplicated span
    * (boundaries resolved to k-gram granularity).
    *
    * Scale: the occurrence stream is map-generated; grams travel as full
    * 32-hex-char (128-bit) md5 digests so the duplicate-count groupBy and
    * the join back both shuffle on the same narrow key (colocated, partial
    * aggregation on the count side). 128 bits matter here: at the target
    * scale (~10^12 token positions) a 64-bit key would take ~10^4 birthday
    * collisions, each falsely marking a unique gram "duplicated" and
    * letting [[scrubSpans]] silently delete genuinely unique text; at 128
    * bits the expected collision count is ~10^-15 — the same tolerance the
    * exact suffix-array formulation has in practice. The island merge is a
    * per-document
    * window — one shuffle on doc_id, then partition-local. No all-pairs
    * stage exists at any point, so the plan survives a 100x scale-up;
    * candidate volume is proportional to actual duplication.
    *
    * Returns one row per maximal span: (doc_id, span_start, span_end,
    * span_tokens), positions 0-based token indexes, end inclusive. */
  def duplicatedSpans(docs: DataFrame, textCol: String = "text",
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"span gram width k must be >= 2, got $k")
    val toks = docs
      .select(col("doc_id"), split(lower(trim(col(textCol))), "\\s+").as("w"))
      .filter(size(col("w")) >= k)
    // compiled kernel emitting RAW 16-byte digests (hex(g) == the old
    // md5() hex exactly; ExprSpec pins the whole op against the retained
    // composable Ref): one token walk instead of an interpreted lambda +
    // slice + join + hex string per position, and the count/join shuffles
    // below move 16-byte binary keys instead of 32-char strings
    val occ = toks
      .select(col("doc_id"),
        posexplode(graft.expr.GramDigests.gramDigests(col("w"), k)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("g"))
    spansFromOcc(occ, k)
  }

  /** Composable built-in occurrence stream feeding the same island tail —
    * the semantic reference the GramDigests path must match exactly
    * (ExprSpec pins duplicatedSpans == duplicatedSpansRef). */
  private[graft] def duplicatedSpansRef(docs: DataFrame,
      textCol: String = "text", k: Int = 5): DataFrame = {
    require(k >= 2, s"span gram width k must be >= 2, got $k")
    val toks = docs
      .select(col("doc_id"), split(lower(trim(col(textCol))), "\\s+").as("w"))
      .filter(size(col("w")) >= k)
    val occ = toks
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("w")) - k),
          i => md5(array_join(slice(col("w"), i + 1, lit(k)), " ")))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("g"))
    spansFromOcc(occ, k)
  }

  /** Shared tail: duplicate-gram mark + island merge over an occurrence
    * stream (doc_id, pos, g). */
  private def spansFromOcc(occ: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = occ.groupBy("g").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select("g")
    val marked = occ.join(dup, Seq("g")).select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevMax = max(col("pos"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    // a new island starts when this gram's span [pos, pos+k-1] neither
    // overlaps nor touches the furthest end seen so far (prevMax + k - 1)
    val isl = marked
      .withColumn("brk", when(col("pos") > prevMax + k, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
    isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Rewrite each document with its duplicated spans (duplicatedSpans at
    * the same k) removed. Output text is the surviving token stream joined
    * by single spaces — i.e. whitespace-normalized, lower-cased, exactly
    * the stream the span detector tokenized. Documents whose every token
    * is covered come back as ''. Covered positions are span-exploded then
    * anti-joined — both map-side from the span table's perspective; the
    * rebuild is one per-doc aggregation. */
  def scrubSpans(docs: DataFrame, textCol: String = "text",
      k: Int = 5): DataFrame = {
    val tokens = split(lower(trim(col(textCol))), "\\s+")
    val cov = duplicatedSpans(docs, textCol, k)
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val tok = docs
      .select(col("doc_id"), posexplode(tokens))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("word"))
    val kept = tok.join(cov, Seq("doc_id", "pos"), "left_anti")
    val res = kept.groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            s => s.getField("word")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs
      .select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
      .join(res, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  // ----------------------- incremental component labels (artifact)
  //
  // Cluster labels were rebuild-only: a daily crawl adding near-dup
  // edges re-ran connectedComponents over the CUMULATIVE edge list. The
  // appendable form is the distributed union-find: persist
  //   $dir/labels — (doc_id, component) rows, appended for NEW nodes
  //                 only (a node's stored label is its component AS OF
  //                 its append);
  //   $dir/merges — (from_rep, to_rep) rows, one per component-merge
  //                 event (to_rep < from_rep, min-label order);
  // and serve by resolving stored labels through the merge map's
  // closure. An append scans ONLY its batch plus one equi join against
  // the labels table (the batch endpoints' current labels — never the
  // edge history), runs CC on the batch's COMPONENT-compressed edge
  // graph (size ∝ batch, not corpus), and appends merge rows + new-node
  // labels. The merge map is bounded by merge events (≤ clusters ever
  // merged), so its closure is a log-depth pointer-jumping loop over a
  // small broadcastable table — the path-compression half of union-find,
  // run at serve time.

  /** Build the label artifact from an initial edge list. Terminal (the
    * artifact is written inside), so the whole body runs under
    * Pins.scoped: the CC label checkpoint is consumed by the save and
    * released on exit — a build leaves zero pins behind. */
  def ccBuild(pairs: DataFrame, dir: String): Unit = Pins.scoped {
    val spark = pairs.sparkSession
    Models.save(connectedComponents(pairs), s"$dir/labels")
    import spark.implicits._
    Models.save(Seq.empty[(Long, Long)].toDF("from_rep", "to_rep"),
      s"$dir/merges")
    Models.logGen(spark, dir, batchId = -1L, fresh = true)
  }

  /** Transitive closure of the merge map by pointer jumping: each round
    * re-targets every edge at its target's target, halving chain depth.
    * The map is FUNCTIONAL by construction (a rep merges away at most
    * once — appends only emit merges FROM currently-terminal reps). */
  private[graft] def closeMerges(merges: DataFrame): DataFrame = {
    // superseded generations are released inside the loop; the final one
    // stays pinned, so under a streaming fold (ccIngest) the
    // per-micro-batch Pins.scoped frees it
    var m = Pins.checkpoint(merges)
    var iter = 0
    var open = m.as("x").join(m.as("y"),
      col("x.to_rep") === col("y.from_rep"), "left_semi").count()
    while (open > 0) {
      require(iter < 48, "merge chains deeper than 2^48 — corrupt artifact")
      val next = Pins.checkpoint(m.as("x")
        .join(broadcast(m.as("y")),
          col("x.to_rep") === col("y.from_rep"), "left")
        .select(col("x.from_rep"),
          coalesce(col("y.to_rep"), col("x.to_rep")).as("to_rep")))
      Pins.release(m)
      m = next
      open = m.as("x").join(m.as("y"),
        col("x.to_rep") === col("y.from_rep"), "left_semi").count()
      iter += 1
    }
    m
  }

  private def resolve(labels: DataFrame, closed: DataFrame): DataFrame =
    labels.join(
        broadcast(closed.withColumnRenamed("from_rep", "component")),
        Seq("component"), "left")
      .select(col("doc_id"),
        coalesce(col("to_rep"), col("component")).as("component"))

  /** Fold a batch of new edges into the artifact. Scans the batch plus
    * one labels equi join; CC runs over the component-compressed batch
    * graph only. Terminal (both appends land inside), so the body runs
    * under Pins.scoped: the merge-closure, endpoint and batch-CC
    * checkpoints are released on exit — one append (or one ccIngest
    * micro-batch) accrues nothing in the block manager. */
  def ccAppend(newPairs: DataFrame, dir: String,
      batchId: Long): Unit = Pins.scoped {
    require(batchId >= 0, "appends need an explicit batch/sequence id")
    val spark = newPairs.sparkSession
    val labels = Models.load(spark, s"$dir/labels")
    val closed = closeMerges(Models.load(spark, s"$dir/merges"))
    val resolved = resolve(labels, closed)
    // current representative of each batch endpoint: its resolved stored
    // label, or itself if the node is new to the graph
    def reps(side: String) = newPairs.select(col(side).as("doc_id"))
    // feeds two joins + the new-node anti join
    val endpoints = Pins.checkpoint(
      reps("doc_a").unionByName(reps("doc_b")).distinct()
        .join(resolved, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("rep")))
    val e = newPairs
      .join(endpoints.select(col("doc_id").as("doc_a"),
        col("rep").as("rep_a")), Seq("doc_a"))
      .join(endpoints.select(col("doc_id").as("doc_b"),
        col("rep").as("rep_b")), Seq("doc_b"))
      .filter(col("rep_a") =!= col("rep_b"))
      .select(least(col("rep_a"), col("rep_b")).as("doc_a"),
        greatest(col("rep_a"), col("rep_b")).as("doc_b"))
      .distinct()
    val cc =
      if (e.head(1).isEmpty) e.select(col("doc_a").as("doc_id"),
        col("doc_b").as("component")) // empty, schema-compatible
      else connectedComponents(e)
    // merge events: old TERMINAL reps (some stored label resolves to
    // them) whose component moved; brand-new nodes' labels are written
    // already-resolved below, so they need no merge row
    val newMerges = cc.filter(col("doc_id") =!= col("component"))
      .join(resolved.select(col("component").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("from_rep"), col("component").as("to_rep"))
    Models.append(newMerges, s"$dir/merges")
    val newNodeLabels = endpoints
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(cc.select(col("doc_id").as("rep"),
        col("component").as("__c")), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("__c"), col("rep")).as("component"))
    Models.append(newNodeLabels, s"$dir/labels")
    Models.logGen(spark, dir, batchId)
  }

  /** Current labels: stored rows resolved through the merge closure.
    * Reads the labels table + the bounded merge map — never the edges. */
  def ccServe(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    resolve(Models.load(spark, s"$dir/labels"),
      closeMerges(Models.load(spark, s"$dir/merges")))

  /** Compact the union-find artifact — the path-compression pass run as
    * maintenance instead of at every serve: rewrite `labels` as the
    * RESOLVED table (every stored label pushed through the merge
    * closure, via generation swap — the labels table is read while its
    * replacement is written) and reset `merges` to empty. Serving after
    * compaction resolves through an empty closure — identity — so
    * serve-after-compact ≡ serve-before; appends after compaction see
    * the same current representatives (a resolved label IS its rep).
    * Without this, a year of daily appends leaves every serve paying the
    * closure's pointer-jumping loop over the full merge history; after
    * compaction the merge map restarts from the append deltas only. */
  def ccCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = Pins.scoped {
    val resolved = resolve(Models.load(spark, s"$dir/labels"),
      closeMerges(Models.load(spark, s"$dir/merges")))
    val tmp = s"$dir/labels__compacting"
    Models.save(resolved, tmp)
    Models.swapIn(spark, tmp, s"$dir/labels")
    import spark.implicits._
    Models.save(Seq.empty[(Long, Long)].toDF("from_rep", "to_rep"),
      s"$dir/merges")
    Models.resetGens(spark, dir)
  }
}
