package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.ArrayExprs.jaccardSorted

/** Engine-neutral (md5-seeded) near-dup and ANN operators — the one
  * implementation of MinHash/LSH, SimHash and sign-LSH blocking in the
  * engine ([[Dedup.dedupCorpus]] runs the MinHash pipeline here), so the
  * FULL pipelines — signature, banding, bucketing, verification — are
  * reproducible in ANSI-ish SQL and sit under the driver's DuckDB hash
  * gate. Each element pays one md5 plus cheap integer/float arithmetic,
  * in compiled kernels (graft.expr.NeutralKernels). Per-row signatures
  * are embarrassingly parallel and every join is equi on (band/table,
  * bucket).
  *
  * Seeding contract (everything below derives from md5, which both engines
  * share bit-for-bit):
  *  - `hex8(s)` = the first 8 hex chars of md5(s) as a BIGINT in [0, 2^32).
  *  - MinHash lane j applies the affine permutation x -> (a_j x + b_j) mod
  *    p over Z_p, p = 2^31 - 1, with (a_j, b_j) derived from
  *    hex8("a:j") / hex8("b:j") — products stay < 2^62, so the arithmetic
  *    never overflows a signed 64-bit in either engine.
  *  - SimHash word hashes are the two 32-bit halves (lo, hi) of the first
  *    16 md5 hex chars; signatures are kept as two 32-bit halves so no
  *    shift ever touches the sign bit in either engine.
  *  - LSH hyperplanes are Rademacher (+1/-1) vectors: component (t, b,
  *    pos) is +1 iff the first hex digit of md5("lsh:t:b:pos") is in 0-7.
  *    Sign-projection dots accumulate left-to-right in double on both
  *    sides, so the sign bits — and therefore the buckets — match exactly.
  */
object Neutral {

  /** 2^31 - 1, the Mersenne prime all MinHash permutations live in. */
  val P: Long = 2147483647L

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  private def hex8(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)

  /** MinHash lane constants (a_j in [1, p), b_j in [0, p)), md5-derived. */
  val laneConsts: IndexedSeq[(Long, Long)] =
    (0 until 64).map(j => (hex8(s"a:$j") % (P - 1) + 1, hex8(s"b:$j") % P))

  /** Rademacher hyperplane component for (table, bit, position). */
  def lshSign(t: Int, b: Int, pos: Int): Double =
    if (md5hex(s"lsh:$t:$b:$pos").charAt(0) <= '7') 1.0 else -1.0

  /** Rademacher random-projection component for (output dim, position) —
    * a separate seed family from the LSH hyperplanes. */
  def rpSign(j: Int, pos: Int): Double =
    if (md5hex(s"rp:$j:$pos").charAt(0) <= '7') 1.0 else -1.0

  /** Spark column: first 8 md5 hex chars of `c` (from `start`, 1-based) as
    * a non-negative BIGINT — the exact twin of DuckDB's
    * CAST('0x' || substring(md5(x), start, 8) AS BIGINT). */
  private def hex8Col(c: Column, start: Int = 1): Column =
    conv(substring(md5(c), start, 8), 16, 10).cast("long")

  /** Built-in-functions form of the 64-lane signature over the md5-hashed
    * shingle values — the semantic reference the compiled kernel
    * (graft.expr.Md5MinHashSig) must match bit-for-bit (NeutralSpec); the
    * operators below run the kernel (64 interpreted transform+array_min
    * lanes measured ~3 s per bench query at sf0.1, the kernel ~100x less). */
  private[graft] def minHashSigRef(shinglesCol: Column): Column = {
    val hv = transform(shinglesCol, g => hex8Col(g) % P)
    array(laneConsts.map { case (aj, bj) =>
      array_min(transform(hv, h => (lit(aj) * h + lit(bj)) % lit(P)))
    }: _*)
  }

  // ---------------------------------------------------------------- MinHash

  /** The MinHash geometry of every pipeline below and of its oracle twin:
    * word 3-gram shingles, and the 64-lane signature cut into 16 bands of
    * 4 rows. A persisted dedup index stores band keys, so build and serve
    * must agree on the cut; as constants they cannot differ. */
  private val ShingleN = 3
  private val Bands = 16
  private val Rows = 4

  /** (cached) md5 signature table: (doc_id, hs, sig). Cached because every
    * consumer fans out over it (banding sides + verify re-attach joins) —
    * uncached, the shingle + signature kernels would re-execute per branch
    * (released by the per-query clearState). */
  private def sigTable(docs: DataFrame, textCol: String): DataFrame =
    // fan BEFORE the cache: the bench corpora scan as ONE parquet row
    // group, so an unfanned cache holds one partition and every consumer
    // stage (banding sides, verify re-attach, edge build) runs 1-task —
    // nine concurrent ~800 ms single-core stages in the r18 event-log
    // profile
    ScaleOps.fanOutCompute(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"),
        graft.expr.ShingleStrings.shingleStrings(col(textCol), ShingleN).as("s"),
        graft.expr.ShingleHashes.shingleHashes(col(textCol), ShingleN).as("hs"))
      .filter(size(col("s")) > 0)
      .withColumn("sig", graft.expr.Md5MinHashSig.minHashSig(col("s")))
      .transform(Pins.cache)

  /** NARROW (doc_id, band, bucket) rows from a signature table. ONE
    * expression references sig once — 16 separate per-band columns would
    * let CollapseProject inline, and so re-evaluate, the signature kernel
    * 16x per row. */
  private def bandedOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> " +
          s"array_join(transform(slice(sig, b * $Rows + 1, $Rows), x -> cast(x as string)), ','))"))
        .as(Seq("band", "bucket")))

  /** MinHash-LSH candidate pairs with md5-seeded permutations: one row
    * per (doc, band), equi join on (band, bucket), exact-Jaccard
    * verification, and every lane min reproducible in SQL. One md5 per
    * distinct shingle; the 64 lane permutations are integer multiply-adds.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    *
    * `starCap` (r16) is the degenerate-corpus guard: a bucket holding B
    * docs emits B² candidate pairs, and a boilerplate-heavy corpus
    * concentrates mass in few buckets. Oversized buckets emit hub-verified
    * STAR candidates (bucket-min rep → member, O(size)) — every candidate,
    * pair or star, still pays the exact Jaccard verification, so emitted
    * edges are never approximate; only member↔member pairs meeting
    * EXCLUSIVELY inside over-cap buckets are traded for the hub edge —
    * component-equal to full enumeration on a genuine duplicate class
    * (pinned by ScaleSpec; `q_ns_dedup_skew_safe` runs this arm at cap 16).
    * A class owning half the corpus lands in the same buckets in every
    * band, so full enumeration there is ~n²/8 verified pairs, the star
    * form n−1 edges. [[Dedup.dedupCorpus]] and the component-level
    * consumers ([[dedupCorpusClustered]], joint multimodal dedup — but NOT
    * [[leakageSafeSplit]], whose contamination guarantee makes exactness
    * the right default; see its doc) default to Some(256) since r16:
    * real boilerplate corpora have
    * the dominant-class shape the r15 sf1 sweep measured quadratic, and
    * the pair-shaped driver fixtures never reach the cap, so oracle
    * results are bit-identical. Default off: the oracle reproduces the
    * uncapped candidate set. */
  def minHashCandidates(docs: DataFrame, textCol: String = "text",
      precomputedSig: Option[DataFrame] = None,
      starCap: Option[Int] = None): DataFrame = {
    // precomputedSig: a sigTable already restricted to `docs` (signatures
    // are a pure function of text, so reuse is result-identical) — lets
    // composite pipelines skip re-hashing every shingle per stage
    val sh = precomputedSig.getOrElse(sigTable(docs, textCol))
    // candidate pairs dedup on narrow (doc_a, doc_b) keys before the
    // shingle-hash arrays re-attach for exact scoring, so no array ever
    // rides the bucket shuffle (the ngram pipeline's PPJoin shape)
    val banded = bandedOf(sh)
    val cand = starCap match {
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("band", "bucket")
        val sized = banded
          .withColumn("bsize", count(lit(1)).over(w))
          .withColumn("rep", min(col("doc_id")).over(w))
        val small = sized.filter(col("bsize") <= cap)
          .select("band", "bucket", "doc_id")
        val pairsSmall = small.select(col("band"), col("bucket"),
            col("doc_id").as("doc_a"))
          .join(small.select(col("band"), col("bucket"),
            col("doc_id").as("doc_b")), Seq("band", "bucket"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
        // rep = min(doc_id) over the bucket, so doc_a < doc_b is canonical
        val star = sized.filter(col("bsize") > cap &&
            col("doc_id") =!= col("rep"))
          .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
        pairsSmall.unionByName(star).distinct()
      case None =>
        banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
          .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
            Seq("band", "bucket"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
          .distinct()
    }
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** DuckDB twin of `minHashCandidates(starCap = Some(starCap))`
    * filtered at `minJaccard`, over `docsRel`: CTE chain ending in
    * `hits(doc_a, doc_b)` — compose with a recursive closure for
    * component oracles. */
  private[graft] def skewSafeEdgeCtes(docsRel: String, minJaccard: Double,
      starCap: Int): String =
    s"""${bandedCtes(docsRel, "")},
       |bsz AS (
       |  SELECT band, bucket, count(*) AS bsize, min(doc_id) AS rep
       |  FROM banded GROUP BY band, bucket
       |),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM banded a
       |    JOIN bsz z ON a.band = z.band AND a.bucket = z.bucket
       |    JOIN banded b ON b.band = a.band AND b.bucket = a.bucket
       |    WHERE z.bsize <= $starCap AND a.doc_id < b.doc_id
       |    UNION ALL
       |    SELECT z.rep AS doc_a, b.doc_id AS doc_b
       |    FROM banded b JOIN bsz z ON b.band = z.band AND b.bucket = z.bucket
       |    WHERE z.bsize > $starCap AND b.doc_id <> z.rep
       |  ) u
       |),
       |hits AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN shn sa ON sa.doc_id = c.doc_a
       |  JOIN shn sb ON sb.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |          / len(list_distinct(sa.s || sb.s)) >= $minJaccard
       |)""".stripMargin

  /** Ingest-time dedup: keep only incoming docs that neither exactly
    * duplicate (content digest) nor near-duplicate (md5-MinHash banding,
    * verified Jaccard >= minJaccard) ANY document already in `corpus` —
    * the daily-crawl admission filter. Within-batch duplicates are left
    * alone (chain with dedupCorpus for those). Candidates are strictly
    * incoming × corpus bucket collisions; at scale the incoming batch is
    * orders of magnitude smaller than the corpus, so the banding join
    * shuffles a day of data against the corpus's precomputed (and in
    * practice persisted) signature table. */
  def dedupAgainst(corpus: DataFrame, incoming: DataFrame,
      textCol: String = "text", minJaccard: Double = 0.8): DataFrame =
    admitWithSig(corpus, incoming, textCol, minJaccard)._1

  /** [[dedupAgainst]] body, also returning the incoming-side signature
    * table (covers every admitted doc) so composite pipelines
    * ([[ingestE2e]]) can reuse it instead of re-hashing each shingle. */
  private def admitWithSig(corpus: DataFrame, incoming: DataFrame,
      textCol: String, minJaccard: Double): (DataFrame, DataFrame) = {
    val shC = sigTable(corpus, textCol)
    admitAgainst(incoming,
      corpus.select(sha2(col(textCol), 256).as("sha")).distinct(),
      bandedOf(shC),
      shC.select(col("doc_id"), col("hs")),
      textCol, minJaccard)
  }

  /** The admission core, parameterized by the three corpus-side tables —
    * computed in-flight ([[admitWithSig]]) or loaded from the persisted
    * index ([[dedupAgainstServed]]). Returns (admitted, incoming-side
    * signature table). The corpus tables carry exactly what admission
    * needs: the digest set (exact filter), the banded buckets (candidate
    * join), and the shingle-hash arrays (Jaccard verification of
    * candidates only) — never the corpus text. */
  private def admitAgainst(incoming: DataFrame, corpusSha: DataFrame,
      corBanded: DataFrame, corHs: DataFrame, textCol: String,
      minJaccard: Double): (DataFrame, DataFrame) = {
    val cleanExact = incoming.join(corpusSha,
      sha2(col(textCol), 256) === col("sha"), "left_anti")
    val shI = sigTable(cleanExact, textCol)
    val cand = bandedOf(shI)
      .select(col("band"), col("bucket"), col("doc_id").as("inc_id"))
      .join(corBanded
        .select(col("band"), col("bucket"), col("doc_id").as("cor_id")),
        Seq("band", "bucket"))
      .select("inc_id", "cor_id")
      .distinct()
    val dropped = cand
      .join(shI.select(col("doc_id").as("inc_id"), col("hs").as("h_i")), Seq("inc_id"))
      .join(corHs.select(col("doc_id").as("cor_id"), col("hs").as("h_c")), Seq("cor_id"))
      .filter(jaccardSorted(col("h_i"), col("h_c")) >= minJaccard)
      .select(col("inc_id").as("doc_id"))
      .distinct()
    (cleanExact.join(dropped, Seq("doc_id"), "left_anti"), shI)
  }

  /** Build the persisted admission-dedup corpus index under `dir` — the
    * fit side of the daily-crawl lifecycle. The corpus is scanned ONCE and
    * three parquet tables are written ([[Models]]):
    *  - `sha`:    distinct content digests (the exact-dup filter set)
    *  - `hs`:     (doc_id, hs) shingle-hash arrays (candidate verification)
    *  - `banded`: (doc_id, band, bucket) LSH bucket rows (candidate join)
    * Admission then never re-reads corpus text: [[dedupAgainstServed]]
    * joins a day-sized batch against these tables. Every component is
    * md5-deterministic, so a rebuild is byte-identical and the served form
    * shares [[dedupAgainst]]'s oracle. At 100 TB this converts admission
    * from a per-batch full-corpus re-hash (the r8 lifecycle gap) into a
    * one-time build plus per-batch joins against ~(corpus digests +
    * signatures) — the same artifact shape every production dedup service
    * (e.g. a crawl-frontier seen-set) persists. */
  def dedupIndexBuild(corpus: DataFrame, dir: String,
      textCol: String = "text"): Unit = Pins.scoped {
    Models.save(corpus.sparkSession, dir)(indexTables(corpus, textCol))
  }

  /** The admission index's three tables of `docs`, staged in `c`. */
  private def indexTables(docs: DataFrame, textCol: String)(
      c: Models.Commit): Unit = {
    c.write("sha", docs.select(sha2(col(textCol), 256).as("sha")).distinct())
    val sh = sigTable(docs, textCol)
    c.write("hs", sh.select(col("doc_id"), col("hs")))
    c.write("banded", bandedOf(sh))
  }

  /** [[dedupAgainst]] SERVED from the persisted index at `dir`
    * ([[dedupIndexBuild]]): admits `incoming` using the loaded digest /
    * banded / hash tables — zero corpus-side text scans or signature
    * recomputes at admission time. Result-identical to [[dedupAgainst]]
    * (same oracle) because the index is a deterministic function of the
    * corpus. */
  def dedupAgainstServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8): DataFrame =
    admitServedWithSig(spark, dir, incoming, textCol, minJaccard)._1

  private def admitServedWithSig(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame, textCol: String,
      minJaccard: Double): (DataFrame, DataFrame) =
    admitAgainst(incoming,
      Models.load(spark, dir, "sha"),
      Models.load(spark, dir, "banded"),
      Models.load(spark, dir, "hs"),
      textCol, minJaccard)

  /** Append one admitted batch's digests/signatures/buckets to the index —
    * the staleness contract: an index built at time T knows nothing about
    * batches admitted after T until they are appended (or the index is
    * rebuilt), so un-appended admissions can re-admit each other's
    * near-dups. Appending after every admitted batch keeps the index
    * exactly one batch behind "corpus = base + all admissions", which is
    * the same-batch-internal-dups gap [[ingestE2e]]'s stage 2 already
    * covers. The three tables and `batchId` land as ONE [[Models.append]]
    * commit: a crash leaves the index at the generation before or after
    * this batch, never a digest without its signatures. `admitted`
    * should be lineage-severed from `dir` (re-read from the corpus store
    * it was written to, or localCheckpoint'ed): its plan reads the index
    * generation it was admitted against, whose files a later compaction
    * deletes ([[admitAndAppend]] handles this).
    * Duplicate digests across appended batches are harmless — admission
    * consumes these tables via anti/semi joins, which ignore key
    * multiplicity. [[dedupIndexCompact]] folds the appended deltas in
    * place (compaction cadence is the caller's choice: the index only
    * grows, it never goes stale in the correctness sense as long as every
    * admitted batch is appended). */
  def dedupIndexAppend(admitted: DataFrame, dir: String,
      textCol: String = "text", batchId: Long): Unit = Pins.scoped {
    Models.append(admitted.sparkSession, dir, Some(batchId))(
      indexTables(admitted, textCol))
  }

  /** Compact the admission index's appended generations in place,
    * WITHOUT re-reading corpus text: `sha` rewrites as its
    * distinct set (per-batch appends are distinct within a batch but a
    * text admitted under different doc ids across batches lands its
    * digest twice — consumers are anti/semi joins, so multiplicity never
    * changed answers, only scan size), `hs`/`banded` rewrite as single
    * file sets (doc ids are unique by the admission contract), banded
    * re-laid-out by band key so a candidate probe's (band, bucket) equi
    * join prunes on footer stats. All via [[Models.rewrite]]; answers
    * are byte-identical before/after (the served-admission oracle is
    * shared verbatim). */
  def dedupIndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    Models.rewrite(spark, dir)(_.update("sha")(_.distinct())
      .update("hs")(
        _.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id"))
      .update("banded")(b =>
        b.repartitionByRange(b.columns.filter(_ != "doc_id").map(col).toSeq: _*)
          .sortWithinPartitions(b.columns.map(col).toSeq: _*)))
  }

  /** Admit a batch against the served index AND append the admissions to
    * it — the per-batch step of the daily-crawl loop. The admitted batch
    * is localCheckpoint'ed (lineage SEVERED, not just cached) before the
    * append: its plan reads the index generation it was admitted against,
    * and a compaction after the append deletes those files — a merely
    * cached batch evicted later would fail to recompute. The checkpoint is
    * batch-sized (a day of admissions), the same footprint the caller's
    * corpus write already carries. `commitBeforeAppend` runs on the
    * checkpointed admissions BEFORE their signatures enter the index —
    * a durable sink write placed there means a crash can only leave the
    * sink ahead of the index (replay duplicates sink rows, recoverable),
    * never admissions permanently rejected by their own not-yet-committed
    * signatures (the failure mode of append-before-sink). */
  def admitAndAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8,
      commitBeforeAppend: DataFrame => Unit = _ => (),
      batchId: Long): DataFrame = {
    // pinned: release only AFTER consuming the batch
    val admitted = Pins.checkpoint(
      dedupAgainstServed(spark, dir, incoming, textCol, minJaccard))
    commitBeforeAppend(admitted)
    dedupIndexAppend(admitted, dir, textCol, batchId = batchId)
    admitted
  }

  // ---------------------------------------------------------------------
  // Bloom-filter admission (the Dolma-shaped exact seen-set)
  // ---------------------------------------------------------------------

  /** Hashes per element in the Bloom admission filter. */
  val BloomK = 4

  private def bloomPosCols(textCol: String, mBits: Int): Seq[Column] =
    (0 until BloomK).map { j =>
      hex8Col(concat(lit(s"bloom:$j:"), col(textCol))) % mBits
    }

  /** Build the Bloom admission artifact: the DISTINCT occupied bit
    * positions of the corpus (k=[[BloomK]] md5-derived positions per
    * document text, `mBits`-position space). The artifact is bounded by
    * mBits ROWS NO MATTER THE CORPUS SIZE — the property the exact
    * digest set lacks — so at 100 TB the seen-set broadcasts as a few MB
    * while the sha-table alternative is corpus-sized and must shuffle.
    * The price is a quantified false-positive rate ((1−e^(−kn/m))^k:
    * truly-new docs occasionally rejected; never the reverse — a true
    * duplicate ALWAYS hits all k positions, the no-false-negative
    * guarantee dedup actually needs. Size mBits ∝ corpus (bits-per-
    * element constant) exactly like IVF's k ∝ corpus rule. mBits must
    * divide 2^32 (md5-prefix width) for an unbiased position mod. */
  def bloomIndexBuild(corpus: DataFrame, dir: String,
      textCol: String = "text", mBits: Int = 1 << 20): Unit = {
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    // mBits is part of the artifact, not a caller convention: probing with
    // a different position space makes every probe miss and silently
    // admits true duplicates — breaking the no-false-negative guarantee.
    // Serve/append read it back from the manifest.
    Models.save(corpus.sparkSession, dir)(_.write("bloom",
      corpus.select(explode(array(bloomPosCols(textCol, mBits): _*)).as("pos"))
        .distinct())
      .param("m_bits", mBits))
  }

  /** Admission annotation against the persisted Bloom artifact: each
    * incoming doc's k positions probe the loaded set (one broadcast
    * join); `admitted` = at least one position unoccupied. Map-only over
    * the batch + one broadcast + per-doc partial agg — no corpus-side
    * anything at admission time. The position space comes from the
    * artifact's manifest, never from the caller. */
  def admitBloomServed(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame, textCol: String = "text"): DataFrame = {
    val mBits = Models.param(spark, dir, "m_bits")
    val occupied = Models.load(spark, dir, "bloom")
      .withColumn("__hit", lit(1L))
    incoming
      .select(col("doc_id"),
        posexplode(array(bloomPosCols(textCol, mBits): _*)).as(Seq("j", "pos")))
      .join(broadcast(occupied), Seq("pos"), "left")
      .groupBy("doc_id")
      .agg(count(col("__hit")).as("n_hits"))
      .select(col("doc_id"), col("n_hits"),
        (col("n_hits") < BloomK).as("admitted"))
  }

  /** Append a batch's positions to the Bloom artifact — the admission
    * loop's seen-set update ([[dedupIndexAppend]]'s cheap sibling: the
    * append is ≤ k·|batch| position rows, and the artifact stays bounded
    * by mBits regardless of how many batches accumulate). The position
    * space comes from the artifact's manifest. */
  def bloomIndexAppend(admitted: DataFrame, dir: String,
      textCol: String = "text"): Unit = {
    val mBits = Models.param(admitted.sparkSession, dir, "m_bits")
    Models.append(admitted.sparkSession, dir)(_.write("bloom",
      admitted.select(explode(array(bloomPosCols(textCol, mBits): _*)).as("pos"))
        .distinct()))
  }

  /** Compact the Bloom artifact: appended batches are distinct WITHIN a
    * batch but positions re-occupied across batches accumulate duplicate
    * rows — the bitset OR, run as maintenance: one global distinct
    * rewrite ([[Models.rewrite]]) restores the ≤ mBits bound the
    * broadcast probe relies on. Probes are set-membership (multiplicity
    * never changed answers), so the served-admission oracle is shared
    * verbatim. */
  def bloomIndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    Models.rewrite(spark, dir)(_.update("bloom")(_.distinct()))

  /** Admit a batch against the Bloom artifact AND fold its positions in —
    * the per-batch step of the streaming seen-set loop. Same
    * checkpoint-before-append discipline as [[admitAndAppend]]: the
    * admitted rows are severed from the artifact scan their plan reads,
    * whose files a later compaction deletes.
    * `commitBeforeAppend` runs on the checkpointed admissions BETWEEN the
    * checkpoint and the position append — a durable sink write placed
    * there means a crash can only ever leave the sink AHEAD of the index
    * (replay re-admits and duplicates sink rows), never admissions
    * permanently rejected by their own not-yet-committed positions (the
    * failure mode of append-before-sink). */
  def admitBloomAndAppend(spark: org.apache.spark.sql.SparkSession,
      dir: String, incoming: DataFrame, textCol: String = "text",
      commitBeforeAppend: DataFrame => Unit = _ => ()): DataFrame = {
    val admitted = Pins.checkpoint(incoming
      .join(admitBloomServed(spark, dir, incoming, textCol)
          .filter(col("admitted")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
    commitBeforeAppend(admitted)
    bloomIndexAppend(admitted, dir, textCol)
    admitted
  }

  /** [[ingestE2e]] SERVED from the persisted index: admission against the
    * loaded tables, then within-batch clustered dedup reusing the
    * incoming-side signatures. Shares [[ingestE2eOracleSql]]. */
  def ingestE2eServed(spark: org.apache.spark.sql.SparkSession, dir: String,
      incoming: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8): DataFrame = {
    val (admitted, shI) =
      admitServedWithSig(spark, dir, incoming, textCol, minJaccard)
    dedupCorpusClustered(admitted, textCol, minJaccard,
      precomputedSig = Some(shI))
  }

  /** DuckDB twin of [[admitBloomServed]] for corpus/incoming doc_id
    * slices of the documents table: same k positions, same occupied-set
    * probe, same admitted = any-position-unoccupied rule. */
  def bloomAdmitOracleSql(corpusPred: String, incomingPred: String,
      mBits: Int = 1 << 20): String =
    s"""WITH js AS (SELECT unnest(generate_series(0, ${BloomK - 1})) AS j),
       |bpos AS (
       |  SELECT DISTINCT CAST('0x' || substring(md5('bloom:' || CAST(j AS VARCHAR) || ':' || text), 1, 8) AS BIGINT) % $mBits AS pos
       |  FROM documents, js WHERE $corpusPred
       |),
       |ipos AS (
       |  SELECT doc_id, CAST('0x' || substring(md5('bloom:' || CAST(j AS VARCHAR) || ':' || text), 1, 8) AS BIGINT) % $mBits AS pos
       |  FROM documents, js WHERE $incomingPred
       |),
       |h AS (
       |  SELECT doc_id, CAST(count(bpos.pos) AS BIGINT) AS n_hits
       |  FROM ipos LEFT JOIN bpos USING (pos) GROUP BY doc_id
       |)
       |SELECT doc_id, n_hits, n_hits < $BloomK AS admitted
       |FROM h ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[dedupAgainst]] for corpus/incoming slices of the
    * documents table defined by SQL predicates. */
  def dedupAgainstOracleSql(corpusPred: String, incomingPred: String,
      minJaccard: Double): String =
    s"""WITH corpus AS (SELECT * FROM documents WHERE $corpusPred),
       |inc AS (SELECT * FROM documents WHERE $incomingPred),
       |cs AS (SELECT DISTINCT sha256(text) AS sha FROM corpus),
       |ce AS (
       |  SELECT i.* FROM inc i LEFT JOIN cs ON sha256(i.text) = cs.sha
       |  WHERE cs.sha IS NULL
       |),
       |${bandedCtes("ce", "_i")},
       |${bandedCtes("corpus", "_c")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS cor_id
       |  FROM banded_i a JOIN banded_c b USING (band, bucket)
       |),
       |dropped AS (
       |  SELECT DISTINCT c.inc_id FROM cand c
       |  JOIN shn_i si ON si.doc_id = c.inc_id
       |  JOIN shn_c sc ON sc.doc_id = c.cor_id
       |  WHERE CAST(len(list_intersect(si.s, sc.s)) AS DOUBLE)
       |          / len(list_distinct(si.s || sc.s)) >= $minJaccard
       |)
       |SELECT ce.doc_id FROM ce
       |LEFT JOIN dropped d ON d.inc_id = ce.doc_id
       |WHERE d.inc_id IS NULL
       |ORDER BY ce.doc_id""".stripMargin

  /** Oracle CTE chain `tok$p -> shn$p -> hv$p -> sig$p -> banded$p` over
    * the relation `docsRel` (must expose doc_id, text): the md5-seeded
    * MinHash pipeline up to banded bucket rows, CTE names suffixed `$p`
    * (empty for the single-relation queries), at the Scala twins'
    * ShingleN/Bands/Rows geometry. */
  private def bandedCtes(docsRel: String, p: String): String = {
    val lanes = laneConsts
      .map { case (a, b) => s"list_min(list_transform(h, x -> ($a * x + $b) % $P))" }
      .mkString("[\n    ", ",\n    ", "]")
    val gram = (0 until ShingleN).map(o => s"w[i+$o]").mkString(" || ' ' || ")
    s"""tok$p AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM $docsRel
       |),
       |shn$p AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(w) - ${ShingleN - 1}),
       |           i -> $gram)) AS s
       |  FROM tok$p WHERE len(w) >= $ShingleN
       |),
       |hv$p AS (
       |  SELECT doc_id, s,
       |         list_transform(s, g -> CAST('0x' || substring(md5(g), 1, 8) AS BIGINT) % $P) AS h
       |  FROM shn$p WHERE len(s) > 0
       |),
       |sig$p AS (SELECT doc_id, $lanes AS sg FROM hv$p),
       |banded$p AS (
       |  SELECT doc_id, band,
       |         array_to_string(list_transform(
       |           list_slice(sg, band * $Rows + 1, band * $Rows + $Rows),
       |           x -> CAST(x AS VARCHAR)), ',') AS bucket
       |  FROM sig$p, (SELECT unnest(generate_series(0, ${Bands - 1})) AS band) bs$p
       |)""".stripMargin
  }

  /** Shared oracle CTE chain up to verified candidate pairs at
    * `minJaccard` within one relation. Jaccard verification runs on the
    * string shingle sets (equals Jaccard on xxhash64'd shingles up to
    * negligible collision probability). */
  private def minHashCandidateCtes(docsRel: String,
      minJaccard: Double): String =
    s"""${bandedCtes(docsRel, "")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b USING (band, bucket)
       |  WHERE a.doc_id < b.doc_id
       |),
       |hits AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN shn sa ON sa.doc_id = c.doc_a
       |  JOIN shn sb ON sb.doc_id = c.doc_b
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |          / len(list_distinct(sa.s || sb.s)) >= $minJaccard
       |)""".stripMargin

  /** The verified-candidate-pair CTE chain (tok → … → hits) over one
    * relation, for composing new oracles (e.g. the leakage-safe split). */
  private[graft] def candidateCtesForOracle(rel: String,
      minJaccard: Double): String = minHashCandidateCtes(rel, minJaccard)

  /** DuckDB twin of the md5-seeded MinHash candidate-count query. */
  def minHashOracleSql(minJaccard: Double): String =
    s"""WITH ${minHashCandidateCtes("documents", minJaccard)},
       |cnt AS (
       |  SELECT doc_id, count(*) AS n_candidates FROM (
       |    SELECT doc_a AS doc_id FROM hits UNION ALL SELECT doc_b FROM hits
       |  ) u GROUP BY doc_id
       |)
       |SELECT d.doc_id, CAST(COALESCE(cnt.n_candidates, 0) AS BIGINT) AS n_candidates
       |FROM documents d LEFT JOIN cnt USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Cluster-aware corpus dedup: drop exact duplicates (keep min doc_id
    * per digest), resolve the md5-MinHash-verified near-dup pairs to
    * connected components, keep ONE representative (the min doc_id) per
    * component. Pair-level dropping (Dedup.dedupCorpus) keeps a doc unless
    * it is the greater of some qualifying pair — on a hub-shaped cluster
    * (1~3, 2~3, 1!~2) it keeps {1, 2}; the clustered policy keeps exactly
    * one doc per transitive near-dup group: {1}. Which is right depends on
    * the pipeline; both are offered, both oracled. */
  /** Cross-source near-duplicate overlap matrix: for every unordered pair
    * of sources (diagonal included), the number of verified near-dup pairs
    * (md5-MinHash banding → true shingle-Jaccard >= minJaccard) with one
    * doc on each side — "how much of crawl B is already in corpus A", the
    * curation question behind source weighting and dedup-before-mixing.
    * Reuses the banded candidate join (bucket-local; no all-pairs), adds
    * two narrow (doc_id → source) equi joins for the labels; the matrix
    * itself is at most #sources² rows — broadcastable output. */
  def crossSourceOverlap(docs: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.5, srcCol: String = "source"): DataFrame = {
    val pairs = minHashCandidates(docs, textCol)
      .filter(col("jaccard") >= minJaccard)
    val src = docs.select(col("doc_id"), col(srcCol))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col(srcCol).as("src_a")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col(srcCol).as("src_b")),
        Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** DuckDB twin of [[crossSourceOverlap]]. */
  def crossSourceOverlapOracleSql(minJaccard: Double): String =
    s"""WITH ${minHashCandidateCtes("documents", minJaccard)},
       |lab AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b
       |  FROM hits h
       |  JOIN documents da ON da.doc_id = h.doc_a
       |  JOIN documents db ON db.doc_id = h.doc_b
       |)
       |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM lab GROUP BY source_a, source_b
       |ORDER BY source_a, source_b""".stripMargin

  def dedupCorpusClustered(docs: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8,
      precomputedSig: Option[DataFrame] = None,
      starCap: Option[Int] = Some(256)): DataFrame = {
    val kept = Dedup.exactKept(docs, textCol)
    // a caller-supplied signature table (covering ⊇ docs) restricts to the
    // exact-kept rows by semi join — signatures are pure functions of text,
    // so reuse is result-identical and skips the per-shingle md5 pass
    val keptSig = precomputedSig.map(
      _.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"))
    // component-level output → the skew-safe star policy is the default
    // (r16): components are provably equal on genuine duplicate classes
    // (ScaleSpec) and the cap never engages at driver-oracle scale, so
    // the full-enumeration oracle stays bit-identical there
    val pairs = minHashCandidates(kept, textCol, precomputedSig = keptSig,
        starCap = starCap)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")
    val dropped = Dedup.connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select("doc_id")
    kept.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** DuckDB twin of [[dedupCorpusClustered]]: exact-dup keep, the banded
    * candidate pair set (exactly reproduced — no probabilistic argument
    * needed), a recursive-CTE transitive closure, min-label per component,
    * keep component representatives only. */
  def dedupClusteredOracleSql(minJaccard: Double): String =
    s"""WITH RECURSIVE kept AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
       |),
       |kd AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
       |${minHashCandidateCtes("kd", minJaccard)},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM hits
       |  UNION
       |  SELECT doc_b, doc_a FROM hits
       |),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a)
       |SELECT kd.doc_id FROM kd
       |LEFT JOIN comp USING (doc_id)
       |WHERE comp.doc_id IS NULL OR comp.component = kd.doc_id
       |ORDER BY kd.doc_id""".stripMargin

  /** [[dedupCorpusClustered]] with a quality-weighted survivor policy:
    * instead of the min doc_id, each near-dup component keeps its
    * highest-`scoreCol` member (ties broken by min doc_id) — the policy a
    * real pipeline wants when near-dups differ in completeness (keep the
    * longest / highest-quality variant, drop the fragments). The exact-dup
    * stage is unaffected: exact copies have identical text, hence
    * identical scores, so min-doc_id is already the tiebreak there.
    * Survivor selection is one row_number window partitioned by component
    * — a single extra shuffle on the component label. */
  def dedupCorpusClusteredQuality(docs: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8, scoreCol: String = "n_chars",
      starCap: Option[Int] = Some(256)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = Dedup.exactKept(docs, textCol)
    // component-level consumer → star-capped candidates (see
    // [[dedupCorpusClustered]]); survivor CHOICE within a component uses
    // scoreCol, which star edges don't affect — the component sets match
    val pairs = minHashCandidates(kept, textCol, starCap = starCap)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
    val w = Window.partitionBy("component")
      .orderBy(col(scoreCol).desc, col("doc_id").asc)
    kept.join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "component")
  }

  /** DuckDB twin of [[dedupCorpusClusteredQuality]] (score = n_chars). */
  def dedupClusteredQualityOracleSql(minJaccard: Double): String =
    s"""WITH RECURSIVE kept AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
       |),
       |kd AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
       |${minHashCandidateCtes("kd", minJaccard)},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM hits
       |  UNION
       |  SELECT doc_b, doc_a FROM hits
       |),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a),
       |lab AS (
       |  SELECT kd.doc_id, COALESCE(comp.component, kd.doc_id) AS component
       |  FROM kd LEFT JOIN comp USING (doc_id)
       |),
       |rk AS (
       |  SELECT l.doc_id,
       |         row_number() OVER (PARTITION BY l.component
       |                            ORDER BY d.n_chars DESC, l.doc_id) AS rn
       |  FROM lab l JOIN documents d USING (doc_id)
       |)
       |SELECT doc_id FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Fuzzy eval-set decontamination: flag corpus docs that are whole-doc
    * MinHash near-duplicates (verified Jaccard >= `minJaccard`) of ANY
    * benchmark doc — the paraphrase-level policy modern pipelines run
    * alongside the n-gram-overlap check ([[Dedup.contaminationCheck]]
    * counts shared shingles; this one answers "is the doc essentially a
    * benchmark doc"). Self-pairs are excluded so a benchmark drawn from
    * the corpus doesn't flag itself. The benchmark side is small by
    * nature, so its signature/banded tables broadcast at scale; the
    * corpus side is the same per-row signature map as every banded op. */
  def fuzzyDecontaminate(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", minJaccard: Double = 0.8): DataFrame = {
    val shD = sigTable(docs, textCol)
    val shB = sigTable(benchmark, textCol)
    val cand = bandedOf(shD)
      .join(bandedOf(shB)
          .select(col("band"), col("bucket"), col("doc_id").as("bench_id")),
        Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("bench_id"))
      .select("doc_id", "bench_id")
      .distinct()
    val hits = cand
      .join(shD.select(col("doc_id"), col("hs").as("h_d")), Seq("doc_id"))
      .join(shB.select(col("doc_id").as("bench_id"), col("hs").as("h_b")),
        Seq("bench_id"))
      .filter(jaccardSorted(col("h_d"), col("h_b")) >= minJaccard)
      .groupBy("doc_id")
      .agg(countDistinct(col("bench_id")).as("n_fuzzy_matches"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_fuzzy_matches"))
      .withColumn("fuzzy_contaminated", col("n_fuzzy_matches") > 0)
  }

  /** DuckDB twin of [[fuzzyDecontaminate]] for a benchmark slice of the
    * documents table defined by a SQL predicate. */
  def fuzzyDecontaminateOracleSql(benchPred: String,
      minJaccard: Double): String =
    s"""WITH bench AS (SELECT * FROM documents WHERE $benchPred),
       |${bandedCtes("documents", "")},
       |${bandedCtes("bench", "_b")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id, b.doc_id AS bench_id
       |  FROM banded a JOIN banded_b b USING (band, bucket)
       |  WHERE a.doc_id <> b.doc_id
       |),
       |hits AS (
       |  SELECT c.doc_id, count(DISTINCT c.bench_id) AS n_fuzzy_matches
       |  FROM cand c
       |  JOIN shn sd ON sd.doc_id = c.doc_id
       |  JOIN shn_b sb ON sb.doc_id = c.bench_id
       |  WHERE CAST(len(list_intersect(sd.s, sb.s)) AS DOUBLE)
       |          / len(list_distinct(sd.s || sb.s)) >= $minJaccard
       |  GROUP BY c.doc_id
       |)
       |SELECT d.doc_id,
       |       CAST(COALESCE(h.n_fuzzy_matches, 0) AS BIGINT) AS n_fuzzy_matches,
       |       COALESCE(h.n_fuzzy_matches, 0) > 0 AS fuzzy_contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Leakage-safe train/val/test split: the split unit is the near-dup
    * CLUSTER, not the document. Per-doc hashing (Sampling.withSplit) lets
    * two near-duplicates land in train and test — the classic eval
    * contamination that inflates held-out scores. Here md5-MinHash pairs
    * resolve to connected components and the stable md5 split bucket is
    * computed on the component representative, so every member of a
    * cluster moves to the same split atomically. Singleton docs are their
    * own component — for them this degenerates to exactly withSplit's
    * assignment on doc_id. Same split stability contract as withSplit:
    * content-independent arithmetic, reproducible across runs, engines,
    * and partitionings.
    *
    * `starCap` defaults to None here — UNLIKE the other component-level
    * consumers (r17, advisor finding): this function's entire purpose is
    * the contamination guarantee, and under a star cap a member↔member
    * near-dup pair whose every shared band bucket is over-cap AND whose
    * hub verification fails is silently lost, i.e. two genuine near-dups
    * can land in different splits. Star closure is only component-equal
    * on GENUINE duplicate classes (members within `minJaccard` of the
    * bucket hub); eval-set integrity should not inherit that caveat by
    * default. `starCap = Some(n)` is the explicit scale opt-in for
    * corpora whose dominant-class skew makes full enumeration quadratic
    * (the r15 sf1 measurement) — the residual risk is bounded by the
    * bands: a J >= 0.8 pair shares ~J⁴·16 ≈ 6.6 of 16 band buckets in
    * expectation, and the pair is lost only if EVERY shared bucket is
    * over-cap and the hub chain fails. */
  def leakageSafeSplit(docs: DataFrame, textCol: String = "text",
      minJaccard: Double = 0.8, trainPct: Int = 80,
      valPct: Int = 10, starCap: Option[Int] = None): DataFrame = {
    require(trainPct + valPct <= 100, "train + val must leave room for test")
    val pairs = minHashCandidates(docs, textCol, starCap = starCap)
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs)
    val b = Sampling.splitBucket(col("component"))
    docs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split_bucket", b)
      .withColumn("split",
        when(col("split_bucket") < trainPct, "train")
          .when(col("split_bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** The full ingest chain a daily crawl actually runs: admission filter
    * against the existing corpus ([[dedupAgainst]] — exact digest + banded
    * near-dup) THEN within-batch dedup of the admitted docs
    * ([[dedupCorpusClustered]] — the incoming batch itself carries internal
    * duplicates a corpus-only filter never sees). Both stages are the
    * md5-seeded oracle-exact paths; at scale stage 1 joins a day of data
    * against the corpus signature table and stage 2 runs on the (much
    * smaller) admitted batch only. */
  def ingestE2e(corpus: DataFrame, incoming: DataFrame,
      textCol: String = "text", minJaccard: Double = 0.8): DataFrame = {
    // stage 2 reads the admitted batch from two subtrees (exactGroups'
    // digest groupBy and the kept-table fill), so the admission joins
    // re-execute once, over the CACHED signature tables. The admitted rows
    // stay unpinned: no valid measurement says pinning them pays
    // (SCALING.md, ingest stage breakdown)
    val (admitted, shI) =
      admitWithSig(corpus, incoming, textCol, minJaccard)
    // stage 2 reuses stage 1's cached incoming-side signatures (shI covers
    // every admitted doc) — the chain hashes each shingle exactly once
    dedupCorpusClustered(admitted, textCol, minJaccard,
      precomputedSig = Some(shI))
  }

  /** DuckDB twin of [[ingestE2e]]: the [[dedupAgainstOracleSql]] admission
    * CTEs (renamed `cand_in`/`dropped_in` to clear the within-batch names)
    * feeding the [[dedupClusteredOracleSql]] exact-keep → banded pairs →
    * recursive transitive closure → component-representative chain over the
    * admitted relation. */
  def ingestE2eOracleSql(corpusPred: String, incomingPred: String,
      minJaccard: Double): String =
    s"""WITH RECURSIVE corpus AS (SELECT * FROM documents WHERE $corpusPred),
       |inc AS (SELECT * FROM documents WHERE $incomingPred),
       |cs AS (SELECT DISTINCT sha256(text) AS sha FROM corpus),
       |ce AS (
       |  SELECT i.* FROM inc i LEFT JOIN cs ON sha256(i.text) = cs.sha
       |  WHERE cs.sha IS NULL
       |),
       |${bandedCtes("ce", "_i")},
       |${bandedCtes("corpus", "_c")},
       |cand_in AS (
       |  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS cor_id
       |  FROM banded_i a JOIN banded_c b USING (band, bucket)
       |),
       |dropped_in AS (
       |  SELECT DISTINCT c.inc_id FROM cand_in c
       |  JOIN shn_i si ON si.doc_id = c.inc_id
       |  JOIN shn_c sc ON sc.doc_id = c.cor_id
       |  WHERE CAST(len(list_intersect(si.s, sc.s)) AS DOUBLE)
       |          / len(list_distinct(si.s || sc.s)) >= $minJaccard
       |),
       |adm AS (
       |  SELECT ce.* FROM ce LEFT JOIN dropped_in d ON d.inc_id = ce.doc_id
       |  WHERE d.inc_id IS NULL
       |),
       |kept AS (SELECT min(doc_id) AS doc_id FROM adm GROUP BY text),
       |kd AS (SELECT a.doc_id, a.text FROM adm a JOIN kept USING (doc_id)),
       |${minHashCandidateCtes("kd", minJaccard)},
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM hits
       |  UNION
       |  SELECT doc_b, doc_a FROM hits
       |),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |),
       |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a)
       |SELECT kd.doc_id FROM kd
       |LEFT JOIN comp USING (doc_id)
       |WHERE comp.doc_id IS NULL OR comp.component = kd.doc_id
       |ORDER BY kd.doc_id""".stripMargin

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash as two 32-bit halves (lo = md5 hex chars 1-8, hi =
    * chars 9-16 per word): signed bit-votes per position, assembled with
    * bit ORs. Halves keep every shift inside non-negative 32-bit values —
    * identical semantics in Spark and DuckDB (no sign-bit wraparound). */
  def simHash(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(Dedup.words(textCol)).as("word"))
      .filter(col("word") =!= "")
      .select(col("doc_id"),
        hex8Col(col("word"), 1).as("lo"), hex8Col(col("word"), 9).as("hi"))
    val votes = (0 until 32).flatMap { j =>
      Seq(
        sum(when(shiftright(col("lo"), j).bitwiseAND(lit(1L)) === 1, 1)
          .otherwise(-1)).as(s"vl$j"),
        sum(when(shiftright(col("hi"), j).bitwiseAND(lit(1L)) === 1, 1)
          .otherwise(-1)).as(s"vh$j"))
    }
    val agg = hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    def assemble(prefix: String): Column = (0 until 32)
      .map(j => when(col(s"$prefix$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    agg.select(col("doc_id"),
      assemble("vl").as("sim_lo"), assemble("vh").as("sim_hi"))
  }

  /** SimHash near-dup candidate count per doc, with multi-table probing:
    * the 64 bits split into maxHamming+1 disjoint blocks, each block is a
    * bucket table, and candidates collide in ANY table. By pigeonhole,
    * <= maxHamming differing bits cannot touch all maxHamming+1 blocks, so
    * every true pair shares a bucket — recall is exactly 1 (single-prefix
    * bucketing silently missed pairs differing in a prefix bit). Blocks
    * must align with the 32-bit halves, so maxHamming+1 must be a power of
    * two >= 2. Pairs are deduped before counting (a near pair collides in
    * several tables). */
  def simHashNearDups(docs: DataFrame, textCol: String = "text",
      maxHamming: Int = 3): DataFrame =
    simHashNearDupsFromSig(simHash(docs, textCol), maxHamming)

  /** Multi-table near-dup counts over precomputed (doc_id, sim_lo, sim_hi)
    * signatures — split out so tests can plant exact signatures. */
  private[graft] def simHashNearDupsFromSig(sh: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val tables = maxHamming + 1
    val width = 64 / tables
    require(tables >= 2 && 64 % tables == 0 && 32 % width == 0,
      "maxHamming+1 must be a power of two >= 2 (blocks align with halves)")
    val mask = (1L << width) - 1
    val buckets = (0 until tables).map { t =>
      val bitpos = t * width
      val half = if (bitpos < 32) col("sim_lo") else col("sim_hi")
      shiftright(half, bitpos % 32).bitwiseAND(lit(mask))
    }
    val bucketed = sh.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      posexplode(array(buckets: _*)).as(Seq("t", "bucket")))
    val a = bucketed.select(col("t"), col("bucket"),
      col("doc_id").as("doc_a"), col("sim_lo").as("lo_a"), col("sim_hi").as("hi_a"))
    val b = bucketed.select(col("t"), col("bucket"),
      col("doc_id").as("doc_b"), col("sim_lo").as("lo_b"), col("sim_hi").as("hi_b"))
    val pairs = a.join(b, Seq("t", "bucket"))
      .filter(col("doc_a") < col("doc_b") &&
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
          bit_count(col("hi_a").bitwiseXOR(col("hi_b")))) <= maxHamming)
      .select("doc_a", "doc_b")
      .distinct()
    sh.join(
        pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_near")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_near"))
      .select("doc_id", "sim_lo", "sim_hi", "n_near")
  }

  /** DuckDB twin of the md5-seeded SimHash near-dup query (maxHamming=3,
    * 4 tables of 16 bits). Bit votes are computed by exploding the 32 bit
    * positions — different plan, identical arithmetic. */
  def simHashOracleSql(maxHamming: Int = 3): String = {
    require(maxHamming == 3, "oracle is written for the 4x16-bit scheme")
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
       |  FROM documents
       |),
       |h AS (
       |  SELECT doc_id,
       |         CAST('0x' || substring(md5(word), 1, 8) AS BIGINT) AS lo,
       |         CAST('0x' || substring(md5(word), 9, 8) AS BIGINT) AS hi
       |  FROM w WHERE word <> ''
       |),
       |bits AS (
       |  SELECT doc_id, j,
       |         sum(CASE WHEN (lo >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vl,
       |         sum(CASE WHEN (hi >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vh
       |  FROM h, (SELECT unnest(generate_series(0, 31)) AS j) js
       |  GROUP BY doc_id, j
       |),
       |sg AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN vl > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sim_lo,
       |         CAST(sum(CASE WHEN vh > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sim_hi
       |  FROM bits GROUP BY doc_id
       |),
       |bk AS (
       |  SELECT doc_id, sim_lo, sim_hi, t,
       |         CASE t WHEN 0 THEN sim_lo & 65535
       |                WHEN 1 THEN sim_lo >> 16
       |                WHEN 2 THEN sim_hi & 65535
       |                ELSE sim_hi >> 16 END AS bucket
       |  FROM sg, (SELECT unnest(generate_series(0, 3)) AS t) ts
       |),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN bk b USING (t, bucket)
       |  WHERE a.doc_id < b.doc_id
       |    AND bit_count(xor(a.sim_lo, b.sim_lo))
       |        + bit_count(xor(a.sim_hi, b.sim_hi)) <= $maxHamming
       |),
       |cnt AS (
       |  SELECT doc_id, count(*) AS n_near FROM (
       |    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
       |  ) u GROUP BY doc_id
       |)
       |SELECT sg.doc_id, sg.sim_lo, sg.sim_hi,
       |       CAST(COALESCE(cnt.n_near, 0) AS BIGINT) AS n_near
       |FROM sg LEFT JOIN cnt USING (doc_id)
       |ORDER BY sg.doc_id""".stripMargin
  }

  // ------------------------------------------------------ hyperplane LSH

  /** Max embedding dimension the precomputed sign tables cover; raise the
    * constant for wider embeddings (the tables are sliced to the actual
    * vector length per row). */
  val lshMaxDim: Int = 128

  private def signsLit(t: Int, b: Int): Column =
    typedLit((0 until lshMaxDim).map(p => lshSign(t, b, p)))

  /** Fails the query (raise_error) when `embCol` is wider than the
    * precomputed [[lshMaxDim]] sign tables. Without this, `slice` truncates
    * the sign vector, `zip_with` null-pads the short side, the dot folds to
    * null, and buckets/projections silently come out null — broken blocking
    * with no error. The compiled kernel (Md5LshBuckets) requires the same
    * bound at eval; this guard gives the built-in expression forms the same
    * fail-fast contract. */
  private def requireDim(embCol: Column, result: Column): Column =
    when(size(embCol) <= lshMaxDim, result).otherwise(raise_error(concat(
      lit(s"embedding dim "), size(embCol).cast("string"),
      lit(s" exceeds the precomputed sign table ($lshMaxDim); " +
        "raise Neutral.lshMaxDim for wider embeddings"))))

  /** Built-in-functions form of the sign-projection buckets — the semantic
    * reference the compiled kernel must match bit-for-bit (NeutralSpec).
    * A vector with a null element yields null, as the kernel does: its
    * null dots would otherwise read as clear bits and bucket the vector
    * as if it were zero-filled. */
  private[graft] def lshBucketsRef(embCol: Column, nbits: Int = 8,
      tables: Int = 4): Column =
    requireDim(embCol, when(!exists(embCol, _.isNull), array((0 until tables).map { t =>
      (0 until nbits).map { b =>
        val dot = aggregate(
          zip_with(slice(signsLit(t, b), lit(1), size(embCol)), embCol,
            (s, x) => s * x.cast("double")),
          lit(0.0), (acc, v) => acc + v)
        when(dot >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)))

  /** `tables` md5-seeded sign-projection buckets (`nbits` bits each) per
    * vector, computed by the compiled kernel (graft.expr.Md5LshBuckets).
    * Dot products accumulate left-to-right in double — the exact order the
    * oracle's list_reduce uses — so bucket bits match bit-for-bit. */
  def lshBuckets(embCol: Column, nbits: Int = 8, tables: Int = 4): Column =
    graft.expr.Md5LshBuckets.lshBuckets(embCol, nbits, tables)

  /** SQL fragment: the bucket of table `t` (an in-scope integer column)
    * for a DOUBLE[] column `v`, signs re-derived from md5 inline (compact;
    * the oracle does not need the precomputed tables' speed). */
  private def duckBucket(v: String, t: String, nbits: Int): String =
    // NOTE: no line may START with '||' — this fragment is re-interpolated
    // into templates that call .stripMargin, which would eat one pipe
    s"""CAST(list_sum(list_transform(generate_series(0, ${nbits - 1}), bb ->
       |    CASE WHEN list_reduce(list_transform(generate_series(1, len($v)), i ->
       |           $v[i] * CASE WHEN instr('01234567',
       |               substring(md5('lsh:' || CAST($t AS VARCHAR) || ':' ||
       |                 CAST(bb AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)) > 0
       |             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END),
       |           (a, b) -> a + b) >= 0
       |         THEN CAST(1 AS BIGINT) << bb ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin

  /** Sign-LSH candidate pairs over a `(t, bucket)`-exploded table, with
    * the house star/cap skew policy (r16 verdict #1 — the last measured
    * quadratic): buckets at or under `starCap` enumerate full pairs
    * (exactly the uncapped behavior); OVERSIZED buckets emit hub →
    * member STAR candidates only (hub = min vec_id of the bucket),
    * O(size) per bucket instead of O(size²). Under fixed `nbits` the
    * per-bucket occupancy grows ∝ n, so uncapped within-bucket pairs
    * grow ∝ n² — measured rows-exponent 1.95–2.00 on the sf0.1→sf1
    * decade (SCALE_SWEEP_r16all). The cap bounds candidates at
    * ~`starCap`·occupied + n per table. The bucket-size window rides the
    * SAME (t, bucket) key the self-join shuffles on, so sizing adds no
    * extra exchange. Every candidate — pair or star — still pays the
    * exact cosine verification downstream; the policy only trades
    * member↔member pairs that meet EXCLUSIVELY inside over-cap buckets
    * for the hub edge ([[minHashCandidates]]'s starCap contract; star ==
    * full components on a genuine duplicate class, pinned by ScaleSpec). */
  private[ops] def cosineCandidates(bucketed: DataFrame,
      starCap: Option[Int]): DataFrame = starCap match {
    case Some(cap) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("t", "bucket")
      val sized = bucketed
        .withColumn("bsize", count(lit(1)).over(w))
        .withColumn("rep", min(col("vec_id")).over(w))
      val small = sized.filter(col("bsize") <= cap)
        .select("t", "bucket", "vec_id")
      val pairsSmall = small.select(col("t"), col("bucket"),
          col("vec_id").as("id_a"))
        .join(small.select(col("t"), col("bucket"),
          col("vec_id").as("id_b")), Seq("t", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      // rep = min(vec_id) over the bucket, so id_a < id_b is canonical
      val star = sized.filter(col("bsize") > cap &&
          col("vec_id") =!= col("rep"))
        .select(col("rep").as("id_a"), col("vec_id").as("id_b"))
      pairsSmall.unionByName(star).distinct()
    case None =>
      bucketed.select(col("t"), col("bucket"), col("vec_id").as("id_a"))
        .join(bucketed.select(col("t"), col("bucket"),
          col("vec_id").as("id_b")), Seq("t", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .distinct()
  }

  /** Sign-LSH depth for a corpus of `n` vectors: `2·log2(n) − 16` bits
    * (ceil), floored at `base` (so every driver-oracle scale — n ≤ 4096
    * — derives exactly the oracle's static 8) and capped at 30. This is
    * the DENSITY half of the scale fix (r17): with FIXED depth, bucket
    * occupancy grows ∝ n and within-bucket pairs grow ∝ n² even when no
    * bucket reaches the star cap — the r17 first sweep measured rows
    * slope 1.35–1.39 with the cap alone. The depth must grow with
    * 2·log2(n), not log2(n): enumeration is over the n²/2 PAIR space,
    * so pinning expected random collisions (n²·2^−b per table) constant
    * needs b = 2·log2(n) − const — the all-pairs form of the standard
    * k = O(log n) LSH parameter rule (Indyk & Motwani 1998; Datar et
    * al. 2004 pick k against the far-pair collision prob the same way).
    * An occupancy-pinned b = log2(n/16) was measured at rows-exponent
    * 1.57 on the sf1→sf10 decade — Gaussian sign-bucket occupancy is
    * heavy-tailed (hyperplane bits are correlated), so the n²·2^−b term
    * must be killed outright, not merely thinned. The star cap remains
    * the SKEW backstop: near-identical cliques land in one bucket at
    * ANY depth (scaling preserves every sign), and only the cap bounds
    * those. Recall contract: per-table collision probability for a true
    * pair at angle θ is (1 − θ/π)^b, so deeper codes trade recall at
    * fixed `tables` — the documented S-curve steepens with corpus size
    * (the fixed-compute-per-row production trade; `tables` is the
    * recall dial — near-identical pairs, cos ≥ 0.99, keep ≥ ~85%
    * recall at b = 20 — and the bounded exact anchor is the census
    * instrument). */
  def lshBitsFor(n: Long, base: Int = 8): Int = {
    val needed =
      math.ceil(2.0 * math.log(n.max(1L).toDouble) / math.log(2.0)).toInt - 16
    math.min(30, math.max(base, needed))
  }

  /** `nbits` if positive, else the auto depth for `emb`'s row count
    * (one count job — metadata-cheap on a table scan). */
  private def resolveBits(emb: DataFrame, nbits: Int): Int =
    if (nbits > 0) nbits else lshBitsFor(emb.count())

  /** Exact-cosine-verified near-dup PAIRS at `minCos` from the
    * star-capped sign-LSH blocking — the edge stream component-level
    * consumers close over ([[Dedup.connectedComponents]] after renaming
    * to doc_a/doc_b). Emitted pairs are never approximate (every
    * candidate is verified with the exact cosine kernel); `starCap`
    * only bounds WHICH candidates are generated in over-cap buckets.
    * `nbits = 0` (the default) derives the depth from the corpus size
    * ([[lshBitsFor]]) so candidate volume stays linear in n. */
  def cosineNearDupPairs(emb: DataFrame, minCos: Double,
      nbits: Int = 0, tables: Int = 4,
      starCap: Option[Int] = Some(256)): DataFrame = {
    val bits = resolveBits(emb, nbits)
    val bucketed = emb.select(col("vec_id"),
      posexplode(lshBuckets(col("embedding"), bits, tables))
        .as(Seq("t", "bucket")))
    cosineCandidates(bucketed, starCap)
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), Seq("id_b"))
      .filter(Similarity.cosine("e_a", "e_b") >= minCos)
      .select("id_a", "id_b")
  }

  /** Embedding-cosine near-dup counts at `minCos`, blocked by md5-seeded
    * multi-table sign-LSH: each vector lands in `tables` buckets, candidate
    * pairs share (table, bucket), and candidates are verified with the
    * exact cosine kernel — OR-amplification keeps recall high for
    * genuinely-near pairs while the only shuffle is the equi join on
    * (table, bucket). [[Similarity.cosineNearDupCountsExact]] is the
    * all-pairs correctness baseline. The per-table bucket ids ride along in the output so the hash gate
    * validates the cross-engine bucket computation DIRECTLY — on a corpus
    * with no qualifying pair, count parity alone would not prove the
    * candidate generation matches.
    *
    * Skew/scale contract (mirrors the phash/audio degree outputs,
    * Multimodal.scala): with the default `starCap = Some(256)`, buckets
    * over the cap emit hub-verified star candidates only, so `n_near`
    * for members of an over-cap near-dup class is a documented LOWER
    * BOUND (the has-near-dup signal is preserved for any member within
    * `minCos` of the bucket hub); below the cap — including the whole
    * driver oracle scale, where random sign-buckets hold a handful of
    * vectors — counts are exact and bit-identical to the uncapped form.
    * `starCap = None` restores exact full enumeration (quadratic in
    * bucket occupancy; opt-in). `nbits = 0` (default) derives the LSH
    * depth from the corpus size ([[lshBitsFor]] — the density half of
    * the scale fix; every driver-oracle scale derives the oracle's
    * static 8, so hash parity is unaffected). */
  def cosineNearDupCounts(emb: DataFrame, minCos: Double,
      nbits: Int = 0, tables: Int = 4,
      starCap: Option[Int] = Some(256)): DataFrame = {
    val bits = resolveBits(emb, nbits)
    val withB = emb.select(col("vec_id"), col("embedding"),
      lshBuckets(col("embedding"), bits, tables).as("bks"))
    val bucketed = withB.select(col("vec_id"),
      posexplode(col("bks")).as(Seq("t", "bucket")))
    val cand = cosineCandidates(bucketed, starCap)
    val pairs = cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), Seq("id_b"))
      .filter(Similarity.cosine("e_a", "e_b") >= minCos)
    val bucketCols = (0 until tables).map(t =>
      element_at(col("bks"), t + 1).as(s"bucket_t$t"))
    withB.select(col("vec_id") +: bucketCols: _*)
      .join(pairs.select(explode(array(col("id_a"), col("id_b"))).as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_near")),
        Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_near"))
  }

  /** DuckDB twin of [[cosineNearDupCounts]] (bucket ids in the output). */
  def cosineNearDupOracleSql(minCos: Double, nbits: Int = 8,
      tables: Int = 4): String = {
    val bucketCols = (0 until tables)
      .map(t => s"bks[${t + 1}] AS bucket_t$t").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |bl AS (
       |  SELECT vec_id, v, list_transform(generate_series(0, ${tables - 1}), tt ->
       |    ${duckBucket("v", "tt", nbits)}) AS bks
       |  FROM e
       |),
       |bk AS (
       |  SELECT vec_id, ts.t AS t, bks[ts.t + 1] AS bucket
       |  FROM bl, (SELECT unnest(generate_series(0, ${tables - 1})) AS t) ts
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bk a JOIN bk b USING (t, bucket)
       |  WHERE a.vec_id < b.vec_id
       |),
       |pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.id_a
       |  JOIN e eb ON eb.vec_id = c.id_b
       |  WHERE list_cosine_similarity(ea.v, eb.v) >= $minCos
       |),
       |cnt AS (
       |  SELECT vec_id, count(*) AS n_near FROM (
       |    SELECT id_a AS vec_id FROM pairs UNION ALL SELECT id_b FROM pairs
       |  ) u GROUP BY vec_id
       |)
       |SELECT bl.vec_id, $bucketCols,
       |       CAST(COALESCE(cnt.n_near, 0) AS BIGINT) AS n_near
       |FROM bl LEFT JOIN cnt USING (vec_id)
       |ORDER BY bl.vec_id""".stripMargin
  }

  /** Dup-rate curve across cosine thresholds — the tuning report a
    * curation pipeline wants BEFORE committing to a dedup threshold:
    * candidates are generated ONCE by the same banded sign-LSH blocking
    * the production dedup uses, each candidate's cosine is verified
    * once, and the (tiny) verified-pair stream then fans out per
    * threshold for (pairs, distinct docs) counts — so sweeping five
    * thresholds costs one candidate pass plus 5× a pair-sized
    * aggregate, not five dedup runs. Honest scope: this is the curve AS
    * SEEN BY THIS BLOCKING — LSH recall decays toward lower thresholds
    * (the S-curve), which is the right instrument for tuning the
    * pipeline's own threshold and NOT an exhaustive pair census (the
    * bounded all-pairs anchor q_ns_dedup_cosine_exact is that). The
    * default `starCap = Some(256)` extends "as seen by this blocking" to
    * the skew axis: over-cap sign-buckets contribute hub-verified star
    * pairs only, so the curve's pair/doc counts are lower bounds under a
    * dominant near-dup class — the same candidate stream the production
    * dedup at that cap would verify, which is exactly what the tuning
    * instrument should see. Below the cap (all of oracle scale) the
    * curve is bit-identical to uncapped. `nbits = 0` (default) derives
    * the depth from the corpus size ([[lshBitsFor]]). */
  def cosineThresholdCurve(emb: DataFrame, thresholds: Seq[Double],
      nbits: Int = 0, tables: Int = 4,
      starCap: Option[Int] = Some(256)): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val bits = resolveBits(emb, nbits)
    val spark = emb.sparkSession
    val bucketed = emb.select(col("vec_id"),
      posexplode(lshBuckets(col("embedding"), bits, tables))
        .as(Seq("t", "bucket")))
    val cand = cosineCandidates(bucketed, starCap)
    // scored once, consumed by the pair and doc aggregates
    val scored = Pins.cache(cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")),
        Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine("e_a", "e_b").as("cos"))
      .filter(col("cos") >= thresholds.min))
    val fanned = scored.select(col("id_a"), col("id_b"), col("cos"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("cos") >= col("threshold"))
    val pairsAgg = fanned.groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"))
    val docsAgg = fanned
      .select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("vid"))
      .groupBy("threshold")
      .agg(countDistinct(col("vid")).as("n_docs"))
    import spark.implicits._
    thresholds.toDF("threshold")
      .join(pairsAgg, Seq("threshold"), "left")
      .join(docsAgg, Seq("threshold"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
  }

  /** DuckDB twin of [[cosineThresholdCurve]]. */
  def cosineThresholdCurveOracleSql(thresholds: Seq[Double],
      nbits: Int = 8, tables: Int = 4): String = {
    val thValues = thresholds.map(t => s"($t)").mkString(", ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |bl AS (
       |  SELECT vec_id, v, list_transform(generate_series(0, ${tables - 1}), tt ->
       |    ${duckBucket("v", "tt", nbits)}) AS bks
       |  FROM e
       |),
       |bk AS (
       |  SELECT vec_id, ts.t AS t, bks[ts.t + 1] AS bucket
       |  FROM bl, (SELECT unnest(generate_series(0, ${tables - 1})) AS t) ts
       |),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bk a JOIN bk b USING (t, bucket)
       |  WHERE a.vec_id < b.vec_id
       |),
       |scored AS (
       |  SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS cos
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.id_a
       |  JOIN e eb ON eb.vec_id = c.id_b
       |  WHERE list_cosine_similarity(ea.v, eb.v) >= ${thresholds.min}
       |),
       |th(threshold) AS (VALUES $thValues),
       |fanned AS (
       |  SELECT th.threshold, s.id_a, s.id_b
       |  FROM scored s JOIN th ON s.cos >= th.threshold
       |),
       |pa AS (
       |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM fanned GROUP BY threshold
       |),
       |da AS (
       |  SELECT threshold, CAST(count(DISTINCT vid) AS BIGINT) AS n_docs
       |  FROM (SELECT threshold, id_a AS vid FROM fanned
       |        UNION ALL SELECT threshold, id_b FROM fanned) u
       |  GROUP BY threshold
       |)
       |SELECT th.threshold,
       |       COALESCE(pa.n_pairs, 0) AS n_pairs,
       |       COALESCE(da.n_docs, 0) AS n_docs
       |FROM th LEFT JOIN pa USING (threshold) LEFT JOIN da USING (threshold)
       |ORDER BY th.threshold""".stripMargin
  }

  /** Shared CTE chain for the ENGAGED-star cosine gates (r17): a slice of
    * the embeddings table plus `plantN` planted same-direction copies of
    * vec 0 (vec 0's vector scaled by i + 2.0 — sign projections, and
    * therefore buckets, are identical to vec 0's for every scale factor,
    * so the class lands in ONE bucket per table and blows past `cap`),
    * then the size-gated candidate union the Spark star policy emits:
    * buckets <= cap → full pairs, oversized → bucket-min rep → member.
    * Scale factors are exact doubles and both engines multiply
    * double-by-double elementwise, so planted vectors are bit-identical
    * cross-engine. Ends with `pairs` = exact-cosine-verified candidates. */
  private def cosineStarCtes(minCos: Double, nbits: Int, tables: Int,
      cap: Int, plantN: Int, sliceMax: Int): String =
    s"""e0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id < $sliceMax
       |),
       |base AS (SELECT v AS bv FROM e0 WHERE vec_id = 0),
       |planted AS (
       |  SELECT CAST(1000 + i AS BIGINT) AS vec_id,
       |         list_transform(bv, x -> x * (CAST(i AS DOUBLE) + 2.0)) AS v
       |  FROM base, (SELECT unnest(generate_series(1, $plantN)) AS i)
       |),
       |e AS (SELECT vec_id, v FROM e0 UNION ALL SELECT vec_id, v FROM planted),
       |bl AS (
       |  SELECT vec_id, v, list_transform(generate_series(0, ${tables - 1}), tt ->
       |    ${duckBucket("v", "tt", nbits)}) AS bks
       |  FROM e
       |),
       |bk AS (
       |  SELECT vec_id, ts.t AS t, bks[ts.t + 1] AS bucket
       |  FROM bl, (SELECT unnest(generate_series(0, ${tables - 1})) AS t) ts
       |),
       |bsz AS (
       |  SELECT t, bucket, count(*) AS bsize, min(vec_id) AS rep
       |  FROM bk GROUP BY t, bucket
       |),
       |cand AS (
       |  SELECT DISTINCT id_a, id_b FROM (
       |    SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |    FROM bk a
       |    JOIN bsz z ON a.t = z.t AND a.bucket = z.bucket
       |    JOIN bk b ON b.t = a.t AND b.bucket = a.bucket
       |    WHERE z.bsize <= $cap AND a.vec_id < b.vec_id
       |    UNION ALL
       |    SELECT z.rep, b.vec_id
       |    FROM bk b
       |    JOIN bsz z ON b.t = z.t AND b.bucket = z.bucket
       |    WHERE z.bsize > $cap AND b.vec_id <> z.rep
       |  ) u
       |),
       |pairs AS (
       |  SELECT c.id_a, c.id_b
       |  FROM cand c
       |  JOIN e ea ON ea.vec_id = c.id_a
       |  JOIN e eb ON eb.vec_id = c.id_b
       |  WHERE list_cosine_similarity(ea.v, eb.v) >= $minCos
       |)""".stripMargin

  /** DuckDB oracle for the engaged-star cosine COMPONENTS gate: the
    * size-gated star-union candidates of [[cosineStarCtes]], verified,
    * closed to connected components with a recursive CTE (the
    * q_ns_multimodal_phash_star pattern). */
  def cosineStarComponentsOracleSql(minCos: Double, nbits: Int = 8,
      tables: Int = 4, cap: Int = 12, plantN: Int = 60,
      sliceMax: Int = 300): String =
    s"""WITH RECURSIVE ${cosineStarCtes(minCos, nbits, tables, cap, plantN, sliceMax)},
       |sedges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION
       |  SELECT id_b, id_a FROM pairs
       |),
       |sreach(a, b) AS (
       |  SELECT a, b FROM sedges
       |  UNION
       |  SELECT r.a, e2.b FROM sreach r JOIN sedges e2 ON r.b = e2.a
       |),
       |scomp AS (SELECT a AS vec_id, least(a, min(b)) AS component
       |          FROM sreach GROUP BY a)
       |SELECT e.vec_id,
       |       CAST(coalesce(scomp.component, e.vec_id) AS BIGINT) AS component
       |FROM e LEFT JOIN scomp USING (vec_id)
       |ORDER BY e.vec_id""".stripMargin

  /** DuckDB oracle for the engaged-star threshold-curve gate: the same
    * star-union verified pair stream fanned across thresholds. */
  def cosineStarCurveOracleSql(thresholds: Seq[Double], nbits: Int = 8,
      tables: Int = 4, cap: Int = 12, plantN: Int = 60,
      sliceMax: Int = 300): String = {
    val thValues = thresholds.map(t => s"($t)").mkString(", ")
    s"""WITH ${cosineStarCtes(thresholds.min, nbits, tables, cap, plantN, sliceMax)},
       |scored AS (
       |  SELECT p.id_a, p.id_b, list_cosine_similarity(ea.v, eb.v) AS cos
       |  FROM pairs p
       |  JOIN e ea ON ea.vec_id = p.id_a
       |  JOIN e eb ON eb.vec_id = p.id_b
       |),
       |th(threshold) AS (VALUES $thValues),
       |fanned AS (
       |  SELECT th.threshold, s.id_a, s.id_b
       |  FROM scored s JOIN th ON s.cos >= th.threshold
       |),
       |pa AS (
       |  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM fanned GROUP BY threshold
       |),
       |da AS (
       |  SELECT threshold, CAST(count(DISTINCT vid) AS BIGINT) AS n_docs
       |  FROM (SELECT threshold, id_a AS vid FROM fanned
       |        UNION ALL SELECT threshold, id_b FROM fanned) u
       |  GROUP BY threshold
       |)
       |SELECT th.threshold,
       |       COALESCE(pa.n_pairs, 0) AS n_pairs,
       |       COALESCE(da.n_docs, 0) AS n_docs
       |FROM th LEFT JOIN pa USING (threshold) LEFT JOIN da USING (threshold)
       |ORDER BY th.threshold""".stripMargin
  }

  /** Johnson-Lindenstrauss random projection to `outDim` dimensions with
    * md5-seeded Rademacher vectors — the cheap dimensionality cut ahead of
    * clustering/ANN when the full embedding width is overkill (a ±1
    * projection needs no stored model and JL's distance-preservation
    * guarantees hold for Rademacher entries). Map-only: outDim fixed-order
    * double folds per row, no shuffle at any scale. Output is FLAT
    * (vec_id, pos, v) rows — projections are exact doubles cross-engine
    * (same fold order as the oracle's list_reduce), and flat doubles are
    * what the hash gate compares exactly (the labelCentroidsFlat
    * pattern). Linearity is exact in IEEE: proj(c·v) = c·proj(v) for
    * power-of-two c (NeutralSpec). */
  def randomProjectFlat(emb: DataFrame, outDim: Int = 8): DataFrame = {
    require(outDim >= 1, "need at least one output dimension")
    val projections = (0 until outDim).map { j =>
      val signs = typedLit((0 until lshMaxDim).map(p => rpSign(j, p)))
      aggregate(
        zip_with(slice(signs, lit(1), size(col("embedding"))), col("embedding"),
          (s, x) => s * x.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    }
    emb.select(col("vec_id"),
        posexplode(requireDim(col("embedding"), array(projections: _*)))
          .as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("int").as("pos"), col("v"))
  }

  /** DuckDB twin of [[randomProjectFlat]]. */
  def randomProjectOracleSql(outDim: Int = 8): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
       |),
       |p AS (
       |  SELECT vec_id, CAST(js.j AS INTEGER) AS pos,
       |         list_reduce(list_transform(generate_series(1, len(ev)), i ->
       |           CASE WHEN instr('01234567',
       |               substring(md5('rp:' || CAST(js.j AS VARCHAR) || ':' ||
       |                 CAST(i - 1 AS VARCHAR)), 1, 1)) > 0
       |             THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END * ev[i]),
       |           (a, b) -> a + b) AS v
       |  FROM e, (SELECT unnest(generate_series(0, ${outDim - 1})) AS j) js
       |)
       |SELECT vec_id, pos, v FROM p
       |ORDER BY vec_id, pos""".stripMargin

  /** LSH-bucketed ANN with multi-table probing: a candidate shares the
    * query's bucket in ANY of `tables` md5-seeded sign-LSH tables
    * (OR-amplification — per-table recall shortfall multiplies away), then
    * exact rerank over the deduped candidate set. Recall < 1 by
    * construction; (nbits, tables) is the scan-fraction/recall dial.
    * Rank-only output; ranks are engine-stable. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, nbits: Int = 8,
      tables: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = emb.select(col("vec_id"),
      posexplode(lshBuckets(col("embedding"), nbits, tables))
        .as(Seq("t", "bucket")))
    val queries = bucketed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    val cand = bucketed.join(broadcast(queries), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()
    val qEmb = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(qEmb), Seq("query_id"))
      .withColumn("cos", Similarity.cosine("q_emb", "embedding"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** DuckDB twin of [[lshTopK]] for the `vec_id < 10` query set. */
  def lshTopKOracleSql(k: Int, nbits: Int = 8, tables: Int = 4): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |bk AS (
       |  SELECT vec_id, ts.t AS t, ${duckBucket("v", "ts.t", nbits)} AS bucket
       |  FROM e, (SELECT unnest(generate_series(0, ${tables - 1})) AS t) ts
       |),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
       |  FROM bk q JOIN bk c USING (t, bucket)
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
       |)
       |SELECT query_id, rank, neighbor_id
       |FROM (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |         row_number() OVER (
       |           PARTITION BY cand.query_id
       |           ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, cand.vec_id) AS rank
       |  FROM cand
       |  JOIN e eq ON eq.vec_id = cand.query_id
       |  JOIN e ec ON ec.vec_id = cand.vec_id
       |) x
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
}
