package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** North-star LLM-data-pipeline operators as driver-facing queries:
  * deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
  * cosine), similarity search (brute-force, IVF, LSH), text analysis
  * (tokens, quality, language-ID, fingerprints), and multimodal binary
  * plumbing. EVERY query ships a DuckDB oracle: the hash-randomized ops
  * (MinHash/SimHash/sign-LSH) run md5-seeded (graft.ops.Neutral), so even
  * their bucket assignments reproduce cross-engine.
  */
object NorthStar {

  private val queryIds: Seq[Long] = (0L until 10L)

  /** Exact dedup groups by content digest (shuffle carries a 32-byte digest,
    * not document text). */
  val dedupExact = QueryDef(
    "q_ns_dedup_exact",
    """SELECT sha256(text) AS content_sha, min(doc_id) AS keep_doc_id,
      |       count(*) AS n_copies
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY content_sha""".stripMargin) { (s, d) =>
    Dedup.exactGroups(T.documents(s, d)).orderBy("content_sha")
  }

  /** MinHash-LSH near-dup candidates (shingle → 64-lane signature → banded
    * buckets → verified Jaccard); per-doc candidate count. md5-seeded
    * permutations (graft.ops.Neutral) make the whole pipeline — lane mins,
    * band buckets, candidate set — reproducible in the DuckDB oracle; it
    * is the engine's only MinHash implementation, so q_ns_dedup_corpus and
    * q_ns_prepare_corpus run the same candidate generator. */
  val dedupMinHash = QueryDef(
    "q_ns_dedup_minhash",
    graft.ops.Neutral.minHashOracleSql(0.5)) { (s, d) =>
    val docs = T.documents(s, d)
    val cands = graft.ops.Neutral.minHashCandidates(docs)
      .filter(col("jaccard") >= 0.5)
    docs.select(col("doc_id"))
      .join(cands.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_candidates")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates"))
      .orderBy("doc_id")
  }

  /** Measured MinHash-LSH recall vs exact Jaccard ground truth on a
    * bounded anchor (doc_id < 500 — fixed regardless of sf, the same
    * bounded-exact-anchor pattern as q_ns_dedup_cosine_exact): every
    * anchor pair with exact 3-gram Jaccard >= 0.3 is ground truth; the
    * banded pipeline's verified hits at the same threshold are the found
    * set (hits ⊆ truth by construction — the verify step computes the
    * same exact Jaccard, so misses are exactly the never-bucketed pairs).
    * The 0.3 threshold sits below the 16x4 banding's S-curve knee so the
    * metric stays sensitive to banding misses; on THIS corpus every
    * ground-truth pair is a planted J >= 0.9 near-dup, where the
    * bucket-collision probability 1-(1-J^4)^16 is ~1, and the measured
    * recall of 1.0 (25/25 at sf0.01) confirms the analysis — the dedup
    * analogue of q_ns_pq_recall, and the gate that would catch a banding
    * regression (fewer bands, broken lane seeds) as a recall drop. */
  val minHashRecall = QueryDef(
    "q_ns_minhash_recall",
    s"""WITH anchor AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
      |${graft.ops.Neutral.candidateCtesForOracle("anchor", 0.3)},
      |ex AS (
      |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
      |  FROM shn sa JOIN shn sb ON sa.doc_id < sb.doc_id
      |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      |          / len(list_distinct(sa.s || sb.s)) >= 0.3
      |)
      |SELECT CAST(ne.n AS BIGINT) AS n_exact, CAST(nf.n AS BIGINT) AS n_found,
      |       CAST(nf.n AS DOUBLE) / ne.n AS recall
      |FROM (SELECT count(*) AS n FROM ex) ne
      |CROSS JOIN (SELECT count(*) AS n FROM ex e
      |            WHERE EXISTS (SELECT 1 FROM hits h
      |                          WHERE h.doc_a = e.doc_a AND h.doc_b = e.doc_b)) nf
      |ORDER BY n_exact""".stripMargin) { (s, d) =>
    val anchor = T.documents(s, d).filter(col("doc_id") < 500)
    // exact side on HASHED shingles (same Jaccard as the string shingles
    // up to negligible xxhash64 collisions — the dedupNgram argument),
    // cached before the self-join so the kernel runs once per doc, not
    // once per pair, and compared with the codegen'd merge-walk
    // JaccardSorted (ShingleHashes emits sorted distinct arrays) instead
    // of two hash-set builds per pair: ~7 s -> ~1 s at sf0.1
    val shn = graft.ops.Pins.track(anchor
      .select(col("doc_id"),
        graft.expr.ShingleHashes.shingleHashes(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)
      .cache())
    val ex = shn.as("a").join(shn.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.expr.ArrayExprs.jaccardSorted(col("a.s"), col("b.s"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b")
    val hits = graft.ops.Neutral.minHashCandidates(anchor)
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b")
    val exC = graft.ops.Pins.track(ex.cache())
    exC.agg(count(lit(1)).as("n_exact"))
      .join(exC.join(hits, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_found")))
      .select(col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact")).as("recall"))
      .orderBy("n_exact")
  }

  /** SimHash near-dups: 64-bit signed-bit-vote signature (md5 word hashes
    * kept as two 32-bit halves), multi-table 16-bit block probing (recall 1
    * for Hamming <= 3 by pigeonhole) — fully oracle-reproducible. */
  val dedupSimHash = QueryDef(
    "q_ns_dedup_simhash",
    graft.ops.Neutral.simHashOracleSql()) { (s, d) =>
    graft.ops.Neutral.simHashNearDups(T.documents(s, d)).orderBy("doc_id")
  }

  /** Exact n-gram Jaccard best match per doc, rarest-prefix blocked. The
    * whole pipeline — shingling, document frequency, (df, shingle)-ordered
    * prefix selection, candidate join, exact Jaccard, best-match pick — is
    * deterministic and engine-neutral, so the oracle reproduces it exactly
    * (Jaccard on xxhash64'd shingles equals Jaccard on the string shingles
    * up to negligible collision probability, and equal rationals round to
    * equal doubles in IEEE division). */
  val dedupNgram = QueryDef(
    "q_ns_dedup_ngram_jaccard",
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |),
      |shn AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM tok WHERE len(w) >= 3
      |),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM shn),
      |dfreq AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
      |pref AS (
      |  SELECT doc_id, g FROM (
      |    SELECT ex.doc_id, ex.g,
      |           row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfreq.df, ex.g) AS rn
      |    FROM ex JOIN dfreq USING (g)
      |  ) t WHERE rn <= 5
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pref a JOIN pref b USING (g)
      |  WHERE a.doc_id <> b.doc_id
      |),
      |scored AS (
      |  SELECT c.doc_a, c.doc_b,
      |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      |           / len(list_distinct(sa.s || sb.s)) AS jaccard
      |  FROM cand c
      |  JOIN shn sa ON sa.doc_id = c.doc_a
      |  JOIN shn sb ON sb.doc_id = c.doc_b
      |),
      |best AS (
      |  SELECT doc_a AS doc_id, doc_b AS best_match_id, jaccard AS best_jaccard
      |  FROM (SELECT scored.*,
      |          row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn
      |        FROM scored) t
      |  WHERE rn = 1
      |)
      |SELECT d.doc_id, b.best_match_id, b.best_jaccard
      |FROM documents d LEFT JOIN best b USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    Dedup.ngramJaccardBestMatch(T.documents(s, d)).orderBy("doc_id")
  }

  /** Near-dup cluster identification: undirected jaccard >= 0.8 pairs from
    * the rarest-prefix blocking, resolved to connected components by
    * min-label propagation (iterative join + min shuffle per hop; the
    * driver loop carries only the convergence count). Pair-level dropping
    * over-drops transitive chains A~B~C with A!~C — component ids are what
    * a cluster-aware dedup keeps one doc per. Oracle: the same pair set
    * fed through a recursive-CTE transitive closure. */
  /** Skew-stress dedup (r15 — the dominant-duplicate-class hazard): a
    * corpus where ONE near-dup class owns HALF the rows, built
    * deterministically in both engines (every even doc becomes doc 1's
    * text + a 1-word `zzK` suffix, K = doc_id % 5, so class members sit
    * at pairwise Jaccard ≈ 0.96 and land in the same LSH buckets in
    * every band). Full pair enumeration there is ~n²/8 verified pairs —
    * the quadratic blow-up uniform fixtures never exercise (measured in
    * ScaleEvidence `skew`); [[graft.ops.Neutral.minHashCandidates]] with
    * `starCap` emits hub-verified STAR edges for oversized buckets, O(n)
    * edges with identical closure on a genuine duplicate class. Output:
    * per-doc component id. Oracle: the same size-gated edge semantics in
    * SQL + recursive-CTE transitive closure. */
  val dedupSkewSafe = QueryDef(
    "q_ns_dedup_skew_safe",
    s"""WITH RECURSIVE skewed AS (
      |  SELECT d.doc_id,
      |         CASE WHEN d.doc_id % 2 = 0
      |              THEN b.text || ' zz' || CAST(d.doc_id % 5 AS VARCHAR)
      |              ELSE d.text END AS text
      |  FROM documents d, (SELECT text FROM documents WHERE doc_id = 1) b
      |),
      |${graft.ops.Neutral.skewSafeEdgeCtes("skewed", 0.8, 16)},
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
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
      |         FROM reach GROUP BY a)
      |SELECT d.doc_id,
      |       CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS component
      |FROM documents d LEFT JOIN comp c USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    val base = docs.filter(col("doc_id") === 1)
      .select(col("text").as("base_text"))
    val skewed = docs.crossJoin(broadcast(base))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("base_text"), lit(" zz"),
            (col("doc_id") % 5).cast("string")))
          .otherwise(col("text")).as("text"))
    val edges = graft.ops.Neutral.minHashCandidates(skewed, starCap = Some(16))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b")
    val comp = graft.ops.Dedup.connectedComponents(edges)
    docs.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  val dedupComponents = QueryDef(
    "q_ns_dedup_components",
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |),
      |shn AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM tok WHERE len(w) >= 3
      |),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM shn),
      |dfreq AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
      |pref AS (
      |  SELECT doc_id, g FROM (
      |    SELECT ex.doc_id, ex.g,
      |           row_number() OVER (PARTITION BY ex.doc_id ORDER BY dfreq.df, ex.g) AS rn
      |    FROM ex JOIN dfreq USING (g)
      |  ) t WHERE rn <= 5
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM pref a JOIN pref b USING (g)
      |  WHERE a.doc_id < b.doc_id
      |),
      |pairs AS (
      |  SELECT c.doc_a, c.doc_b
      |  FROM cand c
      |  JOIN shn sa ON sa.doc_id = c.doc_a
      |  JOIN shn sb ON sb.doc_id = c.doc_b
      |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      |          / len(list_distinct(sa.s || sb.s)) >= 0.8
      |),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs
      |),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |),
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a)
      |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      |FROM documents d LEFT JOIN comp c USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    val cc = Dedup.connectedComponents(Dedup.ngramJaccardPairs(docs))
    docs.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  /** Cluster labels as an APPENDABLE artifact (distributed union-find,
    * Dedup.ccBuild/ccAppend/ccServe): build on half the near-dup edges,
    * fold the other half in — the append scans its batch plus one labels
    * equi join (never the edge history), runs CC on the batch's
    * component-compressed graph, and records merge events; serving
    * resolves stored labels through the bounded merge map's closure.
    * Same full-closure oracle as q_ns_dedup_components: append-then-serve
    * must equal CC over the cumulative edge list exactly. */
  val dedupComponentsIncremental = QueryDef(
    "q_ns_dedup_components_incremental",
    dedupComponents.oracle.get) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"ccinc|$d") { tmp =>
      // the build is terminal (the artifact lands on disk inside), so the
      // whole block is scoped: the pairs checkpoint and the pair
      // generator's signature cache release on exit
      graft.ops.Pins.scoped {
        val pairs = graft.ops.Pins.checkpoint(Dedup.ngramJaccardPairs(docs))
        Dedup.ccBuild(
          pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 0), tmp)
        Dedup.ccAppend(
          pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 1), tmp,
          batchId = 1L)
      }
    }
    docs.select("doc_id")
      .join(Dedup.ccServe(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  /** The union-find artifact's COMPACTION (r11, completing the
    * append-lifecycle loop the posting indexes got): build on half the
    * edges, fold the other half in, then Dedup.ccCompact — labels
    * rewritten RESOLVED (the path-compression pass run as maintenance),
    * merges reset to empty — and serve. Serving after compaction
    * resolves through an empty closure (identity), so the oracle is the
    * same full-closure SQL; without compaction every serve re-runs the
    * pointer-jumping loop over the cumulative merge history. */
  val dedupComponentsCompacted = QueryDef(
    "q_ns_dedup_components_compacted",
    dedupComponents.oracle.get) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"cccmp|$d") { tmp =>
      graft.ops.Pins.scoped {
        val pairs = graft.ops.Pins.checkpoint(Dedup.ngramJaccardPairs(docs))
        Dedup.ccBuild(
          pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 0), tmp)
        Dedup.ccAppend(
          pairs.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 1), tmp,
          batchId = 41L)
        Dedup.ccCompact(s, tmp)
      }
    }
    docs.select("doc_id")
      .join(Dedup.ccServe(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  /** Eval-set decontamination against a benchmark slice (doc_id < 20):
    * distinct shared 3-gram shingles + benchmark docs touched per corpus
    * doc; the release gate every training pipeline runs. */
  val decontaminate = QueryDef(
    "q_ns_decontaminate",
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |),
      |shn AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM tok WHERE len(w) >= 3
      |),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM shn),
      |bench AS (SELECT doc_id AS bench_id, g FROM ex WHERE doc_id < 20),
      |shared AS (
      |  SELECT e.doc_id,
      |         count(DISTINCT e.g) AS n_shared_shingles,
      |         count(DISTINCT b.bench_id) AS n_bench_docs
      |  FROM ex e JOIN bench b USING (g)
      |  WHERE e.doc_id <> b.bench_id
      |  GROUP BY e.doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(s.n_shared_shingles, 0) AS n_shared_shingles,
      |       COALESCE(s.n_bench_docs, 0) AS n_bench_docs,
      |       COALESCE(s.n_shared_shingles, 0) >= 2 AS contaminated
      |FROM documents d LEFT JOIN shared s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    Dedup.contaminationCheck(docs, docs.filter(col("doc_id") < 20))
      .orderBy("doc_id")
  }

  /** Exact duplicated-span detection (Lee et al. suffix-array dedup,
    * k-gram-anchored for distribution — Dedup.duplicatedSpans): maximal
    * runs of 5-grams occurring >= 2 times corpus-wide, merged per doc. */
  val spanDedup = QueryDef(
    "q_ns_span_dedup",
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |),
      |pos0 AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
      |  FROM tok WHERE len(w) >= 5
      |),
      |occ AS (
      |  SELECT doc_id, i - 1 AS pos,
      |         md5(array_to_string(list_slice(w, i, i + 4), ' ')) AS g
      |  FROM pos0
      |),
      |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
      |mk AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (g)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos > MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 5
      |              THEN 1 ELSE 0 END AS brk
      |  FROM mk
      |),
      |isl2 AS (
      |  SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl
      |)
      |SELECT doc_id,
      |       CAST(MIN(pos) AS BIGINT) AS span_start,
      |       CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
      |       CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS span_tokens
      |FROM isl2
      |GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
    Dedup.duplicatedSpans(T.documents(s, d), k = 5)
      .orderBy("doc_id", "span_start")
  }

  /** Span scrubbing: each document rewritten with its duplicated spans
    * removed (Dedup.scrubSpans) — the apply step of suffix-array-style
    * dedup, where only the repeated substring is cut, not the document. */
  val spanScrub = QueryDef(
    "q_ns_span_scrub",
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
      |),
      |pos0 AS (
      |  SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
      |  FROM tok WHERE len(w) >= 5
      |),
      |occ AS (
      |  SELECT doc_id, i - 1 AS pos,
      |         md5(array_to_string(list_slice(w, i, i + 4), ' ')) AS g
      |  FROM pos0
      |),
      |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
      |mk AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (g)),
      |isl AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos > MAX(pos) OVER (PARTITION BY doc_id ORDER BY pos
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 5
      |              THEN 1 ELSE 0 END AS brk
      |  FROM mk
      |),
      |isl2 AS (
      |  SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl
      |),
      |sp AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e FROM isl2 GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp),
      |tokpos AS (
      |  SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word FROM tok
      |),
      |kept AS (
      |  SELECT t.doc_id, t.i - 1 AS pos, t.word
      |  FROM tokpos t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.i - 1
      |  WHERE c.doc_id IS NULL
      |),
      |res AS (
      |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text, count(*) AS n_kept
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |       COALESCE(r.clean_text, '') AS clean_text,
      |       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
      |       CAST(len(string_split_regex(lower(trim(d.text)), '\s+')) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
      |FROM documents d LEFT JOIN res r USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    Dedup.scrubSpans(T.documents(s, d), k = 5).orderBy("doc_id")
  }

  /** Fuzzy decontamination vs the benchmark slice (doc_id < 20): corpus
    * docs that are whole-doc MinHash near-dups (verified Jaccard >= 0.8)
    * of a benchmark doc — the paraphrase-level companion to
    * q_ns_decontaminate's shared-shingle counts. */
  val decontaminateFuzzy = QueryDef(
    "q_ns_decontaminate_fuzzy",
    graft.ops.Neutral.fuzzyDecontaminateOracleSql("doc_id < 20", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    graft.ops.Neutral
      .fuzzyDecontaminate(docs, docs.filter(col("doc_id") < 20))
      .orderBy("doc_id")
  }

  /** Embedding-cosine near-dup counts at cos >= 0.8, blocked by multi-table
    * sign-LSH buckets. Hyperplanes are md5-seeded Rademacher vectors
    * (graft.ops.Neutral), so bucket membership — and therefore the exact
    * candidate set — is reproduced by the DuckDB oracle. Recall follows the
    * LSH S-curve — near 1 for genuine near-identical pairs (cos >= ~0.95),
    * degrading toward the 0.8 threshold boundary (tables/nbits are the
    * dial). OpsSpec additionally measures recall on planted perturbed
    * copies vs the exact baseline, which is itself oracled below. */
  val dedupCosine = QueryDef(
    "q_ns_dedup_cosine",
    graft.ops.Neutral.cosineNearDupOracleSql(0.8)) { (s, d) =>
    graft.ops.Neutral.cosineNearDupCounts(T.embeddings(s, d), 0.8)
      .orderBy("vec_id")
  }

  /** Dup-rate curve across cosine thresholds from ONE LSH-blocked
    * candidate pass — the threshold-tuning report (five thresholds cost
    * one candidate generation + pair-sized aggregates, not five dedup
    * runs). Curve semantics are "as seen by this blocking" (LSH recall
    * decays toward low thresholds) — the right instrument for tuning the
    * pipeline's own threshold. */
  val dedupThresholdCurve = QueryDef(
    "q_ns_dedup_threshold_curve",
    graft.ops.Neutral.cosineThresholdCurveOracleSql(
      Seq(0.5, 0.6, 0.7, 0.8, 0.9))) { (s, d) =>
    graft.ops.Neutral.cosineThresholdCurve(T.embeddings(s, d),
        Seq(0.5, 0.6, 0.7, 0.8, 0.9))
      .orderBy("threshold")
  }

  /** Cosine dedup with the star branch ENGAGED (r17 — the verdict's
    * headline: the embedding-cosine LSH family was the last measured
    * quadratic, and like the r15 phash case its rescue branch must ship
    * WITH a gate that exercises it). The fixture plants 60 same-direction
    * copies of vec 0 (vec 0's vector scaled by i + 2.0 — sign
    * projections, hence buckets, are scale-invariant, so the whole class
    * lands in ONE bucket per table), which blows past cap = 12 while the
    * ~300 random vectors stay in of-a-few-sized buckets; oversized
    * buckets emit hub-verified star candidates (hub = vec 0, the global
    * min id, cos(hub, member) ≡ 1 ≥ 0.8 so the class closes to one
    * component), small buckets full pairs, and the oracle mirrors the
    * size-gated union exactly before recursive-CTE closure — the
    * embedding twin of q_ns_multimodal_phash_star. */
  val dedupCosineStar = QueryDef(
    "q_ns_dedup_cosine_star",
    graft.ops.Neutral.cosineStarComponentsOracleSql(0.8, cap = 12)) { (s, d) =>
    val embAll = starPlantedEmbeddings(s, d)
    val pairs = graft.ops.Neutral
      .cosineNearDupPairs(embAll, 0.8, starCap = Some(12))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val comp = graft.ops.Dedup.connectedComponents(pairs)
      .withColumnRenamed("doc_id", "vec_id")
    embAll.select("vec_id")
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .orderBy("vec_id")
  }

  /** Threshold curve over the SAME engaged-star planted fixture: the
    * star-capped candidate stream (60 hub pairs at cos ≡ 1, plus
    * whatever random pairs survive their bucket co-occurrence) fanned
    * across thresholds — pins the curve's capped candidate generation
    * cross-engine where the cap actually fires. */
  val dedupCurveStar = QueryDef(
    "q_ns_dedup_curve_star",
    graft.ops.Neutral.cosineStarCurveOracleSql(
      Seq(0.5, 0.8, 0.95), cap = 12)) { (s, d) =>
    graft.ops.Neutral.cosineThresholdCurve(starPlantedEmbeddings(s, d),
        Seq(0.5, 0.8, 0.95), starCap = Some(12))
      .orderBy("threshold")
  }

  /** The engaged-star cosine fixture: embeddings slice (vec_id < 300,
    * elementwise-cast to double so planted rows union cleanly) plus 60
    * planted copies of vec 0 scaled by i + 2.0. Double-by-double
    * elementwise products are bit-identical cross-engine, and scaling
    * preserves every sign projection, so Spark and DuckDB derive the
    * same buckets for the planted class. */
  private def starPlantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val emb0 = T.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val base = emb0.filter(col("vec_id") === 0)
      .select(col("embedding").as("be"))
    val planted = s.range(1, 61).toDF("i")
      .crossJoin(broadcast(base))
      .select((col("i") + 1000L).as("vec_id"),
        transform(col("be"),
          x => x * (col("i").cast("double") + lit(2.0))).as("embedding"))
    emb0.unionByName(planted)
  }

  /** Exact all-pairs cosine near-dup counts on a bounded slice — the oracle
    * anchor for the LSH-blocked form (O(n²) by design, capped at 200
    * vectors regardless of sf). */
  val dedupCosineExact = QueryDef(
    "q_ns_dedup_cosine_exact",
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < 200
      |),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8
      |),
      |cnt AS (
      |  SELECT vec_id, count(*) AS n_near FROM (
      |    SELECT id_a AS vec_id FROM pairs UNION ALL SELECT id_b FROM pairs
      |  ) u GROUP BY vec_id
      |)
      |SELECT e.vec_id, COALESCE(cnt.n_near, 0) AS n_near
      |FROM e LEFT JOIN cnt USING (vec_id)
      |ORDER BY e.vec_id""".stripMargin) { (s, d) =>
    Similarity.cosineNearDupCountsExact(
      T.embeddings(s, d).filter(col("vec_id") < 200), 0.8)
      .orderBy("vec_id")
  }

  /** End-to-end corpus dedup under the hash gate: exact-dup removal (keep
    * min doc_id per content) then MinHash-verified near-dup removal at
    * jaccard >= 0.8. The oracle recomputes the TRUE jaccard >= 0.8 pair set
    * all-pairs — parity holds because 16-band/4-row banding finds a
    * J >= 0.8 pair with p = 1-(1-J^4)^16 > 0.9998 and the verify step
    * discards false positives exactly. The bands are md5-seeded
    * (Neutral.minHashCandidates), so which pairs banding finds is itself
    * engine-independent: on the sf0.001/0.01/0.1 fixtures it finds every
    * oracle pair. */
  val dedupCorpusQ = QueryDef(
    "q_ns_dedup_corpus",
    """WITH kept AS (
      |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
      |),
      |kd AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id)),
      |tok AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM kd
      |),
      |shn AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM tok WHERE len(w) >= 3
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(a.s || b.s)) >= 0.8
      |),
      |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
      |SELECT kd.doc_id FROM kd
      |WHERE kd.doc_id NOT IN (SELECT doc_id FROM dropped)
      |ORDER BY kd.doc_id""".stripMargin) { (s, d) =>
    Dedup.dedupCorpus(T.documents(s, d), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Cluster-aware corpus dedup: exact-dup removal, then ONE survivor (min
    * doc_id) per transitive MinHash near-dup component — the policy that
    * can't over- or under-keep on hub-shaped clusters (see
    * Neutral.dedupCorpusClustered's scaladoc for the contrast with the
    * pair-level policy above). The md5-seeded banding means the oracle
    * reproduces the EXACT candidate pair set; the closure is a recursive
    * CTE, the Spark side min-label propagation. */
  val dedupCorpusClusteredQ = QueryDef(
    "q_ns_dedup_corpus_clustered",
    graft.ops.Neutral.dedupClusteredOracleSql(0.8)) { (s, d) =>
    graft.ops.Neutral.dedupCorpusClustered(T.documents(s, d), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Quality-weighted survivor selection: same clustered dedup, but each
    * near-dup component keeps its LONGEST member (n_chars desc, doc_id
    * tiebreak) instead of the min doc_id — keep the most complete variant,
    * drop the fragments. */
  val dedupSurvivorQuality = QueryDef(
    "q_ns_dedup_survivor_quality",
    graft.ops.Neutral.dedupClusteredQualityOracleSql(0.8)) { (s, d) =>
    graft.ops.Neutral
      .dedupCorpusClusteredQuality(T.documents(s, d), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Ingest-time incremental dedup: the incoming half of the corpus
    * (doc_id >= 250) admitted against the existing half — exact digests
    * plus md5-MinHash near-dups, both directions of the daily-crawl
    * admission filter reproduced exactly by the oracle. */
  val dedupIncremental = QueryDef(
    "q_ns_dedup_incremental",
    graft.ops.Neutral.dedupAgainstOracleSql(
      "doc_id < 250", "doc_id >= 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    graft.ops.Neutral.dedupAgainst(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** The same admission SERVED from the persisted corpus index
    * (Neutral.dedupIndexBuild: digest + signature + banded tables via the
    * Models artifact layer) — admission never re-reads or re-hashes the
    * corpus text. Shares the refitting form's oracle: the index is a
    * deterministic function of the corpus, so serving is result-identical. */
  val dedupIncrementalServed = QueryDef(
    "q_ns_dedup_incremental_served",
    graft.ops.Neutral.dedupAgainstOracleSql(
      "doc_id < 250", "doc_id >= 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"dedup_index|$d") { tmp =>
      graft.ops.Neutral.dedupIndexBuild(docs.filter(col("doc_id") < 250), tmp)
    }
    graft.ops.Neutral.dedupAgainstServed(
        s, dir, docs.filter(col("doc_id") >= 250), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Served admission after append→COMPACT (r11): the corpus index is
    * built on half of doc_id >= 250, appended with the other half, then
    * Neutral.dedupIndexCompact rewrites the generations — sha distinct,
    * hs id-range-sorted, banded band-key-sorted for probe-side footer
    * pruning — and admission of the <250 batch serves from the compacted
    * artifact. Answers are layout-invariant: same served-admission
    * oracle verbatim. */
  val dedupAdmitCompacted = QueryDef(
    "q_ns_dedup_admit_compacted",
    graft.ops.Neutral.dedupAgainstOracleSql(
      "doc_id >= 250", "doc_id < 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"dedup_index_cmp|$d") { tmp =>
      graft.ops.Neutral.dedupIndexBuild(
        docs.filter(col("doc_id") >= 250 && col("doc_id") % 2 === 0), tmp)
      graft.ops.Neutral.dedupIndexAppend(
        docs.filter(col("doc_id") >= 250 && col("doc_id") % 2 =!= 0), tmp,
        batchId = 51L)
      graft.ops.Neutral.dedupIndexCompact(s, tmp)
    }
    graft.ops.Neutral.dedupAgainstServed(
        s, dir, docs.filter(col("doc_id") < 250), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Admission at the DAILY-CRAWL shape — corpus (doc_id >= 250) an order
    * larger than the incoming batch (doc_id < 250). This is the shape the
    * persisted index exists for: the refitting form re-hashes the large
    * corpus per call, the served twin hashes only the batch. */
  val dedupAdmitDaily = QueryDef(
    "q_ns_dedup_admit_daily",
    graft.ops.Neutral.dedupAgainstOracleSql(
      "doc_id >= 250", "doc_id < 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    graft.ops.Neutral.dedupAgainst(
        docs.filter(col("doc_id") >= 250), docs.filter(col("doc_id") < 250),
        minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** The daily-crawl admission SERVED from the persisted index over the
    * large corpus — the measured fit/serve delta for ingest (SCALING.md):
    * at corpus >> batch the serving plan's cost is the batch's own
    * signatures plus joins against the loaded tables. */
  val dedupAdmitDailyServed = QueryDef(
    "q_ns_dedup_admit_daily_served",
    graft.ops.Neutral.dedupAgainstOracleSql(
      "doc_id >= 250", "doc_id < 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"dedup_index_daily|$d") { tmp =>
      graft.ops.Neutral.dedupIndexBuild(docs.filter(col("doc_id") >= 250), tmp)
    }
    graft.ops.Neutral.dedupAgainstServed(
        s, dir, docs.filter(col("doc_id") < 250), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Bloom-filter admission against the persisted occupied-position
    * artifact (the Dolma-shaped exact seen-set): the filter is bounded by
    * mBits rows NO MATTER THE CORPUS SIZE — the broadcast-forever
    * alternative to the digest anti-join, at the price of a quantified
    * false-positive rate (never a false negative: a true duplicate always
    * hits all k positions). Output annotates each incoming doc with its
    * hit count and the admit decision. */
  val dedupAdmitBloom = QueryDef(
    "q_ns_dedup_admit_bloom",
    graft.ops.Neutral.bloomAdmitOracleSql(
      "doc_id < 250", "doc_id >= 250")) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"bloom|$d") { tmp =>
      graft.ops.Neutral.bloomIndexBuild(docs.filter(col("doc_id") < 250), tmp)
    }
    graft.ops.Neutral.admitBloomServed(
        s, dir, docs.filter(col("doc_id") >= 250))
      .orderBy("doc_id")
  }

  /** Bloom admission after append→COMPACT (r11): seen-set built on half
    * the corpus, the other half's positions appended (batch-distinct
    * only), then Neutral.bloomIndexCompact runs the bitset OR as one
    * global distinct rewrite — restoring the ≤ mBits row bound the
    * broadcast probe relies on. Probes are set-membership, so the oracle
    * over the full corpus is shared verbatim. */
  val dedupAdmitBloomCompacted = QueryDef(
    "q_ns_dedup_admit_bloom_compacted",
    graft.ops.Neutral.bloomAdmitOracleSql(
      "doc_id < 250", "doc_id >= 250")) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"bloom_cmp|$d") { tmp =>
      graft.ops.Neutral.bloomIndexBuild(docs.filter(col("doc_id") < 125), tmp)
      graft.ops.Neutral.bloomIndexAppend(
        docs.filter(col("doc_id") >= 125 && col("doc_id") < 250), tmp)
      graft.ops.Neutral.bloomIndexCompact(s, tmp)
    }
    graft.ops.Neutral.admitBloomServed(
        s, dir, docs.filter(col("doc_id") >= 250))
      .orderBy("doc_id")
  }

  /** The chained ingest a daily crawl runs end-to-end: admission against
    * the existing corpus (exact + banded near-dup) THEN within-batch
    * clustered dedup of the admitted docs — the incoming slice carries
    * internal duplicates the corpus-only filter never sees, so both stages
    * do real work (OpsSpec pins that). */
  val dedupIngestE2e = QueryDef(
    "q_ns_dedup_ingest_e2e",
    graft.ops.Neutral.ingestE2eOracleSql(
      "doc_id < 250", "doc_id >= 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    graft.ops.Neutral.ingestE2e(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** The chained ingest SERVED from the persisted corpus index: loaded
    * digest/banded/hash tables drive admission, then the within-batch
    * clustered dedup reuses the incoming-side signatures — the whole
    * daily-crawl chain with zero corpus-side recompute. */
  val dedupIngestE2eServed = QueryDef(
    "q_ns_dedup_ingest_e2e_served",
    graft.ops.Neutral.ingestE2eOracleSql(
      "doc_id < 250", "doc_id >= 250", 0.8)) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"dedup_index|$d") { tmp =>
      graft.ops.Neutral.dedupIndexBuild(docs.filter(col("doc_id") < 250), tmp)
    }
    graft.ops.Neutral.ingestE2eServed(
        s, dir, docs.filter(col("doc_id") >= 250), minJaccard = 0.8)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Brute-force cosine top-5 (rank-only output — ranks are stable across
    * engines, raw scores differ in the last ulp). */
  val simBrute = QueryDef(
    "q_ns_sim_brute_topk",
    """WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 10
      |)
      |SELECT query_id, rank, neighbor_id
      |FROM (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY q.query_id
      |           ORDER BY list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                    e.vec_id) AS rank
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id
      |) x
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    Similarity.bruteForceTopK(T.embeddings(s, d), queryIds, 5)
      .orderBy("query_id", "rank")
  }

  /** IVF-style ANN: per-label centroids, nprobe=1 routing, in-list rerank. */
  val simIvf = QueryDef(
    "q_ns_sim_ivf_topk",
    """WITH expanded AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos) g
      |  GROUP BY label
      |),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 10
      |),
      |routed AS (
      |  SELECT query_id, qe, label AS probe_label
      |  FROM (
      |    SELECT q.query_id, q.qe, c.label,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC, c.label) AS rn
      |    FROM q CROSS JOIN cent c
      |  ) x WHERE rn = 1
      |)
      |SELECT query_id, probe_label, rank, neighbor_id
      |FROM (
      |  SELECT r.query_id, r.probe_label, e.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY r.query_id
      |           ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                    e.vec_id) AS rank
      |  FROM embeddings e JOIN routed r ON e.label = r.probe_label
      |  WHERE e.vec_id <> r.query_id
      |) x
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    Similarity.ivfTopK(T.embeddings(s, d), queryIds, 3)
      .orderBy("query_id", "rank")
  }

  /** Corpus-wide k-NN graph (Similarity.knnGraph): every vector's top-3
    * neighbors over its 2 nearest label lists — the batch primitive
    * under SemDeDup clustering, graph-based dedup sweeps, and kNN-LM
    * datastore prep. Unlike the bounded-query ANN forms the query set
    * IS the corpus, so the probe is a shuffled label equi join (never a
    * broadcast, never all-pairs) and routing prunes map-side via
    * WindowGroupLimit. Oracle = the same routed rerank with q = every
    * vector. */
  val simKnnGraph = QueryDef(
    "q_ns_sim_knn_graph",
    """WITH expanded AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos) g
      |  GROUP BY label
      |),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings
      |),
      |routed AS (
      |  SELECT query_id, qe, label AS probe_label
      |  FROM (
      |    SELECT q.query_id, q.qe, c.label,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC, c.label) AS rn
      |    FROM q CROSS JOIN cent c
      |  ) x WHERE rn <= 2
      |)
      |SELECT vec_id, rank, neighbor_id
      |FROM (
      |  SELECT r.query_id AS vec_id, e.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY r.query_id
      |           ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                    e.vec_id) AS rank
      |  FROM embeddings e JOIN routed r ON e.label = r.probe_label
      |  WHERE e.vec_id <> r.query_id
      |) x
      |WHERE rank <= 3
      |ORDER BY vec_id, rank""".stripMargin) { (s, d) =>
    Similarity.knnGraph(T.embeddings(s, d), k = 3, nprobe = 2)
      .orderBy("vec_id", "rank")
  }

  /** kNN-graph recall@3 against the exact cosine ranking, measured
    * in-gate on a 100-vector anchor slice (the q_ns_pq_recall /
    * q_ns_minhash_recall discipline: the exact side is QUERY-BOUNDED —
    * 100 anchors × corpus, never corpus × corpus — while the graph side
    * samples the corpus-wide structure the op actually builds). Both
    * rankings and the per-anchor hit counts reproduce cross-engine.
    * Routing misses (a true neighbor living outside the anchor's two
    * probed lists) are exactly what the metric quantifies — the
    * nprobe dial's measured cost. NOTE on the value (the q_ns_pq_recall
    * caveat): the synthetic embeddings are near-uniform random — the ANN
    * worst case, no cluster structure for the lists to capture — so
    * recall@3 at nprobe=2 sits ~0.3 here; the point is the metric is
    * computed and verified in-gate, and structured inputs route
    * tightly. */
  val simKnnGraphRecall = QueryDef(
    "q_ns_knn_graph_recall",
    """WITH expanded AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos) g
      |  GROUP BY label
      |),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 100
      |),
      |routed AS (
      |  SELECT query_id, qe, label AS probe_label
      |  FROM (
      |    SELECT q.query_id, q.qe, c.label,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC, c.label) AS rn
      |    FROM q CROSS JOIN cent c
      |  ) x WHERE rn <= 2
      |),
      |approx AS (
      |  SELECT query_id, neighbor_id
      |  FROM (
      |    SELECT r.query_id, e.vec_id AS neighbor_id,
      |           row_number() OVER (
      |             PARTITION BY r.query_id
      |             ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                      e.vec_id) AS rank
      |    FROM embeddings e JOIN routed r ON e.label = r.probe_label
      |    WHERE e.vec_id <> r.query_id
      |  ) x WHERE rank <= 3
      |),
      |exact AS (
      |  SELECT query_id, neighbor_id
      |  FROM (
      |    SELECT q.query_id, e.vec_id AS neighbor_id,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                      e.vec_id) AS rank
      |    FROM embeddings e CROSS JOIN q
      |    WHERE e.vec_id <> q.query_id
      |  ) x WHERE rank <= 3
      |),
      |hits AS (
      |  SELECT a.query_id, count(*) AS n_hits
      |  FROM approx a JOIN exact USING (query_id, neighbor_id)
      |  GROUP BY a.query_id
      |)
      |SELECT q.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
      |FROM q LEFT JOIN hits h USING (query_id)
      |ORDER BY q.query_id""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d)
    val approx = Similarity.knnGraph(emb, k = 3, nprobe = 2)
      .filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"), col("neighbor_id"))
    val exact = Similarity
      .bruteForceTopK(emb, (0L until 100L), 3)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("query_id")
  }

  /** The kNN-graph recall/nprobe CURVE (r11 "Next round" #6): the single
    * recall@3 point q_ns_knn_graph_recall measures, swept over
    * nprobe ∈ {1, 2, 4} and totaled over the 100-anchor slice — the
    * operating-point table an ANN consumer reads next to the cost
    * column SCALING.md records (scanned-fraction ∝ nprobe/nlist). Same
    * near-uniform-worst-case caveat as the point query; the curve's
    * SHAPE (monotone in nprobe, nlist recovers exact) is the verified
    * content. One WITH block routes once with the full rank; each curve
    * point filters rn <= nprobe and reranks its candidate set. */
  val simKnnGraphRecallCurve = QueryDef(
    "q_ns_knn_graph_recall_curve",
    {
      val prolog =
        """WITH expanded AS (
          |  SELECT label, generate_subscripts(embedding, 1) AS pos,
          |         unnest(CAST(embedding AS DOUBLE[])) AS v
          |  FROM embeddings
          |),
          |cent AS (
          |  SELECT label, list(c ORDER BY pos) AS centroid
          |  FROM (SELECT label, pos, avg(v) AS c FROM expanded
          |        GROUP BY label, pos) g
          |  GROUP BY label
          |),
          |q AS (
          |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
          |  FROM embeddings WHERE vec_id < 100
          |),
          |routedall AS (
          |  SELECT query_id, qe, label AS probe_label, rn FROM (
          |    SELECT q.query_id, q.qe, c.label,
          |           row_number() OVER (PARTITION BY q.query_id
          |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC,
          |                      c.label) AS rn
          |    FROM q CROSS JOIN cent c) x
          |),
          |exact AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT q.query_id, e.vec_id AS neighbor_id,
          |           row_number() OVER (PARTITION BY q.query_id
          |             ORDER BY list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) DESC,
          |                      e.vec_id) AS rank
          |    FROM embeddings e CROSS JOIN q
          |    WHERE e.vec_id <> q.query_id) x
          |  WHERE rank <= 3
          |)""".stripMargin
      val points = Seq(1, 2, 4).map { np =>
        s"""SELECT CAST($np AS BIGINT) AS nprobe, (
           |  SELECT CAST(count(*) AS BIGINT) FROM (
           |    SELECT query_id, neighbor_id FROM (
           |      SELECT r.query_id, e.vec_id AS neighbor_id,
           |             row_number() OVER (PARTITION BY r.query_id
           |               ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
           |                        e.vec_id) AS rank
           |      FROM embeddings e
           |      JOIN (SELECT * FROM routedall WHERE rn <= $np) r
           |        ON e.label = r.probe_label
           |      WHERE e.vec_id <> r.query_id) x
           |    WHERE rank <= 3) a
           |  JOIN exact USING (query_id, neighbor_id)) AS n_hits""".stripMargin
      }
      prolog + "\n" + points.mkString("\nUNION ALL\n") +
        "\nORDER BY nprobe"
    }) { (s, d) =>
    import s.implicits._
    val emb = T.embeddings(s, d)
    val exact = Similarity.bruteForceTopK(emb, (0L until 100L), 3)
      .select(col("query_id"), col("neighbor_id"))
    Seq(1, 2, 4).map { np =>
      Similarity.knnGraph(emb, k = 3, nprobe = np)
        .filter(col("vec_id") < 100)
        .select(col("vec_id").as("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np.toLong).as("nprobe"), col("n_hits"))
    }.reduce(_ unionByName _)
      .orderBy("nprobe")
  }

  /** Hard-negative mining (metric-learning data prep): per query, the 3
    * most-similar DIFFERENT-label vectors, routed over the query's two
    * nearest FOREIGN label-centroids — lists are label partitions, so
    * every candidate in a probed list is a negative by construction and
    * the scan stays bounded to nprobe lists at any corpus size. */
  val hardNegatives = QueryDef(
    "q_ns_hard_negatives",
    """WITH expanded AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos) g
      |  GROUP BY label
      |),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe,
      |         label AS q_label
      |  FROM embeddings WHERE vec_id < 10
      |),
      |routed AS (
      |  SELECT query_id, qe, label AS probe_label
      |  FROM (
      |    SELECT q.query_id, q.qe, c.label,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC, c.label) AS rn
      |    FROM q CROSS JOIN cent c
      |    WHERE c.label <> q.q_label
      |  ) x WHERE rn <= 2
      |)
      |SELECT query_id, rank, neighbor_id, neighbor_label
      |FROM (
      |  SELECT r.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
      |         row_number() OVER (
      |           PARTITION BY r.query_id
      |           ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                    e.vec_id) AS rank
      |  FROM embeddings e JOIN routed r ON e.label = r.probe_label
      |) x
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    Similarity.hardNegatives(T.embeddings(s, d), queryIds, 3, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** Multi-probe IVF (nprobe = 2): each query searches its two nearest
    * centroids' inverted lists — the recall dial — with the rank-1 route
    * reported as probe_label. Labels partition the corpus, so the probed
    * lists are disjoint and the rerank window needs no dedup. */
  val simIvfMultiprobe = QueryDef(
    "q_ns_sim_ivf_multiprobe",
    """WITH expanded AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos) g
      |  GROUP BY label
      |),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 10
      |),
      |probes AS (
      |  SELECT query_id, qe, label, rn
      |  FROM (
      |    SELECT q.query_id, q.qe, c.label,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC, c.label) AS rn
      |    FROM q CROSS JOIN cent c
      |  ) x WHERE rn <= 2
      |),
      |prim AS (SELECT query_id, label AS primary_label FROM probes WHERE rn = 1)
      |SELECT x.query_id, p.primary_label AS probe_label, x.rank, x.neighbor_id
      |FROM (
      |  SELECT r.query_id, e.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY r.query_id
      |           ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                    e.vec_id) AS rank
      |  FROM embeddings e JOIN probes r ON e.label = r.label
      |  WHERE e.vec_id <> r.query_id
      |) x
      |JOIN prim p USING (query_id)
      |WHERE x.rank <= 3
      |ORDER BY x.query_id, x.rank""".stripMargin) { (s, d) =>
    Similarity.ivfTopK(T.embeddings(s, d), queryIds, 3, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** IVF served from a PERSISTED, APPENDABLE index (the ANN lifecycle
    * closing r9 "What's missing" #2): ivfBuild persists the coarse
    * centroids plus the inverted lists as a label-partitioned parquet
    * table; ivfAppend assigns a day's new vectors to their nearest
    * persisted centroid (broadcast crossJoin + argmax over the BATCH
    * only — the fit corpus and existing lists are never re-read) and
    * appends them into the matching list partitions; serving routes the
    * query batch over the loaded centroids and reranks ONLY the probed
    * lists (dynamic partition pruning on the label join — no corpus-side
    * assignment at query time, the r9 serving gap). The oracle rebuilds
    * the same lists in SQL: base lists = the 80% slice's label
    * partitions, appended lists = argmax-cosine assignment of the 20%
    * batch against the base centroids — assignment is deterministic, so
    * served == the SQL's cumulative definition, rank-only as all ANN
    * queries. */
  val simIvfServedIncremental = QueryDef(
    "q_ns_sim_ivf_served_incremental",
    """WITH be AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
      |expanded AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM be
      |),
      |cent AS (
      |  SELECT label, list(c ORDER BY pos) AS centroid
      |  FROM (SELECT label, pos, avg(v) AS c FROM expanded GROUP BY label, pos) g
      |  GROUP BY label
      |),
      |newv AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ne, embedding
      |  FROM embeddings WHERE vec_id % 5 = 0
      |),
      |assigned AS (
      |  SELECT label, vec_id, embedding FROM (
      |    SELECT c.label, n.vec_id, n.embedding,
      |           row_number() OVER (PARTITION BY n.vec_id
      |             ORDER BY list_cosine_similarity(n.ne, c.centroid) DESC,
      |                      c.label) AS rn
      |    FROM newv n CROSS JOIN cent c) t
      |  WHERE rn = 1
      |),
      |lists AS (
      |  SELECT label, vec_id, embedding FROM be
      |  UNION ALL SELECT label, vec_id, embedding FROM assigned
      |),
      |q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |  FROM embeddings WHERE vec_id < 10
      |),
      |routed AS (
      |  SELECT query_id, qe, label AS probe_label
      |  FROM (
      |    SELECT q.query_id, q.qe, c.label,
      |           row_number() OVER (
      |             PARTITION BY q.query_id
      |             ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC, c.label) AS rn
      |    FROM q CROSS JOIN cent c
      |  ) x WHERE rn <= 2
      |)
      |SELECT query_id, rank, neighbor_id
      |FROM (
      |  SELECT r.query_id, e.vec_id AS neighbor_id,
      |         row_number() OVER (
      |           PARTITION BY r.query_id
      |           ORDER BY list_cosine_similarity(r.qe, CAST(e.embedding AS DOUBLE[])) DESC,
      |                    e.vec_id) AS rank
      |  FROM lists e JOIN routed r ON e.label = r.probe_label
      |  WHERE e.vec_id <> r.query_id
      |) x
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"ivfinc|$d") { tmp =>
      val emb = T.embeddings(s, d)
      Similarity.ivfBuild(emb.filter(col("vec_id") % 5 =!= 0), tmp)
      Similarity.ivfAppend(s, emb.filter(col("vec_id") % 5 === 0), tmp,
        batchId = 1L)
    }
    val queries = T.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfServe(s, dir, queries, 3, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** IVF serving after append→COMPACT (r11): same build+append lifecycle
    * as the incremental query, then Similarity.ivfCompact folds the N
    * appended file sets per label directory into one (repartition by
    * label + generation swap; the fitted coarse centroids are untouched).
    * Content is layout-invariant, so the oracle is the incremental
    * query's cumulative SQL verbatim; what compaction buys is the probed
    * lists' partition pruning against one file set per label instead of
    * one per append. */
  val simIvfServedCompacted = QueryDef(
    "q_ns_sim_ivf_served_compacted",
    simIvfServedIncremental.oracle.get) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"ivfcmp|$d") { tmp =>
      val emb = T.embeddings(s, d)
      Similarity.ivfBuild(emb.filter(col("vec_id") % 5 =!= 0), tmp)
      Similarity.ivfAppend(s, emb.filter(col("vec_id") % 5 === 0), tmp,
        batchId = 61L)
      Similarity.ivfCompact(s, tmp)
    }
    val queries = T.embeddings(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfServe(s, dir, queries, 3, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** The drifted ingest batch the retrain pair plants: a copy of the
    * first 200 vectors blended toward the all-ones direction
    * (e' = float(0.85·e + 0.25)) under fresh ids. Calibrated so the
    * drifted cluster SPLITS across the frozen coarse centroids (~5 lists
    * at sf0.01) — the regime where frozen-centroid serving loses recall
    * because a drifted query probes one list while its true neighbors
    * were assigned to others. Rounded through float32 on both engines
    * (the ingest batch is a float column like the corpus). */
  private def driftedBatch(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    T.embeddings(s, d).filter(col("vec_id") < 200)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> " +
          "cast(cast(x as double) * 0.85d + 0.25d as float))")
          .as("embedding"))

  private val driftOracleProlog =
    """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e
      |              FROM embeddings),
      |drift AS (SELECT vec_id + 1000000 AS vec_id,
      |                 list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> CAST(CAST(x*0.85 + 0.25 AS FLOAT) AS DOUBLE)) AS e
      |          FROM embeddings WHERE vec_id < 200),
      |exp0 AS (SELECT label, generate_subscripts(e,1) pos, unnest(e) v
      |         FROM base),
      |cent0 AS (SELECT label, list(c ORDER BY pos) centroid
      |          FROM (SELECT label, pos, avg(v) c FROM exp0
      |                GROUP BY label, pos) g
      |          GROUP BY label),
      |assigned AS (SELECT label, vec_id, e FROM (
      |   SELECT c.label, n.vec_id, n.e,
      |          row_number() OVER (PARTITION BY n.vec_id
      |            ORDER BY list_cosine_similarity(n.e, c.centroid) DESC,
      |                     c.label) rn
      |   FROM drift n CROSS JOIN cent0 c) t WHERE rn = 1),
      |lists AS (SELECT label, vec_id, e FROM base
      |          UNION ALL SELECT label, vec_id, e FROM assigned),
      |exp1 AS (SELECT label, generate_subscripts(e,1) pos, unnest(e) v
      |         FROM lists),
      |cent1 AS (SELECT label, list(c ORDER BY pos) centroid
      |          FROM (SELECT label, pos, avg(v) c FROM exp1
      |                GROUP BY label, pos) g
      |          GROUP BY label),
      |lists2 AS (SELECT label, vec_id, e FROM (
      |   SELECT c.label, l.vec_id, l.e,
      |          row_number() OVER (PARTITION BY l.vec_id
      |            ORDER BY list_cosine_similarity(l.e, c.centroid) DESC,
      |                     c.label) rn
      |   FROM lists l CROSS JOIN cent1 c) t WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM drift
      |      WHERE vec_id < 1000100),
      |rt1 AS (SELECT query_id, qe, label probe_label FROM (
      |   SELECT q.query_id, q.qe, c.label,
      |          row_number() OVER (PARTITION BY q.query_id
      |            ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC,
      |                     c.label) rn
      |   FROM q CROSS JOIN cent1 c) x WHERE rn = 1),
      |retr AS (SELECT query_id, rank, neighbor_id FROM (
      |   SELECT r.query_id, e.vec_id neighbor_id,
      |          row_number() OVER (PARTITION BY r.query_id
      |            ORDER BY list_cosine_similarity(r.qe, e.e) DESC,
      |                     e.vec_id) rank
      |   FROM lists2 e JOIN rt1 r ON e.label = r.probe_label
      |   WHERE e.vec_id <> r.query_id) x WHERE rank <= 3)""".stripMargin

  /** IVF serving after append → RETRAIN (r11 "Next round" #3 — the
    * lifecycle half [[graft.ops.Similarity.ivfRetrain]] adds): the index
    * is built on the corpus, a drifted batch is appended against the
    * FROZEN centroids, then retrain refits each centroid as its
    * cumulative-list mean and reassigns every vector to its nearest new
    * centroid (one deterministic Lloyd step seeded by the current
    * assignments). The oracle recomputes the whole lifecycle in SQL:
    * frozen-centroid assignment of the batch, per-list means, corpus
    * reassignment, and the nprobe=1 probe over the retrained lists. */
  val simIvfRetrained = QueryDef(
    "q_ns_sim_ivf_retrained",
    driftOracleProlog + """
      |SELECT query_id, rank, neighbor_id FROM retr
      |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"ivfretr|$d") { tmp =>
      Similarity.ivfBuild(T.embeddings(s, d), tmp)
      Similarity.ivfAppend(s, driftedBatch(s, d), tmp, batchId = 71L)
      Similarity.ivfRetrain(s, tmp)
    }
    val queries = driftedBatch(s, d).filter(col("vec_id") < 1000100L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.ivfServe(s, dir, queries, 3, nprobe = 1)
      .orderBy("query_id", "rank")
  }

  /** The drift DEMONSTRATION the retrain op exists for: recall@3 of the
    * STALE artifact (frozen centroids, appended drifted batch) vs the
    * RETRAINED one, per drifted anchor, both against the exact ranking
    * over the cumulative corpus. Measured at sf0.01: stale 237/300 hits,
    * retrained 300/300 — the drifted cluster splits over ~5 frozen lists
    * (a probe sees one fragment) and coalesces into one after retrain.
    * The whole comparison reproduces cross-engine; OpsSpec additionally
    * pins retrained > stale as an inequality. */
  val simIvfRetrainRecall = QueryDef(
    "q_ns_sim_ivf_retrain_recall",
    driftOracleProlog + """,
      |rt0 AS (SELECT query_id, qe, label probe_label FROM (
      |   SELECT q.query_id, q.qe, c.label,
      |          row_number() OVER (PARTITION BY q.query_id
      |            ORDER BY list_cosine_similarity(q.qe, c.centroid) DESC,
      |                     c.label) rn
      |   FROM q CROSS JOIN cent0 c) x WHERE rn = 1),
      |stale AS (SELECT query_id, neighbor_id FROM (
      |   SELECT r.query_id, e.vec_id neighbor_id,
      |          row_number() OVER (PARTITION BY r.query_id
      |            ORDER BY list_cosine_similarity(r.qe, e.e) DESC,
      |                     e.vec_id) rank
      |   FROM lists e JOIN rt0 r ON e.label = r.probe_label
      |   WHERE e.vec_id <> r.query_id) x WHERE rank <= 3),
      |exact AS (SELECT query_id, neighbor_id FROM (
      |   SELECT q.query_id, e.vec_id neighbor_id,
      |          row_number() OVER (PARTITION BY q.query_id
      |            ORDER BY list_cosine_similarity(q.qe, e.e) DESC,
      |                     e.vec_id) rank
      |   FROM lists e CROSS JOIN q
      |   WHERE e.vec_id <> q.query_id) x WHERE rank <= 3)
      |SELECT q.query_id,
      |       CAST(COALESCE(hs.n, 0) AS BIGINT) AS n_hits_stale,
      |       CAST(COALESCE(hr.n, 0) AS BIGINT) AS n_hits_retrained
      |FROM q
      |LEFT JOIN (SELECT query_id, count(*) n FROM stale
      |           JOIN exact USING (query_id, neighbor_id)
      |           GROUP BY 1) hs USING (query_id)
      |LEFT JOIN (SELECT query_id, count(*) n
      |           FROM (SELECT query_id, neighbor_id FROM retr) r
      |           JOIN exact USING (query_id, neighbor_id)
      |           GROUP BY 1) hr USING (query_id)
      |ORDER BY q.query_id""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d)
    val drift = driftedBatch(s, d)
    val dirStale = graft.ops.Models.ensureBuilt(s"ivfstale|$d") { tmp =>
      Similarity.ivfBuild(emb, tmp)
      Similarity.ivfAppend(s, drift, tmp, batchId = 71L)
    }
    val dirRetr = graft.ops.Models.ensureBuilt(s"ivfretr|$d") { tmp =>
      Similarity.ivfBuild(emb, tmp)
      Similarity.ivfAppend(s, drift, tmp, batchId = 71L)
      Similarity.ivfRetrain(s, tmp)
    }
    val queries = drift.filter(col("vec_id") < 1000100L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val staleTop = Similarity.ivfServe(s, dirStale, queries, 3, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
    val retrTop = Similarity.ivfServe(s, dirRetr, queries, 3, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
    val exact = Similarity.bruteForceTopK(
        emb.select(col("vec_id"), col("embedding"))
          .unionByName(drift.select(col("vec_id"), col("embedding"))),
        (1000000L until 1000100L), 3)
      .select(col("query_id"), col("neighbor_id"))
    def hits(top: org.apache.spark.sql.DataFrame) = top
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n"))
    queries.select("query_id")
      .join(hits(staleTop).withColumnRenamed("n", "n_hits_stale"),
        Seq("query_id"), "left")
      .join(hits(retrTop).withColumnRenamed("n", "n_hits_retrained"),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits_stale"), lit(0L)).as("n_hits_stale"),
        coalesce(col("n_hits_retrained"), lit(0L)).as("n_hits_retrained"))
      .orderBy("query_id")
  }

  /** The drift-triggered retrain POLICY (r12 "What's missing" #3 —
    * ivfRetrain existed but nothing pulled the trigger): after an
    * append, [[graft.ops.Similarity.ivfMaintain]] measures occupancy-TV
    * drift against the artifact's persisted fit-time histogram and
    * retrains iff it crosses the threshold. Two phases prove the trigger
    * is SELECTIVE, not a retrain-always loop:
    *  - drift: the planted drifted batch (TV 0.215 at sf0.01, 0.076 at
    *    sf0.1 — the frozen centroids funnel it into few lists) fires the
    *    θ=0.05 policy → occupancy re-baselines to the reassigned lists
    *    (n_fit_after == n_cur_after) and the ledger folds to one
    *    generation;
    *  - control: an equal-sized UNDRIFTED batch (fresh ids over corpus
    *    vectors 200–399; TV 0.023 / 0.008) does NOT fire → the baseline
    *    stays the build corpus and both generations remain.
    * The `retrained` flag is read from the ARTIFACT (ledger folded to
    * one generation), while the oracle derives it from the exact-integer
    * TV inequality — a policy that misfires on either side hash-fails.
    * The decision is ALL-INTEGER on both engines (r13 ADVICE): Spark's
    * ivfDriftFired evaluates num·20 ≥ 2·N_cur·N_fit for θ = 1/20, and
    * the tv_d/tv_c CTEs below are that same inequality in HUGEINT — no
    * double rounding on either side, so a TV landing exactly on θ cannot
    * split the engines. The CTEs also FULL OUTER join base vs stale
    * occupancy with zero-coalesce, mirroring ivfDriftStats, so an empty
    * coarse list at build time (possible under a future fixture/sf
    * change) keeps both TV sums over the same label set. */
  val simIvfDriftPolicy = QueryDef(
    "q_ns_sim_ivf_drift_policy",
    driftOracleProlog + """,
      |basecnt AS (SELECT label, CAST(count(*) AS BIGINT) n FROM base
      |            GROUP BY label),
      |stale_d AS (SELECT label, CAST(count(*) AS BIGINT) n FROM lists
      |            GROUP BY label),
      |after_d AS (SELECT label, CAST(count(*) AS BIGINT) n FROM lists2
      |            GROUP BY label),
      |ctl AS (SELECT vec_id + 2000000 AS vec_id,
      |               CAST(embedding AS DOUBLE[]) e
      |        FROM embeddings WHERE vec_id >= 200 AND vec_id < 400),
      |actl AS (SELECT label, vec_id, e FROM (
      |   SELECT c.label, n.vec_id, n.e,
      |          row_number() OVER (PARTITION BY n.vec_id
      |            ORDER BY list_cosine_similarity(n.e, c.centroid) DESC,
      |                     c.label) rn
      |   FROM ctl n CROSS JOIN cent0 c) t WHERE rn = 1),
      |stale_c AS (SELECT b.label, b.n + CAST(COALESCE(a.n, 0) AS BIGINT) n
      |            FROM basecnt b LEFT JOIN (SELECT label, count(*) n
      |                                      FROM actl GROUP BY label) a
      |            USING (label)),
      |tv_d AS (SELECT sum(abs(COALESCE(s.n, 0) * (SELECT sum(n) FROM basecnt)
      |                        - COALESCE(b.n, 0) * (SELECT sum(n) FROM stale_d)))
      |                * 20
      |                >= 2 * (SELECT sum(n) FROM stale_d)
      |                     * (SELECT sum(n) FROM basecnt) AS fired
      |         FROM basecnt b FULL OUTER JOIN stale_d s USING (label)),
      |tv_c AS (SELECT sum(abs(COALESCE(s.n, 0) * (SELECT sum(n) FROM basecnt)
      |                        - COALESCE(b.n, 0) * (SELECT sum(n) FROM stale_c)))
      |                * 20
      |                >= 2 * (SELECT sum(n) FROM stale_c)
      |                     * (SELECT sum(n) FROM basecnt) AS fired
      |         FROM basecnt b FULL OUTER JOIN stale_c s USING (label))
      |SELECT phase, label, n_fit, n_stale, n_fit_after, n_cur_after,
      |       retrained FROM (
      |  SELECT 'drift' AS phase, b.label, b.n AS n_fit, s.n AS n_stale,
      |         a.n AS n_fit_after, a.n AS n_cur_after,
      |         CAST((SELECT fired FROM tv_d) AS BIGINT) AS retrained
      |  FROM basecnt b JOIN stale_d s USING (label)
      |                 JOIN after_d a USING (label)
      |  UNION ALL
      |  SELECT 'control', b.label, b.n, s.n, b.n, s.n,
      |         CAST((SELECT fired FROM tv_c) AS BIGINT)
      |  FROM basecnt b JOIN stale_c s USING (label)) u
      |ORDER BY phase, label""".stripMargin) { (s, d) =>
    val emb = T.embeddings(s, d)
    val drift = driftedBatch(s, d)
    val control = emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    // the stale (pre-decision) occupancy for the drift phase comes from
    // the retrain-recall query's frozen twin — identical build steps, so
    // ensureBuilt shares one artifact
    val dirStale = graft.ops.Models.ensureBuilt(s"ivfstale|$d") { tmp =>
      Similarity.ivfBuild(emb, tmp)
      Similarity.ivfAppend(s, drift, tmp, batchId = 71L)
    }
    val dirDrift = graft.ops.Models.ensureBuilt(s"ivfpolicy_drift|$d") { tmp =>
      Similarity.ivfBuild(emb, tmp)
      Similarity.ivfAppend(s, drift, tmp, batchId = 81L)
      Similarity.ivfMaintain(s, tmp, driftThreshold = 0.05): Unit
    }
    val dirCtl = graft.ops.Models.ensureBuilt(s"ivfpolicy_ctl|$d") { tmp =>
      Similarity.ivfBuild(emb, tmp)
      Similarity.ivfAppend(s, control, tmp, batchId = 82L)
      Similarity.ivfMaintain(s, tmp, driftThreshold = 0.05): Unit
    }
    def phaseDf(phase: String, staleListsDir: String, policyDir: String) = {
      val nFit = emb.groupBy("label").agg(count(lit(1)).as("n_fit"))
      val nStale = graft.ops.Models.load(s, s"$staleListsDir/lists")
        .groupBy("label").agg(count(lit(1)).as("n_stale"))
      val after = Similarity.ivfDriftStats(s, policyDir)
        .select(col("label"), col("n_fit").as("n_fit_after"),
          col("n_cur").as("n_cur_after"))
      // artifact-derived decision: retrain folds the ledger to ONE
      // generation; the untriggered path keeps build + append = two
      val retrained = graft.ops.Models.genStats(s, policyDir)
        .head().getLong(0) == 1L
      nFit.join(nStale, Seq("label")).join(after, Seq("label"))
        .select(lit(phase).as("phase"), col("label"), col("n_fit"),
          col("n_stale"), col("n_fit_after"), col("n_cur_after"),
          lit(if (retrained) 1L else 0L).as("retrained"))
    }
    phaseDf("drift", dirStale, dirDrift)
      .unionByName(phaseDf("control", dirCtl, dirCtl))
      .orderBy("phase", "label")
  }

  /** Drift-policy OPERATING-POINT table (r13 verdict #6): the policy
    * query proves θ=0.05 fires/holds on one planted drift; this sweep
    * gives the consumer the data to PICK θ. The drifted batch and an
    * equal-sized in-distribution control batch are each ingested in 3
    * equal chunks against the FROZEN coarse centroids
    * ([[graft.ops.Similarity.assignFrozen]] — the exact code ivfAppend
    * persists), and after every prefix the occupancy-TV signal is
    * evaluated at θ ∈ {200, 500, 1500} basis points. Row = (phase,
    * batch_seq, theta_bp, tv_bp_floor, fired):
    *  - detection lag at θ = first batch_seq where the drift phase fires
    *    (the TV signal GROWS with the drifted prefix, so a tighter θ
    *    detects earlier);
    *  - false-fire rate at θ = any control-phase row with fired=1 (the
    *    control TV stays near 0, so only an aggressive θ trips it).
    * Everything is the exact-integer inequality num·10000 ≥
    * θ_bp·2·N_cur·N_fit on BOTH engines (the same rational form
    * ivfDriftFired evaluates; longs suffice at fixture scale — the
    * production decision path uses BigInt), and tv_bp_floor =
    * ⌊TV·10000⌋ as integer division, so the whole table is
    * hash-exact cross-engine. No artifact is built: occupancy after k
    * chunks = fit occupancy + assigned-chunk counts, all declarative.
    * SCALING.md records the measured table. */
  val simIvfDriftThetaSweep = QueryDef(
    "q_ns_sim_ivf_drift_theta_sweep",
    """WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e
      |              FROM embeddings),
      |exp0 AS (SELECT label, generate_subscripts(e,1) pos, unnest(e) v
      |         FROM base),
      |cent0 AS (SELECT label, list(c ORDER BY pos) centroid
      |          FROM (SELECT label, pos, avg(v) c FROM exp0
      |                GROUP BY label, pos) g
      |          GROUP BY label),
      |dx AS (SELECT vec_id,
      |              list_transform(e,
      |                x -> CAST(CAST(x*0.85 + 0.25 AS FLOAT) AS DOUBLE)) e,
      |              CASE WHEN vec_id < 67 THEN 1
      |                   WHEN vec_id < 134 THEN 2 ELSE 3 END seq
      |       FROM base WHERE vec_id < 200),
      |cx AS (SELECT vec_id, e,
      |              CASE WHEN vec_id < 267 THEN 1
      |                   WHEN vec_id < 334 THEN 2 ELSE 3 END seq
      |       FROM base WHERE vec_id >= 200 AND vec_id < 400),
      |ad AS (SELECT 'drift' phase, seq, label FROM (
      |    SELECT d.seq, c.label, row_number() OVER (PARTITION BY d.vec_id
      |      ORDER BY list_cosine_similarity(d.e, c.centroid) DESC, c.label) rn
      |    FROM dx d CROSS JOIN cent0 c) t WHERE rn = 1),
      |ac AS (SELECT 'control' phase, seq, label FROM (
      |    SELECT x.seq, c.label, row_number() OVER (PARTITION BY x.vec_id
      |      ORDER BY list_cosine_similarity(x.e, c.centroid) DESC, c.label) rn
      |    FROM cx x CROSS JOIN cent0 c) t WHERE rn = 1),
      |app AS (SELECT * FROM ad UNION ALL SELECT * FROM ac),
      |basecnt AS (SELECT label, CAST(count(*) AS BIGINT) n FROM base
      |            GROUP BY label),
      |pre AS (SELECT phase, k.k batch_seq, label,
      |               CAST(count(*) AS BIGINT) napp
      |        FROM app JOIN (VALUES (1),(2),(3)) k(k) ON app.seq <= k.k
      |        GROUP BY phase, k.k, label),
      |grid AS (SELECT p.phase, k.k batch_seq, b.label, b.n
      |         FROM (VALUES ('drift'),('control')) p(phase)
      |         CROSS JOIN (VALUES (1),(2),(3)) k(k) CROSS JOIN basecnt b),
      |cur AS (SELECT g.phase, g.batch_seq, g.label, g.n n_fit,
      |               g.n + COALESCE(p.napp, 0) n_cur
      |        FROM grid g LEFT JOIN pre p
      |          ON g.phase = p.phase AND g.batch_seq = p.batch_seq
      |         AND g.label = p.label),
      |tots AS (SELECT phase, batch_seq, sum(n_cur) ncur, sum(n_fit) nfit
      |         FROM cur GROUP BY phase, batch_seq),
      |nums AS (SELECT c.phase, c.batch_seq,
      |                sum(abs(c.n_cur * t.nfit - c.n_fit * t.ncur)) num,
      |                max(t.ncur) ncur, max(t.nfit) nfit
      |         FROM cur c JOIN tots t
      |           ON c.phase = t.phase AND c.batch_seq = t.batch_seq
      |         GROUP BY c.phase, c.batch_seq)
      |SELECT phase, CAST(batch_seq AS BIGINT) batch_seq,
      |       CAST(th.bp AS BIGINT) theta_bp,
      |       CAST(num * 10000 // (2 * ncur * nfit) AS BIGINT) tv_bp_floor,
      |       CAST(num * 10000 >= th.bp * 2 * ncur * nfit AS BIGINT) fired
      |FROM nums CROSS JOIN (VALUES (200),(500),(1500)) th(bp)
      |ORDER BY phase, batch_seq, theta_bp""".stripMargin) { (s, d) =>
    import s.implicits._
    val emb = T.embeddings(s, d)
    val coarse = Similarity.centroids(emb)
    val driftChunks = Similarity.assignFrozen(driftedBatch(s, d), coarse)
      .select(lit("drift").as("phase"),
        when(col("vec_id") - 1000000L < 67, 1)
          .when(col("vec_id") - 1000000L < 134, 2).otherwise(3).as("seq"),
        col("label"))
    val control = emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val ctlChunks = Similarity.assignFrozen(control, coarse)
      .select(lit("control").as("phase"),
        when(col("vec_id") - 2000000L < 267, 1)
          .when(col("vec_id") - 2000000L < 334, 2).otherwise(3).as("seq"),
        col("label"))
    val occ = driftChunks.unionByName(ctlChunks)
      .groupBy("phase", "seq", "label").agg(count(lit(1)).as("napp"))
    val ks = Seq(1, 2, 3).toDF("batch_seq")
    val pre = occ.join(ks, occ("seq") <= ks("batch_seq"))
      .groupBy("phase", "batch_seq", "label").agg(sum("napp").as("napp"))
    val basecnt = emb.groupBy("label").agg(count(lit(1)).as("n"))
    val grid = Seq("drift", "control").toDF("phase")
      .crossJoin(ks).crossJoin(basecnt)
    val cur = grid.join(pre, Seq("phase", "batch_seq", "label"), "left")
      .select(col("phase"), col("batch_seq"), col("label"),
        col("n").as("n_fit"),
        (col("n") + coalesce(col("napp"), lit(0L))).as("n_cur"))
    val tots = cur.groupBy("phase", "batch_seq")
      .agg(sum("n_cur").as("ncur"), sum("n_fit").as("nfit"))
    val nums = cur.join(tots, Seq("phase", "batch_seq"))
      .groupBy("phase", "batch_seq")
      .agg(sum(abs(col("n_cur") * col("nfit") - col("n_fit") * col("ncur")))
        .as("num"),
        max("ncur").as("ncur"), max("nfit").as("nfit"))
    nums.crossJoin(Seq(200L, 500L, 1500L).toDF("theta_bp"))
      .select(col("phase"), col("batch_seq").cast("bigint").as("batch_seq"),
        col("theta_bp"),
        expr("CAST((num * 10000) div (2 * ncur * nfit) AS BIGINT)")
          .as("tv_bp_floor"),
        (col("num") * lit(10000L) >=
          col("theta_bp") * lit(2L) * col("ncur") * col("nfit"))
          .cast("bigint").as("fired"))
      .orderBy("phase", "batch_seq", "theta_bp")
  }

  /** LSH-bucketed ANN with md5-seeded hyperplanes (oracle reproduces the
    * buckets, candidates, and exact rerank; recall additionally tracked in
    * ScalaTest against brute force for the kernel form). */
  val simLsh = QueryDef(
    "q_ns_sim_lsh_topk",
    graft.ops.Neutral.lshTopKOracleSql(3)) { (s, d) =>
    graft.ops.Neutral.lshTopK(T.embeddings(s, d), queryIds, 3)
      .orderBy("query_id", "rank")
  }

  /** Token counting: whitespace + BPE-ish pre-tokenizer. */
  val textTokens = QueryDef(
    "q_ns_text_tokens",
    """SELECT doc_id,
      |       CASE WHEN trim(text) = '' THEN 0
      |            ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_ws_tokens,
      |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withTokenCounts(T.documents(s, d))
      .select("doc_id", "n_ws_tokens", "n_bpe_tokens")
      .orderBy("doc_id")
  }

  /** Quality scoring: word stats, punctuation/stopword ratios, weighted
    * score (per-row double math — bit-identical cross-engine). */
  val textQuality = QueryDef(
    "q_ns_text_quality",
    """SELECT doc_id,
      |       CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words,
      |       CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x))) AS DOUBLE)
      |         / len(string_split_regex(lower(trim(text)), '\s+')) AS mean_word_len,
      |       CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |         / length(text) AS punct_ratio,
      |       CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |              x -> list_contains(['the','a','an','of','and','to','in','is'], x))) AS DOUBLE)
      |         / len(string_split_regex(lower(trim(text)), '\s+')) AS stopword_ratio,
      |       (CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x))) AS DOUBLE)
      |          / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.2
      |        + (CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |               x -> list_contains(['the','a','an','of','and','to','in','is'], x))) AS DOUBLE)
      |           / len(string_split_regex(lower(trim(text)), '\s+'))) * 2.0
      |        - (CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |           / length(text)) * 5.0 AS quality_score
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withQuality(T.documents(s, d))
      .select("doc_id", "n_words", "mean_word_len", "punct_ratio",
        "stopword_ratio", "quality_score")
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 at token
    * granularity): type-token ratio, top-bigram occupancy, duplicate
    * 5-gram mass — the repetition pathologies (boilerplate, spam,
    * looping generations) a crawl quality gate filters on. TTR is
    * map-only; the gram signals are one explode + one partial-agg
    * (doc, gram) shuffle each (the tf pattern). Short docs define the
    * undefined signals as 0. */
  val textRepetition = QueryDef(
    "q_ns_text_repetition",
    """WITH w AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     x -> x <> '') AS ws
      |  FROM documents
      |),
      |base AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |         CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr
      |  FROM w
      |),
      |bg AS (
      |  SELECT doc_id, max(c) AS top_bg, CAST(sum(c) AS BIGINT) AS n_bg FROM (
      |    SELECT doc_id, g, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
      |               i -> ws[i] || ' ' || ws[i+1])) AS g
      |      FROM w WHERE len(ws) >= 2) t
      |    GROUP BY doc_id, g) cc
      |  GROUP BY doc_id
      |),
      |g5 AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_5g,
      |         CAST(count(*) AS BIGINT) AS d_5g FROM (
      |    SELECT doc_id, g, count(*) AS c FROM (
      |      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 4),
      |               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
      |                    || ws[i+3] || ' ' || ws[i+4])) AS g
      |      FROM w WHERE len(ws) >= 5) t
      |    GROUP BY doc_id, g) cc
      |  GROUP BY doc_id
      |)
      |SELECT base.doc_id, n_words, ttr,
      |       COALESCE(CAST(top_bg AS DOUBLE) / n_bg, CAST(0 AS DOUBLE)) AS top_bigram_frac,
      |       COALESCE(CAST(1 AS DOUBLE) - CAST(d_5g AS DOUBLE) / n_5g, CAST(0 AS DOUBLE)) AS dup_5gram_frac
      |FROM base LEFT JOIN bg USING (doc_id) LEFT JOIN g5 USING (doc_id)
      |ORDER BY base.doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withRepetition(T.documents(s, d)).orderBy("doc_id")
  }

  /** Dataset card: the per-source corpus composition report a pipeline
    * publishes with every release — doc/token counts, mean quality
    * (per-row score rounded to DECIMAL(18,6) before the cross-partition
    * sum: the float-determinism contract), language MIX (spread + the
    * dominant language and its share), exact-duplicate rate (corpus-wide
    * survivor = min doc_id per content digest, the dedup family's
    * definition — so a doc duplicated ACROSS sources is charged to the
    * later source), and a 4-bucket token-length histogram. One corpus
    * scan + one digest-group shuffle + two |sources|-bounded joins —
    * the card costs one dedup pass more than the counts it reports on,
    * at any corpus size. (Closes r9 "What's missing" #4: the engine
    * already computed all of these; now the card carries them.) */
  val datasetCard = QueryDef(
    "q_ns_dataset_card",
    """WITH q AS (
      |  SELECT doc_id, source, lang,
      |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                              x -> x <> '')) AS BIGINT) AS n_tok,
      |         CAST((CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x))) AS DOUBLE)
      |            / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.2
      |          + (CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                 x -> list_contains(['the','a','an','of','and','to','in','is'], x))) AS DOUBLE)
      |             / len(string_split_regex(lower(trim(text)), '\s+'))) * 2.0
      |          - (CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |             / length(text)) * 5.0 AS DECIMAL(18,6)) AS qd,
      |         sha256(text) AS sha
      |  FROM documents
      |),
      |f AS (
      |  SELECT q.*,
      |         (q.doc_id <> min(q.doc_id) OVER (PARTITION BY q.sha)) AS is_dup
      |  FROM q
      |),
      |agg AS (
      |  SELECT source,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |         CAST(sum(qd) AS DOUBLE) / count(*) AS avg_quality,
      |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      |         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS exact_dup_rate,
      |         CAST(sum(CASE WHEN n_tok <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_le_64,
      |         CAST(sum(CASE WHEN n_tok > 64 AND n_tok <= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_le_256,
      |         CAST(sum(CASE WHEN n_tok > 256 AND n_tok <= 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_le_1024,
      |         CAST(sum(CASE WHEN n_tok > 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_gt_1024
      |  FROM f GROUP BY source
      |),
      |lc AS (
      |  SELECT source, lang, count(*) AS n
      |  FROM q GROUP BY source, lang
      |),
      |top AS (
      |  SELECT source, lang AS top_lang, n AS top_n
      |  FROM (SELECT source, lang, n,
      |               row_number() OVER (PARTITION BY source
      |                 ORDER BY n DESC, lang) AS rn
      |        FROM lc) t
      |  WHERE rn = 1
      |)
      |SELECT agg.source, n_docs, n_tokens, avg_quality, n_langs,
      |       n_exact_dup, exact_dup_rate,
      |       top_lang, CAST(top_n AS DOUBLE) / n_docs AS top_lang_share,
      |       n_tok_le_64, n_tok_le_256, n_tok_le_1024, n_tok_gt_1024
      |FROM agg JOIN top ON agg.source = top.source
      |ORDER BY agg.source""".stripMargin) { (s, d) =>
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val base = TextAnalysis.withQuality(T.documents(s, d))
      .withColumn("n_tok",
        size(filter(split(lower(trim(col("text"))), "\\s+"),
          x => x =!= "")).cast("long"))
      .withColumn("sha", sha2(col("text"), 256))
    // corpus-wide exact-dedup survivor flag: min doc_id per digest group
    // (a window over the sha partitioning — one digest shuffle, the
    // dedup family's shape; never a self-join)
    val flagged = base.withColumn("is_dup",
      col("doc_id") =!= min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("sha")))
    val agg = flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        (sum(col("quality_score").cast(dec)).cast("double")
          / count(lit(1))).as("avg_quality"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
        (sum(when(col("is_dup"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("exact_dup_rate"),
        sum(when(col("n_tok") <= 64, 1L).otherwise(0L)).as("n_tok_le_64"),
        sum(when(col("n_tok") > 64 && col("n_tok") <= 256, 1L)
          .otherwise(0L)).as("n_tok_le_256"),
        sum(when(col("n_tok") > 256 && col("n_tok") <= 1024, 1L)
          .otherwise(0L)).as("n_tok_le_1024"),
        sum(when(col("n_tok") > 1024, 1L).otherwise(0L)).as("n_tok_gt_1024"))
    val top = base.groupBy("source", "lang").agg(count(lit(1)).as("lc"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(desc("lc"), asc("lang"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("lc").as("top_n"))
    agg.join(broadcast(top), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("avg_quality"), col("n_langs"), col("n_exact_dup"),
        col("exact_dup_rate"), col("top_lang"),
        (col("top_n").cast("double") / col("n_docs")).as("top_lang_share"),
        col("n_tok_le_64"), col("n_tok_le_256"), col("n_tok_le_1024"),
        col("n_tok_gt_1024"))
      .orderBy("source")
  }

  /** Char-trigram language ID (q_ns_text_langid's upgrade): weighted
    * profile-trigram counts over all character trigrams, argmax with the
    * same alphabetical tie-break. The oracle's CASE weight tables are
    * GENERATED from TextAnalysis.langTrigrams — one source of truth for
    * both engines; integer sums are exact, so the whole classifier sits
    * under the hash gate. */
  val textLangIdTrigram = QueryDef(
    "q_ns_text_langid_trigram", {
      val t = "lower(trim(text))"
      def caseOf(ws: Seq[(String, Int)]): String =
        ws.map { case (g, w) => s"WHEN '$g' THEN $w" }.mkString(" ")
      val scoreCols = TextAnalysis.langTrigrams.map { case (lang, ws) =>
        s"""    COALESCE(CAST(list_sum(list_transform(grams,
           |      g -> CASE g ${caseOf(ws)} ELSE 0 END)) AS BIGINT), 0) AS tscore_$lang"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH g AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN length($t) >= 3
         |         THEN list_transform(generate_series(1, length($t) - 2),
         |                i -> substring($t, i, 3))
         |         ELSE [] END AS grams
         |  FROM documents
         |), s AS (
         |  SELECT doc_id, lang,
         |$scoreCols
         |  FROM g
         |)
         |SELECT doc_id, lang, tscore_en, tscore_de, tscore_es, tscore_fr,
         |  CASE WHEN tscore_en + tscore_de + tscore_es + tscore_fr = 0 THEN 'und'
         |       WHEN tscore_de >= tscore_en AND tscore_de >= tscore_es AND tscore_de >= tscore_fr THEN 'de'
         |       WHEN tscore_en >= tscore_es AND tscore_en >= tscore_fr THEN 'en'
         |       WHEN tscore_es >= tscore_fr THEN 'es'
         |       ELSE 'fr' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    TextAnalysis.withLangIdTrigram(T.documents(s, d))
      .select("doc_id", "lang", "tscore_en", "tscore_de", "tscore_es",
        "tscore_fr", "predicted_lang")
      .orderBy("doc_id")
  }

  /** Language ID: marker-set hit counts, argmax with alphabetical
    * tie-break, 'und' on zero evidence. */
  val textLangId = QueryDef(
    "q_ns_text_langid",
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['the','a','an','of','and','to','in','is','value','table'], x))) AS BIGINT) AS score_en,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['der','die','und','das','ist','nicht','ein','zu'], x))) AS BIGINT) AS score_de,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['el','la','de','y','que','los','una','por'], x))) AS BIGINT) AS score_es,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['le','la','et','les','des','une','est','pour'], x))) AS BIGINT) AS score_fr
      |  FROM documents
      |)
      |SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
      |       CASE WHEN score_en + score_de + score_es + score_fr = 0 THEN 'und'
      |            WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
      |            WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
      |            WHEN score_es >= score_fr THEN 'es'
      |            ELSE 'fr' END AS predicted_lang
      |FROM scored
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withLangId(T.documents(s, d))
      .select("doc_id", "lang", "score_en", "score_de", "score_es", "score_fr",
        "predicted_lang")
      .orderBy("doc_id")
  }

  /** Content fingerprints: raw md5 + order-insensitive bag-of-words md5. */
  val textFingerprint = QueryDef(
    "q_ns_text_fingerprint",
    """SELECT doc_id,
      |       md5(text) AS text_md5,
      |       md5(array_to_string(list_sort(list_distinct(
      |         string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS canon_fp,
      |       substring(md5(array_to_string(list_sort(list_distinct(
      |         string_split_regex(lower(trim(text)), '\s+'))), ' ')), 1, 8) AS fp_prefix
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withFingerprints(T.documents(s, d))
      .select("doc_id", "text_md5", "canon_fp", "fp_prefix")
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint (MOSS): md5 char-8-gram hashes, 8-window
    * minimum selection — partial-overlap detection exact dedup can't do.
    * String-min over md5 hex is engine-neutral, so the full selection
    * algorithm is oracled; the Rabin-Karp kernel twin below is the
    * throughput path. */
  val textWinnow = QueryDef(
    "q_ns_text_winnow",
    """SELECT doc_id,
      |  CAST(COALESCE(len(fp), 0) AS BIGINT) AS n_fp,
      |  CASE WHEN fp IS NOT NULL THEN md5(array_to_string(fp, ' ')) END AS fp_digest
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN length(text) < 8 THEN NULL ELSE
      |      list_sort(list_distinct(
      |        list_transform(generate_series(1, greatest(length(text) - 7 - 7, 1)),
      |          j -> list_min(list_transform(generate_series(j, j + 7),
      |                 i -> CASE WHEN i <= length(text) - 7
      |                           THEN md5(substring(text, i, 8)) END)))))
      |    END AS fp
      |  FROM documents
      |) t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withWinnowedFingerprint(T.documents(s, d))
      .select("doc_id", "n_fp", "fp_digest")
      .orderBy("doc_id")
  }

  /** MOSS pair detection over the winnowed fingerprints: docs sharing >= 2
    * fingerprints, with shared count + containment — partial-overlap pairs
    * whole-doc MinHash dilutes away. Fingerprints in > 50 docs are
    * dropped as boilerplate before pairing (df² guard). */
  val winnowPairs = QueryDef(
    "q_ns_winnow_pairs",
    """WITH fpt AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) < 8 THEN NULL ELSE
      |      list_sort(list_distinct(
      |        list_transform(generate_series(1, greatest(length(text) - 7 - 7, 1)),
      |          j -> list_min(list_transform(generate_series(j, j + 7),
      |                 i -> CASE WHEN i <= length(text) - 7
      |                           THEN md5(substring(text, i, 8)) END)))))
      |    END AS fp
      |  FROM documents
      |),
      |ex AS (SELECT doc_id, unnest(fp) AS f FROM fpt WHERE fp IS NOT NULL),
      |rare AS (SELECT f FROM ex GROUP BY f HAVING count(DISTINCT doc_id) <= 50),
      |ex2 AS (SELECT e.doc_id, e.f FROM ex e JOIN rare USING (f)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |  FROM ex2 a JOIN ex2 b USING (f)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |  HAVING count(*) >= 2
      |),
      |sizes AS (SELECT doc_id, len(fp) AS n_fp FROM fpt WHERE fp IS NOT NULL)
      |SELECT * FROM (
      |  SELECT p.doc_a, p.doc_b, CAST(p.n_shared AS BIGINT) AS n_shared,
      |         CAST(p.n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) AS containment
      |  FROM pairs p
      |  JOIN sizes sa ON sa.doc_id = p.doc_a
      |  JOIN sizes sb ON sb.doc_id = p.doc_b
      |) WHERE containment >= 0.3
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    TextAnalysis.winnowOverlapPairs(T.documents(s, d), minContainment = 0.3)
      .orderBy("doc_a", "doc_b")
  }

  /** Rabin-Karp winnowing kernel (rolling hash proper): same selection,
    * O(1) incremental gram hash. The kernel's wrapping-64-bit rolling
    * update is congruent mod 2^64 to a direct polynomial fold, so the
    * oracle recomputes each gram hash per-position in HUGEINT mod-2^64
    * arithmetic, maps to signed BIGINT for the window-min (the kernel
    * compares signed longs), and xor-folds the distinct selection —
    * bit-exact, no hash-seed dependence (unlike the xxhash-seeded ops). */
  val textWinnowFast = QueryDef(
    "q_ns_text_winnow_fast",
    """WITH g AS (
      |  SELECT doc_id, text, length(text) - 8 + 1 AS ng FROM documents
      |), grams AS (
      |  SELECT doc_id, i.p AS p,
      |         list_reduce(
      |           list_transform(generate_series(CAST(i.p AS INTEGER), CAST(i.p AS INTEGER) + 7),
      |             j -> CAST(ord(substring(text, j + 1, 1)) AS HUGEINT)),
      |           (a, b) -> (a * 1000003 + b) % CAST('18446744073709551616' AS HUGEINT)
      |         ) AS hu
      |  FROM g, unnest(generate_series(0, ng - 1)) AS i(p)
      |  WHERE ng >= 1
      |), signed AS (
      |  SELECT doc_id, p,
      |         CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
      |                   THEN hu - CAST('18446744073709551616' AS HUGEINT)
      |                   ELSE hu END AS BIGINT) AS h
      |  FROM grams
      |), mins AS (
      |  SELECT doc_id, p,
      |         min(h) OVER (PARTITION BY doc_id ORDER BY p
      |                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
      |         count(*) OVER (PARTITION BY doc_id) AS gcount
      |  FROM signed
      |), fp AS (
      |  SELECT doc_id, list_distinct(list(m)) AS fps
      |  FROM mins WHERE p < greatest(gcount - 8 + 1, 1)
      |  GROUP BY doc_id
      |)
      |SELECT g.doc_id,
      |       CAST(COALESCE(len(fps), 0) AS BIGINT) AS n_fp,
      |       CASE WHEN fps IS NULL OR len(fps) = 0 THEN CAST(0 AS BIGINT)
      |            ELSE list_reduce(fps, (a, b) -> xor(a, b)) END AS fp_xor
      |FROM g LEFT JOIN fp ON g.doc_id = fp.doc_id
      |ORDER BY g.doc_id""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .select(col("doc_id"),
        graft.expr.RollingWinnow.rollingWinnow(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).cast("bigint").as("n_fp"),
        expr("aggregate(fp, cast(0 as bigint), (a, x) -> a ^ x)").as("fp_xor"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split: content-independent md5-derived
    * bucket, stable under corpus growth and repartitioning (never
    * rand()). */
  val splitQ = QueryDef(
    "q_ns_split",
    """SELECT doc_id,
      |  CAST(CAST(list_sum(list_transform(generate_series(1, 4),
      |    i -> (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
      |         * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)
      |    % 100 AS BIGINT) AS split_bucket,
      |  CASE WHEN CAST(list_sum(list_transform(generate_series(1, 4),
      |    i -> (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
      |         * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)
      |    % 100 < 80 THEN 'train'
      |       WHEN CAST(list_sum(list_transform(generate_series(1, 4),
      |    i -> (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
      |         * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)
      |    % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.ops.Sampling.withSplit(T.documents(s, d))
      .select("doc_id", "split_bucket", "split")
      .orderBy("doc_id")
  }

  /** Leakage-safe split: near-dup clusters (md5-MinHash pairs → connected
    * components) are assigned to train/val/test atomically — the split
    * bucket hashes the component representative, not the doc, so no
    * near-dup pair ever straddles train and test. */
  val leakageSafeSplitQ = QueryDef(
    "q_ns_leakage_safe_split",
    s"""WITH RECURSIVE ${graft.ops.Neutral.candidateCtesForOracle("documents", 0.8)},
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
      |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN comp c USING (doc_id)
      |),
      |bk AS (
      |  SELECT doc_id, component,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 4),
      |      i -> (instr('0123456789abcdef', substring(md5(CAST(component AS VARCHAR)), i, 1)) - 1)
      |           * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)
      |      % 100 AS BIGINT) AS split_bucket
      |  FROM lab
      |)
      |SELECT doc_id, component, split_bucket,
      |       CASE WHEN split_bucket < 80 THEN 'train'
      |            WHEN split_bucket < 90 THEN 'val'
      |            ELSE 'test' END AS split
      |FROM bk
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.ops.Neutral.leakageSafeSplit(T.documents(s, d))
      .select("doc_id", "component", "split_bucket", "split")
      .orderBy("doc_id")
  }

  /** Deterministic stratified sample: rebalance by language (en 60%,
    * de 30%, others 10%) over the md5 split bucket — same arithmetic as
    * q_ns_split, rate folded into a CASE. */
  val stratified = QueryDef(
    "q_ns_stratified_sample",
    """WITH b AS (
      |  SELECT doc_id, lang,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 4),
      |      i -> (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
      |           * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)
      |      % 100 AS BIGINT) AS bucket
      |  FROM documents
      |)
      |SELECT doc_id, lang FROM b
      |WHERE bucket < CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 30 ELSE 10 END
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.ops.Sampling.stratifiedSample(T.documents(s, d),
        rates = Map("en" -> 60, "de" -> 30), defaultPct = 10)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Fractional-epoch repetition (Sampling.epochUpsample): per-source
    * epoch budgets {1.0, 1.5, 2.0, 2.5} (derived from the source index),
    * each doc emitting ⌊e⌋ full copies plus a salted-md5-bucket
    * fractional copy — the "train source X for 2.5 epochs" mixing
    * primitive, deterministic down to which doc gets the extra copy.
    * Map-only explode, no shuffle until the reporting aggregate. The
    * realized per-source epoch rate is itself hash-compared (md5 makes
    * the fractional draw engine-neutral). */
  val epochUpsample = QueryDef(
    "q_ns_epoch_upsample",
    """WITH e AS (
      |  SELECT doc_id, source,
      |    1.0e0 + (CAST(substr(source, 4, 10) AS INT) % 4) * 0.5e0 AS ep,
      |    CAST(CAST(list_sum(list_transform(generate_series(1, 4),
      |      i -> (instr('0123456789abcdef',
      |              substring(md5('epoch:' || CAST(doc_id AS VARCHAR)), i, 1)) - 1)
      |           * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)
      |      % 100 AS BIGINT) AS b
      |  FROM documents
      |), emitted AS (
      |  SELECT doc_id, source FROM (
      |    SELECT doc_id, source,
      |           unnest(generate_series(0, CAST(floor(ep) AS INT) - 1)) AS i
      |    FROM e) t
      |  UNION ALL
      |  SELECT doc_id, source FROM e WHERE b < (ep - floor(ep)) * 100
      |), stats AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_emitted
      |  FROM emitted GROUP BY source
      |), base AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    1.0e0 + (CAST(substr(source, 4, 10) AS INT) % 4) * 0.5e0 AS epochs
      |  FROM documents GROUP BY source
      |)
      |SELECT b.source, b.n_docs, b.epochs,
      |       CAST(coalesce(s.n_emitted, 0) AS BIGINT) AS n_emitted,
      |       CAST(coalesce(s.n_emitted, 0) AS DOUBLE) / b.n_docs
      |         AS realized_epochs
      |FROM base b LEFT JOIN stats s USING (source)
      |ORDER BY b.source""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    def ep = lit(1.0) +
      (substring(col("source"), 4, 10).cast("int") % 4).cast("double") *
        lit(0.5)
    val emitted = graft.ops.Sampling.epochUpsample(docs, ep)
    val stats = emitted.groupBy("source").agg(count(lit(1)).as("n_emitted"))
    docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("epochs", ep)
      .join(stats, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("epochs"),
        coalesce(col("n_emitted"), lit(0L)).as("n_emitted"))
      .withColumn("realized_epochs",
        col("n_emitted").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  /** Per-domain document cap (FineWeb's "max docs per domain" stage):
    * keep at most 15 docs per source, chosen by a content-independent
    * salted-md5 order — a deterministic uniform sample of each domain,
    * ranked by a per-GROUP window (parallel across domains, no global
    * sort). */
  val domainCap = QueryDef(
    "q_ns_domain_cap",
    """WITH r AS (
      |  SELECT doc_id, source,
      |         md5('cap:' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents
      |), rk AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
      |  FROM r
      |)
      |SELECT doc_id, source FROM rk WHERE rk <= 15
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    graft.ops.Sampling.capPerGroup(T.documents(s, d), maxPerGroup = 15)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  /** Token-budget corpus selection: highest-quality docs admitted until a
    * 12k whitespace-token budget fills (Sampling.selectWithinTokenBudget's
    * two-phase bucket-cutoff — equals the global greedy prefix by (score
    * desc, doc_id) without a corpus-sized global window). */
  val budgetSelect = QueryDef(
    "q_ns_budget_select",
    """WITH q AS (
      |  SELECT doc_id,
      |         (CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x))) AS DOUBLE)
      |            / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.2
      |          + (CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                 x -> list_contains(['the','a','an','of','and','to','in','is'], x))) AS DOUBLE)
      |             / len(string_split_regex(lower(trim(text)), '\s+'))) * 2.0
      |          - (CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |             / length(text)) * 5.0 AS quality_score,
      |         CAST(CASE WHEN trim(text) = '' THEN 0
      |              ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_ws_tokens
      |  FROM documents
      |  WHERE length(text) > 0 AND trim(text) <> ''
      |),
      |d AS (SELECT doc_id, quality_score, n_ws_tokens,
      |             CAST(floor(quality_score * 1000) AS BIGINT) AS bucket FROM q),
      |b AS (SELECT bucket, SUM(n_ws_tokens) AS btok FROM d GROUP BY bucket),
      |bc AS (
      |  SELECT bucket, btok,
      |         COALESCE(SUM(btok) OVER (ORDER BY bucket DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      |  FROM b
      |),
      |wp AS (SELECT d.doc_id, d.quality_score, d.n_ws_tokens, d.bucket, bc.btok, bc.prior
      |       FROM d JOIN bc USING (bucket)),
      |sel AS (
      |  SELECT doc_id, quality_score, n_ws_tokens FROM wp WHERE prior + btok <= 12000
      |  UNION ALL
      |  SELECT doc_id, quality_score, n_ws_tokens FROM (
      |    SELECT doc_id, quality_score, n_ws_tokens,
      |           prior + SUM(n_ws_tokens) OVER (PARTITION BY bucket
      |             ORDER BY quality_score DESC, doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM wp WHERE prior <= 12000 AND prior + btok > 12000
      |  ) WHERE cum <= 12000
      |)
      |SELECT doc_id, quality_score, n_ws_tokens
      |FROM sel ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
      .filter(length(col("text")) > 0 && trim(col("text")) =!= "")
    val scored = TextAnalysis.withTokenCounts(
      TextAnalysis.withQuality(docs))
    graft.ops.Sampling.selectWithinTokenBudget(scored, budgetTokens = 12000L)
      .orderBy("doc_id")
  }

  /** Dataset card, lifecycle dimension (r10 ask #7): per persisted
    * serving artifact — dedup admission index, BM25 postings, phrase
    * positions, IVF inverted lists — the generation count (how many
    * file-set generations a serving scan pays for: the compaction-cadence
    * signal) and the last-append batch id (the staleness signal), read
    * from each artifact's own `gens` ledger (Models.logGen/genStats),
    * never recomputed from data. The planted lifecycle exercises every
    * ledger transition: build (fresh), append (explicit batch ids — the
    * ids a streaming fold stamps from its real micro-batch id), and
    * compaction (bm25 folds back to ONE generation while keeping the
    * last-seen id — layout changed, content didn't). The oracle is the
    * planted lifecycle itself: a mis-wired ledger (an append that forgot
    * to log, a compaction that dropped the id) hash-fails. */
  val datasetCardFreshness = QueryDef(
    "q_ns_dataset_card_freshness",
    """SELECT * FROM (VALUES
      |  ('bm25',   CAST(1 AS BIGINT), CAST(12 AS BIGINT)),
      |  ('dedup',  CAST(2 AS BIGINT), CAST(7  AS BIGINT)),
      |  ('ivf',    CAST(2 AS BIGINT), CAST(31 AS BIGINT)),
      |  ('phrase', CAST(3 AS BIGINT), CAST(22 AS BIGINT)))
      |  AS t(artifact, n_generations, last_batch_id)
      |ORDER BY artifact""".stripMargin) { (s, d) =>
    import graft.ops.{Models, Neutral, Retrieval, Similarity}
    val dir = Models.ensureBuilt(s"freshness|$d") { tmp =>
      val docs = T.documents(s, d)
      val emb = T.embeddings(s, d)
      Neutral.dedupIndexBuild(docs.filter(col("doc_id") % 2 === 0),
        s"$tmp/dedup")
      Neutral.dedupIndexAppend(docs.filter(col("doc_id") % 2 =!= 0),
        s"$tmp/dedup", batchId = 7L)
      Retrieval.bm25Build(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", s"$tmp/bm25")
      Retrieval.bm25Append(docs.filter(col("doc_id") % 3 === 1),
        s"$tmp/bm25", "doc_id", "text", batchId = 11L)
      Retrieval.bm25Append(docs.filter(col("doc_id") % 3 === 2),
        s"$tmp/bm25", "doc_id", "text", batchId = 12L)
      Retrieval.bm25Compact(s, s"$tmp/bm25", "doc_id")
      Retrieval.phraseIndexBuild(docs.filter(col("doc_id") % 3 === 0),
        s"$tmp/phrase", "doc_id", "text")
      Retrieval.phraseIndexAppend(docs.filter(col("doc_id") % 3 === 1),
        s"$tmp/phrase", "doc_id", "text", batchId = 21L)
      Retrieval.phraseIndexAppend(docs.filter(col("doc_id") % 3 === 2),
        s"$tmp/phrase", "doc_id", "text", batchId = 22L)
      Similarity.ivfBuild(emb.filter(col("vec_id") % 5 =!= 0), s"$tmp/ivf")
      Similarity.ivfAppend(s, emb.filter(col("vec_id") % 5 === 0),
        s"$tmp/ivf", batchId = 31L)
    }
    Seq("bm25", "dedup", "ivf", "phrase")
      .map(a => Models.genStats(s, s"$dir/$a").select(
        lit(a).as("artifact"), col("n_generations"), col("last_batch_id")))
      .reduce(_ unionByName _)
      .orderBy("artifact")
  }

  /** URL/email scrubbing with match counts — RE2-subset patterns shared
    * verbatim with the oracle. */
  val textScrub = QueryDef(
    "q_ns_text_scrub",
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_urls,
      |       CAST(len(regexp_extract_all(regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
      |                                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |       md5(regexp_replace(regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
      |                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')) AS scrub_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.withScrubbedText(T.documents(s, d))
      .select(col("doc_id"), col("n_urls"), col("n_emails"),
        md5(col("scrubbed")).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Full PII scrub over documents + PLANTED fixtures (r11 #5 + r12 #4):
    * URL → EMAIL → E.164 → IBAN → CARD → separated-PHONE → SSN → ID
    * chain (TextAnalysis.withPiiScrub), each class counted against the
    * previous stage so counts equal placeholder occurrences. The
    * financial classes are CHECKSUM-gated — card candidates must pass
    * Luhn, IBANs the ISO 13616 mod-97 check — and the oracle reproduces
    * both validations in SQL (candidate explode → integer check-digit
    * fold → order-preserving re-list → POSITION-ANCHORED rebuild: split
    * on the regex, re-emit each match as placeholder-or-verbatim between
    * its parts — never a global literal replace, which would also redact
    * the same digits inside longer tokens the regex did not match), so a
    * checksum divergence on either engine hash-fails. The planted rows
    * exercise every class: phone forms, SSN/ID runs, url/email
    * cohabitation, spaced + contiguous Luhn-valid PANs, spaced + compact
    * valid IBANs, and a check-digit-REJECTED IBAN that must survive
    * verbatim. */
  val textScrubPii = QueryDef(
    "q_ns_text_scrub_pii",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (CAST(9000001 AS BIGINT),
      |     'call +15551234567 or (555) 123-4567 today'),
      |    (CAST(9000002 AS BIGINT), 'ssn 123-45-6789 acct 987654321 ok'),
      |    (CAST(9000003 AS BIGINT),
      |     'see https://ex.io/a?p=1 mail a.b@ex.io tel 555-123-4567 id 123456789012'),
      |    (CAST(9000004 AS BIGINT),
      |     'pay 4111 1111 1111 1111 or 4111111111111111 now'),
      |    (CAST(9000005 AS BIGINT),
      |     'iban GB82 WEST 1234 5698 7654 32 or DE89370400440532013000 ok'),
      |    (CAST(9000006 AS BIGINT), 'fake DE89370400440532013001 stays put'))
      |    v(doc_id, text)
      |),
      |s1 AS (SELECT doc_id, text,
      |         regexp_replace(text, 'https?://\S+', '<URL>', 'g') t1
      |       FROM corpus),
      |s2 AS (SELECT *, regexp_replace(t1,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
      |         '<EMAIL>', 'g') t2 FROM s1),
      |s3 AS (SELECT *, regexp_replace(t2, '\+\d{7,15}',
      |         '<PHONE>', 'g') t3 FROM s2),
      |ibx AS (SELECT doc_id, generate_subscripts(cands, 1) i,
      |               unnest(cands) c
      |        FROM (SELECT doc_id, regexp_extract_all(t3,
      |                '\b[A-Z]{2}\d{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?\b')
      |                cands FROM s3) t),
      |ibok AS (SELECT doc_id, i, CASE WHEN ok THEN '<IBAN>' ELSE c END r,
      |                CAST(ok AS INT) okn FROM (
      |  SELECT doc_id, i, c, (n BETWEEN 15 AND 34
      |    AND list_reduce(list_prepend(0, list_transform(
      |          generate_series(1, length(d)),
      |          k -> CAST(substring(d, k, 1) AS INT))),
      |          (a, x) -> (a * 10 + x) % 97) = 1) ok FROM (
      |    SELECT doc_id, i, c, length(replace(c, ' ', '')) n,
      |           list_aggregate(list_transform(
      |             generate_series(1, length(substring(replace(c, ' ', ''), 5)
      |               || substring(replace(c, ' ', ''), 1, 4))),
      |             k -> CASE WHEN substring(substring(replace(c, ' ', ''), 5)
      |                         || substring(replace(c, ' ', ''), 1, 4), k, 1)
      |                         BETWEEN '0' AND '9'
      |                  THEN substring(substring(replace(c, ' ', ''), 5)
      |                         || substring(replace(c, ' ', ''), 1, 4), k, 1)
      |                  ELSE CAST(ascii(substring(substring(replace(c, ' ', ''), 5)
      |                         || substring(replace(c, ' ', ''), 1, 4), k, 1)) - 55
      |                       AS VARCHAR) END),
      |             'string_agg', '') d
      |    FROM ibx) v) w),
      |ibl AS (SELECT doc_id, list(r ORDER BY i) v,
      |               CAST(sum(okn) AS BIGINT) nv FROM ibok GROUP BY doc_id),
      |s4 AS (SELECT s3.*,
      |         CASE WHEN ibl.v IS NULL THEN t3
      |              ELSE list_reduce(list_prepend(
      |                     string_split_regex(t3,
      |                       '\b[A-Z]{2}\d{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?\b')[1],
      |                     list_transform(generate_series(1, len(ibl.v)),
      |                       i -> ibl.v[i] || string_split_regex(t3,
      |                         '\b[A-Z]{2}\d{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?\b')[i + 1])),
      |                   (a, x) -> a || x) END t4,
      |         CAST(COALESCE(ibl.nv, 0) AS BIGINT) n_ibans
      |       FROM s3 LEFT JOIN ibl USING (doc_id)),
      |ccx AS (SELECT doc_id, generate_subscripts(cands, 1) i,
      |               unnest(cands) c
      |        FROM (SELECT doc_id, regexp_extract_all(t4,
      |                '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b|\b\d{13,19}\b')
      |                cands FROM s4) t),
      |ccok AS (SELECT doc_id, i, CASE WHEN ok THEN '<CC>' ELSE c END r,
      |                CAST(ok AS INT) okn FROM (
      |  SELECT doc_id, i, c,
      |         (list_sum(list_transform(generate_series(1, length(ds)),
      |          k -> CASE WHEN (length(ds) - k) % 2 = 1 THEN
      |                 CASE WHEN 2 * CAST(substring(ds, k, 1) AS INT) > 9
      |                      THEN 2 * CAST(substring(ds, k, 1) AS INT) - 9
      |                      ELSE 2 * CAST(substring(ds, k, 1) AS INT) END
      |               ELSE CAST(substring(ds, k, 1) AS INT) END)) % 10 = 0) ok
      |  FROM (SELECT doc_id, i, c, regexp_replace(c, '[ -]', '', 'g') ds
      |        FROM ccx) v) w),
      |ccl AS (SELECT doc_id, list(r ORDER BY i) v,
      |               CAST(sum(okn) AS BIGINT) nv FROM ccok GROUP BY doc_id),
      |s5 AS (SELECT s4.*,
      |         CASE WHEN ccl.v IS NULL THEN t4
      |              ELSE list_reduce(list_prepend(
      |                     string_split_regex(t4,
      |                       '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b|\b\d{13,19}\b')[1],
      |                     list_transform(generate_series(1, len(ccl.v)),
      |                       i -> ccl.v[i] || string_split_regex(t4,
      |                         '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b|\b\d{13,19}\b')[i + 1])),
      |                   (a, x) -> a || x) END t5,
      |         CAST(COALESCE(ccl.nv, 0) AS BIGINT) n_ccs
      |       FROM s4 LEFT JOIN ccl USING (doc_id)),
      |s6 AS (SELECT *, regexp_replace(t5,
      |         '\+?\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]\d{3,4}',
      |         '<PHONE>', 'g') t6 FROM s5),
      |s7 AS (SELECT *, regexp_replace(t6, '\b\d{3}-\d{2}-\d{4}\b',
      |         '<ID>', 'g') t7 FROM s6)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT)
      |    AS n_urls,
      |  CAST(len(regexp_extract_all(t1,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
      |    AS n_emails,
      |  n_ibans, n_ccs,
      |  CAST(len(regexp_extract_all(t2, '\+\d{7,15}')) +
      |       len(regexp_extract_all(t5,
      |         '\+?\(?\d{2,4}\)?[-. ]\d{3,4}[-. ]\d{3,4}')) AS BIGINT)
      |    AS n_phones,
      |  CAST(len(regexp_extract_all(t6, '\b\d{3}-\d{2}-\d{4}\b')) +
      |       len(regexp_extract_all(t7, '\b\d{9,12}\b')) AS BIGINT)
      |    AS n_ids,
      |  md5(regexp_replace(t7, '\b\d{9,12}\b', '<ID>', 'g')) AS scrub_md5
      |FROM s7
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val planted = Seq(
      (9000001L, "call +15551234567 or (555) 123-4567 today"),
      (9000002L, "ssn 123-45-6789 acct 987654321 ok"),
      (9000003L,
        "see https://ex.io/a?p=1 mail a.b@ex.io tel 555-123-4567 id 123456789012"),
      (9000004L, "pay 4111 1111 1111 1111 or 4111111111111111 now"),
      (9000005L, "iban GB82 WEST 1234 5698 7654 32 or DE89370400440532013000 ok"),
      (9000006L, "fake DE89370400440532013001 stays put"))
      .toDF("doc_id", "text")
    TextAnalysis.withPiiScrub(
        T.documents(s, d).select(col("doc_id"), col("text"))
          .unionByName(planted))
      .select(col("doc_id"), col("n_urls"), col("n_emails"),
        col("n_ibans"), col("n_ccs"), col("n_phones"), col("n_ids"),
        md5(col("scrubbed_pii")).as("scrub_md5"))
      .orderBy("doc_id")
  }

  /** Loop-filtered lossy-WebP edge decode (r13 — the r12 "What's
    * missing" #2 item in the GATE, not just ScalaTest): 20 two-MB key
    * frames with per-MB-constant luma (L | R), real VP8 headers carrying
    * filter type/level/sharpness, decoded by the full pipeline including
    * the RFC 6386 §15 in-loop filter. The geometry is chosen so the only
    * non-identity filter site is the vertical MB edge (constant regions
    * filter to themselves), every row is identical, and p1≡p0/q1≡q0
    * keeps hev false — so each of the 8 edge-tap pixels is a CLOSED-FORM
    * integer function of (L, R, level, sharpness, type) that the oracle
    * recomputes from the spec formulas: the sharpness-derived interior
    * limit, the edge-limit mask, the wide-path taps (27/18/9·w + 63) ≫ 7,
    * and the simple-path F/E adjust. The id sweep covers level 0 (filter
    * gated off), both types, mask rejections, and both adjustment signs.
    * A one-bit drift anywhere — header coding, per-MB level, mask,
    * clamp, tap arithmetic — lands on different pixels and hash-fails. */
  val multimodalLossyFiltered = QueryDef(
    "q_ns_multimodal_lossy_filtered",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        70 + (doc_id * 13) % 100 AS l,
      |        70 + (doc_id * 13) % 100 + (doc_id * 7) % 41 - 20 AS r,
      |        doc_id % 2 AS ft,
      |        (doc_id * 11) % 64 AS lvl,
      |        (doc_id * 3) % 8 AS sharp
      |      FROM ids),
      |lim AS (SELECT *,
      |         GREATEST(CASE WHEN sharp > 0
      |             THEN LEAST(lvl >> (CASE WHEN sharp > 4 THEN 2 ELSE 1 END),
      |                        9 - sharp)
      |             ELSE lvl END, 1) AS ii
      |        FROM p),
      |msk AS (SELECT *,
      |         lvl > 0 AND
      |           (abs(l - r) * 2 + abs(l - r) // 2) <= (2 * (lvl + 2) + ii)
      |           AS f
      |        FROM lim),
      |adj AS (SELECT *,
      |         GREATEST(-128, LEAST(127,
      |           GREATEST(-128, LEAST(127, l - r)) + 3 * (r - l))) AS w0
      |        FROM msk),
      |taps AS (SELECT *,
      |         CAST(floor((27 * w0 + 63) / 128.0) AS BIGINT) AS a27,
      |         CAST(floor((18 * w0 + 63) / 128.0) AS BIGINT) AS a18,
      |         CAST(floor((9 * w0 + 63) / 128.0) AS BIGINT) AS a9,
      |         CAST(floor(GREATEST(-128, LEAST(127, w0 + 4)) / 8.0) AS BIGINT)
      |           AS sf,
      |         CAST(floor(GREATEST(-128, LEAST(127, w0 + 3)) / 8.0) AS BIGINT)
      |           AS se
      |        FROM adj)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(l AS BIGINT) AS l,
      |  CAST(r AS BIGINT) AS r, CAST(ft AS BIGINT) AS ft,
      |  CAST(lvl AS BIGINT) AS lvl, CAST(sharp AS BIGINT) AS sharp,
      |  CAST(l AS BIGINT) AS x12,
      |  CAST(CASE WHEN f AND ft = 0 THEN l + a9 ELSE l END AS BIGINT) AS x13,
      |  CAST(CASE WHEN f AND ft = 0 THEN l + a18 ELSE l END AS BIGINT) AS x14,
      |  CAST(CASE WHEN NOT f THEN l WHEN ft = 0 THEN l + a27
      |       ELSE l + se END AS BIGINT) AS x15,
      |  CAST(CASE WHEN NOT f THEN r WHEN ft = 0 THEN r - a27
      |       ELSE r - sf END AS BIGINT) AS x16,
      |  CAST(CASE WHEN f AND ft = 0 THEN r - a18 ELSE r END AS BIGINT) AS x17,
      |  CAST(CASE WHEN f AND ft = 0 THEN r - a9 ELSE r END AS BIGINT) AS x18,
      |  CAST(r AS BIGINT) AS x19
      |FROM taps
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val l = (70 + (id * 13) % 100).toInt
      val r = (l + (id * 7) % 41 - 20).toInt
      val ft = (id % 2).toInt
      val lvl = ((id * 11) % 64).toInt
      val sharp = ((id * 3) % 8).toInt
      val bytes = graft.ops.Vp8.makeWebpLossy(32, 16,
        (mx, _) => if (mx == 0) l else r,
        filterType = ft, filterLevel = lvl, sharpness = sharp)
      val g = Multimodal.decodeGray(bytes).get._3
      (id, l.toLong, r.toLong, ft.toLong, lvl.toLong, sharp.toLong,
        g(12).toLong, g(13).toLong, g(14).toLong, g(15).toLong,
        g(16).toLong, g(17).toLong, g(18).toLong, g(19).toLong)
    }.toDF("doc_id", "l", "r", "ft", "lvl", "sharp",
      "x12", "x13", "x14", "x15", "x16", "x17", "x18", "x19")
      .orderBy("doc_id")
  }

  /** VP8 segmentation gate (r14 — the subset list's first former
    * out-of-subset line): 20 four-MB key frames with segmentation
    * ENABLED, a tree-coded per-MB segment map, and four per-segment
    * quantizer features — even docs in absolute mode (indices
    * 4/20/60/100), odd docs coding the SAME effective indices as
    * signed deltas off the frame base, so the two header layouts must
    * land on identical pixels. Every MB is DC_PRED with one planted
    * Y2 DC level, so each MB's value is the closed-form chain
    * t(mx) = t(mx−1) + (((L·y2dcQ(seg) + 3) >> 3) + 4) >> 3 with
    * y2dcQ = 2·dc_qlookup(qi) ∈ {16, 42, 110, 196} (RFC 6386 §14.1
    * table values) — the oracle recomputes the chain from those
    * constants. A drift anywhere — the §9.3 feature-data parse, the
    * §10 segment-id tree read (which, mis-ordered against the skip
    * flag, desyncs the whole mode stream), abs-vs-delta mode handling,
    * or per-segment dequant selection — lands on different pixels and
    * hash-fails. */
  val multimodalSegmented = QueryDef(
    "q_ns_multimodal_segmented",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |mbs AS (SELECT doc_id, m.mx FROM ids
      |        CROSS JOIN (VALUES (0), (1), (2), (3)) m(mx)),
      |q AS (SELECT doc_id, mx,
      |        (mx + doc_id) % 4 AS seg,
      |        1 + (doc_id * 5 + mx * 3) % 7 AS lvl
      |      FROM mbs),
      |d AS (SELECT doc_id, mx, seg,
      |        ((lvl * CASE seg WHEN 0 THEN 16 WHEN 1 THEN 42
      |                 WHEN 2 THEN 110 ELSE 196 END + 3) // 8 + 4) // 8
      |          AS dd
      |      FROM q),
      |t AS (SELECT doc_id,
      |        max(CASE WHEN mx = 0 THEN seg END) AS s0,
      |        max(CASE WHEN mx = 1 THEN seg END) AS s1,
      |        max(CASE WHEN mx = 2 THEN seg END) AS s2,
      |        max(CASE WHEN mx = 3 THEN seg END) AS s3,
      |        128 + sum(CASE WHEN mx <= 0 THEN dd ELSE 0 END) AS g0,
      |        128 + sum(CASE WHEN mx <= 1 THEN dd ELSE 0 END) AS g1,
      |        128 + sum(CASE WHEN mx <= 2 THEN dd ELSE 0 END) AS g2,
      |        128 + sum(CASE WHEN mx <= 3 THEN dd ELSE 0 END) AS g3
      |      FROM d GROUP BY doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(doc_id % 2 AS BIGINT) AS dm,
      |  CAST(s0 AS BIGINT) AS s0, CAST(s1 AS BIGINT) AS s1,
      |  CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3,
      |  CAST(g0 AS BIGINT) AS g0, CAST(g1 AS BIGINT) AS g1,
      |  CAST(g2 AS BIGINT) AS g2, CAST(g3 AS BIGINT) AS g3,
      |  CAST(256 * (g0 + g1 + g2 + g3) AS BIGINT) AS gray_sum
      |FROM t
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val zero = new Array[Int](16)
      val deltaMode = id % 2 == 1
      val bytes = graft.ops.Vp8.makeWebpLossyFrameYuv(64, 16,
        (_, _) => 0,
        (mx, _) => {
          val a = new Array[Int](16)
          a(0) = (1 + (id * 5 + mx * 3) % 7).toInt
          a
        },
        (_, _, _) => zero,
        segQIdx =
          if (deltaMode) Array(0, 16, 56, 96) else Array(4, 20, 60, 100),
        segOf = (mx, _) => ((mx + id) % 4).toInt,
        segDeltaMode = deltaMode)._1
      val (w, _, g) = Multimodal.decodeGray(bytes).get
      def seg(mx: Int): Long = (mx + id) % 4
      def gAt(mx: Int): Long = g(8 * w + mx * 16 + 8).toLong
      (id, id % 2, seg(0), seg(1), seg(2), seg(3),
        gAt(0), gAt(1), gAt(2), gAt(3), g.foldLeft(0L)(_ + _))
    }.toDF("doc_id", "dm", "s0", "s1", "s2", "s3",
      "g0", "g1", "g2", "g3", "gray_sum")
      .orderBy("doc_id")
  }

  /** Token-partition layout gate (r14): 20 key frames at 32×96 (2×6
    * macroblocks) with per-MB planted constants, emitted with 1/2/4/8
    * token partitions round-robined by doc — the §9.5 layout real
    * encoders produce for multithreaded decode (3-byte little-endian
    * size table after the header partition, macroblock row r reading
    * partition r mod N; the np=8 docs leave two partitions legally
    * unused). The pixel expectations are partition-layout-INVARIANT, so
    * the oracle recomputes every sampled macroblock value and the full
    * gray_sum from the planting formula: any drift in the size-table
    * walk, partition bounds, or row routing desyncs a bool decoder and
    * hash-fails. */
  val multimodalTokenPartitions = QueryDef(
    "q_ns_multimodal_token_partitions",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |mbs AS (SELECT doc_id, mxs.mx, mys.my,
      |        (doc_id * 7 + mxs.mx * 19 + mys.my * 37) % 256 AS v
      |      FROM ids
      |      CROSS JOIN (VALUES (0), (1)) mxs(mx)
      |      CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5)) mys(my))
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
      |       ELSE 8 END AS BIGINT) AS np,
      |  CAST(max(CASE WHEN mx = 0 AND my = 0 THEN v END) AS BIGINT) AS g_r0,
      |  CAST(max(CASE WHEN mx = 1 AND my = 1 THEN v END) AS BIGINT) AS g_r1,
      |  CAST(max(CASE WHEN mx = 0 AND my = 2 THEN v END) AS BIGINT) AS g_r2,
      |  CAST(max(CASE WHEN mx = 1 AND my = 3 THEN v END) AS BIGINT) AS g_r3,
      |  CAST(max(CASE WHEN mx = 0 AND my = 4 THEN v END) AS BIGINT) AS g_r4,
      |  CAST(max(CASE WHEN mx = 1 AND my = 5 THEN v END) AS BIGINT) AS g_r5,
      |  CAST(sum(v) * 256 AS BIGINT) AS gray_sum
      |FROM mbs
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val np = 1 << (id % 4).toInt
      val bytes = graft.ops.Vp8.makeWebpLossy(32, 96,
        (mx, my) => ((id * 7 + mx * 19 + my * 37) % 256).toInt,
        nTokenParts = np)
      val (w, _, g) = Multimodal.decodeGray(bytes).get
      (id, np.toLong, g(0).toLong, g(16 * w + 16).toLong,
        g(32 * w).toLong, g(48 * w + 16).toLong, g(64 * w).toLong,
        g(80 * w + 16).toLong, g.foldLeft(0L)(_ + _))
    }.toDF("doc_id", "np", "g_r0", "g_r1", "g_r2", "g_r3", "g_r4", "g_r5",
      "gray_sum")
      .orderBy("doc_id")
  }

  /** VP8 INTER-frame gate (r14 — the codec's last big surface: motion-
    * compensated video, the form frame-sampled video payloads actually
    * take): 20 IVF streams (DKIF/VP80, the public libvpx stream format)
    * of a key frame + an inter frame at 64×64. The key frame is a 2×2
    * grid of 32×32 constant regions; the inter frame exercises NEW MVs
    * with the half-pel sixtap phase, NEAREST resolution through the
    * §16.3 near-MV survey (three rows of inheritance), ZERO MVs with
    * planted Y2 and chroma-V residuals, skip MBs, and edge-clamped
    * windows. Because every source window spans at most two region
    * constants and the sixtap taps sum to 128, EVERY inter pixel is a
    * closed-form integer the oracle recomputes with a 6-row taps table
    * — pred = (64 + Σ tap·region(x+k−2))≫7 — so a drift anywhere in
    * the inter header parse, mode/MV entropy, survey, MC arithmetic,
    * edge clamp, or residual add lands on a different gray_sum and
    * hash-fails. */
  val multimodalIvfInter = QueryDef(
    "q_ns_multimodal_ivf_inter",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |px AS (SELECT doc_id, xs.x, ys.y
      |      FROM ids
      |      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS y) ys),
      |taps AS (SELECT * FROM (VALUES (0, 3), (1, -16), (2, 77), (3, 77),
      |        (4, -16), (5, 3)) t(k, tap)),
      |sixtap AS (SELECT doc_id, x, y,
      |        CAST(FLOOR((64 + SUM(tap * (28 + (doc_id * 7
      |          + (LEAST(63, GREATEST(0, x + k - 2)) // 32) * 31
      |          + (y // 32) * 17) % 200))) / 128.0) AS BIGINT) AS pred
      |      FROM px CROSS JOIN taps
      |      GROUP BY doc_id, x, y),
      |pix AS (SELECT p.doc_id, p.x, p.y,
      |        CASE
      |          WHEN p.x // 16 = 3 AND p.y // 16 = 1
      |            THEN 28 + (p.doc_id * 7
      |              + CASE WHEN p.x < 56 THEN 0 ELSE 31 END) % 200
      |          WHEN p.y // 16 <= 1 AND NOT (p.x // 16 = 3 AND p.y // 16 = 0)
      |            THEN s.pred
      |          WHEN p.x // 16 = 0 AND p.y // 16 = 3
      |            THEN 28 + (p.doc_id * 7 + 17) % 200
      |               + (p.doc_id * 3 + 22) % 41 - 20
      |          WHEN p.x // 16 = 2 AND p.y // 16 = 3
      |            THEN 28 + (p.doc_id * 7 + 17) % 200
      |               + (p.doc_id * 3 + 38) % 41 - 20
      |          ELSE 28 + (p.doc_id * 7 + (p.x // 32) * 31
      |                 + (p.y // 32) * 17) % 200
      |               + (p.doc_id * 3 + (p.x // 16) * 5
      |                 + (p.y // 16) * 11) % 41 - 20
      |        END AS g
      |      FROM px p JOIN sixtap s
      |        ON s.doc_id = p.doc_id AND s.x = p.x AND s.y = p.y)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(2 AS BIGINT) AS n_frames,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN
      |    28 + (doc_id * 7) % 200 END) AS BIGINT) AS key_tl,
      |  CAST(max(CASE WHEN x = 31 AND y = 3 THEN g END) AS BIGINT)
      |    AS g_half_pel,
      |  CAST(max(CASE WHEN x = 33 AND y = 20 THEN g END) AS BIGINT)
      |    AS g_near,
      |  CAST(max(CASE WHEN x = 50 AND y = 5 THEN g END) AS BIGINT)
      |    AS g_zero_resid,
      |  CAST(max(CASE WHEN x = 20 AND y = 40 THEN g END) AS BIGINT)
      |    AS g_row2,
      |  CAST(max(CASE WHEN x = 50 AND y = 20 THEN g END) AS BIGINT)
      |    AS g_split,
      |  CAST(max(CASE WHEN x = 4 AND y = 52 THEN g END) AS BIGINT)
      |    AS g_intra_v,
      |  CAST(max(CASE WHEN x = 36 AND y = 52 THEN g END) AS BIGINT)
      |    AS g_intra_h,
      |  CAST(128 + (doc_id * 13 + 1) % 31 - 15 AS BIGINT) AS v_plant,
      |  CAST(sum(g) AS BIGINT) AS gray_sum
      |FROM pix
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.Vp8
      val w = 64
      val h = 64
      def region(bx: Int, by: Int): Int =
        (28 + (id * 7 + bx * 31 + by * 17) % 200).toInt
      def dOf(mx: Int, my: Int): Int =
        ((id * 3 + mx * 5 + my * 11) % 41 - 20).toInt
      val keyWebp = Vp8.makeWebpLossy(w, h, (mx, my) => region(mx / 2, my / 2))
      val keyPayload = Vp8.webpVp8Payload(keyWebp)
      val (kw, kh, keyY, keyU, keyV) = Vp8.decodeYuv(keyWebp).get
      require(kw == w && kh == h)
      val zero16 = new Array[Int](16)
      def mbOf(mx: Int, my: Int): Vp8.InterMbSpec =
        if (my == 0 && mx <= 2) Vp8.InterMbSpec(Vp8.MvNew, 1, 0, 4)
        else if (my == 0) Vp8.InterMbSpec(Vp8.MvZero)
        // SPLITMV (r14): four 8×8 partitions, the left pair pointing a
        // whole-pel MV into the OTHER 32×32 region (x −32 px), the
        // right pair ZERO/ABOVE copies — every pixel one of the two
        // region constants
        else if (my == 1 && mx == 3)
          Vp8.InterMbSpec(Vp8.MvSplit, splitStyle = 2)
        else if (my == 1) Vp8.InterMbSpec(Vp8.MvNearest)
        // intra-in-inter (r14): V-pred from the constant MB above,
        // H-pred from the constant MB to the left — both closed-form
        else if (my == 3 && mx == 0) Vp8.InterMbSpec(0, intraYMode = 1)
        else if (my == 3 && mx == 2) Vp8.InterMbSpec(0, intraYMode = 2)
        else Vp8.InterMbSpec(Vp8.MvZero)
      def splitMvOf(mx: Int, my: Int, j: Int): (Int, Int) =
        if (j % 2 == 0) (0, -256) else (0, 0)
      def y2Of(mx: Int, my: Int): Array[Int] = {
        val a = new Array[Int](16)
        val intraMb = my == 3 && (mx == 0 || mx == 2)
        if ((my >= 2 || (my == 0 && mx == 3)) && !intraMb)
          a(0) = 4 * dOf(mx, my)
        a
      }
      def uvOf(mx: Int, my: Int, pl: Int, cb: Int): Array[Int] = {
        val a = new Array[Int](16)
        if (pl == 1 && my == 2) a(0) = ((id * 13 + mx) % 31 - 15).toInt
        a
      }
      val (p1, _, _, _) = Vp8.makeInterFramePayload(w, h,
        _ => (keyY, keyU, keyV), mbOf, y2Of, (_, _, _) => zero16, uvOf,
        splitMvOf = splitMvOf)
      val ivf = Vp8.makeIvf(w, h, Seq(keyPayload, p1))
      val (dw, dh, frames) = Vp8.decodeIvf(ivf).get
      require(dw == w && dh == h)
      val g = frames(1)._1
      val v = frames(1)._3
      (id, frames.length.toLong, frames(0)._1(0).toLong,
        g(3 * w + 31).toLong, g(20 * w + 33).toLong, g(5 * w + 50).toLong,
        g(40 * w + 20).toLong, g(20 * w + 50).toLong, g(52 * w + 4).toLong,
        g(52 * w + 36).toLong, v(20 * 32 + 12).toLong,
        g.foldLeft(0L)(_ + _))
    }.toDF("doc_id", "n_frames", "key_tl", "g_half_pel", "g_near",
      "g_zero_resid", "g_row2", "g_split", "g_intra_v", "g_intra_h",
      "v_plant", "gray_sum")
      .orderBy("doc_id")
  }

  /** IVF key-frame SAMPLING gate (r14 — the 100 TB video-sampling
    * primitive): 20 five-frame IVF streams (key + 2 inter + key +
    * inter). [[graft.ops.Vp8.ivfFrameMeta]] runs the header-only census
    * (12-byte frame headers + 3-byte VP8 tags, zero entropy decode —
    * the frame filter a corpus-scale pipeline pushes down before any
    * pixel work), and [[graft.ops.Vp8.decodeIvfKeyFrames]] decodes ONLY
    * the key frames, skipping inter payloads entirely. The oracle
    * recomputes the census and both key frames' planted constants in
    * closed form; a drift in the container walk, tag parse, key
    * positions, or the skip-reconstruct logic hash-fails. */
  val multimodalIvfKeySample = QueryDef(
    "q_ns_multimodal_ivf_keysample",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(5 AS BIGINT) AS n_frames,
      |  CAST(2 AS BIGINT) AS n_keys,
      |  CAST(0 AS BIGINT) AS key0_idx,
      |  CAST(3 AS BIGINT) AS key1_idx,
      |  CAST(28 + (doc_id * 11) % 200 AS BIGINT) AS key0_px,
      |  CAST(28 + (doc_id * 11 + 97) % 200 AS BIGINT) AS key1_px,
      |  CAST((56 + (doc_id * 11) % 200 + (doc_id * 11 + 97) % 200)
      |    * 1024 AS BIGINT) AS key_gray_sum
      |FROM ids
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.Vp8
      val w = 32
      val h = 32
      val a = (28 + (id * 11) % 200).toInt
      val b = (28 + (id * 11 + 97) % 200).toInt
      val zero16 = new Array[Int](16)
      def keyOf(v: Int): (Array[Byte], Array[Int], Array[Int], Array[Int]) = {
        val webp = Vp8.makeWebpLossy(w, h, (_, _) => v)
        val (_, _, y, u, cv) = Vp8.decodeYuv(webp).get
        (Vp8.webpVp8Payload(webp), y, u, cv)
      }
      val (kA, yA, uA, vA) = keyOf(a)
      val (kB, yB, uB, vB) = keyOf(b)
      def skipInter(refs: (Array[Int], Array[Int], Array[Int])): Array[Byte] =
        Vp8.makeInterFramePayload(w, h, _ => refs,
          (_, _) => Vp8.InterMbSpec(Vp8.MvZero),
          (_, _) => zero16, (_, _, _) => zero16)._1
      val ivf = Vp8.makeIvf(w, h, Seq(kA,
        skipInter((yA, uA, vA)), skipInter((yA, uA, vA)),
        kB, skipInter((yB, uB, vB))))
      val meta = Vp8.ivfFrameMeta(ivf).get
      val keyIdx = meta.zipWithIndex.filter(_._1._1).map(_._2)
      val (_, _, keys) = Vp8.decodeIvfKeyFrames(ivf).get
      require(keys.map(_._1) == keyIdx, "census/decode key positions differ")
      (id, meta.length.toLong, keyIdx.length.toLong, keyIdx(0).toLong,
        keyIdx(1).toLong, keys(0)._2(0).toLong, keys(1)._2(0).toLong,
        keys.map(_._2.map(_.toLong).sum).sum)
    }.toDF("doc_id", "n_frames", "n_keys", "key0_idx", "key1_idx",
      "key0_px", "key1_px", "key_gray_sum")
      .orderBy("doc_id")
  }

  /** PNG filter gate (r14 — the previous PNG subset accepted only
    * filter-0 scanlines; real encoders pick Sub/Up/Average/Paeth
    * adaptively, so this was the biggest practical PNG gap): 20
    * deflate-compressed (dynamic-huffman, not stored-block) RGB PNGs
    * whose rows cycle through ALL FIVE filter types over a textured
    * plant, decoded by the full unfilter path — and, on the odd docs
    * (r14 cont.), coded ADAM7 INTERLACED: seven independently-filtered
    * sub-images scattered on the 8×8 grid, which a drift in pass
    * geometry, per-pass filter context, or the scatter would scramble.
    * Interlacing is pixel-invariant, so one oracle pins both codings:
    * it recomputes every sampled pixel and the gray_sum from the plant
    * formula — any drift in a filter reconstruction (Paeth
    * tie-breaking included) lands on different pixels and hash-fails. */
  val multimodalPngFilters = QueryDef(
    "q_ns_multimodal_png_filters",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        9 + (doc_id * 3) % 8 AS w, 7 + (doc_id * 5) % 8 AS h
      |      FROM ids),
      |px AS (SELECT doc_id, w, h, xs.x, ys.y,
      |        (doc_id * 3 + xs.x * 7 + ys.y * 11) % 256 AS g
      |      FROM p
      |      CROSS JOIN (SELECT unnest(generate_series(0, 16)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 14)) AS y) ys
      |      WHERE xs.x < w AND ys.y < h)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(doc_id % 2 AS BIGINT) AS il,
      |  CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN g END) AS BIGINT) AS g_tl,
      |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN g END) AS BIGINT)
      |    AS g_br,
      |  CAST(max(CASE WHEN x = 3 AND y = 4 THEN g END) AS BIGINT) AS g_mid,
      |  CAST(sum(g) AS BIGINT) AS gray_sum
      |FROM px
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val w = (9 + (id * 3) % 8).toInt
      val h = (7 + (id * 5) % 8).toInt
      val bytes = Multimodal.makePngFiltered(w, h,
        (x, y) => ((id * 3 + x * 7 + y * 11) % 256).toInt,
        y => ((y + id) % 5).toInt,
        interlaced = id % 2 == 1)
      val (dw, dh, g) = Multimodal.decodeGray(bytes).get
      (id, id % 2, dw.toLong, dh.toLong, g(0).toLong, g(dw * dh - 1).toLong,
        g(4 * dw + 3).toLong, g.foldLeft(0L)(_ + _))
    }.toDF("doc_id", "il", "w", "h", "g_tl", "g_br", "g_mid", "gray_sum")
      .orderBy("doc_id")
  }

  /** CHROMA-plane pixel gate (r13 verdict #3 — VP8 chroma reconstruction
    * in the GATE, upgrading the codec from luma-only to full key-frame
    * pixel surface): 20 two-MB frames with per-MB-constant planted U and
    * V (one DC level per chroma block at qi 4 ⇒ uvdc quantizer 8 ⇒ pixel
    * delta exactly the planted level), luma all-128, decoded by the full
    * pipeline (graft.ops.Vp8.decodeYuv). The oracle recomputes every
    * sampled pixel in closed form: MB0 chroma = 128 + c0 (DC pred 128,
    * integer-exact (8c+4)≫3 = c dequant/IDCT), MB1 = MB0 + c1 (8×8 DC
    * prediction from the left column), and — for the normal-filter ids —
    * the §15 chroma MB-edge taps at x∈[5,10] from the same spec formulas
    * the luma edge gate uses (the simple filter must leave chroma
    * untouched per §15.1, which the ft=1 ids pin). A drift anywhere in
    * the chroma path — uv-mode tree, §14.1 dequant cap, 8×8 prediction,
    * residual placement, chroma filter geometry — lands on different
    * pixels and hash-fails. */
  val multimodalChromaPlane = QueryDef(
    "q_ns_multimodal_chroma_plane",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        (doc_id * 13) % 41 - 20 AS cu0, (doc_id * 7) % 31 - 15 AS cu1,
      |        (doc_id * 11) % 37 - 18 AS cv0, (doc_id * 5) % 29 - 14 AS cv1,
      |        doc_id % 2 AS ft, (doc_id * 9) % 64 AS lvl,
      |        (doc_id * 3) % 8 AS sharp
      |      FROM ids),
      |pl AS (SELECT doc_id, ft, lvl, sharp, 'u' AS pn,
      |              128 + cu0 AS l, 128 + cu0 + cu1 AS r FROM p
      |       UNION ALL
      |       SELECT doc_id, ft, lvl, sharp, 'v',
      |              128 + cv0, 128 + cv0 + cv1 FROM p),
      |lim AS (SELECT *,
      |         GREATEST(CASE WHEN sharp > 0
      |             THEN LEAST(lvl >> (CASE WHEN sharp > 4 THEN 2 ELSE 1 END),
      |                        9 - sharp)
      |             ELSE lvl END, 1) AS ii
      |        FROM pl),
      |msk AS (SELECT *,
      |         lvl > 0 AND ft = 0 AND
      |           (abs(l - r) * 2 + abs(l - r) // 2) <= (2 * (lvl + 2) + ii)
      |           AS f
      |        FROM lim),
      |adj AS (SELECT *,
      |         GREATEST(-128, LEAST(127,
      |           GREATEST(-128, LEAST(127, l - r)) + 3 * (r - l))) AS w0
      |        FROM msk),
      |taps AS (SELECT *,
      |         CAST(floor((27 * w0 + 63) / 128.0) AS BIGINT) AS a27,
      |         CAST(floor((18 * w0 + 63) / 128.0) AS BIGINT) AS a18,
      |         CAST(floor((9 * w0 + 63) / 128.0) AS BIGINT) AS a9
      |        FROM adj),
      |vals AS (SELECT doc_id, pn, l AS x0,
      |           CASE WHEN f THEN l + a9 ELSE l END AS x5,
      |           CASE WHEN f THEN l + a27 ELSE l END AS x7,
      |           CASE WHEN f THEN r - a27 ELSE r END AS x8,
      |           CASE WHEN f THEN r - a9 ELSE r END AS x10,
      |           r AS x15
      |         FROM taps)
      |SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
      |  CAST(p.ft AS BIGINT) AS ft, CAST(p.lvl AS BIGINT) AS lvl,
      |  CAST(p.sharp AS BIGINT) AS sharp,
      |  CAST(max(CASE WHEN pn = 'u' THEN x0 END) AS BIGINT) AS u_x0,
      |  CAST(max(CASE WHEN pn = 'u' THEN x5 END) AS BIGINT) AS u_x5,
      |  CAST(max(CASE WHEN pn = 'u' THEN x7 END) AS BIGINT) AS u_x7,
      |  CAST(max(CASE WHEN pn = 'u' THEN x8 END) AS BIGINT) AS u_x8,
      |  CAST(max(CASE WHEN pn = 'u' THEN x10 END) AS BIGINT) AS u_x10,
      |  CAST(max(CASE WHEN pn = 'u' THEN x15 END) AS BIGINT) AS u_x15,
      |  CAST(max(CASE WHEN pn = 'v' THEN x0 END) AS BIGINT) AS v_x0,
      |  CAST(max(CASE WHEN pn = 'v' THEN x8 END) AS BIGINT) AS v_x8
      |FROM p JOIN vals ON p.doc_id = vals.doc_id
      |GROUP BY p.doc_id, p.ft, p.lvl, p.sharp
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val cu0 = ((id * 13) % 41 - 20).toInt
      val cu1 = ((id * 7) % 31 - 15).toInt
      val cv0 = ((id * 11) % 37 - 18).toInt
      val cv1 = ((id * 5) % 29 - 14).toInt
      val ft = (id % 2).toInt
      val lvl = ((id * 9) % 64).toInt
      val sharp = ((id * 3) % 8).toInt
      def dcScan(v: Int): Array[Int] = {
        val a = new Array[Int](16); a(0) = v; a
      }
      val zero = new Array[Int](16)
      val (bytes, _, _, _) = graft.ops.Vp8.makeWebpLossyFrameYuv(32, 16,
        mbMode = (_, _) => 0,
        y2Of = (_, _) => zero,
        yOf = (_, _, _) => zero,
        uvOf = (mx, _, pn, _) =>
          if (pn == 0) dcScan(if (mx == 0) cu0 else cu1)
          else dcScan(if (mx == 0) cv0 else cv1),
        filterType = ft, filterLevel = lvl, sharpness = sharp)
      val (_, _, _, u, v) = graft.ops.Vp8.decodeYuv(bytes).get
      (id, ft.toLong, lvl.toLong, sharp.toLong,
        u(0).toLong, u(5).toLong, u(7).toLong, u(8).toLong,
        u(10).toLong, u(15).toLong, v(0).toLong, v(8).toLong)
    }.toDF("doc_id", "ft", "lvl", "sharp", "u_x0", "u_x5", "u_x7",
      "u_x8", "u_x10", "u_x15", "v_x0", "v_x8")
      .orderBy("doc_id")
  }

  /** Baseline-JPEG pixel gate (r13 verdict #5 — JPEG upgraded from
    * header-only to pixel-verified IN THE GATE): 20 real baseline
    * grayscale files (SOI/APP0/DQT/SOF0/DHT/SOS/EOI with a Huffman-coded
    * scan) built by graft.ops.Jpeg.makeJpegGray with per-8×8-block
    * planted DC levels, sizes deliberately off the block grid so the
    * edge-block crop is exercised, decoded by the full from-scratch
    * pipeline through Multimodal.decodeGray's sniff dispatch. Under the
    * fixture's q₀ = 8 table a DC-only block reconstructs to EXACTLY
    * 128 + level, so the oracle recomputes sampled pixels and the whole
    * cropped gray_sum in closed form from the planting formula — a
    * one-bit drift in marker parsing, canonical-Huffman construction,
    * the EXTEND convention, DC prediction, zigzag, dequant, or the IDCT
    * DC path lands on different integers and hash-fails. */
  val multimodalJpegLuma = QueryDef(
    "q_ns_multimodal_jpeg_luma",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        17 + (doc_id * 3) % 8 AS w, 9 + (doc_id * 5) % 8 AS h
      |      FROM ids),
      |blocks AS (SELECT doc_id, w, h, bx.bx, by.by,
      |        ((doc_id * 7 + bx.bx * 13 + by.by * 29) % 200) - 100 AS d,
      |        GREATEST(0, LEAST(8, w - 8 * bx.bx))
      |          * GREATEST(0, LEAST(8, h - 8 * by.by)) AS visible
      |      FROM p
      |      CROSS JOIN (VALUES (0), (1), (2)) bx(bx)
      |      CROSS JOIN (VALUES (0), (1)) by(by))
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
      |  CAST(max(CASE WHEN bx = 0 AND by = 0 THEN 128 + d END) AS BIGINT)
      |    AS g_tl,
      |  CAST(max(CASE WHEN bx = 1 AND by = 0 THEN 128 + d END) AS BIGINT)
      |    AS g_x8,
      |  CAST(max(CASE WHEN bx = 0 AND by = 1 THEN 128 + d END) AS BIGINT)
      |    AS g_y8,
      |  CAST(sum(visible * (128 + d)) AS BIGINT) AS gray_sum
      |FROM blocks
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val w = (17 + (id * 3) % 8).toInt
      val h = (9 + (id * 5) % 8).toInt
      val (bytes, _) = graft.ops.Jpeg.makeJpegGray(w, h, (bx, by) => {
        val a = new Array[Int](64)
        a(0) = ((id * 7 + bx * 13 + by * 29) % 200).toInt - 100
        a
      })
      val (dw, dh, g) = Multimodal.decodeGray(bytes).get
      (id, dw.toLong, dh.toLong, g(0).toLong, g(8).toLong,
        g(8 * dw).toLong, g.foldLeft(0L)(_ + _))
    }.toDF("doc_id", "w", "h", "g_tl", "g_x8", "g_y8", "gray_sum")
      .orderBy("doc_id")
  }

  /** Color-JPEG pixel gate (r14): 20 real baseline YCbCr files spanning
    * the sampling family — 4:4:4 / 4:2:2 / 4:2:0 round-robined by doc —
    * with restart intervals on every 4th doc, per-8×8-block planted DC
    * levels on all THREE component grids, sizes off the block AND MCU
    * grids so edge cropping at both scales is exercised. Decoded by the
    * from-scratch interleaved-MCU pipeline ([[graft.ops.Jpeg.decodeRgb]]:
    * Huffman scan → per-component DC prediction (+ RSTn resets) →
    * dequant per the two-table DQT → IDCT → crop → box chroma upsample →
    * exact-integer JFIF convert). DC-only blocks make every component
    * sample EXACTLY 128 + level, and the convert is 16.16 fixed-point
    * with power-of-two-exact floor, so the oracle recomputes every RGB
    * pixel — and the full per-channel sums — in closed form from the
    * planting formulas: a one-bit drift anywhere (interleave order,
    * restart handling, table selection, upsample indexing, convert
    * rounding) lands on different integers and hash-fails. */
  val multimodalJpegColor = QueryDef(
    "q_ns_multimodal_jpeg_color",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        18 + (doc_id * 3) % 8 AS w, 10 + (doc_id * 5) % 8 AS h,
      |        CASE doc_id % 3 WHEN 0 THEN 1 ELSE 2 END AS hs,
      |        CASE doc_id % 3 WHEN 2 THEN 2 ELSE 1 END AS vs
      |      FROM ids),
      |px AS (SELECT doc_id, w, h, hs, vs, xs.x, ys.y
      |      FROM p
      |      CROSS JOIN (SELECT unnest(generate_series(0, 25)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 17)) AS y) ys
      |      WHERE xs.x < w AND ys.y < h),
      |v AS (SELECT doc_id, w, h, x, y,
      |        128 + (doc_id * 7 + (x // 8) * 13 + (y // 8) * 29) % 160 - 80
      |          AS yv,
      |        128 + (doc_id * 11 + ((x // hs) // 8) * 17
      |          + ((y // vs) // 8) * 23) % 100 - 50 AS cb,
      |        128 + (doc_id * 13 + ((x // hs) // 8) * 19
      |          + ((y // vs) // 8) * 31) % 100 - 50 AS cr
      |      FROM px),
      |rgb AS (SELECT doc_id, w, h, x, y,
      |        GREATEST(0, LEAST(255, CAST(FLOOR((65536 * yv
      |          + 91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS r,
      |        GREATEST(0, LEAST(255, CAST(FLOOR((65536 * yv
      |          - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768)
      |          / 65536.0) AS BIGINT))) AS g,
      |        GREATEST(0, LEAST(255, CAST(FLOOR((65536 * yv
      |          + 116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) AS b
      |      FROM v)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN r END) AS BIGINT) AS r_tl,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN g END) AS BIGINT) AS g_tl,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN b END) AS BIGINT) AS b_tl,
      |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN r END) AS BIGINT)
      |    AS r_br,
      |  CAST(max(CASE WHEN x = 9 AND y = 9 THEN g END) AS BIGINT) AS g_mid,
      |  CAST(sum(r) AS BIGINT) AS r_sum,
      |  CAST(sum(g) AS BIGINT) AS g_sum,
      |  CAST(sum(b) AS BIGINT) AS b_sum
      |FROM rgb
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val w = (18 + (id * 3) % 8).toInt
      val h = (10 + (id * 5) % 8).toInt
      val hs = if (id % 3 == 0) 1 else 2
      val vs = if (id % 3 == 2) 2 else 1
      val ri = if (id % 4 == 0) 2 else 0
      val (bytes, _) = graft.ops.Jpeg.makeJpegColor(w, h, hs, vs, ri,
        (c, bx, by) => {
          val a = new Array[Int](64)
          a(0) = (c match {
            case 0 => (id * 7 + bx * 13 + by * 29) % 160 - 80
            case 1 => (id * 11 + bx * 17 + by * 23) % 100 - 50
            case _ => (id * 13 + bx * 19 + by * 31) % 100 - 50
          }).toInt
          a
        })
      val (dw, dh, r, g, b) = graft.ops.Jpeg.decodeRgb(bytes).get
      def sum(a: Array[Int]): Long = a.foldLeft(0L)(_ + _)
      (id, dw.toLong, dh.toLong, r(0).toLong, g(0).toLong, b(0).toLong,
        r(dw * dh - 1).toLong, g(9 * dw + 9).toLong,
        sum(r), sum(g), sum(b))
    }.toDF("doc_id", "w", "h", "r_tl", "g_tl", "b_tl", "r_br", "g_mid",
      "r_sum", "g_sum", "b_sum")
      .orderBy("doc_id")
  }

  /** PROGRESSIVE JPEG gate (r14 — SOF2, the most common real-world
    * JPEG variant, previously rejected as out of subset): the same
    * closed-form DC-only YCbCr expectations as the jpeg_color gate,
    * but coded through the libjpeg 10-scan progression — interleaved
    * DC first at Al 1, spectral-split AC first scans, DC refinement,
    * and successive-approximation AC refinement to Al 0 — with in-scan
    * restart intervals on two thirds of the docs. DC-only plants make
    * every pixel the exact integer the oracle recomputes, while the AC
    * scans still ride the full EOBn machinery (each is one giant EOB
    * run); a drift anywhere in the multi-scan control flow — scan
    * header parse, coefficient accumulation across scans, point
    * transforms, EOB runs, restart resets, the non-interleaved block
    * walk — lands on different pixels and hash-fails. */
  val multimodalJpegProgressive = QueryDef(
    "q_ns_multimodal_jpeg_progressive",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        18 + (doc_id * 3) % 8 AS w, 10 + (doc_id * 5) % 8 AS h,
      |        CASE doc_id % 3 WHEN 0 THEN 1 ELSE 2 END AS hs,
      |        CASE doc_id % 3 WHEN 2 THEN 2 ELSE 1 END AS vs
      |      FROM ids),
      |px AS (SELECT doc_id, w, h, hs, vs, xs.x, ys.y
      |      FROM p
      |      CROSS JOIN (SELECT unnest(generate_series(0, 25)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 17)) AS y) ys
      |      WHERE xs.x < w AND ys.y < h),
      |v AS (SELECT doc_id, w, h, x, y,
      |        128 + (doc_id * 9 + (x // 8) * 15 + (y // 8) * 27) % 160 - 80
      |          AS yv,
      |        128 + (doc_id * 11 + ((x // hs) // 8) * 17
      |          + ((y // vs) // 8) * 23) % 100 - 50 AS cb,
      |        128 + (doc_id * 13 + ((x // hs) // 8) * 19
      |          + ((y // vs) // 8) * 31) % 100 - 50 AS cr
      |      FROM px),
      |rgb AS (SELECT doc_id, w, h, x, y,
      |        GREATEST(0, LEAST(255, CAST(FLOOR((65536 * yv
      |          + 91881 * (cr - 128) + 32768) / 65536.0) AS BIGINT))) AS r,
      |        GREATEST(0, LEAST(255, CAST(FLOOR((65536 * yv
      |          - 22554 * (cb - 128) - 46802 * (cr - 128) + 32768)
      |          / 65536.0) AS BIGINT))) AS g,
      |        GREATEST(0, LEAST(255, CAST(FLOOR((65536 * yv
      |          + 116130 * (cb - 128) + 32768) / 65536.0) AS BIGINT))) AS b
      |      FROM v)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(doc_id % 3 AS BIGINT) AS ri,
      |  CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN r END) AS BIGINT) AS r_tl,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN g END) AS BIGINT) AS g_tl,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN b END) AS BIGINT) AS b_tl,
      |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN r END) AS BIGINT)
      |    AS r_br,
      |  CAST(max(CASE WHEN x = 9 AND y = 9 THEN g END) AS BIGINT) AS g_mid,
      |  CAST(sum(r) AS BIGINT) AS r_sum,
      |  CAST(sum(g) AS BIGINT) AS g_sum,
      |  CAST(sum(b) AS BIGINT) AS b_sum
      |FROM rgb
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      val w = (18 + (id * 3) % 8).toInt
      val h = (10 + (id * 5) % 8).toInt
      val hs = if (id % 3 == 0) 1 else 2
      val vs = if (id % 3 == 2) 2 else 1
      val ri = (id % 3).toInt
      val (bytes, _) = graft.ops.Jpeg.makeJpegProgressive(w, h, hs, vs, ri,
        (c, bx, by) => {
          val a = new Array[Int](64)
          a(0) = (c match {
            case 0 => (id * 9 + bx * 15 + by * 27) % 160 - 80
            case 1 => (id * 11 + bx * 17 + by * 23) % 100 - 50
            case _ => (id * 13 + bx * 19 + by * 31) % 100 - 50
          }).toInt
          a
        })
      val (dw, dh, r, g, b) = graft.ops.Jpeg.decodeRgb(bytes).get
      def sum(a: Array[Int]): Long = a.foldLeft(0L)(_ + _)
      (id, id % 3, dw.toLong, dh.toLong, r(0).toLong, g(0).toLong,
        b(0).toLong, r(dw * dh - 1).toLong, g(9 * dw + 9).toLong,
        sum(r), sum(g), sum(b))
    }.toDF("doc_id", "ri", "w", "h", "r_tl", "g_tl", "b_tl", "r_br",
      "g_mid", "r_sum", "g_sum", "b_sum")
      .orderBy("doc_id")
  }

  /** FLAC sample-decode gate (r14 — the audio codec surface past
    * container headers): 20 from-scratch FLAC streams (RFC 9639) with
    * planted integer samples, mono and stereo docs cycling the three
    * decorrelation modes (left/side, right/side, mid/side — the side
    * channel coded at bps+1), fixed-predictor and LPC/verbatim
    * subframes, rice-coded residuals, CRC-8/CRC-16 verification, and
    * variable-blocksize sample numbering. FLAC is lossless, so every
    * decoded sample equals the planting formula exactly and the oracle
    * recomputes first/mid/last samples and the full per-doc sum — a
    * one-bit drift anywhere (bit reader, rice zigzag, predictor
    * arithmetic, decorrelation, CRC) changes samples or rejects the
    * stream and hash-fails. */
  val multimodalFlac = QueryDef(
    "q_ns_multimodal_flac",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id, 1 + doc_id % 2 AS nch,
      |        CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |          ELSE 32000 END AS rate
      |      FROM ids),
      |s AS (SELECT doc_id, nch, rate, cs.c, i.i,
      |        ((doc_id * 7 + (CASE WHEN i.i < 192 THEN 0 ELSE 13 END)
      |          + cs.c * 31
      |          + (CASE WHEN i.i < 192 THEN i.i ELSE i.i - 192 END) * 3)
      |          % 200) - 100 AS v
      |      FROM p
      |      CROSS JOIN (SELECT unnest(generate_series(0, 447)) AS i) i
      |      CROSS JOIN (VALUES (0), (1)) cs(c)
      |      WHERE cs.c < nch)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(max(nch) AS BIGINT) AS nch,
      |  CAST(max(rate) AS BIGINT) AS rate,
      |  CAST(count(*) / max(nch) AS BIGINT) AS n,
      |  CAST(max(CASE WHEN c = 0 AND i = 0 THEN v END) AS BIGINT) AS s0,
      |  CAST(max(CASE WHEN c = 0 AND i = 300 THEN v END) AS BIGINT)
      |    AS s_mid,
      |  CAST(max(CASE WHEN c = nch - 1 AND i = 447 THEN v END) AS BIGINT)
      |    AS s_last,
      |  CAST(sum(v) AS BIGINT) AS samp_sum
      |FROM s
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.Flac
      val nch = 1 + (id % 2).toInt
      val rate = (id % 3) match {
        case 0 => 44100
        case 1 => 48000
        case _ => 32000
      }
      val asgn0 = if (nch == 1) 0 else 8 + (id % 3).toInt
      val asgn1 = if (nch == 1) 0 else 8 + ((id / 2) % 3).toInt
      val specs = Seq(
        Flac.FlacFrameSpec(192, asgn0, 2, riceParam = 6),
        if (id % 4 == 0) Flac.FlacFrameSpec(256, asgn1, 1)
        else Flac.FlacFrameSpec(256, asgn1, 3, lpcOrder = 2,
          lpcShift = 2, riceParam = 7))
      val (bytes, _) = Flac.makeFlac(rate, nch, 16, specs,
        (f, c, k) => (((id * 7 + f * 13 + c * 31 + k * 3) % 200) - 100).toInt,
        variableBlocks = true)
      val dec = Flac.decodeFlac(bytes).get
      val n = dec.samples(0).length
      var sum = 0L
      dec.samples.foreach(_.foreach(sum += _))
      (id, dec.channels.toLong, dec.sampleRate.toLong, n.toLong,
        dec.samples(0)(0).toLong, dec.samples(0)(300).toLong,
        dec.samples(nch - 1)(447).toLong, sum)
    }.toDF("doc_id", "nch", "rate", "n", "s0", "s_mid", "s_last",
      "samp_sum")
      .orderBy("doc_id")
  }

  /** Animated-GIF gate (r14 — multi-frame compositing in the GATE, the
    * 2D-animation analog of the IVF video rows): 20 three-frame GIF89a
    * files per doc — a full-canvas base (disposal keep), a transparent
    * sub-rect frame (index 13 keeps the base; restore-to-background
    * after display), and a shifted-local-palette frame (interlaced on
    * odd docs — pixel-invariant, so one oracle covers both codings).
    * The oracle recomputes each composited canvas in closed form:
    * frame 1 = base except non-transparent rect pixels, frame 2 = the
    * restored-to-background rect + the local-palette rect over the
    * base. A drift in GCE parsing, disposal order, transparency,
    * local-palette selection, the interlace walk, or LZW lands on
    * different canvas sums and hash-fails. */
  val multimodalGifAnim = QueryDef(
    "q_ns_multimodal_gif_anim",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |px AS (SELECT doc_id, xs.x, ys.y,
      |        (doc_id * 3 + xs.x * 5 + ys.y * 7) % 256 AS c0
      |      FROM ids
      |      CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys),
      |cv AS (SELECT doc_id, x, y, c0,
      |        CASE WHEN x BETWEEN 8 AND 15 AND y BETWEEN 4 AND 11
      |               AND (doc_id * 7 + (x - 8) * 3 + (y - 4) * 11) % 256
      |                 <> 13
      |             THEN (doc_id * 7 + (x - 8) * 3 + (y - 4) * 11) % 256
      |             ELSE c0 END AS c1,
      |        CASE WHEN x < 12 AND y >= 8
      |             THEN ((doc_id * 5 + x * 9 + (y - 8) * 3) % 256 + 64)
      |                  % 256
      |             WHEN x BETWEEN 8 AND 15 AND y BETWEEN 4 AND 11 THEN 0
      |             ELSE c0 END AS c2
      |      FROM px)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(3 AS BIGINT) AS nf,
      |  CAST(2 + doc_id % 5 AS BIGINT) AS d0,
      |  CAST(3 + doc_id % 7 AS BIGINT) AS d1,
      |  CAST(1 + doc_id % 4 AS BIGINT) AS d2,
      |  CAST(max(CASE WHEN x = 10 AND y = 6 THEN c1 END) AS BIGINT)
      |    AS f1_px,
      |  CAST(max(CASE WHEN x = 5 AND y = 10 THEN c2 END) AS BIGINT)
      |    AS f2_px,
      |  CAST(sum(c0) AS BIGINT) AS f0_sum,
      |  CAST(sum(c1) AS BIGINT) AS f1_sum,
      |  CAST(sum(c2) AS BIGINT) AS f2_sum
      |FROM cv
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.Multimodal
      val specs = Seq(
        Multimodal.GifAnimFrameSpec(0, 0, 24, 16,
          delayCs = (2 + id % 5).toInt, disposal = 1,
          idxOf = (x, y) => ((id * 3 + x * 5 + y * 7) % 256).toInt),
        Multimodal.GifAnimFrameSpec(8, 4, 8, 8,
          delayCs = (3 + id % 7).toInt, disposal = 2, transIdx = 13,
          idxOf = (u, v) => ((id * 7 + u * 3 + v * 11) % 256).toInt),
        Multimodal.GifAnimFrameSpec(0, 8, 12, 8,
          delayCs = (1 + id % 4).toInt, disposal = 0, palShift = 64,
          interlaced = id % 2 == 1,
          idxOf = (u, v) => ((id * 5 + u * 9 + v * 3) % 256).toInt))
      val bytes = Multimodal.makeGifAnimated(24, 16, specs)
      val (w, _, frames) = Multimodal.decodeGifFrames(bytes).get
      def sum(a: Array[Int]): Long = a.foldLeft(0L)(_ + _)
      (id, frames.length.toLong, frames(0).delayCs.toLong,
        frames(1).delayCs.toLong, frames(2).delayCs.toLong,
        frames(1).gray(6 * w + 10).toLong,
        frames(2).gray(10 * w + 5).toLong,
        sum(frames(0).gray), sum(frames(1).gray), sum(frames(2).gray))
    }.toDF("doc_id", "nf", "d0", "d1", "d2", "f1_px", "f2_px",
      "f0_sum", "f1_sum", "f2_sum")
      .orderBy("doc_id")
  }

  /** Audio stream census gate (r14 — the audio analog of the IVF
    * key-frame census: header-only timing recovery at corpus scale):
    * even docs are MP3 streams (MPEG-1 Layer III frame walk — CBR and
    * VBR bitrate sequences, per-frame padding, ID3v2 prefixes and
    * ID3v1 trailers) and odd docs Ogg/Opus (page walk with the Ogg
    * CRC-32 verified per page, OpusHead channels/pre-skip/input-rate,
    * duration from the last granule at the 48 kHz Opus clock). The
    * oracle recomputes format, channels, rate, and millisecond
    * duration in closed form — a drift in a frame-size formula, table,
    * syncsafe size, lacing walk, CRC, or pre-skip subtraction changes
    * a value and hash-fails.
    *
    * FINAL AUDIO SUBSET (r15, deliberate): the sample-exact decode
    * surface is FLAC only ([[graft.ops.Flac]]); MP3 and Ogg/Opus stay
    * census-only (frame/page walk, CRC, timing, channel recovery). A
    * training-data pipeline needs triage (what is this blob, how long,
    * is it intact) and dedup keys from container metadata — not a
    * psychoacoustic synthesis filterbank or a CELT/SILK decoder, whose
    * thousands of lines would add no pipeline leverage. Documented in
    * COVERAGE.md; revisit only if a concrete sample-level MP3/Opus use
    * case (e.g. waveform-hash near-dup across codecs) is articulated. */
  val multimodalAudioCensus = QueryDef(
    "q_ns_multimodal_audio_census",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'mp3' ELSE 'opus' END AS fmt,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |       THEN CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END
      |       ELSE 1 + doc_id % 3 END AS BIGINT) AS ch,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |       THEN CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |            ELSE 32000 END
      |       ELSE 48000 END AS BIGINT) AS rate,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |       THEN (20 + doc_id * 3) * 1152 * 1000
      |            // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |                ELSE 32000 END)
      |       ELSE (doc_id + 1) * 100 END AS BIGINT) AS dur_ms
      |FROM ids
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.Multimodal
      val bytes =
        if (id % 2 == 0)
          Multimodal.makeMp3((20 + id * 3).toInt, (id % 3).toInt,
            f => 1 + ((id + f * (id % 2 + 1)) % 14).toInt,
            mono = id % 4 == 0,
            id3v2Bytes = ((id % 5) * 13).toInt,
            id3v1 = id % 3 == 0)
        else {
          val preSkip = (312 + id * 7).toInt
          val last = preSkip + (id + 1) * 4800
          Multimodal.makeOggOpus((1 + id % 3).toInt, preSkip, 48000,
            Seq(last / 3, 2 * last / 3, last))
        }
      val (fmt, ch, rate, durMs) = Multimodal.decodeAvMeta(bytes)
      (id, fmt, ch.toLong, rate.toLong, durMs)
    }.toDF("doc_id", "fmt", "ch", "rate", "dur_ms")
      .orderBy("doc_id")
  }

  /** TIFF gate (r14 — the document-scan raster family): 20 baseline
    * TIFF 6.0 files cycling byte order (II/MM), gray vs RGB,
    * uncompressed vs PackBits strips, and multi-strip row groupings.
    * Decoding is the full IFD walk (inline vs offset-stored values,
    * SHORT/LONG types, strip assembly, PackBits runs/literals); the
    * oracle recomputes sampled pixels and the gray_sum from the plant
    * formula — a drift in endianness handling, a tag offset, strip
    * bounds, or a PackBits count lands on different pixels and
    * hash-fails. */
  val multimodalTiff = QueryDef(
    "q_ns_multimodal_tiff",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |p AS (SELECT doc_id,
      |        11 + (doc_id * 3) % 8 AS w, 9 + (doc_id * 5) % 6 AS h
      |      FROM ids),
      |px AS (SELECT doc_id, w, h, xs.x, ys.y,
      |        CASE WHEN ((xs.x // 4) + (ys.y // 3)) % 2 = 0
      |             THEN (doc_id * 9 + 180) % 256
      |             ELSE (doc_id * 3 + xs.x * 7 + ys.y * 11) % 256
      |        END AS g
      |      FROM p
      |      CROSS JOIN (SELECT unnest(generate_series(0, 18)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 14)) AS y) ys
      |      WHERE xs.x < w AND ys.y < h)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(doc_id % 2 AS BIGINT) AS mm,
      |  CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h,
      |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN g END) AS BIGINT) AS g_tl,
      |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN g END) AS BIGINT)
      |    AS g_br,
      |  CAST(sum(g) AS BIGINT) AS gray_sum
      |FROM px
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.Multimodal
      val w = (11 + (id * 3) % 8).toInt
      val h = (9 + (id * 5) % 6).toInt
      val bytes = Multimodal.makeTiff(w, h,
        (x, y) =>
          (if ((x / 4 + y / 3) % 2 == 0) (id * 9 + 180) % 256
          else (id * 3 + x * 7 + y * 11) % 256).toInt,
        little = id % 2 == 0,
        rgb = id % 3 == 0,
        rowsPerStrip = (id % 4 + 3).toInt,
        packBits = id % 2 == 1)
      val (dw, dh, g) = Multimodal.decodeTiffGray(bytes).get
      (id, id % 2, dw.toLong, dh.toLong, g(0).toLong,
        g(dw * dh - 1).toLong, g.foldLeft(0L)(_ + _))
    }.toDF("doc_id", "mm", "w", "h", "g_tl", "g_br", "gray_sum")
      .orderBy("doc_id")
  }

  /** Animated-WebP gate (r14 — closing the VP8X header-only class for
    * animations, the WebP twin of the GIF animation gate): 20
    * three-frame files per doc — a full-canvas LOSSY (VP8 key-frame)
    * base, a textured LOSSLESS (VP8L) sub-rect frame with
    * dispose-to-background, and a lossy sub-rect frame after the
    * restore — so one payload exercises BOTH embedded codecs, the
    * ANMF 2px-unit offsets, per-frame durations, and the ANIM
    * background. The oracle recomputes every composited canvas in
    * closed form; a drift in the chunk walk, rewrap, compositing
    * order, or either codec lands on different sums and hash-fails. */
  val multimodalWebpAnim = QueryDef(
    "q_ns_multimodal_webp_anim",
    """WITH ids AS (SELECT unnest(generate_series(0, 19)) AS doc_id),
      |px AS (SELECT doc_id, xs.x, ys.y,
      |        (doc_id * 7 + 40) % 200 + 28 AS c0,
      |        (doc_id * 11 + 5) % 256 AS bg
      |      FROM ids
      |      CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS x) xs
      |      CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS y) ys),
      |cv AS (SELECT doc_id, x, y, c0,
      |        CASE WHEN x BETWEEN 8 AND 23 AND y BETWEEN 8 AND 15
      |             THEN (doc_id * 3 + (x - 8) * 5 + (y - 8) * 11) % 256
      |             ELSE c0 END AS c1,
      |        CASE WHEN x BETWEEN 16 AND 27 AND y BETWEEN 16 AND 25
      |             THEN (doc_id * 13 + 90) % 200 + 28
      |             WHEN x BETWEEN 8 AND 23 AND y BETWEEN 8 AND 15 THEN bg
      |             ELSE c0 END AS c2
      |      FROM px)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  CAST(3 AS BIGINT) AS nf,
      |  CAST(30 + doc_id % 7 AS BIGINT) AS d0,
      |  CAST(50 + doc_id % 11 AS BIGINT) AS d1,
      |  CAST(20 + doc_id % 5 AS BIGINT) AS d2,
      |  CAST(max(CASE WHEN x = 10 AND y = 10 THEN c1 END) AS BIGINT)
      |    AS f1_px,
      |  CAST(max(CASE WHEN x = 20 AND y = 20 THEN c2 END) AS BIGINT)
      |    AS f2_px,
      |  CAST(sum(c0) AS BIGINT) AS f0_sum,
      |  CAST(sum(c1) AS BIGINT) AS f1_sum,
      |  CAST(sum(c2) AS BIGINT) AS f2_sum
      |FROM cv
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    s.range(0, 20).as[Long].map { id =>
      import graft.ops.{Multimodal, Vp8}
      val v0 = ((id * 7 + 40) % 200 + 28).toInt
      val v2 = ((id * 13 + 90) % 200 + 28).toInt
      val bg = ((id * 11 + 5) % 256).toInt
      val bytes = Multimodal.makeWebpAnimated(32, 32, bg, Seq(
        Multimodal.WebpAnimFrameSpec(0, 0, (30 + id % 7).toInt,
          disposeBg = false, Vp8.makeWebpLossy(32, 32, (_, _) => v0)),
        Multimodal.WebpAnimFrameSpec(8, 8, (50 + id % 11).toInt,
          disposeBg = true,
          Multimodal.makeVp8l(16, 8,
            (x, y) => ((id * 3 + x * 5 + y * 11) % 256).toInt)),
        Multimodal.WebpAnimFrameSpec(16, 16, (20 + id % 5).toInt,
          disposeBg = false, Vp8.makeWebpLossy(12, 10, (_, _) => v2))))
      val (w, _, frames) = Multimodal.decodeWebpAnim(bytes).get
      def sum(a: Array[Int]): Long = a.foldLeft(0L)(_ + _)
      (id, frames.length.toLong, frames(0)._1.toLong, frames(1)._1.toLong,
        frames(2)._1.toLong,
        frames(1)._2(10 * w + 10).toLong, frames(2)._2(20 * w + 20).toLong,
        sum(frames(0)._2), sum(frames(1)._2), sum(frames(2)._2))
    }.toDF("doc_id", "nf", "d0", "d1", "d2", "f1_px", "f2_px",
      "f0_sum", "f1_sum", "f2_sum")
      .orderBy("doc_id")
  }

  /** Multimodal metadata path: binary payload length + digest (oracle-
    * checkable slice of the media pipeline). */
  val multimodalMeta = QueryDef(
    "q_ns_multimodal_meta",
    """SELECT doc_id, source,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       md5(text) AS payload_md5
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Multimodal.binaryMeta(Multimodal.asMediaTable(T.documents(s, d)))
      .orderBy("doc_id")
  }

  /** Format-level near-dup coverage (the codec-scope contract): one
    * synthesized container per doc spanning the full sniff surface —
    * bmp/ppm/pgm/png (pixel), jpeg (r14: pixel — a REAL baseline
    * Huffman-coded scan decoded by the from-scratch graft.ops.Jpeg
    * grayscale subset; it was the last header-only class in the sweep),
    * gif (pixel), lossy-VP8 webp (r12: pixel — a real
    * boolean-arithmetic-coded key frame decoded by the from-scratch
    * graft.ops.Vp8 subset), VP8L webp (pixel, the lossless-WebP subset
    * decoder). The engine sniffs, scopes, and pixel-decodes each payload
    * from its ACTUAL bytes; the oracle recomputes every column from the
    * planting formula, so a stream that fails to decode
    * (neardup_covered false, decoded_pixels -1) or a drifted header
    * parse hash-fails. This is the card-facing answer to "which share
    * of a crawl's media actually got near-dup treatment" — every class
    * in the sweep is now pixel-verified; out-of-subset real-world files
    * still surface through the per-payload neardup_covered column. */
  val multimodalCodecScope = QueryDef(
    "q_ns_multimodal_codec_scope",
    """WITH p AS (
      |  SELECT doc_id, doc_id % 61 + 4 AS w, doc_id % 47 + 4 AS h,
      |         doc_id % 9 AS f, doc_id % 251 AS v
      |  FROM documents
      |)
      |SELECT doc_id,
      |       CASE f WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' WHEN 2 THEN 'pgm'
      |              WHEN 3 THEN 'png' WHEN 4 THEN 'jpeg' WHEN 5 THEN 'gif'
      |              WHEN 8 THEN 'tiff'
      |              ELSE 'webp' END AS format,
      |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |       'pixel' AS codec_scope,
      |       TRUE AS neardup_covered,
      |       CAST(w * h AS BIGINT) AS decoded_pixels,
      |       CAST(v * w * h AS BIGINT) AS gray_sum
      |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.codecScopeTable(T.documents(s, d)).toDF().orderBy("doc_id")
  }

  /** Multimodal batch decode path: one REAL image file per doc (24-bit BMP
    * / binary PPM / binary PGM / 8-bit RGB PNG / JFIF JPEG round-robin,
    * geometry planted from doc_id), decoded by actually parsing the binary
    * headers in mapPartitions. The oracle recomputes the planted geometry
    * AND the exact file size (BMP 4-byte row alignment, netpbm ASCII
    * header width, PNG 68 + h·(3w+1) chunk/stored-zlib overhead, JPEG's
    * fixed 41-byte marker stream) from the formula — a decoder that
    * misreads a little-endian offset, the netpbm grammar, the IHDR layout,
    * or the SOFn scan hash-mismatches immediately. */
  val multimodalFeatures = QueryDef(
    "q_ns_multimodal_features",
    """WITH p AS (
      |  SELECT doc_id, source,
      |         doc_id % 61 + 4 AS w, doc_id % 47 + 4 AS h, doc_id % 5 AS f
      |  FROM documents
      |)
      |SELECT doc_id, source,
      |       CAST(CASE f WHEN 0 THEN 54 + ((3 * w + 3) // 4) * 4 * h
      |            WHEN 3 THEN 68 + h * (3 * w + 1)
      |            WHEN 4 THEN 41
      |            ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
      |                 + CASE f WHEN 1 THEN 3 * w * h ELSE w * h END
      |            END AS BIGINT) AS n_bytes,
      |       CASE f WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' WHEN 2 THEN 'pgm'
      |              WHEN 3 THEN 'png' ELSE 'jpeg' END AS format,
      |       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
      |       CAST(CASE f WHEN 2 THEN 1 ELSE 3 END AS INTEGER) AS channels
      |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.extractFeatures(Multimodal.syntheticImageTable(T.documents(s, d)))
      .toDF()
      .orderBy("doc_id")
  }

  /** Resize geometry plan over the header-decoded dims — integer-exact
    * aspect-preserving fit into a 224px box (map-only). */
  val multimodalResize = QueryDef(
    "q_ns_multimodal_resize",
    """WITH f AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 61 + 4 AS INTEGER) AS width,
      |         CAST(doc_id % 47 + 4 AS INTEGER) AS height
      |  FROM documents
      |)
      |SELECT doc_id, width, height,
      |       CAST((width * 224) // greatest(width, height) AS INTEGER) AS out_width,
      |       CAST((height * 224) // greatest(width, height) AS INTEGER) AS out_height
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.resizePlan(
        Multimodal.extractFeatures(
          Multimodal.syntheticImageTable(T.documents(s, d))).toDF())
      .orderBy("doc_id")
  }

  /** Frame-sampling plan: byte length stands in for duration (ms), 25 fps,
    * every (n_frames div 8)-th frame — one output row per sampled frame
    * with its timestamp, the fan-out a frame-extract job feeds a codec. */
  val multimodalFrames = QueryDef(
    "q_ns_multimodal_frames",
    """WITH m AS (
      |  SELECT doc_id,
      |         CAST((octet_length(encode(text)) * 25) // 1000 AS BIGINT) AS n_frames
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, n_frames,
      |         greatest(CAST(1 AS BIGINT), n_frames // 8) AS step
      |  FROM m
      |), x AS (
      |  SELECT doc_id,
      |         unnest(generate_series(0, n_frames - 1, CAST(step AS INTEGER))) AS frame_idx
      |  FROM s
      |)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |       CAST((frame_idx * 1000) // 25 AS BIGINT) AS ts_ms
      |FROM x ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    Multimodal.sampleFrames(Multimodal.asMediaTable(T.documents(s, d)))
      .orderBy("doc_id", "frame_idx")
  }

  /** Audio/video header decode: one REAL container per doc (16-bit PCM
    * WAV / ISO BMFF MP4 round-robin, parameters planted from doc_id),
    * decoded by actually walking the RIFF chunks / BMFF boxes in
    * mapPartitions. The oracle recomputes the planted parameters AND the
    * exact container size (44-byte WAV header + PCM payload; 16-byte ftyp
    * + 116-byte moov/mvhd + mdat) from the formula — a parser that
    * misreads the fmt-chunk layout, the LE/BE split (RIFF is LE, BMFF is
    * BE), or the mvhd offsets hash-mismatches immediately. Integer-floor
    * duration math on both sides. */
  val multimodalAv = QueryDef(
    "q_ns_multimodal_av",
    """WITH p AS (
      |  SELECT doc_id, source, doc_id % 2 AS g,
      |         (doc_id // 2) % 2 + 1 AS ch,
      |         CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |              WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS rate,
      |         doc_id % 1000 + 100 AS n_samples,
      |         CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |              WHEN 2 THEN 90000 WHEN 3 THEN 24000 ELSE 48000 END AS ts,
      |         doc_id % 100000 + 1000 AS dur_units
      |  FROM documents
      |)
      |SELECT doc_id, source,
      |       CAST(CASE g WHEN 0 THEN 44 + n_samples * ch * 2
      |            ELSE 140 + doc_id % 256 END AS BIGINT) AS n_bytes,
      |       CASE g WHEN 0 THEN 'wav' ELSE 'mp4' END AS format,
      |       CAST(CASE g WHEN 0 THEN ch ELSE 0 END AS INTEGER) AS channels,
      |       CAST(CASE g WHEN 0 THEN rate ELSE ts END AS INTEGER) AS sample_rate,
      |       CAST(CASE g WHEN 0 THEN (n_samples * 1000) // rate
      |            ELSE (dur_units * 1000) // ts END AS BIGINT) AS duration_ms
      |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.extractAvFeatures(Multimodal.syntheticAvTable(T.documents(s, d)))
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame sampling driven by REAL container timing: the fan-out grid
    * comes from the header-parsed duration (WAV sample count / rate, MP4
    * mvhd duration / timescale), not a byte-length proxy — the (id,
    * frame_idx, ts_ms) work list a frame-extract codec job consumes. */
  val multimodalAvFrames = QueryDef(
    "q_ns_multimodal_av_frames",
    """WITH p AS (
      |  SELECT doc_id, doc_id % 2 AS g,
      |         CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |              WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS rate,
      |         doc_id % 1000 + 100 AS n_samples,
      |         CASE doc_id % 5 WHEN 0 THEN 600 WHEN 1 THEN 1000
      |              WHEN 2 THEN 90000 WHEN 3 THEN 24000 ELSE 48000 END AS ts,
      |         doc_id % 100000 + 1000 AS dur_units
      |  FROM documents
      |), m AS (
      |  SELECT doc_id,
      |         CASE g WHEN 0 THEN (n_samples * 1000) // rate
      |              ELSE (dur_units * 1000) // ts END AS duration_ms
      |  FROM p
      |), s AS (
      |  SELECT doc_id, (duration_ms * 25) // 1000 AS n_frames
      |  FROM m
      |), st AS (
      |  SELECT doc_id, n_frames,
      |         greatest(CAST(1 AS BIGINT), n_frames // 8) AS step
      |  FROM s
      |), x AS (
      |  SELECT doc_id,
      |         unnest(generate_series(0, n_frames - 1, CAST(step AS INTEGER))) AS frame_idx
      |  FROM st
      |)
      |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |       CAST((frame_idx * 1000) // 25 AS BIGINT) AS ts_ms
      |FROM x ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.sampleFramesAv(
        Multimodal.extractAvFeatures(
          Multimodal.syntheticAvTable(T.documents(s, d))).toDF())
      .orderBy("doc_id", "frame_idx")
  }

  /** Perceptual-hash image near-dup: REAL encoded images (bmp/ppm/pgm/png
    * with planted per-pixel textures) → full pixel decode → 64-bit dHash
    * over a 9×8 sample grid → Hamming-banded candidate join (8 disjoint
    * 8-bit blocks, pigeonhole recall 1 at distance ≤ 7) → exact bit_count
    * verify → per-doc near-dup counts. Spark recovers the pixels by
    * parsing the actual file bytes; the oracle recomputes them from the
    * planting formula — same adjudication as the geometry decode
    * queries. The multimodal twin of the SimHash text near-dup: where
    * text dedup shingles, an image corpus dHashes, and the banding
    * machinery is shared shape. */
  /** Shared phash oracle CTE chain: planted texture formula → sampled
    * grid → dHash halves (`hh`) → banded buckets → verified `pairs`. */
  private val phashCtes =
    """d AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS pid FROM documents),
      |dims AS (SELECT doc_id, pid, 16 + pid*7 AS w, 16 + pid*5 AS h FROM d),
      |grid AS (
      |  SELECT doc_id, pid, gxs.gx, gys.gy,
      |         (gxs.gx * w) // 9 AS sx, (gys.gy * h) // 8 AS sy
      |  FROM dims,
      |       (SELECT unnest(generate_series(0,8)) AS gx) gxs,
      |       (SELECT unnest(generate_series(0,7)) AS gy) gys
      |),
      |px AS (
      |  SELECT doc_id, gx, gy,
      |         CASE WHEN (sx + sy*9 + doc_id) % 97 = 0
      |              THEN ((sx*sx*3 + sy*sy*5 + sx*sy*(pid+1) + pid*17) % 256 + 128) % 256
      |              ELSE (sx*sx*3 + sy*sy*5 + sx*sy*(pid+1) + pid*17) % 256 END AS g
      |  FROM grid
      |),
      |bits AS (
      |  SELECT a.doc_id, a.gy*8 + a.gx AS bitpos,
      |         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8
      |),
      |hh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN bitpos < 32 THEN bit * (CAST(1 AS BIGINT) << bitpos) ELSE 0 END) AS BIGINT) AS ph_lo,
      |         CAST(sum(CASE WHEN bitpos >= 32 THEN bit * (CAST(1 AS BIGINT) << (bitpos - 32)) ELSE 0 END) AS BIGINT) AS ph_hi
      |  FROM bits GROUP BY doc_id
      |),
      |bk AS (
      |  SELECT doc_id, ph_lo, ph_hi, ts.t,
      |         CASE WHEN ts.t < 4 THEN (ph_lo >> (ts.t*8)) & 255
      |              ELSE (ph_hi >> ((ts.t-4)*8)) & 255 END AS bucket
      |  FROM hh, (SELECT unnest(generate_series(0,7)) AS t) ts
      |),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.ph_lo, b.ph_lo)) + bit_count(xor(a.ph_hi, b.ph_hi)) <= 7
      |)""".stripMargin

  val phashDedup = QueryDef(
    "q_ns_multimodal_phash_dedup",
    s"""WITH $phashCtes,
      |nn AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
      |    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
      |  ) u GROUP BY doc_id
      |)
      |SELECT hh.doc_id, hh.ph_lo, hh.ph_hi,
      |       CAST(coalesce(nn.n_near, 0) AS BIGINT) AS n_near
      |FROM hh LEFT JOIN nn USING (doc_id)
      |ORDER BY hh.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.phashNearDups(
        Multimodal.imageDHash(
          Multimodal.syntheticTexturedImageTable(T.documents(s, d))))
      .orderBy("doc_id")
  }

  /** Image-corpus dedup survivors: one kept image (min doc_id) per
    * transitive phash near-dup component — decode, hash, band, verify,
    * close, select, end to end. The oracle closes the same pair graph
    * with a recursive CTE. */
  val phashDedupSurvivors = QueryDef(
    "q_ns_multimodal_phash_survivors",
    s"""WITH RECURSIVE $phashCtes,
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION
      |  SELECT doc_b, doc_a FROM pairs
      |),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |),
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM reach GROUP BY a)
      |SELECT hh.doc_id, hh.ph_lo, hh.ph_hi FROM hh
      |LEFT JOIN comp USING (doc_id)
      |WHERE comp.doc_id IS NULL OR comp.component = hh.doc_id
      |ORDER BY hh.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.phashDedupImages(
        Multimodal.imageDHash(
          Multimodal.syntheticTexturedImageTable(T.documents(s, d))))
      .orderBy("doc_id")
  }

  /** Audio-fingerprint near-dup: REAL encoded 16-bit PCM WAV clips with
    * planted waveforms → RIFF chunk walk + PCM decode → 32-sample window
    * energies → 63 energy-difference sign bits (the integer skeleton of
    * Haitsma & Kalker 2002) → the SAME Hamming-banded candidate join as
    * the image phash (8 disjoint 8-bit blocks, pigeonhole recall 1 at
    * distance ≤ 7) → exact bit_count verify → per-clip near-dup counts.
    * Spark recovers the samples by parsing the actual WAV bytes; the
    * oracle recomputes them from the planting formula — the audio leg of
    * the multimodal × dedup story. */
  private val audioFpCtes =
    """d AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS pid FROM documents),
      |tw AS (
      |  SELECT doc_id, pid, wv.w, wv.w * 32 + ts.t AS gt
      |  FROM d,
      |       (SELECT unnest(generate_series(0,63)) AS w) wv,
      |       (SELECT unnest(generate_series(0,31)) AS t) ts
      |),
      |sv AS (
      |  SELECT doc_id, w,
      |         CASE WHEN (gt + doc_id) % 97 = 0
      |              THEN ((gt*gt*3 + gt*(pid+1)*7 + pid*13) % 2048 - 1024) + 7
      |              ELSE (gt*gt*3 + gt*(pid+1)*7 + pid*13) % 2048 - 1024 END AS v
      |  FROM tw
      |),
      |en AS (
      |  SELECT doc_id, w, CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e
      |  FROM sv GROUP BY doc_id, w
      |),
      |abits AS (
      |  SELECT a.doc_id, a.w AS bitpos,
      |         CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      |  FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.w = a.w + 1
      |),
      |ahh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN bitpos < 32 THEN bit * (CAST(1 AS BIGINT) << bitpos) ELSE 0 END) AS BIGINT) AS af_lo,
      |         CAST(sum(CASE WHEN bitpos >= 32 THEN bit * (CAST(1 AS BIGINT) << (bitpos - 32)) ELSE 0 END) AS BIGINT) AS af_hi
      |  FROM abits GROUP BY doc_id
      |),
      |abk AS (
      |  SELECT doc_id, af_lo, af_hi, ts.t,
      |         CASE WHEN ts.t < 4 THEN (af_lo >> (ts.t*8)) & 255
      |              ELSE (af_hi >> ((ts.t-4)*8)) & 255 END AS bucket
      |  FROM ahh, (SELECT unnest(generate_series(0,7)) AS t) ts
      |),
      |apairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM abk a JOIN abk b ON a.t = b.t AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.af_lo, b.af_lo)) + bit_count(xor(a.af_hi, b.af_hi)) <= 7
      |)""".stripMargin

  val audioFpDedup = QueryDef(
    "q_ns_multimodal_audio_dedup",
    s"""WITH $audioFpCtes,
      |nn AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
      |    SELECT doc_a AS doc_id FROM apairs UNION ALL SELECT doc_b FROM apairs
      |  ) u GROUP BY doc_id
      |)
      |SELECT ahh.doc_id, ahh.af_lo, ahh.af_hi,
      |       CAST(coalesce(nn.n_near, 0) AS BIGINT) AS n_near
      |FROM ahh LEFT JOIN nn USING (doc_id)
      |ORDER BY ahh.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.audioNearDups(
        Multimodal.syntheticTexturedAudioTable(T.documents(s, d)))
      .orderBy("doc_id")
  }

  /** Audio-corpus dedup survivors: one kept clip (min doc_id) per
    * transitive fingerprint near-dup component — the audio twin of the
    * image survivor query; the oracle closes the same pair graph with a
    * recursive CTE. */
  val audioFpSurvivors = QueryDef(
    "q_ns_multimodal_audio_survivors",
    s"""WITH RECURSIVE $audioFpCtes,
      |aedges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM apairs
      |  UNION
      |  SELECT doc_b, doc_a FROM apairs
      |),
      |areach(a, b) AS (
      |  SELECT a, b FROM aedges
      |  UNION
      |  SELECT r.a, e.b FROM areach r JOIN aedges e ON r.b = e.a
      |),
      |acomp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM areach GROUP BY a)
      |SELECT ahh.doc_id, ahh.af_lo, ahh.af_hi FROM ahh
      |LEFT JOIN acomp USING (doc_id)
      |WHERE acomp.doc_id IS NULL OR acomp.component = ahh.doc_id
      |ORDER BY ahh.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.audioDedup(
        Multimodal.syntheticTexturedAudioTable(T.documents(s, d)))
      .orderBy("doc_id")
  }

  /** Joint multimodal dedup components (the paired text+image corpus
    * shape): documents merge when EITHER their texts are MinHash-verified
    * near-dups OR their images are phash near-dups — union both
    * modalities' banded pair sets and close transitively. Re-uploads
    * crop/re-encode the image, mirrors rewrite the caption; either
    * signal alone misses them. The query outputs the full per-doc
    * component map (not just survivors) because OR-union closure CHAINS:
    * on this corpus the handful of text pairs bridge the 8 planted image
    * classes into ONE component — the transitive-chaining hazard that
    * makes production pipelines pick per-modality thresholds carefully,
    * visible in the data instead of collapsed to a 1-row answer. The
    * oracle composes the two proven CTE chains with one recursive
    * closure. */
  val jointDedup = QueryDef(
    "q_ns_multimodal_joint_dedup",
    s"""WITH RECURSIVE ${graft.ops.Neutral.candidateCtesForOracle("documents", 0.8)},
      |$phashCtes,
      |jedges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM hits
      |  UNION SELECT doc_b, doc_a FROM hits
      |  UNION SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |),
      |jreach(a, b) AS (
      |  SELECT a, b FROM jedges
      |  UNION
      |  SELECT r.a, e.b FROM jreach r JOIN jedges e ON r.b = e.a
      |),
      |jcomp AS (SELECT a AS doc_id, least(a, min(b)) AS component
      |          FROM jreach GROUP BY a)
      |SELECT dd.doc_id,
      |       coalesce(jcomp.component, dd.doc_id) AS component
      |FROM documents dd
      |LEFT JOIN jcomp USING (doc_id)
      |ORDER BY dd.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    val docs = T.documents(s, d)
    // component-level output → the skew-safe star policy applies to BOTH
    // modalities (text since r16, image since r15); 256 never engages at
    // sf0.01 oracle scale, so the gate result is bit-identical while
    // sf0.1+ candidate volume stays linear
    val textPairs = graft.ops.Neutral.minHashCandidates(docs,
        starCap = Some(256))
      .filter(col("jaccard") >= 0.8).select("doc_a", "doc_b")
    val imagePairs = Multimodal.phashPairsOf(
      Multimodal.imageDHash(Multimodal.syntheticTexturedImageTable(docs)),
      starCap = Some(256))
    val edges = textPairs.unionByName(imagePairs).distinct()
    docs.select("doc_id")
      .join(graft.ops.Dedup.connectedComponents(edges), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  /** Video near-dup by keyframe-hash set overlap: per-video sampled
    * keyframes (REAL encoded textured images, same-class videos sharing
    * frame content at different trim lengths) → per-frame byte decode +
    * dHash → inverted index on exact frame hash (only videos sharing a
    * frame ever meet — never all-pairs) → Jaccard ≥ 0.5 over distinct
    * frame-hash sets → per-video near-dup counts. The oracle recomputes
    * the frame hashes from the planting formula — the video leg of the
    * multimodal × dedup story. */
  private val videoCtes =
    """vd AS (SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS vpid,
      |              CAST(4 + doc_id % 5 AS BIGINT) AS nf FROM documents),
      |vf AS (
      |  SELECT doc_id, vpid * 16 + ks.k AS fid
      |  FROM vd, (SELECT unnest(generate_series(0,8)) AS k) ks WHERE ks.k < nf
      |),
      |ff AS (SELECT DISTINCT fid FROM vf),
      |fgrid AS (
      |  SELECT fid, gxs.gx, gys.gy,
      |         (gxs.gx * 32) // 9 AS sx, gys.gy * 3 AS sy
      |  FROM ff,
      |       (SELECT unnest(generate_series(0,8)) AS gx) gxs,
      |       (SELECT unnest(generate_series(0,7)) AS gy) gys
      |),
      |fpx AS (
      |  SELECT fid, gx, gy,
      |         (sx*sx*3 + sy*sy*5 + sx*sy*((fid % 29)+1) + fid*17) % 256 AS g
      |  FROM fgrid
      |),
      |fbits AS (
      |  SELECT a.fid, a.gy*8 + a.gx AS bitpos,
      |         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
      |  FROM fpx a JOIN fpx b ON b.fid = a.fid AND b.gy = a.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8
      |),
      |fhh AS (
      |  SELECT fid,
      |         CAST(sum(CASE WHEN bitpos < 32 THEN bit * (CAST(1 AS BIGINT) << bitpos) ELSE 0 END) AS BIGINT) AS ph_lo,
      |         CAST(sum(CASE WHEN bitpos >= 32 THEN bit * (CAST(1 AS BIGINT) << (bitpos - 32)) ELSE 0 END) AS BIGINT) AS ph_hi
      |  FROM fbits GROUP BY fid
      |),
      |vsets AS (SELECT DISTINCT doc_id, ph_lo, ph_hi FROM vf JOIN fhh USING (fid)),
      |nfs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames FROM vsets GROUP BY doc_id),
      |vm AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS m
      |  FROM vsets a JOIN vsets b
      |    ON a.ph_lo = b.ph_lo AND a.ph_hi = b.ph_hi AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |vpairs AS (
      |  SELECT doc_a, doc_b FROM vm
      |  JOIN nfs na ON na.doc_id = vm.doc_a
      |  JOIN nfs nb ON nb.doc_id = vm.doc_b
      |  WHERE CAST(m AS DOUBLE) / (na.n_frames + nb.n_frames - m) >= 0.5
      |)""".stripMargin

  val videoDedup = QueryDef(
    "q_ns_multimodal_video_dedup",
    s"""WITH $videoCtes,
      |nn AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
      |    SELECT doc_a AS doc_id FROM vpairs UNION ALL SELECT doc_b FROM vpairs
      |  ) u GROUP BY doc_id
      |)
      |SELECT nfs.doc_id, nfs.n_frames,
      |       CAST(coalesce(nn.n_near, 0) AS BIGINT) AS n_near
      |FROM nfs LEFT JOIN nn USING (doc_id)
      |ORDER BY nfs.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.videoNearDups(
        Multimodal.videoFrameDHash(
          Multimodal.syntheticVideoFrameTable(T.documents(s, d))))
      .orderBy("doc_id")
  }

  /** Phash dedup with the star branch ENGAGED (r16 — the r15 verdict's
    * one process miss: the branch that rescued sf1 shipped with no gate
    * that exercises it). starCap = 12 is far below the planted class
    * size at oracle scale (~62 docs per (t, bucket) at sf0.01), so
    * oversized buckets here DO emit hub-verified star candidates, and the
    * oracle mirrors the size-gated union exactly (small buckets → full
    * pairs, oversized → bucket-min rep → member, both bit_count-verified)
    * before closing to components — the image twin of
    * q_ns_dedup_skew_safe. */
  val phashDedupStar = QueryDef(
    "q_ns_multimodal_phash_star",
    s"""WITH RECURSIVE $phashCtes,
      |bsz AS (
      |  SELECT t, bucket, count(*) AS bsize, min(doc_id) AS rep
      |  FROM bk GROUP BY t, bucket
      |),
      |scand AS (
      |  SELECT DISTINCT doc_a, doc_b, lo_a, hi_a, lo_b, hi_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           a.ph_lo AS lo_a, a.ph_hi AS hi_a,
      |           b.ph_lo AS lo_b, b.ph_hi AS hi_b
      |    FROM bk a
      |    JOIN bsz z ON a.t = z.t AND a.bucket = z.bucket
      |    JOIN bk b ON b.t = a.t AND b.bucket = a.bucket
      |    WHERE z.bsize <= 12 AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT z.rep, b.doc_id, h.ph_lo, h.ph_hi, b.ph_lo, b.ph_hi
      |    FROM bk b
      |    JOIN bsz z ON b.t = z.t AND b.bucket = z.bucket
      |    JOIN hh h ON h.doc_id = z.rep
      |    WHERE z.bsize > 12 AND b.doc_id <> z.rep
      |  ) u
      |),
      |spairs AS (
      |  SELECT DISTINCT doc_a, doc_b FROM scand
      |  WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 7
      |),
      |sedges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM spairs
      |  UNION
      |  SELECT doc_b, doc_a FROM spairs
      |),
      |sreach(a, b) AS (
      |  SELECT a, b FROM sedges
      |  UNION
      |  SELECT r.a, e.b FROM sreach r JOIN sedges e ON r.b = e.a
      |),
      |scomp AS (SELECT a AS doc_id, least(a, min(b)) AS component
      |          FROM sreach GROUP BY a)
      |SELECT hh.doc_id,
      |       CAST(coalesce(scomp.component, hh.doc_id) AS BIGINT) AS component
      |FROM hh LEFT JOIN scomp USING (doc_id)
      |ORDER BY hh.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    val hashes = Multimodal.imageDHash(
      Multimodal.syntheticTexturedImageTable(T.documents(s, d)))
    val comp = graft.ops.Dedup.connectedComponents(
      Multimodal.phashPairsOf(hashes, starCap = Some(12)))
    hashes.select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .orderBy("doc_id")
  }

  /** Video dedup with the posting-list star cap ENGAGED (r16): at oracle
    * scale a shared keyframe's posting list is the whole planted class
    * (~62 videos), so maxPosting = 8 routes every class frame through the
    * star branch — hub star candidates, then the EXACT match-count
    * verification join — and the oracle mirrors the same size-gated
    * candidate union plus exact re-count. Output is the per-video degree
    * over the capped verified pair set (the scale-safe has-near-dup
    * form). */
  val videoDedupStar = QueryDef(
    "q_ns_multimodal_video_star",
    s"""WITH $videoCtes,
      |psz AS (
      |  SELECT ph_lo, ph_hi, count(*) AS psize, min(doc_id) AS rep
      |  FROM vsets GROUP BY ph_lo, ph_hi
      |),
      |vcand AS (
      |  SELECT DISTINCT doc_a, doc_b FROM (
      |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |    FROM vsets a
      |    JOIN psz z ON a.ph_lo = z.ph_lo AND a.ph_hi = z.ph_hi
      |    JOIN vsets b ON b.ph_lo = a.ph_lo AND b.ph_hi = a.ph_hi
      |    WHERE z.psize <= 8 AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT z.rep, b.doc_id
      |    FROM vsets b
      |    JOIN psz z ON b.ph_lo = z.ph_lo AND b.ph_hi = z.ph_hi
      |    WHERE z.psize > 8 AND b.doc_id <> z.rep
      |  ) u
      |),
      |vm2 AS (
      |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS m
      |  FROM vcand c
      |  JOIN vsets a ON a.doc_id = c.doc_a
      |  JOIN vsets b ON b.doc_id = c.doc_b
      |             AND b.ph_lo = a.ph_lo AND b.ph_hi = a.ph_hi
      |  GROUP BY c.doc_a, c.doc_b
      |),
      |vpairs2 AS (
      |  SELECT doc_a, doc_b FROM vm2
      |  JOIN nfs na ON na.doc_id = vm2.doc_a
      |  JOIN nfs nb ON nb.doc_id = vm2.doc_b
      |  WHERE CAST(m AS DOUBLE) / (na.n_frames + nb.n_frames - m) >= 0.5
      |),
      |nn2 AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
      |    SELECT doc_a AS doc_id FROM vpairs2
      |    UNION ALL SELECT doc_b FROM vpairs2
      |  ) u GROUP BY doc_id
      |)
      |SELECT nfs.doc_id, nfs.n_frames,
      |       CAST(coalesce(nn2.n_near, 0) AS BIGINT) AS n_near
      |FROM nfs LEFT JOIN nn2 USING (doc_id)
      |ORDER BY nfs.doc_id""".stripMargin) { (s, d) =>
    implicit val spark = s
    Multimodal.videoNearDups(
        Multimodal.videoFrameDHash(
          Multimodal.syntheticVideoFrameTable(T.documents(s, d))),
        maxPosting = Some(8))
      .orderBy("doc_id")
  }

  /** End-to-end corpus preparation (the operator composition a training
    * pipeline actually runs): language gate → quality floor → exact + near
    * dedup → token annotation. Every stage reuses a proven operator, so the
    * whole composite is oracle-expressible. */
  val prepareCorpusQ = QueryDef(
    "q_ns_prepare_corpus",
    """WITH langq AS (
      |  SELECT doc_id, text,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['the','a','an','of','and','to','in','is','value','table'], x))) AS BIGINT) AS score_en,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['der','die','und','das','ist','nicht','ein','zu'], x))) AS BIGINT) AS score_de,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['el','la','de','y','que','los','una','por'], x))) AS BIGINT) AS score_es,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |      x -> list_contains(['le','la','et','les','des','une','est','pour'], x))) AS BIGINT) AS score_fr,
      |    (CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'), x -> length(x))) AS DOUBLE)
      |       / len(string_split_regex(lower(trim(text)), '\s+'))) * 0.2
      |     + (CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |            x -> list_contains(['the','a','an','of','and','to','in','is'], x))) AS DOUBLE)
      |        / len(string_split_regex(lower(trim(text)), '\s+'))) * 2.0
      |     - (CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
      |        / length(text)) * 5.0 AS quality_score
      |  FROM documents
      |),
      |gated AS (
      |  SELECT doc_id, text FROM langq
      |  WHERE CASE WHEN score_en + score_de + score_es + score_fr = 0 THEN 'und'
      |             WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
      |             WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
      |             WHEN score_es >= score_fr THEN 'es'
      |             ELSE 'fr' END = 'en'
      |    AND quality_score >= 0.8
      |),
      |kept AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
      |kd AS (SELECT g.doc_id, g.text FROM gated g JOIN kept USING (doc_id)),
      |tok AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM kd),
      |shn AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM tok WHERE len(w) >= 3
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(a.s || b.s)) >= 0.8
      |),
      |dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
      |SELECT kd.doc_id,
      |       CASE WHEN trim(kd.text) = '' THEN 0
      |            ELSE len(string_split_regex(lower(trim(kd.text)), '\s+')) END AS n_ws_tokens,
      |       len(regexp_extract_all(kd.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
      |FROM kd
      |WHERE kd.doc_id NOT IN (SELECT doc_id FROM dropped)
      |ORDER BY kd.doc_id""".stripMargin) { (s, d) =>
    graft.ops.Pipeline.prepareCorpus(T.documents(s, d))
      .orderBy("doc_id")
  }

  /** Corpus preparation with the SUPERVISED classifier gate (CCNet's
    * fastText-stage shape): the NB model — fit on the salted labeled
    * slice, persisted via the Models artifact layer — replaces the
    * heuristic language gate; quality floor, dedup, and token annotation
    * run unchanged. The oracle reproduces the full chain: NB fit +
    * argmax prediction CTEs (shared with q_ns_nb_classify), the quality
    * expression, and the prepare-corpus dedup tail. */
  val prepareCorpusClassifiedQ = QueryDef(
    "q_ns_prepare_corpus_classified",
    s"""WITH ${TrainPrep.nbPredCtes},
      |pred AS (SELECT doc_id FROM best WHERE rn = 1 AND label = 'en'),
      |q AS (
      |  SELECT doc_id, text,
      |    (CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\\s+'), x -> length(x))) AS DOUBLE)
      |       / len(string_split_regex(lower(trim(text)), '\\s+'))) * 0.2
      |     + (CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |            x -> list_contains(['the','a','an','of','and','to','in','is'], x))) AS DOUBLE)
      |        / len(string_split_regex(lower(trim(text)), '\\s+'))) * 2.0
      |     - (CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
      |        / length(text)) * 5.0 AS quality_score
      |  FROM documents
      |),
      |gated AS (
      |  SELECT q.doc_id, q.text FROM q JOIN pred USING (doc_id)
      |  WHERE quality_score >= 0.8
      |),
      |kept AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
      |kd AS (SELECT g.doc_id, g.text FROM gated g JOIN kept USING (doc_id)),
      |tok2 AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM kd),
      |shn2 AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(generate_series(1, len(w) - 2),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM tok2 WHERE len(w) >= 3
      |),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM shn2 a JOIN shn2 b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(a.s || b.s)) >= 0.8
      |),
      |dropped2 AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
      |SELECT kd.doc_id,
      |       CASE WHEN trim(kd.text) = '' THEN 0
      |            ELSE len(string_split_regex(lower(trim(kd.text)), '\\s+')) END AS n_ws_tokens,
      |       len(regexp_extract_all(kd.text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens
      |FROM kd
      |WHERE kd.doc_id NOT IN (SELECT doc_id FROM dropped2)
      |ORDER BY kd.doc_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"nb|$d") { tmp =>
      graft.ops.Classify.nbBuild(docs, tmp)
    }
    graft.ops.Pipeline.prepareCorpusClassified(s, dir, docs)
      .orderBy("doc_id")
  }

  /** Unrolled BPE fit CTEs: wc → s0, then per round r: pair counts p$r,
    * top pair t$r (count desc, lexicographic), merged symbols s$r via the
    * same greedy leftmost fold the Spark side runs. */
  private def bpeFitCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH wc AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents) t
        |  WHERE w <> '' GROUP BY w
        |),
        |s0 AS (
        |  SELECT wc, list_transform(generate_series(1, length(w)),
        |           i -> substring(w, i, 1)) AS s
        |  FROM wc
        |)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |p$r AS (
           |  SELECT s[i] AS a, s[i + 1] AS b, CAST(sum(wc) AS BIGINT) AS cnt
           |  FROM s${r - 1}, unnest(generate_series(1, len(s) - 1)) AS ii(i)
           |  GROUP BY 1, 2
           |),
           |t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin)
      if (r < rounds) sb.append(
        s""",
           |s$r AS (
           |  SELECT wc,
           |         CASE WHEN len(s) < 2 THEN s ELSE
           |           list_reduce(list_transform(s, x -> [x]),
           |             (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
           |                  THEN list_append(list_slice(acc, 1, len(acc) - 1), t.a || t.b)
           |                  ELSE list_append(acc, x[1]) END)
           |         END AS s
           |  FROM s${r - 1} CROSS JOIN t$r t
           |)""".stripMargin)
    }
    sb.toString
  }

  private def bpeOracleSql(rounds: Int): String =
    bpeFitCtes(rounds) + "\n" +
      (1 to rounds).map(r =>
        s"SELECT CAST($r AS INTEGER) AS round, a AS pair_a, b AS pair_b, a || b AS merged, cnt FROM t$r")
        .mkString("", "\nUNION ALL\n", "\nORDER BY round")

  /** Tokenize-apply oracle: the fit CTEs, then every doc word folded
    * through the `rounds` merges in order (f1..f$rounds), token counts
    * summed per doc. */
  private def bpeTokenizeOracleSql(rounds: Int): String = {
    val folds = (1 to rounds).map { r =>
      val prev = if (r == 1) "sym" else s"f${r - 1}"
      s"""f$r AS (
         |  SELECT doc_id,
         |         CASE WHEN len(s) < 2 THEN s ELSE
         |           list_reduce(list_transform(s, x -> [x]),
         |             (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
         |                  THEN list_append(list_slice(acc, 1, len(acc) - 1), t.a || t.b)
         |                  ELSE list_append(acc, x[1]) END)
         |         END AS s
         |  FROM $prev CROSS JOIN t$r t
         |)""".stripMargin
    }.mkString(",\n")
    bpeFitCtes(rounds) +
      s""",
         |dw AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |  FROM documents
         |),
         |sym AS (
         |  SELECT doc_id, list_transform(generate_series(1, length(w)),
         |           i -> substring(w, i, 1)) AS s
         |  FROM dw WHERE w <> ''
         |),
         |$folds,
         |cnt AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(len(s)) AS BIGINT) AS n_bpe_tokens
         |  FROM f$rounds GROUP BY doc_id
         |)
         |SELECT d.doc_id, COALESCE(cnt.n_words, 0) AS n_words,
         |       COALESCE(cnt.n_bpe_tokens, 0) AS n_bpe_tokens
         |FROM documents d LEFT JOIN cnt USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
  }

  /** Corpus tokenized with its own fitted BPE merges: per-doc word and
    * post-merge token counts (see TextAnalysis.bpeTokenize). */
  val bpeTokenizeQ = QueryDef(
    "q_ns_bpe_tokenize",
    bpeTokenizeOracleSql(4)) { (s, d) =>
    TextAnalysis.bpeTokenize(T.documents(s, d), rounds = 4).orderBy("doc_id")
  }

  /** Tokenization served from a PERSISTED merge table (ops.Models
    * fit/apply split): fit once per JVM via TextAnalysis.bpeBuild, then
    * apply the loaded merges as the same map-only fold chain — the
    * tokenizer-as-artifact lifecycle. Deterministic fit ⇒ oracle shared
    * with q_ns_bpe_tokenize. */
  val bpeTokenizeServedQ = QueryDef(
    "q_ns_bpe_tokenize_served",
    bpeTokenizeOracleSql(4)) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bpe|$d|rounds=4") { tmp =>
      TextAnalysis.bpeBuild(T.documents(s, d), tmp, rounds = 4)
    }
    TextAnalysis.bpeTokenizeServed(s, dir, T.documents(s, d))
      .orderBy("doc_id")
  }

  /** BPE tokenizer-fitting inner loop: 4 greedy merge rounds over the
    * word-internal character symbols (see TextAnalysis.bpeTopMerges). The
    * oracle reruns every round — pair counts, deterministic argmax, the
    * leftmost-greedy merge fold — unrolled as CTEs. */
  val bpeMerges = QueryDef(
    "q_ns_bpe_merges",
    bpeOracleSql(4)) { (s, d) =>
    TextAnalysis.bpeTopMerges(T.documents(s, d), rounds = 4).orderBy("round")
  }

  /** Corpus vocabulary: global word frequencies with document frequency —
    * the tokenizer-training / stopword-mining primitive. One explode + one
    * partial-aggregated count shuffle at any scale. */
  val textVocab = QueryDef(
    "q_ns_text_vocab",
    """SELECT word, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |      FROM documents) w
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY tf DESC, word
      |LIMIT 100""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("tf"), asc("word"))
      .limit(100)
  }

  /** Distinctive terms per source (Monroe et al. "Fightin' Words"
    * log-odds with a uniform +1 Dirichlet prior, z-scored): what each
    * source is ABOUT relative to the rest of the corpus — raw counts
    * surface stopwords, the log-odds delta cancels them and the z
    * denominator damps rare-word noise. Each ln rounds to DECIMAL(18,6)
    * before arithmetic (the repo-wide libm contract); top-3 per source
    * via a map-side-pruned WindowGroupLimit. */
  val distinctiveTerms = QueryDef(
    "q_ns_distinctive_terms",
    """WITH tok AS (
      |  SELECT doc_id, source AS grp,
      |         unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |), gw AS (
      |  SELECT grp, word, CAST(count(*) AS BIGINT) AS c_gw
      |  FROM tok WHERE word <> '' GROUP BY 1, 2
      |), wt AS (
      |  SELECT word, CAST(sum(c_gw) AS BIGINT) AS c_w FROM gw GROUP BY 1
      |), gt AS (
      |  SELECT grp, CAST(sum(c_gw) AS BIGINT) AS n_g FROM gw GROUP BY 1
      |), vv AS (
      |  SELECT CAST(count(DISTINCT word) AS BIGINT) AS v,
      |         CAST(sum(c_gw) AS BIGINT) AS n_total
      |  FROM gw
      |), sc AS (
      |  SELECT gw.grp, gw.word, gw.c_gw,
      |    CAST((
      |      (CAST(CAST(ln(c_gw + 1.0) AS DECIMAL(18,6)) AS DOUBLE)
      |       - CAST(CAST(ln(n_g + v - c_gw - 1.0) AS DECIMAL(18,6)) AS DOUBLE))
      |      - (CAST(CAST(ln(c_w - c_gw + 1.0) AS DECIMAL(18,6)) AS DOUBLE)
      |       - CAST(CAST(ln(n_total - n_g + v - (c_w - c_gw + 1.0)) AS DECIMAL(18,6)) AS DOUBLE))
      |    ) / sqrt(1.0 / (c_gw + 1.0) + 1.0 / (c_w - c_gw + 1.0))
      |    AS DECIMAL(18,6)) AS z
      |  FROM gw JOIN wt USING (word) JOIN gt USING (grp) CROSS JOIN vv
      |), ranked AS (
      |  SELECT grp, word, c_gw, z,
      |         row_number() OVER (PARTITION BY grp ORDER BY z DESC, word) AS rnk
      |  FROM sc
      |)
      |SELECT grp AS source, word, c_gw, CAST(z AS DOUBLE) AS z, rnk
      |FROM ranked WHERE rnk <= 3
      |ORDER BY source, rnk""".stripMargin) { (s, d) =>
    graft.ops.TextAnalysis.distinctiveTerms(T.documents(s, d))
      .orderBy("source", "rnk")
  }

  /** Cross-source overlap matrix: verified near-dup pairs per unordered
    * source pair (diagonal = intra-source duplication) — the curation
    * measurement behind source weighting and dedup-before-mixing. Same
    * banded machinery as q_ns_dedup_minhash; output is #sources². */
  val sourceOverlap = QueryDef(
    "q_ns_source_overlap",
    graft.ops.Neutral.crossSourceOverlapOracleSql(0.5)) { (s, d) =>
    graft.ops.Neutral.crossSourceOverlap(T.documents(s, d), minJaccard = 0.5)
      .orderBy("source_a", "source_b")
  }

  val defs: Seq[QueryDef] = Seq(
    sourceOverlap,
    dedupExact, dedupMinHash, minHashRecall, dedupSkewSafe, dedupSimHash,
    dedupNgram,
    dedupComponents, dedupComponentsIncremental, dedupComponentsCompacted,
    spanDedup, spanScrub,
    decontaminate, decontaminateFuzzy, dedupCosine, dedupThresholdCurve,
    dedupCosineStar, dedupCurveStar,
    dedupCosineExact, dedupCorpusQ, dedupCorpusClusteredQ,
    dedupSurvivorQuality, dedupIncremental, dedupIncrementalServed,
    dedupAdmitDaily, dedupAdmitDailyServed, dedupAdmitCompacted,
    dedupAdmitBloom, dedupAdmitBloomCompacted,
    dedupIngestE2e, dedupIngestE2eServed,
    simBrute, simIvf, simIvfMultiprobe, simIvfServedIncremental,
    simIvfServedCompacted, simIvfRetrained, simIvfRetrainRecall,
    simIvfDriftPolicy, simIvfDriftThetaSweep,
    simKnnGraph, simKnnGraphRecall, simKnnGraphRecallCurve, simLsh,
    hardNegatives,
    textTokens, textQuality, textRepetition, textLangId, textLangIdTrigram, textFingerprint,
    textVocab, datasetCard, datasetCardFreshness, distinctiveTerms,
    bpeMerges, bpeTokenizeQ, bpeTokenizeServedQ,
    textWinnow, textWinnowFast, winnowPairs, prepareCorpusQ,
    prepareCorpusClassifiedQ, splitQ,
    leakageSafeSplitQ, stratified, epochUpsample, domainCap,
    budgetSelect, textScrub, textScrubPii,
    multimodalMeta, multimodalCodecScope, multimodalLossyFiltered,
    multimodalChromaPlane, multimodalJpegLuma, multimodalJpegColor,
    multimodalJpegProgressive, multimodalFlac, multimodalGifAnim,
    multimodalAudioCensus, multimodalTiff, multimodalWebpAnim,
    multimodalTokenPartitions, multimodalSegmented,
    multimodalIvfInter, multimodalIvfKeySample,
    multimodalPngFilters,
    multimodalFeatures,
    multimodalResize, multimodalFrames,
    multimodalAv, multimodalAvFrames, phashDedup, phashDedupSurvivors,
    phashDedupStar, videoDedupStar,
    audioFpDedup, audioFpSurvivors, videoDedup, jointDedup)
}
