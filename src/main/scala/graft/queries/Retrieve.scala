package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.Retrieval

/** Sparse-retrieval queries over `documents`: TF-IDF term ranking and Okapi
  * BM25 search. Both are exactly SQL-expressible, so both carry DuckDB
  * oracles. Scores are rounded to DECIMAL(18,6) before every sum/rank (JVM
  * vs libm `ln` differs in the last ulp on ~1.5e-4 of inputs; 6dp rounding
  * collapses that noise, and ties then break on deterministic columns).
  * The oracle SQL mirrors the Spark expression tree literal-for-literal so
  * all other per-row double arithmetic is bit-identical.
  */
object Retrieve {

  /** Top-3 TF-IDF terms per document. Rank orders by the 6dp-rounded score
    * then word; the score column itself is the same rounded decimal, cast
    * back to double. */
  val tfidfTopK = QueryDef(
    "q_ret_tfidf_topk",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok WHERE word <> '' GROUP BY 1, 2
      |), dfq AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
      |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
      |         CAST(tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS DECIMAL(18,6)) AS s
      |  FROM tf JOIN dfq USING (word) CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, word, tf, df, CAST(s AS DOUBLE) AS tfidf,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, word) AS rnk
      |  FROM scored
      |)
      |SELECT doc_id, word, tf, df, tfidf, rnk
      |FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    val scored = Retrieval.tfidf(T.documents(s, d), "doc_id", "text")
      .withColumn("s", col("tfidf").cast(DecimalType(18, 6)))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("s"), asc("word"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        col("s").cast("double").as("tfidf"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** TF-IDF term ranking SERVED from the persisted BM25 index (the two
    * scorers share the (id, word, tf) posting relation; df re-derives as
    * the per-word posting count and n_docs folds from the stats
    * partials) — zero tokenization at query time, oracle shared verbatim
    * with q_ret_tfidf_topk. */
  val tfidfServed = QueryDef(
    "q_ret_tfidf_served",
    tfidfTopK.oracle.get) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bm25|$d") { tmp =>
      Retrieval.bm25Build(T.documents(s, d), "doc_id", "text", tmp)
    }
    val scored = Retrieval.tfidfServe(s, dir, "doc_id")
      .withColumn("s", col("tfidf").cast(DecimalType(18, 6)))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("s"), asc("word"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        col("s").cast("double").as("tfidf"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 top-20 documents for a three-term query (k1=1.2, b=0.75). The
    * score is an exact decimal sum of 6dp-rounded per-term contributions,
    * so the double output is bit-identical across engines. */
  private val bm25Ctes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok WHERE word <> '' GROUP BY 1, 2
      |), dl AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM dl
      |), hits AS (
      |  SELECT * FROM tf WHERE word IN ('vector', 'join', 'hash')
      |), dfq AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY 1
      |), contrib AS (
      |  SELECT hits.doc_id,
      |         CAST(ln(1 + (n_docs - df + CAST(0.5 AS DOUBLE))
      |                     / (df + CAST(0.5 AS DOUBLE)))
      |              * tf * (CAST(1.2 AS DOUBLE) + 1)
      |              / (tf + CAST(1.2 AS DOUBLE)
      |                      * ((1 - CAST(0.75 AS DOUBLE))
      |                         + CAST(0.75 AS DOUBLE) * dl / avgdl))
      |              AS DECIMAL(18,6)) AS c
      |  FROM hits JOIN dl USING (doc_id) JOIN dfq USING (word) CROSS JOIN stats
      |)""".stripMargin

  private val bm25OracleSql =
    s"""WITH $bm25Ctes
      |SELECT doc_id, CAST(sum(c) AS DOUBLE) AS score
      |FROM contrib GROUP BY doc_id
      |ORDER BY score DESC, doc_id
      |LIMIT 20""".stripMargin

  val bm25TopK = QueryDef(
    "q_ret_bm25_topk",
    bm25OracleSql) { (s, d) =>
    Retrieval.bm25(T.documents(s, d), "doc_id", "text",
        terms = Seq("vector", "join", "hash"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** BM25 served from a PERSISTED inverted index (ops.Models fit/apply
    * split): build-once per JVM via Retrieval.bm25Build, then score query
    * batches reading only the posting/doclen/stats parquet — the corpus
    * text is never touched at query time. Deterministic build ⇒ oracle
    * shared verbatim with q_ret_bm25_topk. */
  val bm25Served = QueryDef(
    "q_ret_bm25_served",
    bm25OracleSql) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bm25|$d") { tmp =>
      Retrieval.bm25Build(T.documents(s, d), "doc_id", "text", tmp)
    }
    Retrieval.bm25Serve(s, dir, "doc_id",
        terms = Seq("vector", "join", "hash"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** Exact-phrase retrieval ("value table" adjacency, order-sensitive):
    * top-20 docs by phrase occurrence count — the positional semantics
    * bag-of-words ranking cannot express. One map-only scan + top-k. */
  val phraseTopK = QueryDef(
    "q_ret_phrase_topk",
    """WITH w AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     x -> x <> '') AS ws
      |  FROM documents
      |), occ AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(generate_series(1, len(ws) - 1),
      |           i -> ws[i] = 'value' AND ws[i+1] = 'table')) AS BIGINT)
      |           AS n_occurrences
      |  FROM w WHERE len(ws) >= 2
      |)
      |SELECT doc_id, n_occurrences FROM occ
      |WHERE n_occurrences > 0
      |ORDER BY n_occurrences DESC, doc_id
      |LIMIT 20""".stripMargin) { (s, d) =>
    Retrieval.phraseSearch(T.documents(s, d), "doc_id", "text",
      phrase = Seq("value", "table"), k = 20)
  }

  /** The same phrase search SERVED from the persisted positional
    * postings: word-filtered index scans + adjacency equi join — zero
    * tokenization at query time; shares the scan form's oracle (the
    * count/top-k semantics are identical). */
  val phraseServed = QueryDef(
    "q_ret_phrase_served",
    phraseTopK.oracle.get) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"phraseidx|$d") { tmp =>
      Retrieval.phraseIndexBuild(T.documents(s, d), tmp, "doc_id", "text")
    }
    Retrieval.phraseSearchServed(s, dir, "doc_id",
      phrase = Seq("value", "table"), k = 20)
  }

  /** BM25 served from an index built on 80% of the corpus and APPENDED
    * with the remaining 20% (Retrieval.bm25Append) — the additive-
    * artifact lifecycle for sparse retrieval: the daily crawl tokenizes
    * only its batch, stats partials fold at serve time, and the served
    * scores are bit-identical to a full rebuild on the cumulative corpus
    * — which is why the oracle is the full-corpus bm25 SQL, shared
    * verbatim with q_ret_bm25_topk. */
  val bm25ServedIncremental = QueryDef(
    "q_ret_bm25_served_incremental",
    bm25OracleSql) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bm25inc|$d") { tmp =>
      val docs = T.documents(s, d)
      Retrieval.bm25Build(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tmp)
      Retrieval.bm25Append(docs.filter(col("doc_id") % 5 === 0), tmp,
        "doc_id", "text", batchId = 1L)
    }
    Retrieval.bm25Serve(s, dir, "doc_id",
        terms = Seq("vector", "join", "hash"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** Phrase search served from a positional index built on 80% of the
    * corpus and APPENDED with the remaining 20% — batch-only
    * tokenization for the delta, per-generation word-sorted layout, and
    * results identical to the scan form over the cumulative corpus
    * (same full-corpus oracle as q_ret_phrase_topk). */
  val phraseServedIncremental = QueryDef(
    "q_ret_phrase_served_incremental",
    phraseTopK.oracle.get) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"phraseidx_inc|$d") { tmp =>
      val docs = T.documents(s, d)
      Retrieval.phraseIndexBuild(docs.filter(col("doc_id") % 5 =!= 0), tmp,
        "doc_id", "text")
      Retrieval.phraseIndexAppend(docs.filter(col("doc_id") % 5 === 0), tmp,
        "doc_id", "text", batchId = 1L)
    }
    Retrieval.phraseSearchServed(s, dir, "doc_id",
      phrase = Seq("value", "table"), k = 20)
  }

  /** Phrase search served after append→append→COMPACT: three word-sorted
    * generations rewritten into one (Retrieval.phraseIndexCompact, a
    * one-commit layout rewrite), then the same served query — the
    * posting-maintenance lifecycle's missing step (r10 "What's missing"
    * #4: per-generation pruning stats degrade toward file-count overhead
    * as appends accumulate; compaction restores the build-time single
    * word-sorted layout). Results are layout-invariant, so the oracle is
    * the same full-corpus scan-form SQL. */
  val phraseServedCompacted = QueryDef(
    "q_ret_phrase_served_compacted",
    phraseTopK.oracle.get) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"phraseidx_cmp|$d") { tmp =>
      val docs = T.documents(s, d)
      Retrieval.phraseIndexBuild(docs.filter(col("doc_id") % 3 === 0), tmp,
        "doc_id", "text")
      Retrieval.phraseIndexAppend(docs.filter(col("doc_id") % 3 === 1), tmp,
        "doc_id", "text", batchId = 1L)
      Retrieval.phraseIndexAppend(docs.filter(col("doc_id") % 3 === 2), tmp,
        "doc_id", "text", batchId = 2L)
      Retrieval.phraseIndexCompact(s, tmp, "doc_id")
    }
    Retrieval.phraseSearchServed(s, dir, "doc_id",
      phrase = Seq("value", "table"), k = 20)
  }

  /** BM25 served after append→append→COMPACT: postings re-laid-out,
    * doclen rewritten, and the per-append stats partials folded to one
    * exact row (Retrieval.bm25Compact) — scores bit-identical to the
    * incremental and full-rebuild forms, same full-corpus oracle. */
  val bm25ServedCompacted = QueryDef(
    "q_ret_bm25_served_compacted",
    bm25OracleSql) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bm25cmp|$d") { tmp =>
      val docs = T.documents(s, d)
      Retrieval.bm25Build(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", tmp)
      Retrieval.bm25Append(docs.filter(col("doc_id") % 3 === 1), tmp,
        "doc_id", "text", batchId = 1L)
      Retrieval.bm25Append(docs.filter(col("doc_id") % 3 === 2), tmp,
        "doc_id", "text", batchId = 2L)
      Retrieval.bm25Compact(s, tmp, "doc_id")
    }
    Retrieval.bm25Serve(s, dir, "doc_id",
        terms = Seq("vector", "join", "hash"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** Hybrid sparse+dense retrieval via reciprocal-rank fusion: the BM25
    * top-50 for the term query and the cosine top-50 around the query
    * document's embedding (vec_id keys the same corpus as doc_id — the
    * embedding of document i), fused by score(d) = Σ 1/(60 + rank_d)
    * (Cormack et al. 2009), top-20. Both inputs are bounded top-N lists,
    * so the fusion join is list-sized at any corpus scale; each side's
    * rank is assigned over its own TakeOrderedAndProject output (a
    * ≤50-row window, never a corpus-wide global sort). Rank-derived
    * scores are per-row double arithmetic — bit-exact cross-engine. */
  val hybridRrf = QueryDef(
    "q_ret_hybrid_rrf",
    s"""WITH $bm25Ctes,
      |sparse AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS __ra
      |  FROM (SELECT doc_id, CAST(sum(c) AS DOUBLE) AS score
      |        FROM contrib GROUP BY doc_id
      |        ORDER BY score DESC, doc_id LIMIT 50) t
      |),
      |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
      |dense AS (
      |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT) AS __rb
      |  FROM (SELECT e.vec_id AS doc_id,
      |               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.qe) AS cos
      |        FROM embeddings e CROSS JOIN qv
      |        WHERE e.vec_id <> 0
      |        ORDER BY cos DESC, doc_id LIMIT 50) t
      |)
      |SELECT doc_id,
      |       COALESCE(CAST(1.0 AS DOUBLE)/(60 + __ra), CAST(0 AS DOUBLE))
      |         + COALESCE(CAST(1.0 AS DOUBLE)/(60 + __rb), CAST(0 AS DOUBLE)) AS rrf_score
      |FROM sparse FULL OUTER JOIN dense USING (doc_id)
      |ORDER BY rrf_score DESC, doc_id
      |LIMIT 20""".stripMargin) { (s, d) =>
    val terms = Seq("vector", "join", "hash")
    val sparseTop = Retrieval.bm25(T.documents(s, d), "doc_id", "text", terms)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(50)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score"), asc("doc_id"))))
      .select("doc_id", "rank")
    val denseTop = graft.ops.Similarity
      .bruteForceTopK(T.embeddings(s, d), Seq(0L), 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(sparseTop, denseTop, "doc_id", k0 = 60, k = 20)
  }

  /** Boolean AND/NOT retrieval from the persisted postings: docs with
    * BOTH 'table' and 'join', excluding any doc containing 'window'. The
    * must-filter scans prune to the terms' word ranges; the aggregate is
    * bounded by the query vocabulary's postings; the NOT side is a
    * left-anti join on its (pruned) posting ids. */
  val booleanAndNot = QueryDef(
    "q_ret_boolean_and_not",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok WHERE word <> '' GROUP BY 1, 2
      |), cand AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS hits
      |  FROM tf WHERE word IN ('table', 'join')
      |  GROUP BY doc_id
      |  HAVING count(DISTINCT word) = 2
      |)
      |SELECT doc_id, hits FROM cand
      |WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE word = 'window')
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bm25|$d") { tmp =>
      Retrieval.bm25Build(T.documents(s, d), "doc_id", "text", tmp)
    }
    Retrieval.booleanSearchServed(s, dir, "doc_id",
        must = Seq("table", "join"), mustNot = Seq("window"))
      .orderBy("doc_id")
  }

  /** Prefix term lookup from the postings: word LIKE 's%' is a range
    * predicate on the word-range-sorted layout — the StartsWith filter
    * pushes into the scan and footer stats skip the out-of-range files
    * (PlanSpec pins the pushdown). */
  val prefixLookup = QueryDef(
    "q_ret_prefix_lookup",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok WHERE word <> '' GROUP BY 1, 2
      |)
      |SELECT word, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
      |FROM tf WHERE word LIKE 's%'
      |GROUP BY word
      |ORDER BY word""".stripMargin) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"bm25|$d") { tmp =>
      Retrieval.bm25Build(T.documents(s, d), "doc_id", "text", tmp)
    }
    Retrieval.prefixSearchServed(s, dir, "doc_id", "s")
      .orderBy("word")
  }

  /** Proximity search: 'value' followed by 'table' within 3 tokens —
    * slop generalizes exact-phrase adjacency (slop=1) toward
    * bag-of-words; candidates are bounded by the two terms' posting
    * lists off the word-sorted positional index. */
  val proximity = QueryDef(
    "q_ret_proximity",
    """WITH w AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     x -> x <> '') AS ws
      |  FROM documents
      |), pa AS (
      |  SELECT doc_id, unnest(list_filter(generate_series(1, len(ws)),
      |           i -> ws[i] = 'value')) AS p
      |  FROM w
      |), pb AS (
      |  SELECT doc_id, unnest(list_filter(generate_series(1, len(ws)),
      |           i -> ws[i] = 'table')) AS p
      |  FROM w
      |)
      |SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
      |FROM pa JOIN pb ON pa.doc_id = pb.doc_id
      |WHERE pb.p - pa.p BETWEEN 1 AND 3
      |GROUP BY pa.doc_id
      |ORDER BY n_pairs DESC, pa.doc_id
      |LIMIT 20""".stripMargin) { (s, d) =>
    val dir = graft.ops.Models.ensureBuilt(s"phraseidx|$d") { tmp =>
      Retrieval.phraseIndexBuild(T.documents(s, d), tmp, "doc_id", "text")
    }
    Retrieval.proximitySearchServed(s, dir, "doc_id", "value", "table",
      slop = 3, k = 20)
  }

  val defs: Seq[QueryDef] = Seq(tfidfTopK, tfidfServed, bm25TopK, bm25Served,
    phraseTopK, phraseServed, bm25ServedIncremental, phraseServedIncremental,
    phraseServedCompacted, bm25ServedCompacted,
    hybridRrf, booleanAndNot, prefixLookup, proximity)
}
