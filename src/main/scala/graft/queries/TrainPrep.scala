package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Pipeline, Similarity}

/** Training-data layout operators: concat-and-chunk sequence packing and
  * per-label embedding centroids — both exactly SQL-expressible with the
  * decimal determinism contract, so both carry DuckDB oracles.
  */
object TrainPrep {

  /** Pack documents into 256-token training sequences per source shard;
    * per-sequence doc/token stats. One window cumsum partitioned by
    * source — packing parallelizes across groups. */
  val packSequences = QueryDef(
    "q_ns_pack_sequences",
    """WITH d AS (
      |  SELECT source, doc_id,
      |         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                              w -> w <> '')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT source, doc_id, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |)
      |SELECT source, CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS seq_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
      |FROM c GROUP BY source, seq_id
      |ORDER BY source, seq_id""".stripMargin) { (s, d) =>
    Pipeline.packSequences(T.documents(s, d), budget = 256)
      .orderBy("source", "seq_id")
  }

  /** Per-label mean embedding, flattened to (label, pos, mean_v) — the
    * class-prototype primitive (nearest-centroid labeling, drift checks).
    * Element sums accumulate in DECIMAL(18,6) on both engines. */
  val embedCentroids = QueryDef(
    "q_ns_embed_centroids",
    """WITH x AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS p,
      |         unnest(embedding) AS v
      |  FROM embeddings
      |)
      |SELECT label, CAST(p AS INT) AS pos,
      |       CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)))
      |            AS DOUBLE) / count(*) AS mean_v
      |FROM x GROUP BY label, p
      |ORDER BY label, pos""".stripMargin) { (s, d) =>
    Similarity.labelCentroidsFlat(T.embeddings(s, d))
      .orderBy("label", "pos")
  }

  /** Corpus bigram statistics — the pair-counting step a BPE/merge-rule
    * trainer runs each round. Adjacent pairs come from zipping the token
    * array with its own tail (map-only), then one partial-aggregated
    * count shuffle; top pairs by (count desc, pair asc). */
  val bigramStats = QueryDef(
    "q_ns_text_bigrams",
    """WITH w AS (
      |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     x -> x <> '') AS ws
      |  FROM documents
      |), pairs AS (
      |  SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS pr
      |  FROM w WHERE len(ws) >= 2
      |)
      |SELECT pr[1] AS w1, pr[2] AS w2,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM pairs
      |GROUP BY w1, w2
      |ORDER BY n DESC, w1, w2
      |LIMIT 50""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .select(filter(split(lower(trim(col("text"))), "\\s+"), x => x =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("pr"))
      .select(col("pr.0").as("w1"), col("pr.1").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w1"), asc("w2"))
      .limit(50)
  }

  /** Unigram LM quality score (the CCNet-style perplexity filter): each
    * token scores ln(corpus_tf / corpus_total), rounded to DECIMAL(18,6)
    * BEFORE the per-document sum (ln ulp contract), averaged per doc.
    * Higher = more typical of the corpus; the low tail is what a quality
    * gate would drop. The unigram table is vocabulary-sized — broadcast
    * at any corpus scale. */
  val lmScore = QueryDef(
    "q_ns_lm_score",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |), toks AS (SELECT doc_id, word FROM tok WHERE word <> ''),
      |lm AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY word
      |), tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM lm),
      |scored AS (
      |  SELECT doc_id,
      |         CAST(ln(CAST(tf AS DOUBLE) / total) AS DECIMAL(18,6)) AS lp
      |  FROM toks JOIN lm USING (word) CROSS JOIN tot
      |)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(lp) AS DOUBLE) / count(*) AS avg_logprob
      |FROM scored GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = graft.ops.Retrieval.tokens(T.documents(s, d), "doc_id", "text")
    val lm = toks.groupBy("word").agg(count(lit(1)).as("tf"))
    val tot = lm.agg(sum(col("tf")).as("total"))
    toks
      .join(lm, "word")
      .join(broadcast(tot))
      .select(col("doc_id"),
        log(col("tf").cast("double") / col("total"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("lp")).cast("double") / count(lit(1))).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Parameterized bigram-LM oracle builder (shared by the fit/served
    * pair here and the streaming gate in queries/Streaming.scala):
    * mirrors ops.TextAnalysis.lmBigramModel/ScoreWith exactly — MLE
    * conditional ln for seen bigrams, stupid-backoff 0.4·tf/total for
    * unseen, both rounded to DECIMAL(18,6) at the leaf; out-of-vocabulary
    * w2 positions drop at the vocabulary join. `fitWhere` picks the
    * reference corpus, `scoreWhere` the scored slice, `tail` an optional
    * HAVING on the per-doc aggregate. */
  private[queries] def lmOracleSql(fitWhere: String, scoreWhere: String,
      tail: String = ""): String =
    s"""WITH fitdocs AS (
      |  SELECT text FROM documents
      |  $fitWhere
      |), fw AS MATERIALIZED (
      |  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                     x -> x <> '') AS ws
      |  FROM fitdocs
      |), n12 AS MATERIALIZED (
      |  SELECT pr[1] AS w1, pr[2] AS w2, count(*) AS n12
      |  FROM (SELECT unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS pr
      |        FROM fw WHERE len(ws) >= 2)
      |  GROUP BY 1, 2
      |), n1 AS (SELECT w1, sum(n12) AS n1 FROM n12 GROUP BY w1),
      |big AS (
      |  SELECT n12.w1, n12.w2,
      |         CAST(ln(CAST(n12 AS DOUBLE) / n1) AS DECIMAL(18,6)) AS lp
      |  FROM n12 JOIN n1 USING (w1)
      |), uni AS MATERIALIZED (
      |  SELECT word, count(*) AS tf
      |  FROM (SELECT unnest(ws) AS word FROM fw)
      |  GROUP BY word
      |), tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM uni),
      |bo AS (
      |  SELECT word,
      |         CAST(ln(CAST(0.4 AS DOUBLE) * CAST(tf AS DOUBLE) / total)
      |              AS DECIMAL(18,6)) AS lp_bo
      |  FROM uni CROSS JOIN tot
      |), pw AS (
      |  SELECT doc_id, pr[1] AS w1, pr[2] AS w2
      |  FROM (SELECT doc_id,
      |               unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS pr
      |        FROM (SELECT doc_id,
      |                     list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                                 x -> x <> '') AS ws
      |              FROM documents
      |              $scoreWhere)
      |        WHERE len(ws) >= 2)
      |), scored AS (
      |  SELECT pw.doc_id, coalesce(big.lp, bo.lp_bo) AS lp
      |  FROM pw
      |  LEFT JOIN big ON pw.w1 = big.w1 AND pw.w2 = big.w2
      |  JOIN bo ON pw.w2 = bo.word
      |)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_scored,
      |       CAST(sum(lp) AS DOUBLE) / count(*) AS avg_lp
      |FROM scored
      |GROUP BY doc_id
      |$tail
      |ORDER BY doc_id""".stripMargin

  private val lmBigramOracle = lmOracleSql(
    s"WHERE ${CorpusQueries.bucketSqlOf("'lmfit:' || CAST(doc_id AS VARCHAR)")} < 50",
    "")

  /** Bigram LM quality score, fit-and-score in one query (the CCNet-style
    * perplexity filter upgraded from the unigram q_ns_lm_score: context-
    * conditioned probabilities with stupid backoff for unseen pairs). */
  val lmBigram = QueryDef("q_ns_lm_bigram", lmBigramOracle) { (s, d) =>
    graft.ops.TextAnalysis.lmBigramScore(T.documents(s, d)).orderBy("doc_id")
  }

  /** The same score SERVED from a persisted model artifact (bigrams +
    * backoff parquet) — zero fitting at serve time; shares the fit form's
    * oracle because the fit is bit-deterministic. */
  val lmBigramServed = QueryDef("q_ns_lm_bigram_served", lmBigramOracle) {
    (s, d) =>
      val dir = graft.ops.Models.ensureBuilt(s"lmbigram|$d") { tmp =>
        graft.ops.TextAnalysis.lmBigramBuild(T.documents(s, d), tmp)
      }
      graft.ops.TextAnalysis.lmBigramServe(s, dir, T.documents(s, d))
        .orderBy("doc_id")
  }

  /** Shared oracle for the Naive Bayes pair: fit on the "nbfit"-salted
    * half (held-out evaluation — the scored half's docs are unseen),
    * predict every tokenized doc. Mirrors ops.Classify exactly: add-one
    * smoothing, per-class OOV floor, every ln rounded to DECIMAL(18,6)
    * at the leaf, argmax with label tie-break. */
  /** NB fit + per-doc argmax prediction CTE chain, ending at `best`
    * (doc_id, label, score, rn; rn = 1 is the prediction) — shared by the
    * classify queries here and the classifier-gated corpus-prep oracle
    * (NorthStar.prepareCorpusClassifiedQ). */
  private[queries] val nbPredCtes =
    s"""fitdocs AS (
      |  SELECT lang AS label, text FROM documents
      |  WHERE ${CorpusQueries.bucketSqlOf("'nbfit:' || CAST(doc_id AS VARCHAR)")} < 50
      |), tok AS (
      |  SELECT label, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      |  FROM fitdocs
      |), tk AS (SELECT label, word FROM tok WHERE word <> ''),
      |cw AS MATERIALIZED (
      |  SELECT label, word, count(*) AS n FROM tk GROUP BY 1, 2
      |), ct AS (SELECT label, CAST(sum(n) AS BIGINT) AS tot FROM cw GROUP BY label),
      |v AS (SELECT CAST(count(DISTINCT word) AS BIGINT) AS v FROM cw),
      |nd AS (SELECT label, count(*) AS nd FROM fitdocs GROUP BY label),
      |ndt AS (SELECT count(*) AS n FROM fitdocs),
      |priors AS (
      |  SELECT nd.label,
      |         CAST(ln(CAST(nd AS DOUBLE) / n) AS DECIMAL(18,6)) AS prior,
      |         CAST(ln(CAST(1 AS DOUBLE) / (tot + v)) AS DECIMAL(18,6)) AS oov
      |  FROM nd CROSS JOIN ndt JOIN ct ON ct.label = nd.label CROSS JOIN v
      |), ll AS (
      |  SELECT cw.label, cw.word,
      |         CAST(ln(CAST(n + 1 AS DOUBLE) / (tot + v)) AS DECIMAL(18,6)) AS ll
      |  FROM cw JOIN ct ON ct.label = cw.label CROSS JOIN v
      |), dw AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id,
      |           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      |    FROM documents) t WHERE word <> ''
      |), nw AS (SELECT doc_id, count(*) AS n_words FROM dw GROUP BY doc_id),
      |pres AS (
      |  SELECT doc_id, label, sum(ll) AS sum_ll, count(*) AS n_present
      |  FROM dw JOIN ll USING (word) GROUP BY 1, 2
      |), sc AS (
      |  SELECT nw.doc_id, p.label,
      |         p.prior + coalesce(pres.sum_ll, 0)
      |           + (nw.n_words - coalesce(pres.n_present, 0)) * p.oov AS score
      |  FROM nw CROSS JOIN priors p
      |  LEFT JOIN pres ON pres.doc_id = nw.doc_id AND pres.label = p.label
      |), best AS (
      |  SELECT doc_id, label, score,
      |         row_number() OVER (PARTITION BY doc_id
      |                            ORDER BY score DESC, label) AS rn
      |  FROM sc
      |)""".stripMargin

  private val nbOracle =
    s"""WITH $nbPredCtes
      |SELECT d.doc_id, b.label AS pred_label, CAST(b.score AS DOUBLE) AS score,
      |       d.lang AS actual_lang,
      |       CAST(b.label = d.lang AS BOOLEAN) AS correct
      |FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
      |ORDER BY d.doc_id""".stripMargin

  private def nbWithActual(pred: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame) =
    pred.join(docs.select(col("doc_id"), col("lang").as("actual_lang")), "doc_id")
      .select(col("doc_id"), col("pred_label"), col("score"),
        col("actual_lang"),
        (col("pred_label") === col("actual_lang")).as("correct"))
      .orderBy("doc_id")

  /** Naive Bayes language classification, fit-and-predict in one query —
    * the supervised classifier-gate shape (CCNet's fastText stage), with
    * a real held-out evaluation: the non-fit half's docs are unseen. */
  val nbClassify = QueryDef("q_ns_nb_classify", nbOracle) { (s, d) =>
    val docs = T.documents(s, d)
    nbWithActual(graft.ops.Classify.nbClassify(docs), docs)
  }

  /** The same predictions SERVED from the persisted model artifact
    * (priors + likelihoods parquet) — zero fitting at predict time. */
  val nbClassifyServed = QueryDef("q_ns_nb_classify_served", nbOracle) {
    (s, d) =>
      val docs = T.documents(s, d)
      val dir = graft.ops.Models.ensureBuilt(s"nb|$d") { tmp =>
        graft.ops.Classify.nbBuild(docs, tmp)
      }
      nbWithActual(graft.ops.Classify.nbServe(s, dir, docs), docs)
  }

  /** Classifier reliability table: per confidence-margin bin (10
    * equi-width bins over top1−top2 score margin), document count and
    * empirical accuracy against the true label — the calibration check a
    * classifier-gated curation pipeline needs before trusting a score
    * threshold. Margins are exact DECIMAL differences cast to double, so
    * the twin hash-matches; binning is equi-width from a broadcast 1-row
    * min/max (deliberately NOT ntile — a global ntile is a
    * single-partition sort; equi-width needs only a 2-value bound). */
  val nbCalibration = QueryDef(
    "q_ns_classifier_calibration",
    s"""WITH $nbPredCtes, s1 AS (
      |  SELECT doc_id, label AS pred_label, score AS sc1
      |  FROM best WHERE rn = 1
      |), s2 AS (SELECT doc_id, score AS sc2 FROM best WHERE rn = 2),
      |mg AS (
      |  SELECT s1.doc_id, s1.pred_label,
      |         CAST(sc1 - sc2 AS DOUBLE) AS margin
      |  FROM s1 JOIN s2 USING (doc_id)
      |), bounds AS (
      |  SELECT min(margin) AS lo,
      |         CASE WHEN max(margin) > min(margin)
      |              THEN max(margin) - min(margin) ELSE 1.0e0 END AS rng
      |  FROM mg
      |), binned AS (
      |  SELECT mg.doc_id, mg.pred_label,
      |         CAST(least(9, CAST(floor((margin - lo) * 10.0e0 / rng)
      |                            AS BIGINT)) AS BIGINT) AS bin
      |  FROM mg CROSS JOIN bounds
      |)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN b.pred_label = d.lang THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_correct,
      |       CAST(sum(CASE WHEN b.pred_label = d.lang THEN 1 ELSE 0 END)
      |            AS DOUBLE) / count(*) AS accuracy
      |FROM binned b JOIN documents d USING (doc_id)
      |GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    import graft.ops.{Classify, Sampling}
    val docs = T.documents(s, d)
    val (priors, ll) = Classify.nbModel(
      docs.filter(Sampling.saltedBucket("nbfit", col("doc_id")) < 50))
    val sc = Classify.nbScoresWith(docs, priors, ll)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("label"))
    // ONE window pass + a per-doc aggregate, not a rank-1 ⋈ rank-2
    // self-join: the join form recomputed the entire NB scoring chain
    // (tokenize → likelihood join → per-(doc,label) agg) once per branch
    // — 51 live shuffles, 28.5 s cold / 9.6 s warm at sf0.1. Filtering
    // rn <= 2 first also lets Spark plan a WindowGroupLimit (per-
    // partition top-2 before the full sort). Each group has exactly one
    // rn=1 and at most one rn=2 row, so max(when(...)) IS that row's
    // value — same DECIMAL subtraction, bit-identical margins; docs with
    // a single scored label (no rn=2) drop exactly like the inner join
    // dropped them.
    val ranked = sc.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    // mg is consumed twice (the global min/max bounds AND the binned
    // aggregate); without the pin the bounds branch recomputed the whole
    // chain a second time — the two subtrees don't canonicalize equal, so
    // exchange reuse never fires. mg is 3 narrow columns per doc (the
    // nbModel-cw pin pattern; Bench's clearState releases it per run).
    val mg = graft.ops.Pins.cache(ranked.groupBy("doc_id")
      .agg(max(when(col("rn") === 1, col("label"))).as("pred_label"),
        max(when(col("rn") === 1, col("score"))).as("sc1"),
        max(when(col("rn") === 2, col("score"))).as("sc2"))
      .filter(col("sc2").isNotNull)
      .select(col("doc_id"), col("pred_label"),
        (col("sc1") - col("sc2")).cast("double").as("margin")))
    val bounds = mg.agg(min(col("margin")).as("lo"),
      when(max(col("margin")) > min(col("margin")),
        max(col("margin")) - min(col("margin"))).otherwise(lit(1.0))
        .as("rng"))
    mg.crossJoin(broadcast(bounds))
      .withColumn("bin", least(lit(9L),
        floor((col("margin") - col("lo")) * lit(10.0) / col("rng"))
          .cast("long")))
      .join(T.documents(s, d).select("doc_id", "lang"), "doc_id")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_label") === col("lang"), 1).otherwise(0))
          .as("n_correct"),
        (sum(when(col("pred_label") === col("lang"), 1).otherwise(0))
          .cast("double") / count(lit(1))).as("accuracy"))
      .orderBy("bin")
  }

  /** Deterministic training-shard shuffle: a content-independent random
    * order (salted md5 key), 8 hash shards, dense within-shard positions —
    * the prep→training-loader handoff. Shard assignment is a map-only hash
    * partition and the position sort runs PER SHARD in parallel, never
    * globally (Sampling.trainShards for the no-global-sort argument). */
  val trainShardsQ = QueryDef(
    "q_ns_train_shards",
    """WITH h AS (
      |  SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS hx
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, hx,
      |         CAST(list_sum(list_transform(generate_series(1, 15),
      |           i -> CAST(instr('0123456789abcdef', substring(hx, i, 1)) - 1 AS BIGINT)
      |                * (CAST(1 AS BIGINT) << (4 * (15 - i)))))
      |           AS BIGINT) % 8 AS shard
      |  FROM h
      |)
      |SELECT doc_id, shard,
      |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) - 1
      |         AS BIGINT) AS pos
      |FROM s
      |ORDER BY shard, pos""".stripMargin) { (s, d) =>
    graft.ops.Sampling.trainShards(T.documents(s, d), numShards = 8)
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** DuckDB twin of the md5 16-bit prefix: first 4 hex chars of md5(arg)
    * as a BIGINT (the [[graft.ops.Dsir]] bucket / Gumbel-uniform seed). */
  private def hex16SqlOf(arg: String) =
    s"""CAST(list_sum(list_transform(generate_series(1, 4),
      |    i -> (instr('0123456789abcdef', substring(md5($arg), i, 1)) - 1)
      |         * CASE i WHEN 1 THEN 4096 WHEN 2 THEN 256 WHEN 3 THEN 16 ELSE 1 END)) AS BIGINT)""".stripMargin

  /** Shared DSIR oracle CTE chain mirroring ops.Dsir exactly: unigram +
    * bigram grams → 16-bit md5 buckets → Laplace-smoothed per-bucket
    * target/raw log-ratio (each ln rounded to DECIMAL(18,6) at the leaf)
    * → per-doc exact-decimal weight sum, ending at `w` (doc_id, n_grams,
    * lw). `fitPred` picks the raw fit slice, `tgtPred` the target slice
    * (lang='en' within it; defaults to the raw slice), `scorePred` the
    * scored slice — the gate and incremental forms reuse the chain with
    * doc_id splits, as the LM oracle does. */
  private[queries] def dsirCtes(fitPred: String = "TRUE",
      scorePred: String = "TRUE", tgtPredOpt: String = null): String = {
    val tgtPred = Option(tgtPredOpt).getOrElse(fitPred)
    val b = graft.ops.Dsir.Buckets
    s"""g AS (
      |  SELECT doc_id, lang, unnest(grams) AS gram FROM (
      |    SELECT doc_id, lang,
      |           list_concat(ws,
      |             CASE WHEN len(ws) >= 2
      |                  THEN list_transform(list_zip(ws[1:len(ws)-1], ws[2:len(ws)]),
      |                                      p -> p[1] || ' ' || p[2])
      |                  ELSE CAST([] AS VARCHAR[]) END) AS grams
      |    FROM (SELECT doc_id, lang,
      |                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                             x -> x <> '') AS ws
      |          FROM documents))
      |), gb AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |         (${hex16SqlOf("'dsir:' || gram")}) % $b AS bucket
      |  FROM g
      |), rawc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nr
      |            FROM gb WHERE $fitPred GROUP BY bucket),
      |tgtc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nt
      |         FROM gb WHERE ($tgtPred) AND lang = 'en' GROUP BY bucket),
      |rts AS (SELECT CAST(coalesce(sum(nr), 0) AS BIGINT) AS tr FROM rawc),
      |tts AS (SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS tt FROM tgtc),
      |bk AS (SELECT unnest(generate_series(0, ${b - 1})) AS bucket),
      |model AS (
      |  SELECT bk.bucket,
      |         CAST(CAST(ln(CAST(coalesce(nt, 0) + 1 AS DOUBLE) / (tt + $b)) AS DECIMAL(18,6))
      |            - CAST(ln(CAST(coalesce(nr, 0) + 1 AS DOUBLE) / (tr + $b)) AS DECIMAL(18,6))
      |            AS DECIMAL(18,6)) AS lr
      |  FROM bk LEFT JOIN rawc USING (bucket) LEFT JOIN tgtc USING (bucket)
      |       CROSS JOIN rts CROSS JOIN tts
      |), w AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, sum(lr) AS lw
      |  FROM gb JOIN model USING (bucket) WHERE $scorePred GROUP BY doc_id
      |)""".stripMargin
  }

  /** Gate-form DSIR oracle: fit on the doc_id < 250 slice (target = its
    * lang='en' subset), score the incoming doc_id >= 250 slice, admit
    * weights clearing the floor — shared by `q_stream_dsir_gate` and the
    * StreamingSpec streamed==batch test. */
  private[queries] val dsirGateOracle =
    s"""WITH ${dsirCtes("doc_id < 250", "doc_id >= 250")}
      |SELECT doc_id, n_grams, CAST(lw AS DOUBLE) AS dsir_logw
      |FROM w WHERE CAST(lw AS DOUBLE) >= 0.0
      |ORDER BY doc_id""".stripMargin

  private val dsirWeightsOracle =
    s"""WITH ${dsirCtes()}
      |SELECT doc_id, n_grams, CAST(lw AS DOUBLE) AS dsir_logw
      |FROM w ORDER BY doc_id""".stripMargin

  private val dsirEnTarget = col("lang") === "en"

  /** DSIR importance weights, fit-and-weight in one query: hashed
    * unigram+bigram log-ratio of the lang='en' target slice vs the whole
    * raw corpus (Xie et al. 2023) — the data-selection scoring pass. */
  val dsirWeightsQ = QueryDef("q_ns_dsir_weights", dsirWeightsOracle) {
    (s, d) =>
      graft.ops.Dsir.dsirWeights(T.documents(s, d), dsirEnTarget)
        .select("doc_id", "n_grams", "dsir_logw")
        .orderBy("doc_id")
  }

  /** The same weights SERVED from the persisted bucket-row log-ratio
    * artifact — zero fitting at serve time; shares the fit form's oracle
    * because the fit is bit-deterministic. */
  val dsirServedQ = QueryDef("q_ns_dsir_served", dsirWeightsOracle) {
    (s, d) =>
      val docs = T.documents(s, d)
      val dir = graft.ops.Models.ensureBuilt(s"dsir|$d") { tmp =>
        graft.ops.Dsir.dsirBuild(docs, docs.filter(dsirEnTarget), tmp)
      }
      graft.ops.Dsir.dsirServe(s, dir, docs)
        .select("doc_id", "n_grams", "dsir_logw")
        .orderBy("doc_id")
  }

  /** Gumbel top-k importance resampling over the DSIR weights: exact
    * sampling without replacement proportional to exp(logw), key =
    * logw + Gumbel(md5-uniform), selected via TakeOrderedAndProject (no
    * global sort). */
  val dsirResampleQ = QueryDef(
    "q_ns_dsir_resample",
    s"""WITH ${dsirCtes()},
      |res AS (
      |  SELECT doc_id, n_grams, lw,
      |         lw + CAST(-ln(-ln(((${hex16SqlOf("'dsirg:' || CAST(doc_id AS VARCHAR)")}) + 0.5) / 65536.0))
      |                   AS DECIMAL(18,6)) AS k
      |  FROM w
      |)
      |SELECT doc_id, n_grams, CAST(lw AS DOUBLE) AS dsir_logw,
      |       CAST(k AS DOUBLE) AS sel_key
      |FROM res ORDER BY k DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
    graft.ops.Dsir.dsirResample(
      graft.ops.Dsir.dsirWeights(T.documents(s, d), dsirEnTarget), 100)
  }

  /** Select-then-pack (the training-prep handoff a data-selection run
    * actually ends with): DSIR Gumbel top-200 over the corpus, then
    * concat-and-chunk packing of the selected docs into 256-token
    * sequences per source shard. Selection is a TakeOrderedAndProject,
    * packing one per-group window cumsum — no new scale shapes, just the
    * proven chains composed. */
  val dsirSelectPackQ = QueryDef(
    "q_ns_dsir_select_pack",
    s"""WITH ${dsirCtes()},
      |res AS (
      |  SELECT doc_id,
      |         lw + CAST(-ln(-ln(((${hex16SqlOf("'dsirg:' || CAST(doc_id AS VARCHAR)")}) + 0.5) / 65536.0))
      |                   AS DECIMAL(18,6)) AS k
      |  FROM w
      |),
      |sel AS (SELECT doc_id FROM res ORDER BY k DESC, doc_id LIMIT 200),
      |sd AS (
      |  SELECT d.source, d.doc_id,
      |         CAST(len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
      |                              x -> x <> '')) AS BIGINT) AS n_tokens
      |  FROM documents d JOIN sel USING (doc_id)
      |),
      |c AS (
      |  SELECT source, doc_id, n_tokens,
      |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM sd
      |)
      |SELECT source, CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS seq_id,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
      |FROM c GROUP BY source, seq_id
      |ORDER BY source, seq_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    val sel = graft.ops.Dsir.dsirResample(
      graft.ops.Dsir.dsirWeights(docs, dsirEnTarget), 200).select("doc_id")
    Pipeline.packSequences(docs.join(sel, Seq("doc_id"), "left_semi"),
        budget = 256)
      .orderBy("source", "seq_id")
  }

  /** DSIR served from the COUNT-form artifact after an append: counts
    * built on the doc_id < 250 slice (raw AND target), then the >= 250
    * slice's raw counts FOLDED IN without rescanning the old slice —
    * the growing-crawl lifecycle. Weights must equal a full refit on the
    * cumulative raw corpus with the original target (counts are
    * additive; the model rebuild at load is a bucket-row job). */
  val dsirServedIncrementalQ = QueryDef(
    "q_ns_dsir_served_incremental",
    s"""WITH ${dsirCtes("TRUE", "TRUE", "doc_id < 250")}
      |SELECT doc_id, n_grams, CAST(lw AS DOUBLE) AS dsir_logw
      |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"dsir_counts|$d") { tmp =>
      graft.ops.Dsir.dsirBuildCounts(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") < 250 && dsirEnTarget), tmp)
      graft.ops.Dsir.dsirAppendRaw(docs.filter(col("doc_id") >= 250), tmp)
    }
    graft.ops.Dsir.dsirServeCounts(s, dir, docs)
      .select("doc_id", "n_grams", "dsir_logw")
      .orderBy("doc_id")
  }

  /** DSIR counts after append→COMPACT (r11): the per-bucket partial rows
    * fold to one row per bucket (the exact integer sum serve performs at
    * load, run as maintenance), then serve — bit-identical, same
    * cumulative-refit oracle. */
  val dsirServedCompactedQ = QueryDef(
    "q_ns_dsir_served_compacted",
    dsirServedIncrementalQ.oracle.get) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"dsir_counts_cmp|$d") { tmp =>
      graft.ops.Dsir.dsirBuildCounts(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") < 250 && dsirEnTarget), tmp)
      graft.ops.Dsir.dsirAppendRaw(docs.filter(col("doc_id") >= 250), tmp)
      graft.ops.Dsir.dsirCompactCounts(s, tmp)
    }
    graft.ops.Dsir.dsirServeCounts(s, dir, docs)
      .select("doc_id", "n_grams", "dsir_logw")
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(packSequences, embedCentroids, bigramStats,
    lmScore, lmBigram, lmBigramServed, nbClassify, nbClassifyServed,
    nbCalibration, trainShardsQ, dsirWeightsQ, dsirServedQ, dsirResampleQ,
    dsirSelectPackQ, dsirServedIncrementalQ, dsirServedCompactedQ)
}
