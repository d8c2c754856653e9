package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus retrieval primitives: TF-IDF term weighting and Okapi BM25
  * scoring — the sparse-retrieval half of a training-data curation stack
  * (the dense half is `Similarity`). Built shuffle-minimal:
  *
  *  - one explode + one partial-aggregated (doc, term) count shuffle builds
  *    the posting statistics; doc length is derived from that relation (far
  *    smaller than the raw token stream);
  *  - document frequency for a BM25 query is computed AFTER filtering the
  *    postings to the query's terms, so the df relation is bounded by the
  *    query vocabulary and broadcast;
  *  - corpus-level scalars (N, avgdl) are a 1-row broadcast.
  *
  * At 100 TB the only O(corpus) shuffles are the (doc, term) count and the
  * per-doc score combine — both partial-aggregated map-side. Nothing is
  * proportional to corpus² and no collect touches the driver.
  *
  * Cross-engine determinism: per-term scores pass through `ln`, whose last
  * ulp differs between the JVM and libm (~1.5e-4 of inputs). Every score is
  * therefore rounded to DECIMAL(18,6) BEFORE any sum or rank — the decimal
  * sum is then exact and order-independent on both engines.
  */
object Retrieval {

  /** (id, word) token stream: whitespace tokenization, lowercased. Same
    * tokenizer as `TextAnalysis`/the corpus-vocab query so stats compose. */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")

  /** Posting stats per (doc, term): tf, df, corpus size and raw tf-idf
    * (tf * ln(N/df)). The df join stays a plain equi join — query-term
    * vocabularies broadcast under AQE, open-vocab corpora shuffle on word. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = tokens(
        ScaleOps.fanOutCompute(df.select(col(idCol), col(textCol)), idCol),
        idCol, textCol)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "word")
      .join(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
  }

  /** Okapi BM25 scores of every document against a bag of query terms.
    * Returns (idCol, score) — score is an exact decimal(18,6) sum of
    * per-term contributions, cast to double. */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // postings feed four consumers (dl, stats, hits->df, score join);
    // uncached, the explode+count lineage re-executes for each
    val tf = Pins.cache(tokens(
        ScaleOps.fanOutCompute(df.select(col(idCol), col(textCol)), idCol),
        idCol, textCol)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(idCol).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    bm25Score(tf, dl, stats, idCol, terms, k1, b)
  }

  /** The query-time half of BM25, shared by [[bm25]] and [[bm25Serve]]:
    * filter the postings to the query vocabulary, broadcast the (bounded)
    * df table and 1-row corpus stats, combine 6dp-rounded per-term
    * contributions per doc. No corpus tokenization happens here. */
  private def bm25Score(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      idCol: String, terms: Seq[String], k1: Double, b: Double): DataFrame = {
    val hits = tf.filter(col("word").isin(terms: _*))
    val dfreq = hits.groupBy("word").agg(count(lit(1)).as("df"))
    val idf = log(lit(1) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    hits
      .join(dl, idCol)
      .join(broadcast(dfreq), "word")
      .join(broadcast(stats))
      .withColumn("c", contrib.cast(DecimalType(18, 6)))
      .groupBy(idCol)
      .agg(sum(col("c")).cast("double").as("score"))
  }

  /** Range-partition on `word` (then sort within partitions) before an
    * index save: every parquet file/row group then covers a narrow,
    * non-overlapping word range, so a word-equality scan prunes on the
    * footer min/max stats and reads ~1/numPartitions of the table instead
    * of all of it. Without this the postings land in posexplode (doc)
    * order — every row group holds a broad word mix and the stats prune
    * nothing (the r9 layout gap). Skew note: a Zipf-head word larger than
    * one partition splits across adjacent ranges keyed by `idCol`; stats
    * stay tight because ranges never interleave. */
  private def wordSorted(df: DataFrame, idCol: String): DataFrame =
    df.repartitionByRange(col("word"), col(idCol))
      .sortWithinPartitions("word", idCol)

  /** Build and persist the sparse index ONCE (`ops.Models` fit/apply
    * split): `postings` (id, word, tf) word-range-sorted for row-group
    * pruning, `doclen` (id, dl), `stats` (ADDITIVE partials: n_docs,
    * sum_dl — [[bm25Serve]] folds them, so [[bm25Append]] can add a
    * batch's partial without touching old data) as parquet under `dir`.
    * The corpus is tokenized exactly once here; serving never touches
    * the raw text — the inverted-index lifecycle every search system
    * runs. */
  def bm25Build(df: DataFrame, idCol: String, textCol: String,
      dir: String): Unit = Pins.scoped {
    Models.save(df.sparkSession, dir)(bm25Tables(df, idCol, textCol))
  }

  /** The three BM25 tables of `docs`, staged in `c` — the corpus is
    * tokenized once, its tf and doclen pinned for the three writes. */
  private def bm25Tables(docs: DataFrame, idCol: String,
      textCol: String)(c: Models.Commit): Unit = {
    val tf = Pins.cache(tokens(docs, idCol, textCol)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf")))
    val dl = Pins.cache(tf.groupBy(idCol).agg(sum(col("tf")).as("dl")))
    c.write("postings", wordSorted(tf, idCol)).write("doclen", dl).write(
      "stats", dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))
  }

  /** Append one batch of NEW documents to the persisted BM25 index — the
    * additive-artifact pattern's retrieval instance (dedup index / bloom
    * / DSIR counts / maintained aggregate are the other four): postings
    * and doclen rows for the batch append (batch-only tokenization, old
    * data never re-read), and the corpus stats fold at serve time from
    * one more (n_docs, sum_dl) partial row. Serving after the append is
    * bit-identical to a full rebuild on the cumulative corpus: postings/
    * doclen are unions keyed by doc, df counts posting ROWS (one per
    * (doc, word) either way), and the stats fold is exact integer
    * arithmetic. Contract: batch doc ids must be NEW (admission's job) —
    * re-appending a doc would double its postings and inflate tf/df.
    * Each appended file set is itself word-range-sorted, so pruning
    * holds per append generation. */
  def bm25Append(batch: DataFrame, dir: String, idCol: String,
      textCol: String, batchId: Long): Unit = Pins.scoped {
    Models.append(batch.sparkSession, dir, Some(batchId))(
      bm25Tables(batch, idCol, textCol))
  }

  /** Positional phrase search: exact-phrase occurrence counts per doc —
    * the retrieval semantics BM25's bag-of-words cannot express (adjacent
    * word ORDER matters). Scan form: one map-only pass counting the
    * phrase's token-sequence occurrences in each doc's token array, then
    * top-k by (occurrences desc, id) as a TakeOrderedAndProject. At
    * 100 TB this rides the corpus scan like the rest of prep; a served
    * form would intersect positional postings, with the rarest word's
    * list bounding candidates — the same df-shape argument as winnow's
    * maxPostings. */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String], k: Int = 20): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two words")
    val l = phrase.size
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"), x => x =!= "")
    // Locale.ROOT: corpus tokens are folded by Spark's locale-independent
    // lower(); a default-locale toLowerCase would diverge under e.g. a
    // Turkish JVM locale ('I' -> dotless 'ı') and silently match nothing
    val folded = phrase.map(_.toLowerCase(java.util.Locale.ROOT))
    // compiled single-walk kernel ([[graft.expr.PhraseCount]]): the
    // composable sequence+filter+element_at form re-entered the
    // interpreted lambda evaluator per token position (ExprSpec pins the
    // kernel bit-identical to that form, including null-element and
    // short-array behavior)
    df.select(col(idCol), ws.as("__ws"))
      .filter(size(col("__ws")) >= l)
      .select(col(idCol),
        graft.expr.ArrayExprs.phraseCount(col("__ws"), folded)
          .as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .orderBy(desc("n_occurrences"), asc(idCol))
      .limit(k)
  }

  /** Build the positional-postings index under `dir`: one (word, id,
    * pos) row per token occurrence, RANGE-PARTITIONED AND SORTED on
    * `word` ([[wordSorted]]). Corpus-sized by nature (it IS the corpus,
    * re-keyed by word), but written once — and because each file/row
    * group covers a narrow word range, a phrase query's word-equality
    * scans prune on footer min/max stats and read a small fraction of
    * the index instead of the whole corpus-sized table (measured in
    * SCALING.md: the unsorted doc-order layout prunes nothing). */
  def phraseIndexBuild(df: DataFrame, dir: String, idCol: String,
      textCol: String): Unit = {
    Models.save(df.sparkSession, dir)(
      _.write("positions", positionsOf(df, idCol, textCol)))
  }

  /** One (id, pos, word) row per token occurrence, word-range-sorted. */
  private def positionsOf(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    wordSorted(
      df.select(col(idCol),
        posexplode(filter(split(lower(trim(col(textCol))), "\\s+"),
          x => x =!= "")).as(Seq("pos", "word"))),
      idCol)

  /** Append one batch of NEW documents' positions to the phrase index —
    * batch-only tokenization, the existing postings never re-read. The
    * adjacency join is per-doc, so appended docs (fresh ids by the
    * admission contract) change no existing doc's count; a served query
    * after the append equals the scan form over the cumulative corpus.
    * Each appended file set is itself word-range-sorted, so stats-based
    * pruning holds per append generation. */
  def phraseIndexAppend(batch: DataFrame, dir: String, idCol: String,
      textCol: String, batchId: Long): Unit = {
    Models.append(batch.sparkSession, dir, Some(batchId))(
      _.write("positions", positionsOf(batch, idCol, textCol)))
  }

  /** Compact the phrase index's appended posting generations: after a
    * year of daily appends the positions table is 365 word-sorted file
    * SETS — each internally pruned well, but the scan pays footer/open
    * overhead per generation and per-generation min/max ranges overlap
    * across generations, so pruning degrades toward file-count overhead.
    * One rewrite restores the single build-time word-sorted layout;
    * results are identical (the table is a bag of (id, pos, word) rows —
    * layout only). One range shuffle over the table — the same cost as
    * the build's layout pass, amortized over every query until the next
    * compaction. Compose with the append lifecycle as maintenance:
    * append daily, compact on a slow cadence. */
  def phraseIndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String): Unit = {
    Models.rewrite(spark, dir)(_.update("positions")(wordSorted(_, idCol)))
  }

  /** Compact the BM25 artifact: postings re-sorted into one word-range
    * layout (as [[phraseIndexCompact]]), doclen rewritten id-range-sorted
    * (doc-lookup pruning), and the per-append (n_docs, sum_dl) stats
    * partials folded to their exact sum — ONE row replaces N, the same
    * integer fold [[bm25Serve]] performs at query time. Serving after
    * compaction is bit-identical to before: every piece is either a
    * layout-only rewrite or an exact fold. */
  def bm25Compact(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String): Unit = {
    Models.rewrite(spark, dir)(_.update("postings")(wordSorted(_, idCol))
      .update("doclen")(
        _.repartitionByRange(col(idCol)).sortWithinPartitions(idCol))
      .update("stats")(_.agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))))
  }

  /** Phrase search SERVED from the positional index: each phrase word's
    * postings come from a word-filtered scan of the persisted table
    * (predicate pushdown onto the word-range-sorted layout — footer
    * min/max stats skip the files and row groups whose word range
    * excludes the term, so the scan reads ~1/numPartitions of the index;
    * no tokenization at query time), adjacency is an equi join on
    * (id, pos offset), and the count/top-k match [[phraseSearch]]
    * exactly (same oracle). The first word's postings bound the join —
    * phrase words are rare-ish by Zipf, so the candidate stream is a
    * tiny fraction of the corpus, which is what the index buys over the
    * scan form. */
  def phraseSearchServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, phrase: Seq[String],
      k: Int = 20): DataFrame = {
    require(phrase.size >= 2, "a phrase needs at least two words")
    val pos = Models.load(spark, dir, "positions")
    // Locale.ROOT folding for the same reason as phraseSearch's target
    val first = pos
      .filter(col("word") === phrase.head.toLowerCase(java.util.Locale.ROOT))
      .select(col(idCol), col("pos"))
    val matches = phrase.toIndexedSeq.zipWithIndex.tail
      .foldLeft(first) { case (acc, (w, off)) =>
        acc.join(
          pos.filter(col("word") === w.toLowerCase(java.util.Locale.ROOT))
            .select(col(idCol), (col("pos") - off).as("pos")),
          Seq(idCol, "pos"))
      }
    matches.groupBy(idCol)
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc(idCol))
      .limit(k)
  }

  /** Proximity (slop) search SERVED from the positional index: docs
    * where `second` occurs 1..`slop` tokens AFTER `first`, scored by the
    * count of such ordered co-occurrence pairs — the middle ground
    * between bag-of-words BM25 (no position) and exact-phrase adjacency
    * (slop = 1). Both word lookups are equality predicates on the
    * word-range-sorted positions table (footer-stats pruned); the pair
    * join is equi on the doc id with the slop window as a range
    * residual, so candidate volume is bounded by the two terms' posting
    * lists, never the corpus. */
  def proximitySearchServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, first: String, second: String,
      slop: Int, k: Int = 20): DataFrame = {
    require(slop >= 1, "slop must be >= 1")
    val pos = Models.load(spark, dir, "positions")
    val p1 = pos.filter(col("word") === first.toLowerCase(java.util.Locale.ROOT))
      .select(col(idCol), col("pos").as("__pa"))
    val p2 = pos.filter(col("word") === second.toLowerCase(java.util.Locale.ROOT))
      .select(col(idCol), col("pos").as("__pb"))
    p1.join(p2, Seq(idCol))
      .filter((col("__pb") - col("__pa")).between(1, slop))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(desc("n_pairs"), asc(idCol))
      .limit(k)
  }

  /** TF-IDF posting stats SERVED from the persisted BM25 index — the
    * same (id, word, tf) relation both scorers share: df re-derives as
    * the per-word posting count, n_docs folds from the stats partials,
    * and no text is tokenized at query time. Byte-identical to [[tfidf]]
    * on the cumulative corpus (postings are a deterministic function of
    * it), so the served form shares the fit form's oracle. */
  def tfidfServe(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String): DataFrame = {
    val tf = Models.load(spark, dir, "postings")
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = Models.load(spark, dir, "stats")
      .agg(sum(col("n_docs")).as("n_docs"))
    tf.join(dfreq, "word")
      .join(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
  }

  /** Boolean AND/NOT retrieval served from the persisted postings: docs
    * containing ALL `must` terms and NONE of `mustNot`, with the summed
    * must-term tf as the hit weight. Plan shape at 100 TB: each word
    * filter is an in-list predicate on the word-range-sorted postings
    * (footer stats prune the scan to the terms' ranges); the candidate
    * aggregate is bounded by the query vocabulary's posting rows, never
    * the corpus; the NOT side enters as a left-anti join on its (also
    * pruned) posting ids. No tokenization at query time. */
  def booleanSearchServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, must: Seq[String],
      mustNot: Seq[String] = Nil): DataFrame = {
    require(must.nonEmpty, "boolean search needs at least one must term")
    val postings = Models.load(spark, dir, "postings")
    val m = must.map(_.toLowerCase(java.util.Locale.ROOT))
    val candidates = postings.filter(col("word").isin(m: _*))
      .groupBy(idCol)
      .agg(countDistinct(col("word")).as("__n_terms"),
        sum(col("tf")).as("hits"))
      .filter(col("__n_terms") === m.size)
      .select(col(idCol), col("hits"))
    if (mustNot.isEmpty) candidates
    else candidates.join(
      postings.filter(col("word")
          .isin(mustNot.map(_.toLowerCase(java.util.Locale.ROOT)): _*))
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Prefix term lookup served from the postings: `word LIKE 'pre%'` is
    * a RANGE predicate, which is exactly what the word-range-sorted
    * layout serves — the StartsWith filter pushes into the parquet scan
    * and footer min/max stats skip every file/row group whose word range
    * excludes the prefix, so the lookup reads ~the prefix's range
    * instead of the corpus-sized table (the layout's second dividend
    * beyond equality pruning). Returns per-word document frequency and
    * collection frequency — the stats an autocomplete / query-expansion
    * stage wants. */
  def prefixSearchServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String, prefix: String): DataFrame =
    Models.load(spark, dir, "postings")
      .filter(col("word").startsWith(prefix.toLowerCase(java.util.Locale.ROOT)))
      .groupBy("word")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists —
    * the standard hybrid-retrieval combiner (BM25 ∪ dense ANN) a
    * RAG/curation pipeline runs: score(d) = Σ_lists 1/(k0 + rank_d),
    * absent docs contribute 0. Inputs are (id, rank) top-N lists, so the
    * fuse is a bounded full-outer join + top-k — nothing corpus-sized
    * regardless of corpus scale. Determinism: each contribution is
    * PER-ROW double arithmetic (1.0/(k0+rank), one addition — bit-exact
    * cross-engine; no cross-partition float agg), ties break on id. */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, k0: Int = 60,
      k: Int = 20): DataFrame =
    a.select(col(idCol), col("rank").as("__ra"))
      .join(b.select(col(idCol), col("rank").as("__rb")),
        Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(k0) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("__rb")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(desc("rrf_score"), asc(idCol))
      .limit(k)

  /** BM25 from a PERSISTED index ([[bm25Build]], plus any number of
    * [[bm25Append]] deltas) — reads only the posting tables, no
    * tokenization: the plan starts at the parquet index scan. The stats
    * partials fold here: n_docs and sum_dl are exact integer sums over
    * one row per build/append, and avgdl = sum_dl / n_docs reproduces
    * the rebuild's avg(dl) bit-for-bit (integer-valued doubles below
    * 2^53 sum exactly in any order). Deterministic build ⇒ identical
    * scores to [[bm25]] on the cumulative corpus. */
  def bm25Serve(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Score(
      Models.load(spark, dir, "postings"),
      Models.load(spark, dir, "doclen"),
      Models.load(spark, dir, "stats")
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
        .select(col("n_docs"),
          (col("sum_dl").cast("double") / col("n_docs")).as("avgdl")),
      idCol, terms, k1, b)
}
