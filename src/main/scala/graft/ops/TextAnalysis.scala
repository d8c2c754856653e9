package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, marker-based language ID, and content fingerprinting.
  * All per-row array/string expressions (codegen'd, shuffle-free) — on
  * 100 TB these run map-only at scan speed.
  */
object TextAnalysis {

  private def words(textCol: String): Column =
    split(lower(trim(col(textCol))), "\\s+")

  /** Whitespace token count + BPE-ish pre-tokenizer count (letter runs,
    * digit runs, single punctuation — the GPT-2-style pretokenize shape). */
  def withTokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("n_ws_tokens",
        when(trim(col(textCol)) === "", 0)
          .otherwise(size(words(textCol))).cast("bigint"))
      .withColumn("n_bpe_tokens",
        size(expr(s"regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
          .cast("bigint"))

  /** Quality signals: char/word counts, mean word length, punctuation and
    * stopword ratios, plus a weighted score. Per-row double math only —
    * bit-identical across engines. */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // ONE compiled token walk (WordListStats kernel) replaces three
    // interpreted lambda passes over the same split (transform+aggregate
    // for word lengths, filter for stopwords) — ExprSpec pins the kernel
    // against [[withQualityRef]] bit-for-bit; the score arithmetic below
    // is unchanged double math over the same exact integers
    val st = graft.expr.WordListStats.wordListStats(
      lower(trim(col(textCol))), Seq(qualityStopwords))
    val nChars = length(col(textCol)).cast("double")
    val nWords = element_at(col("__wls"), 1).cast("double")
    val sumWordLen = element_at(col("__wls"), 2).cast("double")
    val nPunct = length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]", "")).cast("double")
    val nStop = element_at(col("__wls"), 3).cast("double")
    docs
      .withColumn("__wls", st)
      .withColumn("n_words", nWords.cast("bigint"))
      .withColumn("mean_word_len", sumWordLen / nWords)
      .withColumn("punct_ratio", nPunct / nChars)
      .withColumn("stopword_ratio", nStop / nWords)
      .withColumn("quality_score",
        (sumWordLen / nWords) * lit(0.2) + (nStop / nWords) * lit(2.0) -
          (nPunct / nChars) * lit(5.0))
      .drop("__wls")
  }

  private[graft] val qualityStopwords =
    Seq("the", "a", "an", "of", "and", "to", "in", "is")

  /** Built-in-functions reference form of [[withQuality]] — the semantic
    * spec the kernel path must match bit-for-bit (ExprSpec). */
  private[graft] def withQualityRef(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val w = words(textCol)
    val nChars = length(col(textCol)).cast("double")
    val nWords = size(w).cast("double")
    val sumWordLen = expr(
      s"aggregate(transform(split(lower(trim($textCol)), '\\\\s+'), x -> length(x)), 0, (a, x) -> a + x)")
      .cast("double")
    val nPunct = length(regexp_replace(col(textCol), "[a-zA-Z0-9\\s]", "")).cast("double")
    val nStop = expr(
      s"size(filter(split(lower(trim($textCol)), '\\\\s+'), x -> x in (${qualityStopwords.map("'" + _ + "'").mkString(",")})))")
      .cast("double")
    docs
      .withColumn("n_words", nWords.cast("bigint"))
      .withColumn("mean_word_len", sumWordLen / nWords)
      .withColumn("punct_ratio", nPunct / nChars)
      .withColumn("stopword_ratio", nStop / nWords)
      .withColumn("quality_score",
        (sumWordLen / nWords) * lit(0.2) + (nStop / nWords) * lit(2.0) -
          (nPunct / nChars) * lit(5.0))
  }

  /** Marker words per language for the n-gram-free language-ID heuristic.
    * Real pipelines use char-n-gram profiles; the operator shape (score per
    * language, argmax with deterministic tie-break) is identical. */
  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, token
    * granularity): type-token ratio, the fraction of bigram occurrences
    * claimed by the single most frequent bigram, and the duplicate
    * 5-gram mass (1 − distinct/total) — the three cheapest detectors of
    * the boilerplate/spam/looping-generation pathologies a crawl quality
    * gate drops. Scale shape: TTR is map-only (array_distinct per row);
    * the two gram signals are the tf pattern — one explode + one
    * partial-aggregated (doc, gram) count shuffle each, never an O(n²)
    * per-doc lambda. Short docs define their undefined signals as 0
    * (<2 words: no bigrams; <5: no 5-grams). All ratios are per-row
    * double divisions of exact integers — bit-identical cross-engine. */
  def withRepetition(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ws = filter(words(textCol), x => x =!= "")
    val base = docs.select(col(idCol),
      size(ws).cast("bigint").as("n_words"),
      (size(array_distinct(ws)).cast("double") / size(ws)).as("ttr"),
      ws.as("__ws"))
    val bigrams = base
      .select(col(idCol), explode(zip_with(
        slice(col("__ws"), lit(1), size(col("__ws")) - 1),
        slice(col("__ws"), lit(2), size(col("__ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(max(col("c")).as("__top_bg"), sum(col("c")).as("__n_bg"))
    val g5 = base
      .filter(size(col("__ws")) >= 5)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__ws")) - 4),
        i => concat_ws(" ", slice(col("__ws"), i, lit(5))))).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("__n_5g"), count(lit(1)).as("__d_5g"))
    base.drop("__ws")
      .join(bigrams, Seq(idCol), "left")
      .join(g5, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("ttr"),
        coalesce(col("__top_bg").cast("double") / col("__n_bg"), lit(0.0))
          .as("top_bigram_frac"),
        coalesce(lit(1.0) - col("__d_5g").cast("double") / col("__n_5g"),
          lit(0.0)).as("dup_5gram_frac"))
  }

  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "of", "and", "to", "in", "is", "value", "table"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "y", "que", "los", "una", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "pour"))

  /** Language ID: hit count per marker set, predicted = argmax
    * (score desc, lang asc), 'und' when nothing hits. */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // all four marker counts from ONE compiled token walk (WordListStats
    // kernel) — the composable form ran a separate interpreted filter
    // lambda over the same split per language (ExprSpec pins this path
    // against [[withLangIdRef]] bit-for-bit)
    val st = graft.expr.WordListStats.wordListStats(
      lower(trim(col(textCol))), langMarkers.map(_._2))
    val scored = langMarkers.zipWithIndex.foldLeft(
        docs.withColumn("__wls", st)) {
      case (df, ((lang, _), i)) =>
        df.withColumn(s"score_$lang", element_at(col("__wls"), i + 3))
    }.drop("__wls")
    scored.withColumn("predicted_lang", langIdArgmax)
  }

  /** Shared argmax tail: score desc, lang asc tie-break, 'und' when
    * nothing hits. */
  private def langIdArgmax: Column = {
    val total = langMarkers.map(m => s"score_${m._1}").mkString(" + ")
    val arr = langMarkers
      .map { case (lang, _) => s"named_struct('s', score_$lang, 'l', '$lang')" }
      .mkString(", ")
    expr(
      s"""CASE WHEN $total = 0 THEN 'und'
         |ELSE array_sort(array($arr), (x, y) ->
         |  CASE WHEN x.s > y.s THEN -1 WHEN x.s < y.s THEN 1
         |       WHEN x.l < y.l THEN -1 WHEN x.l > y.l THEN 1 ELSE 0 END)[0].l
         |END""".stripMargin)
  }

  /** Built-in-functions reference form of [[withLangId]] — the semantic
    * spec the kernel path must match bit-for-bit (ExprSpec). */
  private[graft] def withLangIdRef(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val scored = langMarkers.foldLeft(docs) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang", expr(
        s"size(filter(split(lower(trim($textCol)), '\\\\s+'), " +
          s"x -> x in (${markers.map("'" + _ + "'").mkString(",")})))").cast("bigint"))
    }
    scored.withColumn("predicted_lang", langIdArgmax)
  }

  /** Per-language character-trigram weight profiles — the ONE source of
    * truth lives in [[graft.expr.TrigramLang.table]] (kernel, reference
    * form, and generated oracle all read it). */
  val langTrigrams: Seq[(String, Seq[(String, Int)])] =
    graft.expr.TrigramLang.table

  /** Character-trigram language ID — the upgrade over [[withLangId]]'s
    * marker-word argmax: scores are weighted counts of each language's
    * profile trigrams over ALL character trigrams of the text (boundary
    * spaces included), so inflected/unseen words still contribute signal
    * where the marker heuristic sees nothing. Integer per-row sums
    * (engine-exact), argmax with the same (score desc, lang asc)
    * tie-break, 'und' when no profile hits. All four scores come from ONE
    * compiled pass (graft.expr.TrigramLangScores) — the built-in
    * aggregate/CASE form ([[withLangIdTrigramRef]], bit-compat-pinned in
    * ExprSpec) re-enters the interpreted lambda evaluator per trigram per
    * language and measured 40 s for the sf0.1 registry query vs
    * sub-second for the kernel. Map-only at scan speed. */
  def withLangIdTrigram(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = docs.withColumn("__ts",
      graft.expr.TrigramLang.trigramLangScores(lower(trim(col(textCol)))))
    withTrigramArgmax(
      langTrigrams.zipWithIndex.foldLeft(scored) {
        case (df, ((lang, _), i)) =>
          df.withColumn(s"tscore_$lang", element_at(col("__ts"), i + 1))
      }).drop("__ts")
  }

  /** Built-in-functions reference form of [[withLangIdTrigram]] — the
    * semantic spec the kernel must match bit-for-bit (ExprSpec): per
    * language, `aggregate(grams, 0L, acc + CASE gram WHEN ... )`. Kept
    * for the bit-compat test; operators run the kernel. */
  private[graft] def withLangIdTrigramRef(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val t = s"lower(trim($textCol))"
    val gramsSql =
      s"CASE WHEN length($t) >= 3 THEN transform(sequence(1, length($t) - 2), " +
        s"i -> substring($t, i, 3)) ELSE array() END"
    withTrigramArgmax(langTrigrams.foldLeft(docs) { case (df, (lang, ws)) =>
      val cases = ws.map { case (g, w) => s"WHEN '$g' THEN ${w}L" }.mkString(" ")
      df.withColumn(s"tscore_$lang", expr(
        s"aggregate($gramsSql, 0L, (acc, g) -> acc + CASE g $cases ELSE 0L END)"))
    })
  }

  /** Shared argmax tail: predicted = (score desc, lang asc), 'und' on
    * zero total. */
  private def withTrigramArgmax(scored: DataFrame): DataFrame = {
    val total = langTrigrams.map(m => s"tscore_${m._1}").mkString(" + ")
    val arr = langTrigrams
      .map { case (lang, _) => s"named_struct('s', tscore_$lang, 'l', '$lang')" }
      .mkString(", ")
    val pred = expr(
      s"""CASE WHEN $total = 0 THEN 'und'
         |ELSE array_sort(array($arr), (x, y) ->
         |  CASE WHEN x.s > y.s THEN -1 WHEN x.s < y.s THEN 1
         |       WHEN x.l < y.l THEN -1 WHEN x.l > y.l THEN 1 ELSE 0 END)[0].l
         |END""".stripMargin)
    scored.withColumn("predicted_lang", pred)
  }

  private val urlRe = "https?://\\S+"
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Pretraining-style text scrubbing: URLs and emails replaced with
    * placeholder tokens, plus match counts. Patterns stay in the
    * RE2-compatible subset (no backrefs/lookaround) so the same regexes
    * run in the DuckDB oracle; map-only at any scale. Emails are counted
    * AFTER URL scrubbing, so each count equals the placeholder occurrences
    * in the output (an email embedded in a URL is consumed by <URL>, not
    * double-counted). */
  def withScrubbedText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // expr() goes through the SQL parser, which eats single backslashes
    // in string literals (the same trap as the reference's '\s' no-op
    // regexes) — escape them for the literal, unlike the functions.* path
    val urlSql = urlRe.replace("\\", "\\\\")
    val emailSql = emailRe.replace("\\", "\\\\")
    docs
      .withColumn("__urlscrubbed", regexp_replace(col(textCol), urlRe, "<URL>"))
      .withColumn("n_urls",
        size(expr(s"regexp_extract_all($textCol, '$urlSql', 0)")).cast("bigint"))
      .withColumn("n_emails",
        size(expr(s"regexp_extract_all(__urlscrubbed, '$emailSql', 0)")).cast("bigint"))
      .withColumn("scrubbed",
        regexp_replace(col("__urlscrubbed"), emailRe, "<EMAIL>"))
      .drop("__urlscrubbed")
  }

  // RE2-subset PII patterns, shared verbatim with the DuckDB oracle:
  //  - phone: E.164 (+ and 7-15 digits) OR separated 3-group forms —
  //    "(555) 123-4567", "555-123-4567", "555.123.4567", "+1-555-123-4567".
  //    Three digit groups with [-. ] separators required, so dates
  //    (1995-01-01: middle group is 2 digits) and times (no [:] in the
  //    separator class) don't match; "123.456 789"-style numeric runs DO
  //    — the usual scrubber false-positive trade, identical cross-engine.
  //  - SSN-shaped: the 3-2-4 hyphenated form, word-bounded.
  //  - bare ID runs: standalone 9-12 digit tokens (\b-delimited, so hex
  //    ids and digits embedded in words don't match).
  private val phoneRe =
    "\\+\\d{7,15}|\\+?\\(?\\d{2,4}\\)?[-. ]\\d{3,4}[-. ]\\d{3,4}"
  private val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val idRunRe = "\\b\\d{9,12}\\b"
  // r13 classes (r12 "What's missing" #4), CHECKSUM-validated — shape
  // alone is not identity for financial numbers, so candidates that fail
  // the published check digit are left untouched:
  //  - payment card: 4-4-4-4 separated PAN or a contiguous 13-19 digit
  //    run (length-disjoint from the 9-12 bare-ID class), scrubbed only
  //    when the digit string passes Luhn;
  //  - IBAN: ISO 13616 shape (2 uppercase letters + 2 check digits +
  //    alnum groups of 4, spaced or compact, optional 1-3 tail),
  //    scrubbed only when the compact form is 15-34 chars AND the
  //    rearranged mod-97 residue is 1.
  // Chain placement: E.164 scrubs BEFORE these (a '+'-prefixed digit run
  // is phone-shaped; 13-15 of its digits would otherwise reach the Luhn
  // gate), the separated 3-group phone form AFTER them (a spaced PAN's
  // 4-digit groups parse as phone groups). A Luhn-REJECTED spaced PAN
  // does fall through to the separated-phone pattern — the usual
  // scrubber over-redaction trade, identical cross-engine.
  private val phoneE164Re = "\\+\\d{7,15}"
  private val phoneSepRe = "\\+?\\(?\\d{2,4}\\)?[-. ]\\d{3,4}[-. ]\\d{3,4}"
  private val ccRe =
    "\\b\\d{4}[ -]\\d{4}[ -]\\d{4}[ -]\\d{4}\\b|\\b\\d{13,19}\\b"
  private val ibanRe =
    "\\b[A-Z]{2}\\d{2}(?: ?[A-Z0-9]{4}){2,7}(?: ?[A-Z0-9]{1,3})?\\b"

  /** Luhn check as a SQL lambda over a digits-only string expression —
    * higher-order functions only (codegen'd, no UDF), identical algebra
    * to the DuckDB twin: double every second digit from the right,
    * subtract 9 when it exceeds 9, sum mod 10 == 0. */
  private def luhnOkSql(ds: String): String =
    s"aggregate(sequence(1, length($ds)), 0, (a, i) -> a + " +
      s"(CASE WHEN (length($ds) - i) % 2 = 1 THEN " +
      s"(CASE WHEN 2 * cast(substring($ds, i, 1) as int) > 9 " +
      s"THEN 2 * cast(substring($ds, i, 1) as int) - 9 " +
      s"ELSE 2 * cast(substring($ds, i, 1) as int) END) " +
      s"ELSE cast(substring($ds, i, 1) as int) END)) % 10 = 0"

  /** ISO 13616 mod-97 residue of a rearranged compact IBAN (first 4
    * chars moved to the end): incremental fold, digits contribute one
    * base-10 step, letters (A=10 … Z=35) two — exactly the big-number
    * mod the spec defines, never materializing the big number. */
  private def ibanMod97Sql(rs: String): String =
    s"aggregate(sequence(1, length($rs)), 0, (a, i) -> " +
      s"CASE WHEN substring($rs, i, 1) >= '0' AND substring($rs, i, 1) <= '9' " +
      s"THEN (a * 10 + cast(substring($rs, i, 1) as int)) % 97 " +
      s"ELSE (a * 100 + ascii(substring($rs, i, 1)) - 55) % 97 END)"

  /** Full PII scrub chain — [[withScrubbedText]]'s URL/EMAIL pass
    * extended with phone, payment-card, IBAN, and government-ID-shaped
    * tokens (r11 #4 + r12 #4):
    * URL → EMAIL → E.164 → IBAN → CARD → separated-PHONE → SSN → ID-run,
    * each pattern counted against the PREVIOUS stage's output so every
    * count equals its placeholder's occurrences in `scrubbed_pii`
    * (digits consumed by a card can't recount as an ID run; an email
    * inside a URL is already <URL>). The financial classes are
    * checksum-GATED, not shape-gated: card candidates must pass Luhn,
    * IBAN candidates the ISO 13616 mod-97 check — both as SQL-lambda
    * folds (higher-order functions, codegen'd, no UDF). Validated
    * matches are substituted POSITION-ANCHORED (r13 ADVICE): the text is
    * split on the candidate regex and rebuilt part-by-part, each match
    * emitted as its placeholder when the checksum passes or verbatim
    * when it fails — a literal replace fold would also redact the same
    * digit string where the \b-anchored regex did NOT match (a PAN
    * embedded in a longer token), over-redacting and breaking the
    * count-equals-placeholders contract. split() and
    * regexp_extract_all() run the same regex on the same input, so
    * parts and candidates interleave exactly (|parts| = |matches| + 1).
    * IBAN scrubs before card because a spaced IBAN's
    * digit groups parse as a spaced PAN; see the pattern block above
    * for the phone-split rationale. n_phones sums the E.164 and
    * separated sub-stages, n_ids the SSN and bare-run classes. Map-only
    * at any scale; patterns stay in the RE2 subset and the check-digit
    * algebra is engine-neutral integer math, so the whole chain
    * reproduces verbatim in the oracle. */
  def withPiiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // compiled single-pass kernel (graft.expr.PiiScrubStats): each stage's
    // replace+count fused into ONE Matcher walk, check digits as integer
    // loops — the composable chain below ([[withPiiScrubRef]], the ExprSpec
    // bit-compat reference) ran every regex twice and carried 7 intermediate
    // document strings per row (21.5 s of task GC per bench rep at sf0.1)
    val docsF = ScaleOps.fanOutCompute(docs)
    val st = "__pii"
    docsF
      .withColumn(st, graft.expr.PiiScrubStats.piiScrubStats(col(textCol)))
      .withColumn("n_urls", col(s"$st.n_urls"))
      .withColumn("n_emails", col(s"$st.n_emails"))
      .withColumn("n_ibans", col(s"$st.n_ibans"))
      .withColumn("n_ccs", col(s"$st.n_ccs"))
      .withColumn("n_phones", col(s"$st.n_phones"))
      .withColumn("n_ids", col(s"$st.n_ids"))
      .withColumn("scrubbed_pii", col(s"$st.scrubbed_pii"))
      .drop(st)
  }

  /** The composable built-in form of [[withPiiScrub]] — retained as the
    * semantic reference the kernel must match bit-for-bit (ExprSpec pins
    * kernel == Ref on the planted PII fixture plus the sf corpus). */
  private[graft] def withPiiScrubRef(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val docsF = docs
    val urlSql = urlRe.replace("\\", "\\\\")
    val emailSql = emailRe.replace("\\", "\\\\")
    val e164Sql = phoneE164Re.replace("\\", "\\\\")
    val sepSql = phoneSepRe.replace("\\", "\\\\")
    val ccSql = ccRe.replace("\\", "\\\\")
    val ibanSql = ibanRe.replace("\\", "\\\\")
    val ssnSql = ssnRe.replace("\\", "\\\\")
    val idRunSql = idRunRe.replace("\\", "\\\\")
    // per-candidate REPLACEMENT arrays, in match order: '<IBAN>'/'<CC>'
    // when the check digit passes, the candidate verbatim when it fails —
    // zipped back between the split() parts so substitution is anchored
    // to the match position, never a global literal replace
    val ibanRepl =
      s"transform(transform(regexp_extract_all(__s3, '$ibanSql', 0), " +
        "c -> named_struct('c', c, 'n', length(replace(c, ' ', '')), " +
        "'rs', concat(substring(replace(c, ' ', ''), 5), " +
        "substring(replace(c, ' ', ''), 1, 4)))), " +
        s"p -> CASE WHEN p.n >= 15 AND p.n <= 34 " +
        s"AND ${ibanMod97Sql("p.rs")} = 1 THEN '<IBAN>' ELSE p.c END)"
    val ccRepl =
      s"transform(transform(regexp_extract_all(__s4, '$ccSql', 0), " +
        "c -> named_struct('c', c, 'ds', regexp_replace(c, '[ -]', ''))), " +
        s"p -> CASE WHEN ${luhnOkSql("p.ds")} THEN '<CC>' ELSE p.c END)"
    // rebuild: parts[1] + repl[1] + parts[2] + … — |parts| = |repl| + 1
    // because split and regexp_extract_all apply the same regex to the
    // same string. sequence(1, 0) would descend, so the empty-match case
    // is guarded explicitly.
    def rejoin(src: String, parts: String, repl: String): String =
      s"CASE WHEN size($repl) = 0 THEN $src ELSE " +
        s"aggregate(sequence(1, size($repl)), element_at($parts, 1), " +
        s"(acc, i) -> concat(acc, element_at($repl, i), " +
        s"element_at($parts, i + 1))) END"
    docsF
      .withColumn("__s1", regexp_replace(col(textCol), urlRe, "<URL>"))
      .withColumn("n_urls",
        size(expr(s"regexp_extract_all($textCol, '$urlSql', 0)"))
          .cast("bigint"))
      .withColumn("__s2", regexp_replace(col("__s1"), emailRe, "<EMAIL>"))
      .withColumn("n_emails",
        size(expr(s"regexp_extract_all(__s1, '$emailSql', 0)"))
          .cast("bigint"))
      .withColumn("__s3", regexp_replace(col("__s2"), phoneE164Re, "<PHONE>"))
      .withColumn("__n_e164",
        size(expr(s"regexp_extract_all(__s2, '$e164Sql', 0)")))
      .withColumn("__iban_r", expr(ibanRepl))
      .withColumn("__iban_p", expr(s"split(__s3, '$ibanSql', -1)"))
      .withColumn("__s4", expr(rejoin("__s3", "__iban_p", "__iban_r")))
      .withColumn("n_ibans",
        size(expr("filter(__iban_r, x -> x = '<IBAN>')")).cast("bigint"))
      .withColumn("__cc_r", expr(ccRepl))
      .withColumn("__cc_p", expr(s"split(__s4, '$ccSql', -1)"))
      .withColumn("__s5", expr(rejoin("__s4", "__cc_p", "__cc_r")))
      .withColumn("n_ccs",
        size(expr("filter(__cc_r, x -> x = '<CC>')")).cast("bigint"))
      .withColumn("__s6", regexp_replace(col("__s5"), phoneSepRe, "<PHONE>"))
      .withColumn("n_phones",
        (col("__n_e164") +
          size(expr(s"regexp_extract_all(__s5, '$sepSql', 0)")))
          .cast("bigint"))
      .withColumn("__s7", regexp_replace(col("__s6"), ssnRe, "<ID>"))
      .withColumn("scrubbed_pii",
        regexp_replace(col("__s7"), idRunRe, "<ID>"))
      .withColumn("n_ids",
        (size(expr(s"regexp_extract_all(__s6, '$ssnSql', 0)")) +
          size(expr(s"regexp_extract_all(__s7, '$idRunSql', 0)")))
          .cast("bigint"))
      .drop("__s1", "__s2", "__s3", "__s4", "__s5", "__s6", "__s7",
        "__n_e164", "__iban_r", "__iban_p", "__cc_r", "__cc_p")
  }

  /** Winnowing document fingerprint (the MOSS scheme): hash every char
    * k-gram, slide a w-wide window, keep each window's minimum — guarantees
    * any shared substring of length >= w + k - 1 contributes a shared
    * fingerprint, which is what makes it the partial-overlap/plagiarism
    * detector exact dedup can't be. Gram hash here is md5-hex (string min
    * is engine-neutral, so the op sits under the DuckDB hash gate); the
    * compiled Rabin-Karp kernel in graft.expr.RollingWinnow is the 100 TB
    * path — same selection algorithm, O(1) incremental gram hash. */
  def withWinnowedFingerprint(docs: DataFrame, textCol: String = "text",
      k: Int = 8, w: Int = 8): DataFrame =
    docs
      .withColumn("winnow_fp",
        graft.expr.Md5Winnow.md5Winnow(col(textCol), k, w))
      .withColumn("n_fp",
        coalesce(size(col("winnow_fp")).cast("bigint"), lit(0L)))
      .withColumn("fp_digest",
        when(col("winnow_fp").isNotNull,
          md5(array_join(col("winnow_fp"), " "))))

  /** MOSS-style near-dup candidate pairs: documents sharing >= `minShared`
    * winnowed fingerprints, with the shared count and a containment score
    * (shared / smaller fingerprint set) — the partial-overlap detector
    * that catches "doc B embeds a paragraph of doc A", which whole-doc
    * MinHash dilutes below threshold.
    *
    * Scale: fingerprints are winnowing-sparse (~2/(w+1) of positions), so
    * the inverted list is a fraction of the token stream; the only joins
    * are equi on the fingerprint hash. Pair volume per fingerprint is
    * df², so fingerprints appearing in more than `maxPostings` docs are
    * dropped before pairing — they are boilerplate with no discriminative
    * value (MOSS does the same), and the cap bounds the worst bucket's
    * pair volume. The fingerprint table is
    * cached: the postings explode and the per-doc sizes both consume it. */
  def winnowOverlapPairs(docs: DataFrame, textCol: String = "text",
      k: Int = 8, w: Int = 8, minShared: Int = 2,
      maxPostings: Int = 50, minContainment: Double = 0.0): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    require(maxPostings >= 2, "maxPostings < 2 would drop every shared fingerprint")
    val fps = Pins.cache(
      withWinnowedFingerprint(
          ScaleOps.fanOutCompute(docs.select(col("doc_id"), col(textCol))),
          textCol, k, w)
        .filter(col("winnow_fp").isNotNull)
        .select(col("doc_id"), col("n_fp"), col("winnow_fp")))
    // NOT unhexed to a binary key (r18 measured): narrowing the postings
    // key to the 16-byte digest regressed the paired A/B 2.9→3.8 s — the
    // per-row unhex projection and binary-key hashing cost more than the
    // ~45% shuffle-byte cut saves at these shuffle sizes
    val ex = fps.select(col("doc_id"), explode(col("winnow_fp")).as("f"))
    val rare = ex.groupBy("f")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= maxPostings)
      .select("f")
    val ex2 = ex.join(rare, Seq("f"))
    val pairs = ex2.select(col("f"), col("doc_id").as("doc_a"))
      .join(ex2.select(col("f"), col("doc_id").as("doc_b")), Seq("f"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val sizes = fps.select(col("doc_id"), col("n_fp"))
    pairs
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n_fp" -> "n_fp_a")), Seq("doc_a"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n_fp" -> "n_fp_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Built-in-functions form of the winnowing selection — the semantic
    * reference the compiled Md5Winnow kernel must match bit-for-bit
    * (NeutralSpec). Each gram's md5 is recomputed once per covering
    * window through interpreted lambdas (w times); sequence(1, n) steps
    * backwards for n < 1, so short texts short-circuit to NULL. */
  private[graft] def winnowRef(textCol: String, k: Int = 8,
      w: Int = 8): Column = expr(
    s"""CASE WHEN length($textCol) < $k THEN NULL ELSE
       |  array_sort(array_distinct(
       |    transform(
       |      sequence(1, greatest(length($textCol) - ${k - 1} - ${w - 1}, 1)),
       |      j -> array_min(transform(sequence(j, j + ${w - 1}),
       |             i -> CASE WHEN i <= length($textCol) - ${k - 1}
       |                       THEN md5(substring($textCol, i, $k)) END)))))
       |END""".stripMargin)

  /** Canonical text normalization — the pre-fingerprint/pre-tokenize
    * cleanup pass (lowercase, non-alphanumerics to spaces, whitespace
    * collapsed, trimmed). Map-only; patterns stay in the RE2 subset so the
    * identical regexes run in the oracle. Emits the normalized text, its
    * length, and an md5 equality witness. */
  def withNormalizedText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("norm_text",
        trim(regexp_replace(
          regexp_replace(lower(col(textCol)), "[^a-z0-9\\s]", " "),
          "\\s+", " ")))
      .withColumn("norm_chars", length(col("norm_text")).cast("bigint"))
      .withColumn("norm_hash", md5(col("norm_text")))

  /** Content fingerprints: md5 of the raw text plus an order-insensitive
    * canonical fingerprint (md5 of the sorted distinct word set — the
    * "bag of words" fingerprint used for shuffled-duplicate detection). */
  def withFingerprints(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("text_md5", md5(col(textCol)))
      .withColumn("canon_fp",
        md5(array_join(array_sort(array_distinct(words(textCol))), " ")))
      .withColumn("fp_prefix", substring(col("canon_fp"), 1, 8))

  /** Apply one BPE merge (a, b) → a+b to a symbol array: a left fold that
    * greedily merges leftmost non-overlapping occurrences — the exact
    * semantics the oracle's list_reduce reruns (Spark starts the fold from
    * an empty array, DuckDB from the first singleton; the step sequences
    * coincide). Built with Column lambdas, so symbols containing quotes
    * never meet a SQL-literal escape. */
  private def applyBpeMerge(s: Column, a: String, b: String): Column =
    // compiled single-scan kernel — the composable fold below
    // ([[applyBpeMergeRef]], ExprSpec-pinned) re-slices the accumulator
    // array per element (O(len²) allocations per word per merge round)
    graft.expr.BpeMergeFold.bpeMergeFold(s, a, b)

  /** Composable reference form of [[applyBpeMerge]] (ExprSpec pins the
    * kernel against this). */
  private[graft] def applyBpeMergeRef(s: Column, a: String, b: String): Column =
    aggregate(s, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Composable reference form of the per-word char-symbol split
    * (ExprSpec pins [[graft.expr.CharSyms]] against this). */
  private[graft] val charSymsRef: Column =
    expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")

  /** The byte-pair-encoding training inner loop: `rounds` greedy merges
    * over the word-internal character symbols of the corpus, each round
    * picking the most frequent adjacent symbol pair (count desc, then
    * lexicographic — fully deterministic) and rewriting every word's
    * symbol sequence. Returns the merge table
    * (round, pair_a, pair_b, merged, cnt) — the artifact a tokenizer fit
    * produces.
    *
    * Scale shape: the corpus reduces ONCE to (word, count) — vocabulary-
    * sized, not corpus-sized — and every round is one explode + partial-
    * aggregated pair count plus a map-only fold rewrite over that
    * vocabulary table. The driver carries one (pair, count) row per round
    * (the fitted model parameter, not data) — the same contract as the
    * convergence counts in the iterative operators. */
  def bpeTopMerges(docs: DataFrame, textCol: String = "text",
      rounds: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeFit(docs, textCol, rounds)
      .toDF("round", "pair_a", "pair_b", "merged", "cnt")
  }

  /** The fitted merge list (round, a, b, merged, count) as local data —
    * a tokenizer model is parameters, not a dataset. */
  def bpeFit(docs: DataFrame, textCol: String = "text",
      rounds: Int = 4): Seq[(Int, String, String, String, Long)] = {
    val wordCounts = docs
      .select(explode(words(textCol)).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wc"))
    var syms = Pins.cache(wordCounts.select(col("wc"),
      graft.expr.CharSyms.charSyms(col("w")).as("s")))
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val top = syms
        .filter(size(col("s")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(s) - 1), i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1)
        .collect()
      require(top.nonEmpty, s"no adjacent pairs left to merge in round $r")
      val (a, b, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((r, a, b, a + b, cnt))
      syms = Pins.advance(syms,
        syms.select(col("wc"), applyBpeMerge(col("s"), a, b).as("s")))
    }
    Pins.release(syms)
    merges.result()
  }

  /** Fit once and persist the merge table under `dir` (parquet: round,
    * pair_a, pair_b, merged, cnt — the tokenizer model artifact).
    * Deterministic fit ⇒ byte-identical on rebuild, so served
    * tokenization shares the fit form's oracle. */
  def bpeBuild(docs: DataFrame, dir: String, textCol: String = "text",
      rounds: Int = 4): Unit =
    Models.save(docs.sparkSession, dir)(
      _.write("merges", bpeTopMerges(docs, textCol, rounds)))

  /** Tokenize against a PERSISTED merge table ([[bpeBuild]]) — no fit:
    * the merges (model parameters, `rounds` rows) load to the driver and
    * compile into the same map-only fold chain [[bpeTokenize]] builds.
    * The apply half of the tokenizer's fit/apply split. */
  def bpeTokenizeServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, docs: DataFrame, textCol: String = "text"): DataFrame = {
    val fitted = Models.load(spark, dir, "merges")
      .select("round", "pair_a", "pair_b")
      .collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    tokenizeWith(docs, textCol, fitted)
  }

  /** Tokenize the corpus with its own fitted BPE merges: per doc, the
    * word count and the post-merge token count (characters minus the
    * merges that fired). Fit happens once (vocabulary-sized); application
    * is a map-only chain of the `rounds` merge folds over each word. */
  def bpeTokenize(docs: DataFrame, textCol: String = "text",
      rounds: Int = 4): DataFrame =
    tokenizeWith(docs, textCol,
      bpeFit(docs, textCol, rounds).map { case (_, a, b, _, _) => (a, b) })

  private def tokenizeWith(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val symsCol: Column = graft.expr.CharSyms.charSyms(col("w"))
    val folded = merges.foldLeft(symsCol) { case (c, (a, b)) =>
      applyBpeMerge(c, a, b)
    }
    val exploded = docs
      .select(col("doc_id"), explode(words(textCol)).as("w"))
      .filter(col("w") =!= "")
    // fold per DISTINCT word, not per occurrence: the interpreted merge
    // folds are the expensive part and the corpus repeats its vocabulary
    // ~50x — tokenize the vocabulary once and join the counts back
    val perWord = exploded.select("w").distinct()
      .select(col("w"), size(folded).cast("long").as("n_tok"))
    val perDoc = exploded
      .join(perWord, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_bpe_tokens"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_words", "n_bpe_tokens"))
  }

  // ---- Bigram LM quality scoring (fit/apply) ----------------------------

  /** Fit the bigram-LM quality model over a reference corpus: seen-bigram
    * conditional log-probs ln(c(w1,w2)/c(w1,*)) plus stupid-backoff unigram
    * scores ln(0.4 * tf / total) (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the backoff LM built for exactly
    * this web-scale counting shape). Every ln rounds to DECIMAL(18,6) at
    * the leaf, BEFORE any cross-row sum (the ln ulp contract), so scores
    * reproduce bit-exactly in any engine. Both model tables are bounded by
    * the reference vocabulary (pairs / words), not the corpus — two count
    * shuffles to fit, and the fitted model is what a serve-side join
    * ships, never the corpus.
    */
  def lmBigramModel(docs: DataFrame, textCol: String = "text")
      : (DataFrame, DataFrame) = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val ws = ScaleOps.fanOutCompute(docs)
      .select(
        filter(split(lower(trim(col(textCol))), "\\s+"), x => x =!= "").as("ws"))
    // n12 feeds both the context totals and the final join — cache the
    // vocabulary-bounded counts, re-scan the raw text for unigrams (the
    // token arrays would be corpus-sized; the counts are not)
    val n12 = Pins.cache(
      ws.filter(size(col("ws")) >= 2)
        .select(explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1))).as("pr"))
        .select(col("pr.0").as("w1"), col("pr.1").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n12")))
    val n1 = n12.groupBy("w1").agg(sum(col("n12")).as("n1"))
    val big = n12.join(n1, "w1")
      .select(col("w1"), col("w2"),
        log(col("n12").cast("double") / col("n1")).cast(dec).as("lp"))
    val uni = Pins.cache(
      ws.select(explode(col("ws")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("tf")))
    val tot = uni.agg(sum(col("tf")).as("total"))
    val bo = uni.join(broadcast(tot))
      .select(col("word"),
        log(lit(0.4) * col("tf").cast("double") / col("total")).cast(dec)
          .as("lp_bo"))
    (big, bo)
  }

  /** Apply half: score every adjacent-pair position against a fitted
    * model — seen bigrams at their conditional log-prob, unseen ones at
    * the w2 backoff score. Positions whose w2 is outside the reference
    * vocabulary are out of the model's domain and drop at the vocabulary
    * join, so `n_scored` counts in-vocabulary positions. One (w1,w2)
    * equi join against the bigram table plus one broadcast vocabulary
    * join; the scored corpus is never aggregated corpus-wide — serving
    * streams at scan speed and the per-doc avg is one partial-agg
    * shuffle.
    */
  def lmBigramScoreWith(docs: DataFrame, big: DataFrame, bo: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    ScaleOps.fanOutCompute(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol),
        filter(split(lower(trim(col(textCol))), "\\s+"), x => x =!= "").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col(idCol), explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("pr"))
      .select(col(idCol), col("pr.0").as("w1"), col("pr.1").as("w2"))
      .join(big, Seq("w1", "w2"), "left")
      .join(broadcast(bo.withColumnRenamed("word", "w2")), Seq("w2"))
      .select(col(idCol), coalesce(col("lp"), col("lp_bo")).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_scored"),
        (sum(col("lp")).cast("double") / count(lit(1))).as("avg_lp"))

  /** Fit-and-score in one call: the reference corpus is the deterministic
    * "lmfit"-salted half of `docs` (the CCNet shape — fit on a curated
    * reference, score the whole crawl), so the backoff path genuinely
    * fires on the unseen half's novel bigrams. */
  def lmBigramScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (big, bo) = lmBigramModel(
      docs.filter(Sampling.saltedBucket("lmfit", col(idCol)) < 50), textCol)
    lmBigramScoreWith(docs, big, bo, idCol, textCol)
  }

  /** Persist the fitted model (parquet: bigrams + backoff subdirs).
    * Deterministic fit ⇒ byte-identical on rebuild, so a served score
    * shares the fit form's oracle. */
  def lmBigramBuild(docs: DataFrame, dir: String, idCol: String = "doc_id",
      textCol: String = "text"): Unit = Pins.scoped {
    val (big, bo) = lmBigramModel(
      docs.filter(Sampling.saltedBucket("lmfit", col(idCol)) < 50), textCol)
    Models.save(docs.sparkSession, dir)(
      _.write("bigrams", big).write("backoff", bo))
  }

  /** Score against a PERSISTED model — zero fitting at serve time: the
    * daily-crawl scoring pass loads two vocabulary-bounded parquet tables
    * and joins. */
  def lmBigramServe(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    lmBigramScoreWith(docs,
      Models.load(spark, dir, "bigrams"),
      Models.load(spark, dir, "backoff"), idCol, textCol)

  /** Distinctive terms per group (Monroe/Colaresi/Quinn "Fightin' Words"
    * informative-Dirichlet log-odds): for each (group, word), the
    * z-scored log-odds of the word's usage in the group vs the REST of
    * the corpus, smoothed by a uniform +1 prior — the corpus-comparison
    * primitive a curation pipeline uses to characterize what each
    * source/domain is actually about (raw per-group counts just surface
    * stopwords; the log-odds delta cancels them, and the z denominator
    * damps rare-word noise the way plain PMI can't). Top-`k` terms per
    * group by z.
    *
    * Shuffle shape: one partial-aggregated (group, word) count, one
    * vocabulary-bounded word-total shuffle, per-group totals broadcast,
    * and the top-k is a map-side-pruned WindowGroupLimit — nothing
    * corpus-sized past the first count. Determinism: each ln rounds to
    * DECIMAL(18,6) before the subtraction (the repo-wide libm-ulp
    * contract); sqrt is IEEE-correctly-rounded, so the remaining
    * arithmetic is bit-identical cross-engine, and the final z rounds
    * to 6dp for the rank. */
  def distinctiveTerms(docs: DataFrame, groupCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    def lnr(c: Column): Column = log(c).cast(dec6).cast("double")
    val gw = Pins.cache(docs
      .select(col(groupCol).as("grp"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("grp", "word").agg(count(lit(1)).as("c_gw")))
    val wTot = gw.groupBy("word").agg(sum(col("c_gw")).as("c_w"))
    val gTot = gw.groupBy("grp").agg(sum(col("c_gw")).as("n_g"))
    val vocab = gw.agg(countDistinct(col("word")).as("v"),
      sum(col("c_gw")).as("n_total"))
    val joined = gw
      .join(wTot, "word")
      .join(broadcast(gTot), "grp")
      .join(broadcast(vocab))
    val a = lit(1.0) // uniform prior per word; a0 = V
    val inG = col("c_gw") + a
    val inGDenom = col("n_g") + col("v") - col("c_gw") - a
    val rest = col("c_w") - col("c_gw") + a
    val restDenom = col("n_total") - col("n_g") + col("v") - rest
    val delta = (lnr(inG) - lnr(inGDenom)) - (lnr(rest) - lnr(restDenom))
    val variance = lit(1.0) / inG + lit(1.0) / rest
    val z = (delta / sqrt(variance)).cast(dec6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("z").desc, col("word").asc)
    joined
      .select(col("grp"), col("word"), col("c_gw"), z.as("z"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("grp").as(groupCol), col("word"), col("c_gw"),
        col("z").cast("double").as("z"), col("rnk"))
  }
}
