package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Analytics
import graft.ops.Dedup
import graft.streaming.StreamOps

/** Property-based invariants (SURVEY §5.3): generated inputs, structural
  * laws that must hold for ANY data — streak ≤ wins, unpivot doubles rows,
  * wins+losses+nc = total, session events conserve, dedup is idempotent.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** Deterministic property driver: evaluate the generator at fixed seeds
    * (scalatestplus isn't in the offline cache; raw ScalaCheck is). */
  private def forSamples[T](gen: Gen[T], n: Int = 5)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val fighters = Gen.oneOf("Ana", "Bo", "Cy", "Dee", "Ed", "Fay")
  private val outcomes = Gen.oneOf("W/L", "L/W", "D/D", "NC/NC")

  private val fightGen = for {
    f1 <- fighters
    f2 <- fighters.suchThat(_ != f1)
    out <- outcomes
    ev <- Gen.choose(1, 12)
    rnd <- Gen.choose(1, 5)
  } yield (s"Event $ev", s"$f1 vs. $f2", out, "Lightweight Bout",
    "Decision - Unanimous", rnd.toString, "5:00", "3 Rnd (5-5-5)",
    s"http://f/${f1}_${f2}_$ev$rnd${out.hashCode.abs}")

  private def resultsDf(rows: List[(String, String, String, String, String, String, String, String, String)]) =
    Staging0.stg(spark, rows)

  object Staging0 {
    def stg(spark: SparkSession,
        rows: List[(String, String, String, String, String, String, String, String, String)]) = {
      import spark.implicits._
      graft.model.Staging.stgFightResults(
        rows.toDF("event", "bout", "outcome", "weightclass", "method",
          "round", "time", "time_format", "url"))
    }
  }

  test("best record: wins + losses + nc == total_fights, and unpivot doubles rows") {
    forSamples(Gen.listOfN(40, fightGen)) { rows =>
      if (rows.nonEmpty) {
        val stg = resultsDf(rows)
        val rec = Analytics.fightersBestRecord(stg)
        val bad = rec.filter(col("wins") + col("losses") + col("nc") =!= col("total_fights"))
        assert(bad.count() == 0)
        // unpivot law: total fight-slots across fighters = 2 x fights
        val slots = stg.select(col("fighter_1").as("f"))
          .unionByName(stg.select(col("fighter_2").as("f")))
          .filter(col("f").isNotNull && col("f") =!= "")
        assert(slots.count() == 2L * stg.count())
      }
    }
  }

  test("longest winning streak never exceeds total wins") {
    forSamples(Gen.listOfN(40, fightGen)) { rows =>
      if (rows.nonEmpty) {
        val stg = resultsDf(rows)
        val events = rows.map(_._1).distinct
          .map(e => (e, s"http://e/$e", "Jan 1, 2000", "X"))
          .toDF("event", "url", "date", "location")
        val stgEv = graft.model.Staging.stgEventDetails(events)
        // streaks at threshold 1 so small corpora still produce rows
        val streaks = Analytics.fightersByLongestWinningStreak(stg, stgEv)
        val wins = Analytics.fightersByWins(stg)
        val joined = streaks.join(wins, "fighter")
        val bad = joined.filter(col("longest_win_streak") > col("wins"))
        assert(bad.count() == 0)
      }
    }
  }

  test("sessionization conserves events and session counts are positive") {
    val evGen = for {
      user <- Gen.choose(1L, 5L)
      minute <- Gen.choose(0L, 5000L)
    } yield (minute, user)
    forSamples(Gen.listOfN(60, evGen)) { rows =>
      if (rows.nonEmpty) {
        val distinctRows = rows.distinct
        val df = distinctRows.zipWithIndex
          .map { case ((m, u), i) => (i.toLong, m, u) }
          .toDF("event_id", "m", "user_id")
          .withColumn("ts", expr("timestamp_seconds(m * 60)"))
        val stats = StreamOps.sessionStats(df)
        val totalBySessions = StreamOps.sessionize(df)
          .groupBy("user_id", "session_id").count()
          .agg(sum("count")).as[Long].head()
        assert(totalBySessions == distinctRows.size.toLong)
        assert(stats.filter(col("n_sessions") < 1).count() == 0)
        assert(stats.filter(col("max_session_events") < 1).count() == 0)
      }
    }
  }

  test("vector kernels: cosine bounded and symmetric, buckets scale-invariant") {
    import graft.expr.VecExprs
    val vecGen = Gen.listOfN(16, Gen.choose(-4.0f, 4.0f))
    forSamples(Gen.zip(vecGen, vecGen), 5) { case (av, bv) =>
      val df = Seq((av.toArray, bv.toArray, av.map(_ * 1.5f).toArray))
        .toDF("a", "b", "a_scaled")
      val r = df.select(
        VecExprs.cosineSim(col("a"), col("b")).as("ab"),
        VecExprs.cosineSim(col("b"), col("a")).as("ba"),
        VecExprs.cosineSim(col("a"), col("a")).as("aa"),
        graft.expr.Md5LshBuckets.lshBuckets(col("a"), 8, 4).as("ba4"),
        graft.expr.Md5LshBuckets.lshBuckets(col("a_scaled"), 8, 4).as("bs4")).head()
      val ab = r.getDouble(0)
      assert(ab >= -1.0 - 1e-12 && ab <= 1.0 + 1e-12)
      assert(ab == r.getDouble(1), "cosine must be exactly symmetric")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-12 || r.getDouble(2) == 0.0)
      assert(r.getSeq[Long](3).size == 4)
      assert(r.getSeq[Long](3) == r.getSeq[Long](4),
        "positive scaling must not move any bucket")
    }
  }

  test("stateful sessionization agrees with the lag/cumsum form off-boundary") {
    implicit val s: SparkSession = spark
    val evGen = for {
      user <- Gen.choose(1L, 4L)
      minute <- Gen.choose(0L, 3000L)
    } yield (minute, user)
    forSamples(Gen.listOfN(50, evGen), 3) { rows =>
      val distinctRows = rows.distinct
      if (distinctRows.nonEmpty) {
        val df = distinctRows.zipWithIndex
          .map { case ((m, u), i) => (i.toLong, m, u) }
          .toDF("event_id", "m", "user_id")
          .withColumn("ts", expr("timestamp_seconds(m * 60)"))
        // gap 1801s: minute-grained data can't land on the boundary, where
        // the two forms intentionally differ (>= vs >)
        val stateful = StreamOps.sessionsWithState(df, gapSeconds = 1801)
          .toDF()
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("session_events").as("total"))
          .orderBy("user_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        val cumsum = StreamOps.sessionStats(df, gapSeconds = 1801)
        val viaLag = StreamOps.sessionize(df, gapSeconds = 1801)
          .groupBy("user_id")
          .agg(countDistinct("session_id").as("n"), count(lit(1)).as("total"))
          .orderBy("user_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(stateful == viaLag)
        assert(cumsum.filter(col("n_sessions") < 1).count() == 0)
      }
    }
  }

  test("winnowing guarantee holds for generated docs with a shared substring") {
    import graft.expr.RollingWinnow.rollingWinnow
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "omega", "sigma")
    val docGen = for {
      pre <- Gen.listOfN(6, word)
      post <- Gen.listOfN(6, word)
    } yield (pre, post)
    // shared block: 30+ chars >> w + k - 1 = 15
    val shared = "the five boxing wizards jump quickly tonight"
    forSamples(Gen.zip(docGen, docGen), 5) { case ((p1, s1x), (p2, s2x)) =>
      val docs = Seq(
        (1L, s"${p1.mkString(" ")} $shared ${s1x.mkString(" ")}"),
        (2L, s"${p2.mkString(" ")} $shared ${s2x.mkString(" ")}"))
        .toDF("doc_id", "text")
      val fp = docs.select(col("doc_id"), rollingWinnow(col("text")).as("fp"))
        .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
      assert((fp(1L) & fp(2L)).nonEmpty,
        "docs sharing a >= w+k-1 substring must share a rolling-hash fingerprint")
    }
  }

  test("resampler is invariant under repartitioning and monotone in boost") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val weights = graft.ops.CorpusQuality.temperatureMixWeights(docs)
    def rows(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.resampleByWeight(d, weights)
        .orderBy("doc_id", "copy").collect().toSeq
    // content-independent md5 buckets: the SAME rows regardless of layout
    assert(rows(docs) == rows(docs.repartition(7)))
    assert(rows(docs) == rows(docs.coalesce(1)))
    // doubling every boost at least doubles floor-copies; no doc vanishes
    import org.apache.spark.sql.functions.col
    val doubled = graft.ops.Sampling.resampleByWeight(docs,
      weights.withColumn("boost", col("boost") * 2))
    assert(doubled.count() >= 2 * (rows(docs).size - docs.count()) + docs.count(),
      "doubling boosts must not shrink the resampled corpus")
    assert(doubled.select("doc_id").distinct().count() == docs.count(),
      "with boost >= 1 every doc must survive")
  }

  test("DSIR weights: layout-invariant, gram-conserving, and shift-" +
      "invariant in selection order") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val target = col("lang") === "en"
    def rows(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Dsir.dsirWeights(d, target)
        .select("doc_id", "n_grams", "dsir_logw")
        .orderBy("doc_id").collect().toSeq
    // decimal-exact sums + md5 buckets: the SAME weights regardless of
    // physical layout (double accumulation would break this)
    assert(rows(docs) == rows(docs.repartition(7)))
    assert(rows(docs) == rows(docs.coalesce(1)))
    // gram conservation: per-doc feature counts sum to the corpus total
    // (unigrams + adjacent bigrams = 2*len - 1 per non-empty doc)
    val w = graft.ops.Dsir.dsirWeights(docs, target)
    val fromWeights = w.agg(fsum("n_grams")).head().getLong(0)
    val expected = docs
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.filter(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.lower(
              org.apache.spark.sql.functions.trim(col("text"))), "\\s+"),
          x => x =!= "")).as("n"))
      .filter(col("n") > 0)
      .agg(fsum(org.apache.spark.sql.functions.expr("2 * n - 1")))
      .head().getLong(0)
    assert(fromWeights == expected,
      s"gram count $fromWeights != conservation law $expected")
    // Gumbel top-k nests: the top-10 is a prefix of the top-30
    val k10 = graft.ops.Dsir.dsirResample(w, 10).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val k30 = graft.ops.Dsir.dsirResample(w, 30).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(k30.take(10) == k10, "top-k selection must nest")
  }

  test("corpus dedup is idempotent") {
    val textGen = Gen.listOfN(12,
      Gen.oneOf("spark table scan", "row batch merge", "key value hash"))
      .map(_.mkString(" "))
    forSamples(Gen.listOfN(25, textGen), 3) { texts =>
      if (texts.nonEmpty) {
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val once = Dedup.dedupCorpus(docs, minJaccard = 0.9)
        val twice = Dedup.dedupCorpus(once, minJaccard = 0.9)
        assert(once.select("doc_id").as[Long].collect().sorted.toSeq ==
          twice.select("doc_id").as[Long].collect().sorted.toSeq)
      }
    }
  }

  test("bigram LM scores: non-positive, position-bounded, and zero for deterministic text") {
    val textGen = Gen.listOfN(10,
      Gen.oneOf("spark table scan", "row batch merge", "key value hash",
        "scan row key", "merge value table"))
      .map(_.mkString(" "))
    forSamples(Gen.listOfN(20, textGen), 3) { texts =>
      if (texts.nonEmpty) {
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val (big, bo) = graft.ops.TextAnalysis.lmBigramModel(docs)
        val out = graft.ops.TextAnalysis.lmBigramScoreWith(docs, big, bo)
          .as[(Long, Long, Double)].collect()
        val nTok = docs
          .select(col("doc_id"),
            size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
          .as[(Long, Long)].collect().toMap
        // laws: probabilities never exceed 1 (avg log-prob <= 0), every
        // doc with >= 2 tokens scores, and scored positions are at most
        // the doc's adjacent-pair count
        assert(out.length == nTok.count(_._2 >= 2))
        out.foreach { case (id, n, avg) =>
          assert(avg <= 0.0, s"doc $id: avg_lp $avg > 0")
          assert(n >= 1 && n <= nTok(id) - 1, s"doc $id: n_scored $n")
        }
      }
    }
    // a single repeated bigram is fully deterministic under the model fit
    // on it: conditional prob 1 everywhere -> avg_lp exactly ln(1) = 0
    val det = Seq((1L, "a b a b a b a")).toDF("doc_id", "text")
    val (bigD, boD) = graft.ops.TextAnalysis.lmBigramModel(det)
    val d = graft.ops.TextAnalysis.lmBigramScoreWith(det, bigD, boD)
      .as[(Long, Long, Double)].head()
    assert(d == ((1L, 6L, 0.0)))
  }

  test("duplicated spans: disjoint, in-bounds, and conserved under scrubbing") {
    val textGen = Gen.listOfN(15,
      Gen.oneOf("alpha beta gamma delta", "omicron pi rho sigma",
        "one two three four five", "alpha beta gamma delta epsilon"))
      .map(_.mkString(" "))
    forSamples(Gen.listOfN(12, textGen), 3) { texts =>
      if (texts.nonEmpty) {
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val spans = Dedup.duplicatedSpans(docs, k = 5)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val nTok = docs
          .select(col("doc_id"),
            size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
          .as[(Long, Long)].collect().toMap
        // structural laws: 0 <= start <= end < n_tokens, length matches,
        // spans of one doc pairwise disjoint and non-adjacent (else merged)
        spans.foreach { case (d, s, e, n) =>
          assert(s >= 0 && s <= e && e < nTok(d) && n == e - s + 1)
        }
        spans.groupBy(_._1).values.foreach { ss =>
          ss.sortBy(_._2).sliding(2).foreach {
            case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1 + 1)
            case _ =>
          }
        }
        // conservation: scrub drops exactly the span-covered tokens
        val dropped = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum)
        Dedup.scrubSpans(docs, k = 5).collect().foreach { r =>
          val (d, kept, drop) = (r.getLong(0), r.getLong(2), r.getLong(3))
          assert(kept + drop == nTok(d))
          assert(drop == dropped.getOrElse(d, 0L))
        }
      }
    }
  }

  test("retention cohort matrix: offset-0 is full, n_active bounded by " +
      "cohort size, rates in (0, 1]") {
    val rows = queries.Registry.byName("q_ts_retention_cohorts")
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, act, size, rate) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(act <= size, s"active $act exceeds cohort size $size")
      assert(rate > 0 && rate <= 1.0)
      // a user's first-purchase week IS activity: offset 0 is everyone
      if (off == 0) assert(act == size, s"offset-0 must be the full cohort")
    }
  }

  test("m4 downsample: min <= first/last <= max per bucket, and buckets " +
      "conserve the event count") {
    val ev = queries.T.events(spark, "/root/testdata/sf0.001")
    val rows = queries.Registry.byName("q_ts_m4_downsample")
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, fv, lv) =
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(mn <= mx && mn <= fv && fv <= mx && mn <= lv && lv <= mx,
        s"bucket extrema out of order: $r")
      assert(r.getLong(2) > 0)
    }
    assert(rows.map(_.getLong(2)).sum == ev.count(),
      "downsample buckets must partition every event exactly once")
  }

  test("rolling z-score: top anomalies are finite, ranked by |z| " +
      "non-increasing, and capped at 20") {
    val rows = queries.Registry.byName("q_ts_rolling_zscore")
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val zs = rows.map(r => math.abs(r.getDouble(3)))
    zs.foreach(z => assert(!z.isNaN && !z.isInfinite))
    zs.sliding(2).foreach {
      case Array(a, b) => assert(a >= b, "|z| ranking must be descending")
      case _ =>
    }
  }

  test("pair support: supports in (0,1], pairs bounded by baskets and " +
      "the item vocabulary, lift positive") {
    val rows = queries.Registry.byName("q_mb_pair_support")
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val ev = queries.T.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id").isNotNull)
    val nBaskets = ev.select(col("user_id"), to_date(col("ts")))
      .distinct().count()
    val vocab = ev.select("event_type").distinct().count()
    assert(rows.length <= vocab * (vocab - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs must be ordered")
      assert(r.getLong(2) > 0 && r.getLong(2) <= nBaskets)
      val (sup, lift) = (r.getDouble(3), r.getDouble(4))
      assert(sup > 0 && sup <= 1.0 && lift > 0)
    }
  }

  test("VP8 codec law: for arbitrary frames (dims, modes, planted " +
      "levels) the decoder reproduces the encoder's reconstruction " +
      "bit-exactly") {
    import graft.ops.{Multimodal, Vp8}
    val frameGen = for {
      w <- Gen.choose(4, 70)
      h <- Gen.choose(4, 55)
      modeSeed <- Gen.choose(0, 1000)
      lvlSeed <- Gen.choose(0, 1000)
      density <- Gen.choose(1, 5) // how often blocks carry coefficients
      fType <- Gen.choose(0, 1) // loop filter: normal / simple
      fLevel <- Gen.oneOf(0, 1, 5, 14, 15, 26, 39, 40, 63) // straddles
      // both key-frame hev thresholds and the disabled level
      fSharp <- Gen.choose(0, 7)
    } yield (w, h, modeSeed, lvlSeed, density, fType, fLevel, fSharp)
    forSamples(frameGen, n = 10) {
      case (w, h, ms, ls, density, fType, fLevel, fSharp) =>
      // five luma modes incl. B_PRED (4) with all ten 4x4 sub-modes
      // rotating (spec ids since r13) — steering around the one
      // out-of-subset combo: above-right modes (VE/LD/VL) in column 3
      // of the rightmost MB below the top row
      val mbColsP = (w + 15) / 16
      def mode(mx: Int, my: Int): Int = (mx * 7 + my * 13 + ms) % 5
      def bmode(mx: Int, my: Int, b: Int): Int = {
        val m = (mx + my * 2 + b * 3 + ms) % 10
        if ((m == 2 || m == 4 || m == 7) && b % 4 == 3 &&
          mx == mbColsP - 1 && my > 0) Seq(0, 1, 3, 5, 6, 8, 9)(m % 7)
        else m
      }
      def lvl(seed: Int, bound: Int): Int = {
        val r = (seed * 1103515245 + 12345) & 0x7fffffff
        (r % (2 * bound + 1)) - bound
      }
      def y2(mx: Int, my: Int): Array[Int] = {
        val a = new Array[Int](16)
        if ((mx + my + ls) % density == 0) {
          a(0) = lvl(mx * 31 + my * 57 + ls, 120)
          a(2) = lvl(mx + my * 3 + ls, 8)
          a(11) = lvl(mx * 5 + my + ls, 2)
        }
        a
      }
      def yl(mx: Int, my: Int, b: Int): Array[Int] = {
        val a = new Array[Int](16)
        if ((mx + my + b + ls) % (density + 1) == 0) {
          a(1 + (b % 3)) = lvl(b * 17 + mx + my + ls, 60)
          a(5 + (b % 7)) = lvl(b + mx * 3 + ls, 15)
          a(15) = lvl(b * 2 + my + ls, 1)
        }
        a
      }
      val (bytes, expected) = Vp8.makeWebpLossyFrame(w, h, mode, y2, yl,
        bmode, filterType = fType, filterLevel = fLevel, sharpness = fSharp)
      val out = Multimodal.decodeGray(bytes)
      assert(out.isDefined,
        s"${w}x$h seed=($ms,$ls,$density,$fType,$fLevel,$fSharp) undecodable")
      val (dw, dh, g) = out.get
      assert(dw == w && dh == h)
      assert(g.sameElements(expected),
        s"${w}x$h seed=($ms,$ls,$density,$fType,$fLevel,$fSharp): " +
          "decode != encoder reconstruction")
    }
  }

  test("VP8 segmentation law: arbitrary segment maps, quant/filter " +
      "features (absolute and delta), and map-off frames decode " +
      "bit-exactly") {
    import graft.ops.{Multimodal, Vp8}
    val gen = for {
      w <- Gen.choose(17, 70)
      h <- Gen.choose(17, 50)
      seed <- Gen.choose(0, 100000)
      deltaMode <- Gen.oneOf(true, false)
      codeMap <- Gen.oneOf(true, true, false)
      fLevel <- Gen.oneOf(0, 10, 40)
      fSharp <- Gen.choose(0, 7)
    } yield (w, h, seed, deltaMode, codeMap, fLevel, fSharp)
    forSamples(gen, n = 8) { case (w, h, seed, deltaMode, codeMap,
        fLevel, fSharp) =>
      def rnd(i: Int): Int =
        ((i * 1103515245 + seed * 12345 + 6789) & 0x7fffffff)
      val segQ =
        if (deltaMode) Array.tabulate(4)(s => rnd(s * 3) % 33 - 16)
        else Array.tabulate(4)(s => rnd(s * 3) % 128)
      val segLf =
        if (deltaMode) Array.tabulate(4)(s => rnd(s * 5) % 31 - 15)
        else Array.tabulate(4)(s => rnd(s * 5) % 64)
      def segOf(mx: Int, my: Int): Int = rnd(mx * 7 + my * 11) % 4
      def mode(mx: Int, my: Int): Int = rnd(mx * 13 + my * 17) % 4 // 16×16
      def y2(mx: Int, my: Int): Array[Int] = {
        val a = new Array[Int](16)
        if ((mx + my + seed) % 2 == 0) {
          a(0) = rnd(mx * 31 + my * 57) % 161 - 80
          a(3) = rnd(mx + my * 3) % 9 - 4
        }
        a
      }
      def yl(mx: Int, my: Int, b: Int): Array[Int] = {
        val a = new Array[Int](16)
        if ((mx + my + b) % 3 == 0) a(1 + b % 5) = rnd(b * 17 + mx) % 13 - 6
        a
      }
      val (bytes, expected, eu, ev) = Vp8.makeWebpLossyFrameYuv(w, h,
        mode, y2, yl, filterType = 0, filterLevel = fLevel,
        sharpness = fSharp, segQIdx = segQ, segLfLvl = segLf,
        segOf = segOf, segDeltaMode = deltaMode, segCodeMap = codeMap)
      val out = Vp8.decodeYuv(bytes)
      assert(out.isDefined,
        s"${w}x$h seed=$seed delta=$deltaMode map=$codeMap undecodable")
      val (dw, dh, dy, du, dv) = out.get
      assert(dw == w && dh == h)
      assert(dy.sameElements(expected) && du.sameElements(eu) &&
        dv.sameElements(ev),
        s"${w}x$h seed=$seed delta=$deltaMode map=$codeMap " +
          s"lvl=$fLevel sharp=$fSharp: decode != reconstruction")
    }
  }

  test("JPEG progressive law: arbitrary planted frames decode equal to " +
      "the encoder simulation AND to the baseline coding of the same " +
      "levels") {
    import graft.ops.Jpeg
    val gen = for {
      w <- Gen.choose(9, 60)
      h <- Gen.choose(9, 50)
      hs <- Gen.choose(1, 2)
      vs <- Gen.choose(1, 2)
      ri <- Gen.oneOf(0, 0, 2, 5)
      seed <- Gen.choose(0, 100000)
      density <- Gen.choose(1, 4)
    } yield (w, h, hs, vs, ri, seed, density)
    forSamples(gen, n = 8) { case (w, h, hs, vs, ri, seed, density) =>
      def rnd(i: Int): Int =
        ((i * 1103515245 + seed * 12345 + 6789) & 0x7fffffff)
      def levels(c: Int, bx: Int, by: Int): Array[Int] = {
        val a = new Array[Int](64)
        a(0) = rnd(c * 41 + bx * 7 + by * 19) % 121 - 60
        if ((bx + by + c) % density == 0) {
          a(1 + rnd(bx + c) % 5) = rnd(bx * 3 + by) % 15 - 7
          a(15 + rnd(by * 3 + c) % 40) = rnd(bx + by * 5) % 13 - 6
          a(63) = rnd(bx * 11 + by + c) % 5 - 2
        }
        a
      }
      val (pb, (er, eg, eb)) =
        Jpeg.makeJpegProgressive(w, h, hs, vs, ri, levels)
      val out = Jpeg.decodeRgb(pb)
      assert(out.isDefined,
        s"${w}x$h $hs x$vs ri=$ri seed=$seed undecodable")
      val (dw, dh, r, g, b) = out.get
      assert(dw == w && dh == h)
      assert(r.sameElements(er) && g.sameElements(eg) &&
        b.sameElements(eb),
        s"${w}x$h $hs x$vs ri=$ri seed=$seed: decode != simulation")
      // cross-coding law: the completed progression equals the baseline
      val (bb, _) = Jpeg.makeJpegColor(w, h, hs, vs, 0, levels)
      val (_, _, br2, bg2, bb2) = Jpeg.decodeRgb(bb).get
      assert(r.sameElements(br2) && g.sameElements(bg2) &&
        b.sameElements(bb2),
        s"${w}x$h $hs x$vs ri=$ri seed=$seed: progressive != baseline")
    }
  }

  test("FLAC codec law: arbitrary streams (channels, depths, subframe " +
      "types, rice shapes, stereo modes, wasted bits) round-trip " +
      "sample-exactly") {
    import graft.ops.Flac
    import graft.ops.Flac.FlacFrameSpec
    val gen = for {
      nch <- Gen.choose(1, 2)
      bps <- Gen.oneOf(8, 12, 16)
      nFrames <- Gen.choose(1, 4)
      seed <- Gen.choose(0, 100000)
      varBlocks <- Gen.oneOf(true, false)
    } yield (nch, bps, nFrames, seed, varBlocks)
    forSamples(gen, n = 10) { case (nch, bps, nFrames, seed, varBlocks) =>
      def rnd(i: Int): Int =
        ((i * 1103515245 + seed * 12345 + 6789) & 0x7fffffff)
      val bsOpts = Array(192, 256, 320, 512)
      val specs = Seq.tabulate(nFrames) { f =>
        val asgn =
          if (nch == 2) { val a = rnd(f * 11) % 4; if (a == 3) 1 else 8 + a }
          else 0
        FlacFrameSpec(
          blockSize = if (varBlocks) bsOpts(rnd(f * 3) % 4) else 256,
          chAsgn = asgn,
          subframeType = rnd(f * 7) % 4,
          fixedOrder = rnd(f * 5) % 5,
          lpcOrder = 1 + rnd(f * 13) % 4,
          lpcShift = rnd(f * 17) % 4,
          riceMethod = rnd(f * 19) % 2,
          partOrder = rnd(f * 23) % 3,
          riceParam = 6 + rnd(f * 29) % 3,
          escapePartitions = rnd(f * 31) % 3 == 0,
          // mid = (L+R)>>1 may be odd even for even channels, so
          // wasted bits never ride the mid/side assignment here
          wastedBits = if (asgn != 10 && rnd(f * 37) % 4 == 0) 1 else 0)
      }
      def samp(f: Int, c: Int, k: Int): Int = {
        val bound = if (bps == 8) 40 else 100
        val base =
          if (specs(f).subframeType == 0)
            rnd(f * 43 + c * 7) % (2 * bound + 1) - bound
          else rnd(f * 101 + c * 53 + k * 3) % (2 * bound + 1) - bound
        base * (1 << specs(f).wastedBits)
      }
      val (bytes, expected) =
        Flac.makeFlac(44100, nch, bps, specs, samp, varBlocks)
      val out = Flac.decodeFlac(bytes)
      assert(out.isDefined, s"nch=$nch bps=$bps n=$nFrames seed=$seed " +
        s"var=$varBlocks undecodable")
      val dec = out.get
      assert(dec.channels == nch && dec.bps == bps)
      for (c <- 0 until nch)
        assert(dec.samples(c).sameElements(expected(c)),
          s"nch=$nch bps=$bps n=$nFrames seed=$seed var=$varBlocks: " +
            s"channel $c drifted")
    }
  }
}
