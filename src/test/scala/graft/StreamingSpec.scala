package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Structured Streaming parity: the SAME StreamOps transforms that feed the
  * batch oracle queries run under readStream (file source → watermark →
  * memory sink) and must produce the batch answer once the source drains —
  * Structured Streaming incrementalizes the identical logical plan.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def events = graft.queries.T.events(spark, sfDir)

  /** The on-disk schema, exactly as a raw scan sees it: older testdata
    * generations carry ts as TIMESTAMP(NANOS) (read as raw long via
    * nanosAsLong, converted after — same as T.events), newer ones as
    * TIMESTAMP(MICROS) (no conversion needed). */
  private lazy val rawSchema: StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").schema
  }

  /** Post-scan ts normalization matching T.events: long nanos → µs
    * timestamp; TIMESTAMP_NTZ (newer pyarrow generations) casts to the LTZ
    * TIMESTAMP event-time watermarks require — value-preserving under the
    * UTC session tz pinned above. */
  private def fixTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    rawSchema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** File stream sources need a directory; stage the single parquet file. */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("tumbling window counts: streaming == batch") {
    val batch = StreamOps.tumblingCounts(events)
      .orderBy("window_start", "event_type").collect().toSeq

    val stream = spark.readStream
      .schema(rawSchema)
      .parquet(streamDir)
      .transform(fixTs)
    val agg = StreamOps.tumblingCounts(stream.withWatermark("ts", "1 hour"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("tumbling_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("tumbling_out")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("stream-static dim enrichment: streaming == batch, no watermark needed") {
    val customer = graft.queries.T.customer(spark, sfDir)
    val batch = StreamOps.enrichedSegmentStats(events, customer)
      .orderBy("segment", "event_type").collect().toSeq
    val stream = spark.readStream
      .schema(rawSchema)
      .parquet(streamDir)
      .transform(fixTs)
    // stream-static equi join: static side broadcast per micro-batch,
    // zero join state — no watermark required even in complete mode
    val agg = StreamOps.enrichedSegmentStats(stream, customer)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("enrich_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("enrich_out")
      .orderBy("segment", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming exact admission: streaming == batch, zero state") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 250)
    // plant an exact copy of corpus doc 7 so the filter provably drops it
    // (sf0.001 has no natural exact dup across the 250 boundary)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionByName(corpus.filter(col("doc_id") === 7)
        .withColumn("doc_id", lit(51000L)))
    val batch = StreamOps.admitNewDocs(incoming, corpus)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val src = java.nio.file.Files.createTempDirectory("admit_src")
    incoming.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(incoming.schema).parquet(src.toString)
    val q = StreamOps.admitNewDocs(stream, corpus)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("admit_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("admit_out").orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
    assert(!batch.exists(_.getLong(0) == 51000L),
      "the planted exact duplicate must be dropped")
    assert(batch.size == incoming.count() - 1,
      "only the planted duplicate should be dropped at sf0.001")
  }

  test("foreachBatch near-dup admission matches the batch dedupAgainst") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
    val expected = graft.ops.Neutral.dedupAgainst(corpus, incoming)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val src = java.nio.file.Files.createTempDirectory("admitnd_src")
    val sink = java.nio.file.Files.createTempDirectory("admitnd_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("admitnd_ckpt")
    incoming.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(incoming.schema).parquet(src.toString)
    val q = StreamOps.admissionIngest(corpus, stream, sink.toString, ckpt.toString)
    q.awaitTermination(180000)
    val got = spark.read.parquet(sink.toString)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(got == expected)
  }

  test("served streaming admission dedups later micro-batches against earlier admissions") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 250)
    import spark.implicits._
    val batch1 = Seq(
      (70001L, "entirely fresh streaming content unlike the corpus zebra quark flux", "en", "t", 66L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch2 = Seq(
      (70002L, "entirely fresh streaming content unlike the corpus zebra quark flux tail", "en", "t", 71L),
      (70003L, "another wholly new streaming document about unrelated business matters", "en", "t", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val idx = java.nio.file.Files.createTempDirectory("admsrv_idx")
    graft.ops.Neutral.dedupIndexBuild(corpus, idx.toString)
    val src = java.nio.file.Files.createTempDirectory("admsrv_src")
    val sink = java.nio.file.Files.createTempDirectory("admsrv_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("admsrv_ckpt")
    // two source files, mtime-ordered -> two micro-batches at
    // maxFilesPerTrigger=1: the near-dup of batch 1's admission arrives
    // in a LATER micro-batch
    batch1.coalesce(1).write.mode("append").parquet(src.toString)
    Thread.sleep(1500)
    batch2.coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream.schema(batch1.schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = StreamOps.admissionIngestServed(spark, idx.toString, stream,
      sink.toString, ckpt.toString, minJaccard = 0.5)
    q.awaitTermination(180000)
    val got = spark.read.parquet(sink.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(70001L, 70003L),
      s"cross-batch near-dup not closed by the index append: $got")
  }

  test("streaming LM gate scores from the persisted model: streaming == batch") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    // plant an all-OOV doc: every bigram's w2 is outside the reference
    // vocabulary, so it has zero scorable positions and must be dropped
    // by BOTH paths (absent from the scored output entirely)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionByName(spark.createDataFrame(Seq(
        (52000L, "qqqxx1 qqqxx2 qqqxx3", "xx", "planted", 20L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val model = java.nio.file.Files.createTempDirectory("lmgate_model")
    graft.ops.TextAnalysis.lmBigramBuild(
      docs.filter(col("doc_id") < 250), model.toString)
    val expected = graft.ops.TextAnalysis
      .lmBigramServe(spark, model.toString, incoming)
      .filter(col("avg_lp") >= -3.5)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val src = java.nio.file.Files.createTempDirectory("lmgate_src")
    val sink = java.nio.file.Files.createTempDirectory("lmgate_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("lmgate_ckpt")
    incoming.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(incoming.schema).parquet(src.toString)
    val q = StreamOps.lmGateIngest(
      spark, model.toString, stream, sink.toString, ckpt.toString)
    q.awaitTermination(180000)
    val got = spark.read.parquet(sink.toString)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(got == expected && got.nonEmpty)
    assert(!got.exists(_.getLong(0) == 52000L),
      "the all-OOV planted doc must not pass the gate")
  }

  test("streaming aggregate maintenance: folded micro-batches equal the " +
      "batch recompute") {
    val orders = graft.queries.T.orders(spark, "/root/testdata/sf0.001")
    val base = orders.filter(col("o_orderkey") % 2 === 0)
    val delta = orders.filter(col("o_orderkey") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("aggm_idx").toString
    graft.ops.Evolve.aggBuild(base, dir, "o_custkey", "o_totalprice")
    val src = java.nio.file.Files.createTempDirectory("aggm_src")
    val ckpt = java.nio.file.Files.createTempDirectory("aggm_ckpt")
    delta.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(delta.schema).parquet(src.toString)
    val q = StreamOps.aggMaintainIngest(spark, dir, stream, ckpt.toString,
      "o_custkey", "o_totalprice")
    q.awaitTermination(180000)
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_custkey"), col("n_rows").cast("long"),
        col("total_amount").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
    val served = norm(graft.ops.Evolve.aggServe(spark, dir, "o_custkey"))
    val full = norm(orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(dec)).as("total_amount")))
    assert(served.except(full).isEmpty && full.except(served).isEmpty,
      "stream-folded aggregate must equal the batch recompute")
  }

  test("streaming join-view maintenance: fact-stream deltas against a " +
      "stored dim equal the full re-join") {
    val sf = "/root/testdata/sf0.001"
    val orders = graft.queries.T.orders(spark, sf)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    val li = graft.queries.T.lineitem(spark, sf)
      .select(col("l_orderkey").as("okey"), col("l_linenumber"),
        col("l_extendedprice"))
    val dir = java.nio.file.Files.createTempDirectory("jv_idx").toString
    graft.ops.Evolve.joinViewBuild(
      orders.filter(col("okey") % 2 === 0), li, dir, "okey")
    val src = java.nio.file.Files.createTempDirectory("jv_src")
    val ckpt = java.nio.file.Files.createTempDirectory("jv_ckpt")
    orders.filter(col("okey") % 2 =!= 0)
      .write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val q = StreamOps.joinViewIngest(spark, dir, stream, ckpt.toString,
      "okey")
    q.awaitTermination(180000)
    val served = graft.ops.Evolve.joinViewServe(spark, dir)
    val full = orders.join(li, "okey")
    assert(served.count() == full.count() &&
      served.except(full).isEmpty && full.except(served).isEmpty,
      "stream-maintained join view must equal the full re-join")
  }

  test("streaming hll-cube maintenance: appended daily sketches serve " +
      "the same range distincts as a one-pass cube") {
    import graft.ops.ScaleOps
    val ev = events.filter(col("user_id").isNotNull)
    val base = ev.filter(dayofmonth(col("ts")) <= 10)
    val delta = ev.filter(dayofmonth(col("ts")) > 10)
    val dir = java.nio.file.Files.createTempDirectory("hllc_idx").toString
    ScaleOps.hllCubeBuild(base, dir)
    val src = java.nio.file.Files.createTempDirectory("hllc_src")
    val ckpt = java.nio.file.Files.createTempDirectory("hllc_ckpt")
    // hash-partition the delta BY DAY so each file (= micro-batch under
    // maxFilesPerTrigger=1) carries whole days: a day split across
    // batches would union partial-day sketches, which estimates the same
    // set but need not be bit-equal to the one-pass sketch
    delta.repartition(4, to_date(col("ts")))
      .write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val q = StreamOps.hllCubeIngest(spark, dir, stream, ckpt.toString)
    q.awaitTermination(180000)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val served = toMap(ScaleOps.hllCubeRangeDistinct(spark, dir,
      "2024-01-05", "2024-01-25"))
    val d2 = java.nio.file.Files.createTempDirectory("hllc_one").toString
    ScaleOps.hllCubeBuild(ev, d2)
    val onePass = toMap(ScaleOps.hllCubeRangeDistinct(spark, d2,
      "2024-01-05", "2024-01-25"))
    assert(served == onePass,
      "stream-appended cube must serve identically to a one-pass build")
  }

  test("streaming cms maintenance: folded micro-batches equal the " +
      "one-pass sketch") {
    import graft.ops.CountMin
    val ev = events.filter(col("user_id").isNotNull)
    val base = ev.filter(col("event_id") % 3 === 0)
    val delta = ev.filter(col("event_id") % 3 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("cms_idx").toString
    CountMin.cmsBuild(base, dir, "user_id", depth = 4, width = 64)
    val src = java.nio.file.Files.createTempDirectory("cms_src")
    val ckpt = java.nio.file.Files.createTempDirectory("cms_ckpt")
    delta.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1) // several fold batches, not one
      .parquet(src.toString)
    val q = StreamOps.cmsIngest(spark, dir, stream, ckpt.toString, "user_id")
    q.awaitTermination(180000)
    val keys = ev.select("user_id").distinct()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = toMap(CountMin.cmsServe(spark, dir, keys, "user_id"))
    val onePass = toMap(CountMin.cmsEstimate(
      CountMin.cmsCells(ev, "user_id", 4, 64), keys, "user_id", 4, 64))
    assert(served == onePass,
      "stream-folded sketch must answer exactly like the one-pass build")
  }

  test("streaming sample-quantile maintenance: stream-folded sketch " +
      "serves exactly like the one-pass build") {
    import graft.ops.SampleQuantile
    val ev = events.filter(col("value").isNotNull)
    val base = ev.filter(col("event_id") % 3 === 0)
    val delta = ev.filter(col("event_id") % 3 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("sq_idx").toString
    SampleQuantile.build(base, dir, "event_type", "event_id", "value",
      k = 64)
    val src = java.nio.file.Files.createTempDirectory("sq_src")
    val ckpt = java.nio.file.Files.createTempDirectory("sq_ckpt")
    delta.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1) // several fold batches, not one
      .parquet(src.toString)
    val q = StreamOps.sampleQuantileIngest(spark, dir, stream,
      ckpt.toString, "event_type", "event_id", "value")
    q.awaitTermination(180000)
    val qs = Seq("p50" -> 0.5, "p90" -> 0.9)
    val served = SampleQuantile
      .quantilesServed(spark, dir, "event_type", qs)
      .orderBy("event_type").collect().toSeq
    val onePass = SampleQuantile.quantiles(
        SampleQuantile.sketchOf(ev, "event_type", "event_id", "value", 64),
        "event_type", qs)
      .orderBy("event_type").collect().toSeq
    assert(served == onePass,
      "stream-folded sample sketch must answer exactly like one-pass")
  }

  test("streaming retrieval maintenance: served phrase/BM25 after two " +
      "micro-batches equal the cumulative batch recompute") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 250)
    import spark.implicits._
    val batch1 = Seq(
      (81001L, "fresh crawl vector join document about hash tables", "en", "t", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch2 = Seq(
      (81002L, "a value table value table rich late arrival", "en", "t", 44L),
      (81003L, "plain filler text with no query words at all", "en", "t", 44L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val idx = java.nio.file.Files.createTempDirectory("ret_idx").toString
    graft.ops.Retrieval.phraseIndexBuild(corpus, s"$idx/phrase", "doc_id", "text")
    graft.ops.Retrieval.bm25Build(corpus, "doc_id", "text", s"$idx/bm25")
    val src = java.nio.file.Files.createTempDirectory("ret_src")
    val sink = java.nio.file.Files.createTempDirectory("ret_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("ret_ckpt")
    batch1.coalesce(1).write.mode("append").parquet(src.toString)
    Thread.sleep(1500)
    batch2.coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream.schema(batch1.schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = StreamOps.retrievalIngest(spark, idx, stream,
      sink.toString, ckpt.toString)
    q.awaitTermination(180000)
    val cumulative = corpus.unionByName(batch1).unionByName(batch2)
    // BM25: the maintained index serves scores bit-identical to a full
    // recompute over corpus + both batches
    val terms = Seq("vector", "join", "hash")
    val served = graft.ops.Retrieval.bm25Serve(spark, s"$idx/bm25",
        "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val full = graft.ops.Retrieval.bm25(cumulative, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(served == full,
      "stream-maintained BM25 index must equal the cumulative recompute")
    assert(served.exists(_._1 == 81001L),
      "batch-1 doc with query terms missing from served BM25")
    // phrase: the batch-2 late arrival is served from the maintained index
    val hits = graft.ops.Retrieval.phraseSearchServed(spark, s"$idx/phrase",
        "doc_id", Seq("value", "table"), k = 300)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.get(81002L).contains(2L),
      s"late-arriving phrase doc not served (hits: ${hits.size})")
  }

  test("ledger-driven auto-compaction on the retrieval maintainer: the " +
      "bm25 generation count triggers, both posting indexes fold") {
    import graft.ops.{Models, Retrieval}
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 250)
    import spark.implicits._
    val batch1 = Seq(
      (82001L, "vector join hash maintained ledger gen one", "en", "t", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch2 = Seq(
      (82002L, "vector join hash maintained ledger gen two", "en", "t", 43L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val idx = java.nio.file.Files.createTempDirectory("retgen_idx").toString
    Retrieval.phraseIndexBuild(corpus, s"$idx/phrase", "doc_id", "text")
    Retrieval.bm25Build(corpus, "doc_id", "text", s"$idx/bm25")
    val src = java.nio.file.Files.createTempDirectory("retgen_src")
    val sink = java.nio.file.Files.createTempDirectory("retgen_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("retgen_ckpt")
    batch1.coalesce(1).write.mode("append").parquet(src.toString)
    Thread.sleep(1500)
    batch2.coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream.schema(batch1.schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    // threshold 3: build {-1} + batch 0 = 2 gens (no trigger); batch 1
    // reaches {-1,0,1} and compacts both indexes
    val q = StreamOps.retrievalIngest(spark, idx, stream, sink.toString,
      ckpt.toString, compactWhenGens = 3)
    q.awaitTermination(180000)
    val g = Models.genStats(spark, s"$idx/bm25").head()
    assert(g.getLong(0) == 1L && g.getLong(1) == 1L,
      s"bm25 ledger after policy compaction: $g")
    assert(Models.genStats(spark, s"$idx/phrase").head().getLong(0) == 1L,
      "phrase index must fold with the bm25 trigger")
    // served answers equal the cumulative recompute, layout-invariant
    val cumulative = corpus.unionByName(batch1).unionByName(batch2)
    val terms = Seq("vector", "join", "hash")
    val served = Retrieval.bm25Serve(spark, s"$idx/bm25", "doc_id", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val full = Retrieval.bm25(cumulative, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(served == full,
      "policy-compacted BM25 must equal the cumulative recompute")
  }

  test("trending partials fold across micro-batch splits exactly") {
    val events = graft.queries.T.events(spark, "/root/testdata/sf0.001")
    val tref = events.agg(max(col("ts")).as("__tref"))
    def partials(df: org.apache.spark.sql.DataFrame) =
      StreamOps.trendingPartials(df, tref)
    // split into two "micro-batches", fold their partials
    val b1 = partials(events.filter(col("event_id") % 2 === 0))
    val b2 = partials(events.filter(col("event_id") % 2 =!= 0))
    val folded = b1.unionByName(b2)
      .groupBy("event_type")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("__decayed")).as("__decayed"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq
    val whole = partials(events)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .sortBy(_._1).toSeq
    assert(folded.map(t => (t._1, t._2)) == whole.map(t => (t._1, t._2)))
    // decimal sums are exact, so the fold is BIT-equal, not approximately
    (folded zip whole).foreach { case ((k, _, a), (_, _, b)) =>
      assert(a.compareTo(b) == 0, s"$k: folded $a != whole $b")
    }
  }

  test("streaming IVF maintenance: served ANN after two micro-batches " +
      "equals the single-append batch index") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val idx = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    graft.ops.Similarity.ivfBuild(base, idx)
    val src = java.nio.file.Files.createTempDirectory("ivf_src")
    val sink = java.nio.file.Files.createTempDirectory("ivf_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_ckpt")
    val b1 = delta.filter(col("vec_id") % 2 === 0)
    val b2 = delta.filter(col("vec_id") % 2 =!= 0)
    b1.coalesce(1).write.mode("append").parquet(src.toString)
    Thread.sleep(1500)
    b2.coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = StreamOps.ivfIngest(spark, idx, stream, sink.toString, ckpt.toString)
    q.awaitTermination(180000)
    // every streamed vector landed in the maintained inverted lists
    val listedIds = graft.ops.Models.load(spark, idx, "lists")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val deltaIds = delta.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(deltaIds.subsetOf(listedIds),
      s"streamed vectors missing from lists: ${deltaIds -- listedIds}")
    // serving from the stream-maintained index equals the batch index
    // built with one cumulative append (assignment is per-vector
    // deterministic, so micro-batch cadence cannot change the lists)
    val ref = java.nio.file.Files.createTempDirectory("ivf_ref").toString
    graft.ops.Similarity.ivfBuild(base, ref)
    graft.ops.Similarity.ivfAppend(spark, delta, ref, batchId = 1L)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def serve(dir: String) =
      graft.ops.Similarity.ivfServe(spark, dir, queries, 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(serve(idx) == serve(ref),
      "stream-maintained IVF serve must equal the batch-appended index")
  }

  test("streaming bloom admission rejects a later micro-batch's copy of " +
      "an earlier admission") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") < 250)
    import spark.implicits._
    val freshText =
      "entirely fresh bloom streaming content zebra quark flux unique"
    val batch1 = Seq((71001L, freshText, "en", "t", 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch2 = Seq(
      (71002L, freshText, "en", "t", 62L), // exact copy, later batch
      (71003L, "another wholly new bloom streaming document gamma", "en", "t", 49L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val idx = java.nio.file.Files.createTempDirectory("bloom_idx")
    graft.ops.Neutral.bloomIndexBuild(corpus, idx.toString)
    val src = java.nio.file.Files.createTempDirectory("bloom_src")
    val sink = java.nio.file.Files.createTempDirectory("bloom_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("bloom_ckpt")
    batch1.coalesce(1).write.mode("append").parquet(src.toString)
    Thread.sleep(1500)
    batch2.coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream.schema(batch1.schema)
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    val q = StreamOps.bloomIngest(spark, idx.toString, stream,
      sink.toString, ckpt.toString)
    q.awaitTermination(180000)
    val got = spark.read.parquet(sink.toString)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(71001L, 71003L),
      s"cross-batch copy not rejected by the bloom append: $got")
  }

  test("streaming DSIR gate admits from the persisted model: streaming == batch") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    // plant a gram-free doc (whitespace only): no features, no weight
    // row — BOTH paths must drop it entirely, as ops.Dsir documents
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionByName(spark.createDataFrame(Seq(
        (53000L, "   ", "xx", "planted", 3L)))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val fit = docs.filter(col("doc_id") < 250)
    val model = java.nio.file.Files.createTempDirectory("dsir_model")
    graft.ops.Dsir.dsirBuild(fit, fit.filter(col("lang") === "en"),
      model.toString)
    val expected = graft.ops.Dsir.dsirServe(spark, model.toString, incoming)
      .filter(col("dsir_logw") >= 0.0)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val src = java.nio.file.Files.createTempDirectory("dsir_src")
    val sink = java.nio.file.Files.createTempDirectory("dsir_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("dsir_ckpt")
    incoming.write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream.schema(incoming.schema).parquet(src.toString)
    val q = StreamOps.dsirGateIngest(
      spark, model.toString, stream, sink.toString, ckpt.toString)
    q.awaitTermination(180000)
    val got = spark.read.parquet(sink.toString)
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(got == expected && got.nonEmpty)
    assert(!got.exists(_.getLong(0) == 53000L),
      "the gram-free planted doc must not appear in the admitted output")
  }

  test("sessionization finds gap-separated sessions") {
    import spark.implicits._
    val data = Seq(
      // user 1: two sessions (gap of 2h between event 2 and 3)
      (1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:10:00", 1L),
      (3L, "2024-01-01 02:30:00", 1L), (4L, "2024-01-01 02:40:00", 1L),
      (5L, "2024-01-01 02:50:00", 1L),
      // user 2: one session
      (6L, "2024-01-01 05:00:00", 2L))
      .toDF("event_id", "ts_s", "user_id")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val stats = StreamOps.sessionStats(data).orderBy("user_id").collect()
    assert(stats.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 2L, 3L), (2L, 1L, 1L)))
  }

  test("incremental ingest appends only unseen files across restarts") {
    val src = java.nio.file.Files.createTempDirectory("ingest_src")
    val sink = java.nio.file.Files.createTempDirectory("ingest_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt")
    import spark.implicits._
    // batch 1: two files
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val q1 = StreamOps.incrementalIngest(spark, src.toString, schema,
      sink.toString, ckpt.toString)
    q1.awaitTermination(120000)
    assert(spark.read.parquet(sink.toString).count() == 2)
    // batch 2: one more file; restart picks up ONLY the new one
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(src.toString)
    val q2 = StreamOps.incrementalIngest(spark, src.toString, schema,
      sink.toString, ckpt.toString)
    q2.awaitTermination(120000)
    val rows = spark.read.parquet(sink.toString)
    assert(rows.count() == 3, "restart must append only the unseen file")
    assert(rows.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("session_window (batch) matches lag/cumsum sessionization off-boundary") {
    import spark.implicits._
    val data = Seq(
      (1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:10:00", 1L),
      (3L, "2024-01-01 02:30:00", 1L), (4L, "2024-01-01 02:40:00", 1L),
      (5L, "2024-01-01 05:00:00", 2L), (6L, "2024-01-01 05:29:00", 2L))
      .toDF("event_id", "ts_s", "user_id")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val sw = StreamOps.sessionWindowCounts(data)
      .orderBy("user_id", "session_start")
      .select("user_id", "session_events").as[(Long, Long)].collect().toSeq
    val batch = StreamOps.sessionize(data)
      .groupBy("user_id", "session_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id", "session_id")
      .select("user_id", "n").as[(Long, Long)].collect().toSeq
    assert(sw == batch)
    assert(sw == Seq((1L, 2L), (1L, 2L), (2L, 2L)))
  }

  test("flatMapGroupsWithState sessionization matches session_window in batch") {
    implicit val s: SparkSession = spark
    val batch = StreamOps.sessionWindowCounts(events)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
    val stateful = StreamOps.sessionsWithState(events)
      .toDF()
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
    assert(stateful == batch)
  }

  test("flatMapGroupsWithState carries open sessions across micro-batches") {
    implicit val s: SparkSession = spark
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("fmgws_src")
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id")
        .write.mode("append").parquet(src.toString)
    // micro-batch 1: user 1's first session starts; session still open
    write(Seq((1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:10:00", 1L)))
    val schema = spark.read.parquet(src.toString).schema
    // 30-min allowed lateness: the batch-2 event at 23:50 is LATE (behind
    // batch 1's max) but within the watermark, so it reaches the stateful
    // operator instead of being dropped by the watermark filter
    val stream = spark.readStream.schema(schema).parquet(src.toString)
      .withWatermark("ts", "30 minutes")
    val sessions = StreamOps.sessionsWithState(stream.toDF(), flushOpen = false)
    val q = sessions.toDF().writeStream.outputMode("append").format("memory")
      .queryName("fmgws_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("fmgws_out").count() == 0,
        "open session must not emit before the gap passes")
      // micro-batch 2: a LATE event 10 minutes BEFORE the open session's
      // start (within its gap) must extend the session backward — the
      // session_window merge semantics — then a far-future event pushes
      // the watermark past the session's gap horizon
      write(Seq((3L, "2023-12-31 23:50:00", 1L), (4L, "2024-01-02 00:00:00", 2L)))
      q.processAllAvailable()
      // one more advance so the fired timeout's output flushes
      write(Seq((5L, "2024-01-03 00:00:00", 2L)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("fmgws_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    assert(out.contains((1L, "2023-12-31 23:50:00.0", 3L)),
      s"user 1's session must close with all 3 cross-batch events, " +
        s"start extended backward by the late event: $out")
  }

  test("watermark drops late data in append-mode streaming aggregation") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("late_src")
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id")
        .write.mode("append").parquet(src.toString)
    // batch 1 advances the watermark far past the late event's window
    write(Seq((1L, "2024-01-01 00:05:00", 1L), (2L, "2024-01-01 10:00:00", 1L)))
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema).parquet(src.toString)
    val agg = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_out").start()
    try {
      q.processAllAvailable()
      // micro-batch 2: an event ~10 hours older than the max seen — beyond
      // the 1h watermark, its window is already finalized => dropped
      write(Seq((3L, "2024-01-01 00:10:00", 1L)))
      q.processAllAvailable()
      // one more empty-ish advance so closed windows flush to the sink
      write(Seq((4L, "2024-01-01 20:00:00", 1L)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 00:00 window emitted exactly 1 event: the late arrival (00:10,
    // behind the watermark) was dropped before it could join the window
    assert(out.getOrElse("2024-01-01 00:00:00.0", 0L) == 1L,
      s"late event was not dropped: $out")
  }

  test("dropDuplicatesWithinWatermark kills a cross-micro-batch redelivery") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("dedup_src")
    def write(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("event_id", "ts_s", "user_id")
        .withColumn("ts", to_timestamp(col("ts_s")))
        .select("event_id", "ts", "user_id")
        .write.mode("append").parquet(src.toString)
    write(Seq((1L, "2024-01-01 00:00:00", 1L), (2L, "2024-01-01 00:05:00", 1L)))
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema).parquet(src.toString)
      .withWatermark("ts", "1 hour")
    val deduped = StreamOps.dedupDeliveries(stream, withinWatermark = true)
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      // micro-batch 2 re-delivers event 2 (same key, within the watermark
      // horizon) plus a genuinely new event
      write(Seq((2L, "2024-01-01 00:05:00", 1L), (3L, "2024-01-01 00:30:00", 1L)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L),
      s"each delivery must survive exactly once: ${ids.toSeq}")
  }

  test("stream-stream attribution join matches the batch interval join") {
    val batch = StreamOps.attributionJoin(events)
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def side = spark.readStream
      .schema(rawSchema)
      .parquet(streamDir)
      .transform(fixTs)
      .withWatermark("ts", "2 hours")
    // a watermarked stream self-join (views leg × clicks leg); join state
    // is evicted past watermark - window on each side
    val q = StreamOps.attributionJoin(side)
      .writeStream.outputMode("append").format("memory")
      .queryName("attrib_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("attrib_out")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, "streamed join must equal batch interval join")
  }

  test("streaming readStream path of events schema works end-to-end") {
    val stream = spark.readStream
      .schema(rawSchema)
      .parquet(streamDir)
      .transform(fixTs)
    val counts = stream.groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = counts.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("etype_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("etype_out").collect().map(_.getLong(1)).sum
    assert(got == events.count())
  }

  test("streaming cluster-label maintenance: stream-folded union-find " +
      "serves exactly like CC over all edges") {
    import graft.ops.Dedup
    import spark.implicits._
    val b1 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    // later batches merge across batch-1 components and add new nodes
    val deltas = Seq((2L, 3L), (20L, 21L), (11L, 20L), (21L, 1L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("ccing_idx").toString
    Dedup.ccBuild(b1, dir)
    val src = java.nio.file.Files.createTempDirectory("ccing_src")
    val ckpt = java.nio.file.Files.createTempDirectory("ccing_ckpt")
    deltas.repartition(3).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1) // several fold batches, not one
      .parquet(src.toString)
    val q = StreamOps.ccIngest(spark, dir, stream, ckpt.toString)
    q.awaitTermination(180000)
    def toMap(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = toMap(Dedup.ccServe(spark, dir))
    val full = toMap(Dedup.connectedComponents(b1.unionByName(deltas)))
    assert(served == full,
      "stream-folded labels must answer exactly like one-pass CC")
  }

  test("in-loop compaction: ccIngest with compactEvery path-compresses " +
      "as it streams — identical labels, merge map bounded by the last " +
      "window") {
    import graft.ops.Dedup
    import spark.implicits._
    val b1 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val deltas = Seq((2L, 3L), (20L, 21L), (11L, 20L), (21L, 1L), (30L, 31L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("cccmp_idx").toString
    Dedup.ccBuild(b1, dir)
    val src = java.nio.file.Files.createTempDirectory("cccmp_src")
    val ckpt = java.nio.file.Files.createTempDirectory("cccmp_ckpt")
    deltas.repartition(3).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val q = StreamOps.ccIngest(spark, dir, stream, ckpt.toString,
      compactEvery = 1) // compact after EVERY micro-batch
    q.awaitTermination(180000)
    def toMap(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toMap(Dedup.ccServe(spark, dir)) ==
      toMap(Dedup.connectedComponents(b1.unionByName(deltas))),
      "compacting ingest must serve exactly like one-pass CC")
    // the whole point: the merge history never accumulates
    assert(spark.read.parquet(s"$dir/merges").count() == 0L,
      "compactEvery=1 must leave an empty merge map")
  }

  test("in-loop compaction: ivfIngest with compactEvery keeps one file " +
      "set per list partition and probes identically") {
    import graft.ops.{Models, Similarity}
    val emb = graft.queries.T.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 3 === 0)
    val newer = emb.filter(col("vec_id") % 3 =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("ivfcmp_idx").toString
    Similarity.ivfBuild(base, idx)
    val src = java.nio.file.Files.createTempDirectory("ivfcmp_src")
    val sink = java.nio.file.Files.createTempDirectory("ivfcmp_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("ivfcmp_ckpt")
    newer.repartition(2).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val q = StreamOps.ivfIngest(spark, idx, stream, sink.toString,
      ckpt.toString, compactEvery = 2)
    q.awaitTermination(180000)
    // 2 micro-batches, compacted at the 2nd: ledger says one generation
    val g = Models.genStats(spark, idx).head()
    assert(g.getLong(0) == 1L,
      s"expected one generation after in-loop compaction, got $g")
    // served results equal a batch-built twin over the same corpus
    val twinDir = java.nio.file.Files.createTempDirectory("ivfcmp_twin").toString
    Similarity.ivfBuild(base, twinDir)
    Similarity.ivfAppend(spark, newer, twinDir, batchId = 1L)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def res(d: String) = Similarity.ivfServe(spark, d, qs, 3, 2)
      .collect().map(_.toSeq).toSet
    assert(res(idx) == res(twinDir),
      "compacting ivf ingest must probe identically to the batch twin")
  }

  test("ledger-driven auto-compaction: ivfIngest compacts when the " +
      "artifact's own generation count crosses the threshold") {
    import graft.ops.{Models, Similarity}
    val emb = graft.queries.T.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 3 === 0)
    val newer = emb.filter(col("vec_id") % 3 =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("ivfgens_idx").toString
    Similarity.ivfBuild(base, idx) // ledger: {-1} — one generation
    val src = java.nio.file.Files.createTempDirectory("ivfgens_src")
    val sink = java.nio.file.Files.createTempDirectory("ivfgens_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("ivfgens_ckpt")
    newer.repartition(2).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    // threshold 3: batch 0 leaves gens {-1,0} (2 < 3, no compaction);
    // batch 1 reaches {-1,0,1} and triggers — the freshness signal the
    // dataset card reports drives its own remediation
    val q = StreamOps.ivfIngest(spark, idx, stream, sink.toString,
      ckpt.toString, compactWhenGens = 3)
    q.awaitTermination(180000)
    val g = Models.genStats(spark, idx).head()
    assert(g.getLong(0) == 1L,
      s"expected the threshold crossing to fold the ledger, got $g")
    assert(g.getLong(1) == 1L, s"last batch id must survive compaction: $g")
    val twinDir = java.nio.file.Files.createTempDirectory("ivfgens_twin")
      .toString
    Similarity.ivfBuild(base, twinDir)
    Similarity.ivfAppend(spark, newer, twinDir, batchId = 1L)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def res(d: String) = Similarity.ivfServe(spark, d, qs, 3, 2)
      .collect().map(_.toSeq).toSet
    assert(res(idx) == res(twinDir),
      "ledger-driven compaction must probe identically to the batch twin")
  }

  test("drift-triggered retrain: ivfIngest retrains when occupancy-TV " +
      "drift crosses the threshold and serves like the batch retrain twin") {
    import graft.ops.{Models, Similarity}
    val emb = graft.queries.T.embeddings(spark, sfDir)
    val drift = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> " +
          "cast(cast(x as double) * 0.85d + 0.25d as float))")
          .as("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("ivfdrift_idx").toString
    Similarity.ivfBuild(emb, idx)
    val src = java.nio.file.Files.createTempDirectory("ivfdrift_src")
    val sink = java.nio.file.Files.createTempDirectory("ivfdrift_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("ivfdrift_ckpt")
    drift.repartition(1).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val q = StreamOps.ivfIngest(spark, idx, stream, sink.toString,
      ckpt.toString, retrainWhenDrift = 0.05)
    q.awaitTermination(180000)
    // the drifted micro-batch fired the policy: ledger folded to one
    // generation and measured drift re-baselined to exactly zero
    val g = Models.genStats(spark, idx).head()
    assert(g.getLong(0) == 1L,
      s"expected the drift trigger to retrain (ledger folds), got $g")
    assert(Similarity.ivfDrift(spark, idx) == 0.0,
      "post-retrain drift must be exactly zero")
    // serving equals the batch build+append+retrain twin
    val twin = java.nio.file.Files.createTempDirectory("ivfdrift_twin")
      .toString
    Similarity.ivfBuild(emb, twin)
    Similarity.ivfAppend(spark, drift, twin, batchId = 0L)
    Similarity.ivfRetrain(spark, twin)
    val qs = drift.filter(col("vec_id") < 1000005L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def res(d: String) = Similarity.ivfServe(spark, d, qs, 3, 1)
      .collect().map(_.toSeq).toSet
    assert(res(idx) == res(twin),
      "drift-triggered retrain must serve like the batch retrain twin")
  }

  test("idempotent foreachBatch sink: a replayed micro-batch replaces " +
      "its own partition — no duplicates, and a partial-write replay " +
      "heals to the latest batch content") {
    val ev = events.filter(col("user_id").isNotNull)
      .select("event_id", "user_id", "event_type")
    val src = java.nio.file.Files.createTempDirectory("idem_src")
    val sink = java.nio.file.Files.createTempDirectory("idem_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("idem_ckpt")
    ev.repartition(3).write.mode("overwrite").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val q = StreamOps.idempotentIngest(spark, stream, sink, ckpt.toString)
    q.awaitTermination(180000)
    val sinkDf = spark.read.parquet(sink)
    assert(sinkDf.count() == ev.count(), "sink must equal the input once")
    assert(sinkDf.select("batch_id").distinct().count() == 3)
    // replay batch 0 in full: partition replaced, counts unchanged
    val b0 = sinkDf.filter(col("batch_id") === 0).drop("batch_id")
      .localCheckpoint()
    val b0n = b0.count()
    StreamOps.idempotentSinkWrite(b0, 0L, sink)
    assert(spark.read.parquet(sink).count() == ev.count(),
      "full replay must not duplicate")
    // a torn first attempt (half the batch) followed by the full retry:
    // the retry REPLACES the partition, healing the partial write
    StreamOps.idempotentSinkWrite(
      b0.filter(col("event_id") % 2 === 0), 0L, sink)
    assert(spark.read.parquet(sink).count() < ev.count())
    StreamOps.idempotentSinkWrite(b0, 0L, sink)
    val healed = spark.read.parquet(sink)
    assert(healed.count() == ev.count(), "retry must heal the torn write")
    assert(healed.filter(col("batch_id") === 0).count() == b0n)
  }

  test("watermark late-data accounting: the late filter LAGS eviction by " +
      "one batch — a next-batch late row is still admitted, a later one " +
      "is dropped and counted") {
    // Measured Spark semantics this test pins (they surprise people):
    // the watermark that FILTERS late input lags the watermark that
    // EVICTS state by one micro-batch (filtering uses the pre-previous
    // batch's event-time high mark). So after batch 0 closes window W
    // (eviction watermark passes W.end), a W-row arriving in batch 1 is
    // STILL aggregated into W's final emission; only from batch 2 on are
    // W-rows dropped and counted in numRowsDroppedByWatermark. A
    // pipeline that needs an exact closed-window contract must therefore
    // not treat "watermark passed" as "window sealed against the very
    // next batch".
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("late_src")
    val ckpt = java.nio.file.Files.createTempDirectory("late_ckpt")
    def mk(rows: Seq[(String, Long)]) = rows.toDF("t", "user_id")
      .select(col("t").cast("timestamp").as("ts"), col("user_id"))
    // batch 0: on-time rows; max event time 11:00 => watermark 10:50
    mk(Seq(("2024-01-01 10:05:00", 1L), ("2024-01-01 10:10:00", 2L),
      ("2024-01-01 11:00:00", 3L)))
      .coalesce(1).write.mode("overwrite").parquet(src.toString)
    Thread.sleep(1100) // file-source batches order by modification time
    // batch 1: a late row for the closing 10:00 window (admitted — the
    // late filter still carries batch -1's watermark) + an on-time row
    mk(Seq(("2024-01-01 10:06:00", 4L), ("2024-01-01 11:05:00", 5L)))
      .coalesce(1).write.mode("append").parquet(src.toString)
    Thread.sleep(1100)
    // batch 2: another 10:00-window row — NOW late (filter watermark
    // 10:50), dropped and counted
    mk(Seq(("2024-01-01 10:07:00", 6L), ("2024-01-01 11:06:00", 7L)))
      .coalesce(1).write.mode("append").parquet(src.toString)
    val stream = spark.readStream
      .schema(spark.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    val agg = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_out")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val dropsByBatch = q.recentProgress
      .map(p => p.batchId -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      .toMap
    assert(dropsByBatch.getOrElse(1L, 0L) == 0L,
      s"one-batch lag: batch 1's late row is admitted, got $dropsByBatch")
    assert(dropsByBatch.getOrElse(2L, 0L) == 1L,
      s"batch 2's late row must be dropped and counted, got $dropsByBatch")
    // the closed 10:00 window emitted once, WITH the lag-admitted row
    // (2 on-time + 1 late-but-admitted) and WITHOUT the dropped one
    val out = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(out.get("2024-01-01 10:00:00.0").contains(3L),
      s"closed-window emission wrong: $out")
  }
}
