package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Streaming-shaped operators over the events table. Each transform takes a
  * DataFrame and works unchanged on a batch read OR a readStream source —
  * that symmetry is the point (Structured Streaming's incrementalization of
  * the same logical plan). The streaming path (readStream + watermark +
  * memory sink) is exercised in StreamingSpec; the batch path feeds the
  * DuckDB oracle gate. The reference itself has no streaming surface
  * (SURVEY §2.10) — this is the scale-extension stretch (§7.6).
  */
object StreamOps {

  /** Exponentially time-decayed counts per key — the trending-detection
    * aggregate (a count where each event contributes 2^(−age/halfLife),
    * so "what's hot NOW" instead of "what was ever big"). The reference
    * time is max(ts) over the input (deterministic from data, no wall
    * clock), a 1-row broadcast; ages are exact integer microsecond
    * differences, and each per-row weight rounds to DECIMAL(18,9)
    * before the sum (pow is libm — same ulp contract as the ln-scored
    * ops), so the decimal sum is exact and order-independent at any
    * partitioning. One partial-aggregated shuffle on the key. The
    * decayed/total ratio is the trend intensity: near 1 = all recent,
    * near 0 = historical. On a stream the same expression folds per
    * micro-batch against a fixed reference time. */
  def trendingCounts(events: DataFrame, keyCol: String = "event_type",
      tsCol: String = "ts", halfLifeDays: Double = 7.0): DataFrame =
    trendingCountsAt(events, events.agg(max(col(tsCol)).as("__tref")),
      keyCol, tsCol, halfLifeDays)

  /** The additive half of [[trendingCounts]]: per-key (n, decayed
    * DECIMAL) partials against an EXPLICIT 1-row (`__tref` timestamp)
    * reference — the streaming form. Because the weights are 9dp
    * decimals and decimal sums are exact, partials from any micro-batch
    * split of the input FOLD to the whole-input partials (group-by key,
    * sum both columns — StreamingSpec verifies bit equality), the same
    * additive-artifact contract as the maintained aggregate. */
  def trendingPartials(events: DataFrame, tref: DataFrame,
      keyCol: String = "event_type", tsCol: String = "ts",
      halfLifeDays: Double = 7.0): DataFrame = {
    val ageDays = (unix_micros(col("__tref").cast("timestamp"))
      - unix_micros(col(tsCol).cast("timestamp"))).cast("double") /
      lit(86400000000.0)
    events.join(broadcast(tref))
      .select(col(keyCol),
        pow(lit(0.5), ageDays / lit(halfLifeDays))
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("__w"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"), sum(col("__w")).as("__decayed"))
  }

  /** [[trendingPartials]] finished into the reported score columns. */
  def trendingCountsAt(events: DataFrame, tref: DataFrame,
      keyCol: String = "event_type", tsCol: String = "ts",
      halfLifeDays: Double = 7.0): DataFrame =
    trendingPartials(events, tref, keyCol, tsCol, halfLifeDays)
      .withColumn("decayed_count", col("__decayed").cast("double"))
      .drop("__decayed")
      .withColumn("trend_intensity",
        col("decayed_count") / col("n_events"))

  /** Tumbling-window counts/sums per event_type. On a stream: add
    * `.withWatermark("ts", ...)` upstream and this same expression runs
    * incrementally with append output. */
  def tumblingCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding-window event counts (1h window, 30m slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Batch sessionization: gap > `gapSeconds` starts a new session
    * (lag + running-sum — the gaps-and-islands technique from SURVEY §2.5 W7
    * applied to time gaps). The streaming twin is session_window/
    * flatMapGroupsWithState in StreamingSpec. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val newSession = when(
      lag(col("ts"), 1).over(wOrd).isNull ||
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wOrd)) > gapSeconds,
      1).otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-user session stats from the sessionized stream. */
  def sessionStats(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    sessionize(events, gapSeconds)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("session_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max(col("session_events")).as("max_session_events"))

  /** Native session windows (gap-based), usable in batch or streaming —
    * the Structured Streaming twin of the lag/cumsum sessionize (boundary
    * note: session_window closes at a gap >= `gap`, the lag/cumsum form at
    * a gap > gapSeconds; identical off exact-boundary gaps). */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("session_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("session_events"))

  /** Closed session emitted by [[sessionsWithState]]. */
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_events: Long)

  private def microTs(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * arbitrary-state API for session logic the declarative forms can't
    * express (per-session caps, custom merge rules, enrichment at close).
    * Semantics match `session_window`: a gap >= `gapSeconds` closes the
    * session; comparisons run at microsecond precision.
    *
    * Batch: one call per key with the whole group; pass `flushOpen = true`
    * (default) so the trailing open session is emitted (batch never fires
    * timeouts). Streaming: pass `flushOpen = false`, add
    * `.withWatermark("ts", ...)` upstream, run in Append mode — state
    * carries the open session across micro-batches and an event-time
    * timeout at `last + gap` closes it when the watermark passes
    * (StreamingSpec drives both paths). State per key is one (start, last,
    * n) triple — bounded, watermark-evicted, skew-safe (the shuffle key is
    * user_id, same profile as the windowed forms). */
  def sessionsWithState(events: DataFrame, gapSeconds: Long = 1800,
      flushOpen: Boolean = true)
      (implicit spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapMicros = gapSeconds * 1000000L
    val timeout =
      if (flushOpen) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    events
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), SessionOut](OutputMode.Append, timeout) {
        case (uid, rows, state: GroupState[(Long, Long, Long)]) =>
          if (!rows.hasNext) {
            // event-time timeout: the watermark passed last + gap — close
            if (state.exists && state.hasTimedOut) {
              val (start, _, n) = state.get
              state.remove()
              Iterator.single(SessionOut(uid, microTs(start), n))
            } else Iterator.empty
          } else {
            val ts = rows.map { r =>
              val i = r._2.toInstant
              i.getEpochSecond * 1000000L + i.getNano / 1000L
            }.toArray
            java.util.Arrays.sort(ts)
            // cluster merge: the open session is an interval (start, last,
            // n), batch events are unit clusters; sorted by start, adjacent
            // clusters merge when next.start - cur.last < gap. A late
            // (within-watermark) event just BEFORE the open session extends
            // it backward, exactly like session_window's window merging;
            // events older than an already-EMITTED session cannot re-open
            // it — append-mode finality, the one inherent divergence.
            val clusters = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
            if (state.exists) clusters += state.get
            ts.foreach(t => clusters += ((t, t, 1L)))
            val sorted = clusters.sortBy(_._1)
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var (start, last, n) = sorted.head
            for ((s2, l2, n2) <- sorted.tail) {
              if (s2 - last >= gapMicros) {
                out += SessionOut(uid, microTs(start), n)
                start = s2
                last = l2
                n = n2
              } else {
                last = math.max(last, l2)
                n += n2
              }
            }
            if (flushOpen) {
              out += SessionOut(uid, microTs(start), n)
              if (state.exists) state.remove()
            } else {
              state.update((start, last, n))
              // close when the watermark passes the gap horizon (must stay
              // ahead of the current watermark)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1000L,
                  last / 1000L + gapSeconds * 1000L))
            }
            out.iterator
          }
      }
  }

  /** Exactly-once view of an at-least-once delivery feed: drop duplicate
    * deliveries by key. Batch: plain dropDuplicates (duplicate deliveries
    * are bit-identical rows, so the arbitrary keep is deterministic).
    * Streaming (`withinWatermark = true`, watermark set upstream):
    * `dropDuplicatesWithinWatermark` — state holds one entry per key only
    * inside the watermark horizon and is evicted as it advances, unlike
    * plain streaming dropDuplicates whose state grows forever. The shuffle
    * key is the dedup key — same partitioning profile at any scale. */
  def dedupDeliveries(events: DataFrame, keys: Seq[String] = Seq("event_id"),
      withinWatermark: Boolean = false): DataFrame =
    if (withinWatermark) events.dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Attribution join: every click matched to same-user views it followed
    * within `within` (half-open `[view_ts, view_ts + within)`). Works
    * batch or streaming unchanged; on two streams (both watermarked) the
    * event-time bound lets Spark evict join state past
    * `watermark - within`, so state is bounded by the attribution window.
    * Equi key user_id + time-range residual — a SortMergeJoin in batch,
    * never a product join (PlanSpec precedent q_j5). */
  def attributionJoin(events: DataFrame, within: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    views.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") < col("view_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Stream-static enrichment: the event stream joined to a static
    * dimension on the user key and aggregated per (segment, event_type).
    * Stream-static equi joins need no watermark and hold no join state —
    * the static side is simply (re-)broadcast into each micro-batch, which
    * is why dim enrichment is the cheapest join a streaming pipeline can
    * do at any scale. Left join: events with no dim row keep flowing with
    * a null segment rather than silently dropping. Identical code runs
    * batch (the driver query) and under readStream (StreamingSpec). */
  def enrichedSegmentStats(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      // dim-less events keep flowing under an explicit '<none>' segment:
      // a left join makes `segment` nullable, and NULL sorts first in Spark
      // but last in DuckDB — coalescing on BOTH sides removes the
      // engine-dependent null placement from the output entirely
      .groupBy(coalesce(col("c_mktsegment"), lit("<none>")).as("segment"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.Fns.dsum(col("value")).as("total_value"))

  /** Streaming ingest admission, exact tier: drop stream docs whose
    * content digest already exists in the static corpus — a stream-static
    * LEFT ANTI equi join against the corpus digest set. Zero state, no
    * watermark: the static side is just re-read/broadcast per micro-batch
    * (at scale, the digest set is the persisted 32-bytes-per-doc artifact
    * the batch admission filter also keys on). Identical code runs batch
    * (the driver query) and under readStream (StreamingSpec). The NEAR-DUP
    * tier is [[admissionIngest]]: banded verification is a multi-join +
    * per-doc aggregation no streaming operator holds bounded state for, so
    * it runs the full batch [[graft.ops.Neutral.dedupAgainst]] per
    * micro-batch via foreachBatch — the idiomatic Spark shape for
    * stream-vs-big-static set logic. */
  def admitNewDocs(stream: DataFrame, corpus: DataFrame,
      textCol: String = "text"): DataFrame =
    stream.join(
      corpus.select(sha2(col(textCol), 256).as("__sha")).distinct(),
      sha2(col(textCol), 256) === col("__sha"), "left_anti")

  /** The skeleton of every foreachBatch loop below: `body` runs per
    * micro-batch under [[graft.ops.Pins.scoped]] (the micro-batch thread
    * frees only the pins IT created), exactly-once via the checkpoint,
    * drained with an AvailableNow trigger. */
  private def foldEach(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.ops.Pins.scoped(body(batch, id))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** The in-loop compaction policy of the index-maintenance loops, two
    * triggers: a fixed cadence (every `compactEvery` micro-batches, keyed
    * on batchId — zero reads, deterministic under replay), or
    * HISTORY-DRIVEN: compact when the artifact's own generation count —
    * the signal the dataset card's freshness row reports — reaches
    * `compactWhenGens`. The count is one manifest read per micro-batch
    * (no Spark job), and replay-deterministic because genStats counts
    * DISTINCT batch ids (a replayed batch folds instead of
    * re-triggering). */
  private def compactionDue(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long, compactEvery: Int,
      compactWhenGens: Int): Boolean =
    (compactEvery > 0 && (batchId + 1) % compactEvery == 0) ||
      (compactWhenGens > 0 &&
        graft.ops.Models.genStats(spark, dir).head().getLong(0) >=
          compactWhenGens)

  /** Streaming ingest admission, full chain: per micro-batch, run the
    * batch admission filter (exact digest + banded near-dup vs the static
    * corpus) and append survivors to the sink — exactly-once via the
    * checkpoint. Caller drives the returned query. The per-batch signature
    * caches are released via [[graft.ops.Pins.scoped]] — the micro-batch
    * thread frees only the pins IT created, so a concurrently running graft
    * operator on another thread keeps its caches and checkpoints intact
    * (a global releaseAll here would force their recompute or, for
    * lineage-truncated checkpoints, fail their job). */
  def admissionIngest(corpus: DataFrame, stream: DataFrame, sinkDir: String,
      checkpointDir: String, minJaccard: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.Neutral.dedupAgainst(corpus, batch, minJaccard = minJaccard)
        .write.mode("append").parquet(sinkDir)
    }

  /** Streaming ingest admission SERVED from the persisted corpus index
    * ([[graft.ops.Neutral.dedupIndexBuild]]) — the full daily-crawl loop
    * under readStream: per micro-batch, admit against the loaded
    * digest/banded/hash tables (zero corpus text rescans), append the
    * survivors to the sink, and APPEND their signatures to the index so
    * the NEXT micro-batch dedups against earlier admissions. That
    * cross-batch closure is the gap [[admissionIngest]] structurally
    * cannot close: its corpus frame is fixed when the query starts, so a
    * near-dup arriving two micro-batches after its original sails
    * through. Failure ordering: the sink write commits BEFORE the batch's
    * signatures enter the index (Neutral.admitAndAppend's
    * commitBeforeAppend hook), so a crash between the two replays the
    * batch against an index that does NOT yet contain it — the same docs
    * are re-admitted and re-appended to the sink (at-least-once:
    * downstream dedups on doc_id or the digest, both carried) — and
    * admissions are never permanently rejected by their own
    * not-yet-visible signatures, which is what the reverse ordering
    * (index-first) risks. An index re-append under replay is harmless
    * (admission reads the index through anti/semi joins, which ignore
    * key multiplicity). Per-batch pins (incoming signatures + the
    * admitted checkpoint) release via [[graft.ops.Pins.scoped]] AFTER
    * the sink write consumes them. */
  def admissionIngestServed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, stream: DataFrame, sinkDir: String,
      checkpointDir: String, minJaccard: Double = 0.8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, batchId) =>
      graft.ops.Neutral.admitAndAppend(spark, indexDir, batch,
        minJaccard = minJaccard,
        commitBeforeAppend =
          _.write.mode("append").parquet(sinkDir),
        batchId = batchId)
    }

  /** Streaming quality gate against a PERSISTED bigram-LM artifact
    * ([[graft.ops.TextAnalysis.lmBigramBuild]]): per micro-batch, score
    * incoming docs with the fitted model — zero refit, the two
    * vocabulary-bounded tables load from parquet — and append docs whose
    * avg log-prob clears `minAvgLp` to the sink. Per-doc aggregation of
    * exploded pairs has no bounded-state streaming operator, so like
    * [[admissionIngest]] it rides foreachBatch; exactly-once via the
    * checkpoint; per-batch pins release via [[graft.ops.Pins.scoped]].
    * This is the model-artifact lifecycle meeting the stream: the same
    * parquet model serves the batch scorer, the driver-gate query, and
    * the live crawl filter. */
  def lmGateIngest(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, stream: DataFrame, sinkDir: String,
      checkpointDir: String, minAvgLp: Double = -3.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.TextAnalysis.lmBigramServe(spark, modelDir, batch)
        .filter(col("avg_lp") >= minAvgLp)
        .write.mode("append").parquet(sinkDir)
    }

  /** Streaming Bloom admission — [[admissionIngestServed]]'s
    * fixed-memory sibling: per micro-batch, probe the persisted
    * occupied-position artifact (broadcast, mBits-bounded at ANY corpus
    * size; the position space is read from the artifact's meta, never a
    * caller parameter), append survivors to the sink, and fold their
    * positions into the artifact so the NEXT micro-batch rejects
    * re-sends of earlier admissions. Failure ordering as in
    * [[admissionIngestServed]]: sink first, positions after — a crash
    * between the two replays the batch against positions that don't yet
    * include it (duplicate sink rows, at-least-once, recoverable), never
    * the reverse ordering's permanent loss where the replayed batch
    * probes its own appended positions and rejects every doc. A replayed
    * position append is harmless (position multiplicity never changes a
    * probe). */
  def bloomIngest(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, stream: DataFrame, sinkDir: String,
      checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.Neutral.admitBloomAndAppend(spark, indexDir, batch,
        commitBeforeAppend =
          _.write.mode("append").parquet(sinkDir))
    }

  /** Streaming incremental aggregate maintenance: each micro-batch folds
    * its PARTIAL per-group aggregate into the persisted table
    * ([[graft.ops.Evolve.aggFold]]) — the maintained-aggregate loop a
    * warehouse runs instead of nightly full refreshes. No sink beyond the
    * artifact itself; [[graft.ops.Evolve.aggServe]] reads the current
    * totals at any point. Checkpointing makes each batch fold
    * exactly-once; the artifact stays bounded by groups × batches and is
    * compacted by rewriting it through aggServe whenever batch count
    * grows long. */
  def aggMaintainIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, checkpointDir: String,
      keyCol: String, amountCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.Evolve.aggFold(batch, dir, keyCol, amountCol)
    }

  /** Streaming JOIN-view maintenance for the common one-sided shape — a
    * fact stream against a slower-moving stored dimension side: each
    * micro-batch folds ΔL⋈R (plus the empty right-delta terms) into the
    * persisted view via [[graft.ops.Evolve.joinViewAppend]], so the
    * materialized join the dashboards read stays fresh at batch cost.
    * Map-only per batch: the batch broadcasts against the stored right
    * base; nothing corpus-sized shuffles. Same at-least-once append
    * contract as the other non-idempotent maintenance loops (a crash
    * between the view append and the checkpoint commit replays one
    * batch's join rows; repair = joinViewBuild rebuild). */
  def joinViewIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, checkpointDir: String,
      key: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      val emptyRight = graft.ops.Models.load(spark, dir, "right").limit(0)
      graft.ops.Evolve.joinViewAppend(spark, dir, batch, emptyRight,
        key)
    }

  /** Streaming HLL sketch-cube maintenance: each micro-batch appends its
    * own (day, group) sketch rows into the day-partitioned cube
    * ([[graft.ops.ScaleOps.hllCubeAppend]]) — the rollup a warehouse
    * keeps fresh so range-distinct dashboards never rescan the event
    * log. Serve-side union-agg folds multiple rows per (day, group), so
    * same-day batches append without rewriting; at-least-once like the
    * other parquet-append loops — a replayed batch double-appends its
    * sketch rows, and because HLL union is IDEMPOTENT over the same
    * inserted values, the served estimate is UNCHANGED by the replay
    * (the one maintenance loop where at-least-once is value-exact). */
  def hllCubeIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, checkpointDir: String,
      groupCol: String = "event_type", valueCol: String = "user_id",
      tsCol: String = "ts")
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.ScaleOps.hllCubeAppend(batch, dir, groupCol, valueCol,
        tsCol)
    }

  /** Streaming count-min sketch maintenance: each micro-batch folds its
    * own depth×width cell partial into the persisted sketch
    * ([[graft.ops.CountMin.cmsAppend]] — geometry read from the
    * artifact's meta, never re-supplied). Cell rows are additive
    * counters, so the folded sketch is BIT-IDENTICAL to a one-pass build
    * over the union of batches, and [[graft.ops.CountMin.cmsServe]]
    * answers point-frequency queries at any moment without rescanning a
    * single ingested row — per-key frequency tracking over an unbounded
    * key space in O(depth·width) state, where a per-key streaming
    * aggregate would grow state with distinct keys. Failure contract,
    * stated precisely: the fold is AT-LEAST-ONCE — a crash between the
    * parquet append's commit and the checkpoint commit replays the batch
    * and folds its cells twice, overcounting that one batch's mass until
    * the periodic rebuild ([[graft.ops.CountMin.cmsBuild]] over the
    * source) any production sketch runs anyway; the CMS estimate's
    * one-sided ≥-exact guarantee survives double-folding (counters only
    * grow), and no data can be lost — the sketch is the only sink. */
  def cmsIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, checkpointDir: String,
      keyCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.CountMin.cmsAppend(batch, dir, keyCol)
    }

  /** Streaming cluster-label maintenance: fold each micro-batch of
    * near-dup EDGES into the persisted union-find artifact
    * ([[graft.ops.Dedup.ccAppend]] — batch + one labels equi join, CC
    * over the component-compressed batch graph only). Failure contract:
    * at-least-once, and REPLAY-SAFE: ccAppend writes merges before
    * labels, and on replay already-applied merges compress the batch's
    * edges to already-merged components (the no-op append OpsSpec pins)
    * while the new-node anti join re-appends exactly the label rows the
    * crash lost — a replay after full commit appends nothing at all. */
  def ccIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String, edgeStream: DataFrame, checkpointDir: String,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(edgeStream, checkpointDir) { (batch, batchId) =>
      graft.ops.Dedup.ccAppend(batch, dir, batchId)
      // in-loop path compression: labels rewrite resolved, the merge
      // map resets — serving stops paying the pointer-jump loop over
      // the cumulative merge history (idempotent under replay)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        graft.ops.Dedup.ccCompact(spark, dir)
    }

  /** Streaming sample-quantile maintenance: fold each micro-batch's
    * bottom-k candidate rows into the persisted sketch
    * ([[graft.ops.SampleQuantile.append]] — scans the batch only; k from
    * the artifact's own meta). Unlike the CMS fold this one is fully
    * IDEMPOTENT, not just at-least-once: a replayed batch re-appends
    * identical (hv, v) rows and the serve-side dedup + re-rank absorbs
    * them, so a crash between append and checkpoint commit changes
    * nothing an estimate can observe. */
  def sampleQuantileIngest(spark: org.apache.spark.sql.SparkSession,
      dir: String, stream: DataFrame, checkpointDir: String,
      groupCol: String, idCol: String, valueCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.SampleQuantile.append(batch, dir, groupCol, idCol,
        valueCol)
    }

  /** Streaming DSIR gate: admit only the micro-batch docs whose hashed
    * n-gram importance log-weight against the PERSISTED target/raw
    * log-ratio artifact clears `minLogw` — the data-selection twin of
    * [[lmGateIngest]], one fitted model serving the batch scorer, the
    * driver-gate query, and the live crawl. foreachBatch because the
    * per-doc weight is an aggregation over exploded grams (no
    * bounded-state streaming operator); the model side is a broadcast
    * of the 512-row artifact, so each micro-batch is map-only +
    * one broadcast join. */
  def dsirGateIngest(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, stream: DataFrame, sinkDir: String,
      checkpointDir: String, minLogw: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, _) =>
      graft.ops.Dsir.dsirServe(spark, modelDir, batch)
        .filter(col("dsir_logw") >= minLogw)
        .select("doc_id", "n_grams", "dsir_logw")
        .write.mode("append").parquet(sinkDir)
    }

  /** Streaming retrieval-index maintenance — the bloom/agg-maintain/DSIR
    * loop shape composed with the r10 appendable sparse indexes: per
    * micro-batch, append the batch docs to the corpus sink FIRST, then
    * fold their postings into the persisted phrase and BM25 indexes
    * ([[graft.ops.Retrieval.phraseIndexAppend]]/[[graft.ops.Retrieval
    * .bm25Append]]) — a daily crawl keeps exact-phrase and BM25 search
    * fresh at batch cost, zero corpus re-tokenization. Failure contract,
    * stated precisely because these postings are MULTIPLICITY-SENSITIVE
    * (df/tf count rows — unlike the bloom positions and dedup digests,
    * which anti/semi joins read multiplicity-blind): sink-first ordering
    * means a crash between the sink commit and the index appends replays
    * the batch and double-counts that one batch's postings (and
    * duplicates its sink rows) — scores drift for the affected terms
    * until the next compaction rebuild (bm25Build/phraseIndexBuild over
    * the sink corpus, the periodic rebuild any production postings index
    * runs anyway); admissions are never silently lost, which the reverse
    * ordering risks. The batch is localCheckpoint'ed once and feeds the
    * sink write and both index appends. */
  def retrievalIngest(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, stream: DataFrame, sinkDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", compactEvery: Int = 0,
      compactWhenGens: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, batchId) =>
      val b = graft.ops.Pins.checkpoint(batch)
      b.write.mode("append").parquet(sinkDir)
      // the real micro-batch id lands in the manifest's history — the
      // card's freshness row then names the exact stream position
      graft.ops.Retrieval.phraseIndexAppend(b, s"$indexDir/phrase",
        idCol, textCol, batchId)
      graft.ops.Retrieval.bm25Append(b, s"$indexDir/bm25", idCol,
        textCol, batchId)
      // in-loop maintenance: the appended posting generations rewrite
      // to one word-sorted set (layout only — a replayed batch just
      // re-runs the idempotent rewrite)
      if (compactionDue(spark, s"$indexDir/bm25", batchId, compactEvery,
          compactWhenGens)) {
        graft.ops.Retrieval.phraseIndexCompact(
          spark, s"$indexDir/phrase", idCol)
        graft.ops.Retrieval.bm25Compact(spark, s"$indexDir/bm25", idCol)
      }
    }

  /** Streaming ANN-index maintenance — the retrieval-loop shape for the
    * DENSE index: per micro-batch, append the batch's vectors to the
    * corpus sink FIRST, then assign them to their nearest persisted
    * coarse centroid and append into the partitioned inverted lists
    * ([[graft.ops.Similarity.ivfAppend]] — a broadcast crossJoin +
    * argmax over the BATCH only; the fit corpus, centroids, and
    * existing lists are never re-read), so similarity search stays
    * fresh at batch cost while serving keeps its partition-pruned
    * probed-lists plan. Failure contract mirrors [[retrievalIngest]]:
    * the list rows are MULTIPLICITY-SENSITIVE (a replayed batch lands
    * duplicate (vec_id, embedding) rows, which surface as duplicate
    * candidates in a probed rerank until the periodic ivfBuild rebuild
    * over the sink corpus); sink-first ordering means vectors are never
    * silently lost, which the reverse ordering risks. The batch is
    * localCheckpoint'ed once and feeds the sink write and the append. */
  def ivfIngest(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, stream: DataFrame, sinkDir: String,
      checkpointDir: String, compactEvery: Int = 0,
      compactWhenGens: Int = 0, retrainWhenDrift: Double = 0.0,
      retrainSampleFrac: Double = 1.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, batchId) =>
      val b = graft.ops.Pins.checkpoint(batch)
      b.write.mode("append").parquet(sinkDir)
      graft.ops.Similarity.ivfAppend(spark, b, indexDir, batchId)
      // DRIFT-TRIGGERED RETRAIN (r12 "What's missing" #3 — the
      // signal that should gate retrain was never wired to the
      // loop): after every append, measure occupancy-TV drift
      // against the artifact's own fit-time baseline and retrain
      // when it crosses the threshold — a long-running ingest
      // stream no longer degrades silently between manual
      // retrains. Replay-deterministic: a replayed batch appends
      // duplicate rows (the documented at-least-once contract), and
      // the drift measure + threshold compare are exact-integer, so
      // the replayed decision can differ from the lost one only if
      // the duplicates themselves move TV across the threshold — in
      // which case retrain re-fits over exactly what's on disk,
      // still a valid (centroids, lists) state. Retrain subsumes
      // compaction (its rewrite is one file set per list + a history
      // fold), so a fired retrain skips the compaction checks.
      val retrained = retrainWhenDrift > 0 &&
        graft.ops.Similarity.ivfMaintain(spark, indexDir,
          retrainWhenDrift, retrainSampleFrac)
      if (!retrained && compactionDue(spark, indexDir, batchId,
          compactEvery, compactWhenGens))
        graft.ops.Similarity.ivfCompact(spark, indexDir)
    }

  /** The exactly-once half of a foreachBatch sink: the batch lands under
    * a `batch_id=<id>` partition directory via DYNAMIC partition
    * overwrite, so a REPLAYED micro-batch (foreachBatch's at-least-once
    * recovery) replaces its own partition instead of appending a second
    * copy — plain parquet gains replay-idempotent semantics without a
    * transactional table format. The cost is one directory per
    * micro-batch (compact with ScaleOps.compactTo on a schedule) and the
    * constraint that a batch id always carries the same logical rows,
    * which Structured Streaming's checkpoint guarantees. Contrast with
    * the artifact fold loops above, which stay at-least-once and lean on
    * fold algebra (additive / dedup-at-serve) instead. */
  def idempotentSinkWrite(batch: DataFrame, batchId: Long,
      sinkDir: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(sinkDir)

  /** [[incrementalIngest]]'s foreachBatch twin with an exactly-once sink
    * ([[idempotentSinkWrite]]) — for pipelines that need per-batch
    * transforms the declarative parquet sink can't express, without
    * giving up its no-duplicates guarantee. */
  def idempotentIngest(spark: org.apache.spark.sql.SparkSession,
      stream: DataFrame, sinkDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    foldEach(stream, checkpointDir) { (batch, id) =>
      idempotentSinkWrite(batch, id, sinkDir)
    }

  /** Incremental ingest (SURVEY §7.6 stretch): continuously append new
    * source files into a parquet sink, exactly-once via checkpointing.
    * The reference's ingestion is full-replace (dlt write_disposition);
    * this is the append-mode upgrade a 100 TB pipeline runs instead —
    * restartable, picks up only unseen files. Caller drives the returned
    * query (processAllAvailable for batch-like runs, or leave running). */
  def incrementalIngest(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, schema: org.apache.spark.sql.types.StructType,
      sinkDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
