package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Evolve, Quality}

/** Table-lifecycle operators as driver-facing queries: SCD2 snapshot
  * history, last-write-wins incremental merge, and a dbt-style data-quality
  * expectation suite. All three are exactly SQL-expressible, so each ships
  * a DuckDB oracle.
  */
object Lifecycle {

  /** SCD Type-2 history of each user's event_type, built from the events
    * change log (first observation kept, then every null-safe change;
    * valid_from/valid_to intervals, open-ended current row). */
  val scd2 = QueryDef(
    "q_e_scd2",
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         row_number() OVER w AS rn,
      |         lag(event_type) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), chg AS (
      |  SELECT * FROM ordered WHERE rn = 1 OR prev IS DISTINCT FROM event_type
      |)
      |SELECT user_id, event_type, ts AS valid_from,
      |       lead(ts) OVER w2 AS valid_to,
      |       lead(ts) OVER w2 IS NULL AS is_current
      |FROM chg
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
    Evolve.scd2(T.events(s, d), "user_id", "ts",
        attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
      .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from")
  }

  /** Point-in-time SCD2 enrichment — the feature-store join: each fact
    * probe picks up the dimension VERSION valid at its (shifted) event
    * time, i.e. key equality + half-open [valid_from, valid_to) interval
    * containment against the scd2 history. Planned as an equi join on
    * the key with the interval predicate as residual (J5's shape):
    * per-key expansion is bounded by that key's version count, so the
    * shuffle is fact-sized — the skew-robust union+carry-forward
    * alternative (J7) applies unchanged if one key's history ever grows
    * pathological, because scd2 intervals tile contiguously. Probe times
    * are shifted +7 minutes so probes genuinely land mid-interval (an
    * unshifted event always probes its own version — a vacuous test). */
  val scd2Pit = QueryDef(
    "q_e_scd2_pit",
    """WITH ordered AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         row_number() OVER w AS rn,
      |         lag(event_type) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), chg AS (
      |  SELECT * FROM ordered WHERE rn = 1 OR prev IS DISTINCT FROM event_type
      |), hist AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |         lead(ts) OVER w2 AS valid_to
      |  FROM chg
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), probes AS (
      |  SELECT event_id, user_id, ts + INTERVAL '7 minutes' AS pts
      |  FROM events
      |  WHERE event_id % 5 = 0 AND user_id IS NOT NULL AND ts IS NOT NULL
      |)
      |SELECT p.event_id, p.user_id, h.event_type AS pit_type, h.valid_from
      |FROM probes p JOIN hist h ON h.user_id = p.user_id
      |  AND p.pts >= h.valid_from
      |  AND (h.valid_to IS NULL OR p.pts < h.valid_to)
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    val hist = Evolve.scd2(T.events(s, d), "user_id", "ts",
        attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
      .select(col("user_id").as("h_user"), col("event_type").as("pit_type"),
        col("valid_from"), col("valid_to"))
    val probes = T.events(s, d)
      .filter(col("event_id") % 5 === 0 && col("user_id").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        (col("ts") + expr("INTERVAL 7 MINUTES")).as("pts"))
    probes.join(hist,
        col("user_id") === col("h_user") &&
          col("pts") >= col("valid_from") &&
          (col("valid_to").isNull || col("pts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("pit_type"),
        col("valid_from"))
      .orderBy("event_id")
  }

  /** Incremental merge: split events at a cutoff into a base load and a
    * delta, merge last-write-wins per user — must equal the latest row per
    * user over the whole log. */
  val mergeUpsert = QueryDef(
    "q_e_merge_upsert",
    """SELECT user_id, event_id, ts, event_type, value
      |FROM (SELECT user_id, event_id, ts, event_type, value,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = T.events(s, d)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val cutoff = lit("2024-01-20").cast("timestamp")
    val base = ev.filter(col("ts") < cutoff)
    val delta = ev.filter(col("ts") >= cutoff)
    Evolve.mergeUpsert(base, delta,
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id")
  }

  /** dbt-style expectation suite over orders: fused one-scan row checks
    * (not_null / accepted_values / in_range), key uniqueness, and
    * referential integrity against customer. accepted_values deliberately
    * omits status 'P' so the suite demonstrably REPORTS violations. */
  val expectations = QueryDef(
    "q_dq_expectations",
    """WITH checks AS (
      |  SELECT 'not_null:o_custkey' AS check_name,
      |         CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'not_null:o_orderdate',
      |         CAST(count(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'accepted_values:o_orderstatus',
      |         CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F')
      |                               OR o_orderstatus IS NULL) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'in_range:o_totalprice',
      |         CAST(count(*) FILTER (WHERE o_totalprice IS NULL
      |                               OR o_totalprice < 0
      |                               OR o_totalprice > 1000000) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'unique:o_orderkey', CAST(COALESCE(sum(n - 1), 0) AS BIGINT)
      |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) t
      |  UNION ALL
      |  SELECT 'references:o_custkey->c_custkey', CAST(count(*) AS BIGINT)
      |  FROM orders o
      |  WHERE o_custkey IS NOT NULL
      |    AND NOT EXISTS (SELECT 1 FROM customer c
      |                    WHERE c.c_custkey = o.o_custkey)
      |)
      |SELECT check_name, violations, violations = 0 AS pass
      |FROM checks ORDER BY check_name""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    Quality.suite(Seq(
      Quality.rowChecks(orders, Seq(
        Quality.notNull("o_custkey"),
        Quality.notNull("o_orderdate"),
        Quality.acceptedValues("o_orderstatus", Seq("O", "F")),
        Quality.inRange("o_totalprice", 0.0, 1e6))),
      Quality.unique(orders, Seq("o_orderkey")),
      Quality.references(orders, "o_custkey", T.customer(s, d), "c_custkey")))
  }

  /** One-pass column profiler over documents (Quality.profileColumns):
    * per column, rows / nulls / exact distincts / min / max — the
    * "describe this table" gate a pipeline runs before training. The
    * Spark side fuses all columns into one aggregation over one scan. */
  val profileCols = QueryDef(
    "q_dq_profile_columns",
    """WITH prof AS (
      |  SELECT 'doc_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
      |         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      |         CAST(min(doc_id) AS VARCHAR) AS min_val,
      |         CAST(max(doc_id) AS VARCHAR) AS max_val
      |  FROM documents
      |  UNION ALL
      |  SELECT 'lang', CAST(count(*) AS BIGINT),
      |         CAST(count(*) - count(lang) AS BIGINT),
      |         CAST(count(DISTINCT lang) AS BIGINT),
      |         CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'n_chars', CAST(count(*) AS BIGINT),
      |         CAST(count(*) - count(n_chars) AS BIGINT),
      |         CAST(count(DISTINCT n_chars) AS BIGINT),
      |         CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
      |  FROM documents
      |  UNION ALL
      |  SELECT 'source', CAST(count(*) AS BIGINT),
      |         CAST(count(*) - count(source) AS BIGINT),
      |         CAST(count(DISTINCT source) AS BIGINT),
      |         CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
      |  FROM documents
      |)
      |SELECT * FROM prof ORDER BY column_name""".stripMargin) { (s, d) =>
    Quality.profileColumns(T.documents(s, d),
      Seq("doc_id", "lang", "n_chars", "source"))
  }

  /** Snapshot diff: the current version drops every 7th order and
    * reprioritizes every 13th; reconciliation must classify exactly those
    * as removed/changed. String/int columns only feed the digest
    * (engine-neutral casts). */
  val tableDiff = QueryDef(
    "q_e_table_diff",
    """WITH a AS (
      |  SELECT o_orderkey,
      |         md5(concat_ws('|', CAST(o_orderstatus AS VARCHAR),
      |                            CAST(o_orderpriority AS VARCHAR))) AS h_base
      |  FROM orders
      |), b AS (
      |  SELECT o_orderkey,
      |         md5(concat_ws('|', CAST(o_orderstatus AS VARCHAR),
      |              CAST(CASE WHEN o_orderkey % 13 = 0 THEN 'X-RECLASSED'
      |                        ELSE o_orderpriority END AS VARCHAR))) AS h_cur
      |  FROM orders WHERE o_orderkey % 7 <> 0
      |)
      |SELECT CASE WHEN h_base IS NULL THEN 'added'
      |            WHEN h_cur IS NULL THEN 'removed'
      |            WHEN h_base <> h_cur THEN 'changed'
      |            ELSE 'unchanged' END AS diff_status,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM a FULL OUTER JOIN b USING (o_orderkey)
      |GROUP BY 1 ORDER BY diff_status""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    val current = orders.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 13 === 0, lit("X-RECLASSED"))
          .otherwise(col("o_orderpriority")))
    Evolve.tableDiff(orders, current,
        keyCols = Seq("o_orderkey"),
        compareCols = Seq("o_orderstatus", "o_orderpriority"))
      .orderBy("diff_status")
  }

  /** Incrementally maintained per-customer order aggregate: base built
    * from the 3/4 of orders with o_orderkey % 4 != 0, the remaining
    * quarter folded in as a delta batch (partial-aggregate append, no
    * history rescan) — served totals must equal a full recompute over
    * ALL orders, which is exactly what the oracle computes. Count and
    * DECIMAL-sum are associative, so the equality is exact, not
    * approximate. */
  val aggMaintain = QueryDef(
    "q_e_agg_maintain",
    """SELECT o_custkey,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_amount
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"aggmaint|$d") { tmp =>
      Evolve.aggBuild(orders.filter(col("o_orderkey") % 4 =!= 0), tmp,
        "o_custkey", "o_totalprice")
      Evolve.aggFold(orders.filter(col("o_orderkey") % 4 === 0), tmp,
        "o_custkey", "o_totalprice")
    }
    Evolve.aggServe(s, dir, "o_custkey")
      .select(col("o_custkey"), col("n_rows"),
        col("total_amount").cast("double").as("total_amount"))
      .orderBy("o_custkey")
  }

  /** Incremental JOIN-view maintenance: orders ⋈ lineitem materialized
    * from half of each side, then ONE append folds the other halves via
    * the delta algebra (ΔL⋈R ∪ L⋈ΔR ∪ ΔL⋈ΔR — each maintenance batch is
    * map-only broadcast joins against the stored bases, never a
    * corpus re-join). The split deliberately crosses sides (orders by
    * orderkey parity, lineitems by linenumber parity) so every delta
    * term is non-empty: base orders gain delta lineitems, delta orders
    * gain base lineitems, and delta×delta pairs exist. Served view
    * aggregated per priority must equal the oracle's full join — exact
    * multiset equality surfaced through count + DECIMAL revenue. */
  val joinMaintain = QueryDef(
    "q_e_join_maintain",
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    val li = T.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_linenumber"),
        col("l_extendedprice"))
    val dir = graft.ops.Models.ensureBuilt(s"joinview|$d") { tmp =>
      Evolve.joinViewBuild(
        orders.filter(col("okey") % 2 === 0),
        li.filter(col("l_linenumber") % 2 === 0), tmp, "okey")
      Evolve.joinViewAppend(s, tmp,
        orders.filter(col("okey") % 2 =!= 0),
        li.filter(col("l_linenumber") % 2 =!= 0), "okey")
    }
    Evolve.joinViewServe(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        Fns.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Schema evolution across writer generations: gen-1 files carry the
    * original order columns, gen-2 files (o_orderkey % 3 = 0) add an
    * `o_channel` column; a single mergeSchema read unions the footers —
    * gen-1 rows surface o_channel as NULL, no rewrite of old files. The
    * aggregate proves both directions: total counts see every generation,
    * channel counts see only gen-2 rows. */
  val schemaEvolution = QueryDef(
    "q_e_schema_evolution",
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(count(CASE WHEN o_orderkey % 3 = 0 THEN
      |         (CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END)
      |         END) AS BIGINT) AS n_with_channel,
      |       CAST(sum(CASE WHEN o_orderkey % 3 = 0
      |                      AND o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_web
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"schevo|$d") { tmp =>
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .write.mode("append").parquet(s"$tmp/orders")
      orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_channel",
          when(col("o_orderkey") % 2 === 0, lit("web")).otherwise(lit("store")))
        .write.mode("append").parquet(s"$tmp/orders")
    }
    graft.model.Sources.readParquetEvolved(s, s"$dir/orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_channel")).as("n_with_channel"),
        sum(when(col("o_channel") === "web", 1).otherwise(0)).cast("long")
          .as("n_web"))
      .orderBy("o_orderstatus")
  }

  /** Robust per-group outlier rate over the event stream's value column:
    * the median/MAD gate (50% breakdown point — a corrupted batch can't
    * drag the fence over itself the way a mean/stddev one can). Stats
    * are group-bounded and broadcast; only the two exact-percentile
    * passes touch the facts. */
  val outliers = QueryDef(
    "q_dq_outliers",
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS m
      |  FROM events GROUP BY event_type
      |), st AS (
      |  SELECT e.event_type, max(m) AS m,
      |         quantile_cont(abs(e.value - m), 0.5) AS mad
      |  FROM events e JOIN med USING (event_type)
      |  GROUP BY e.event_type
      |)
      |SELECT e.event_type,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CASE WHEN abs(e.value - m) > 3.5 * mad THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_outliers
      |FROM events e JOIN st USING (event_type)
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin) { (s, d) =>
    graft.ops.Quality.robustOutliers(T.events(s, d), "event_type", "value")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("is_outlier"), 1).otherwise(0)).cast("long")
          .as("n_outliers"))
      .orderBy("event_type")
  }

  /** The ER pipeline's shared half, run ONCE per sf dir (cluster once,
    * survive many ways — both survivorship queries read the same
    * persisted labels): planted dirty customer corpus → block on
    * (nation, 18-char name prefix) → levenshtein ≤ 4 inside blocks →
    * connectedComponents, labels saved as an artifact. The dirty
    * corpora of the two queries differ only in SURVIVORSHIP-side columns
    * (balance plants, email, updated_at) — names/blocks are identical,
    * so the clusters are too. */
  /** Planted dirty ER corpus. Provenance is CARRIED through construction
    * (`__src`: 0 base / 1 " llc" copy / 2 " co" copy, plus the
    * pre-offset `__orig` key) rather than decoded back from key ranges
    * downstream — the r11 ADVICE fix: TPC-H c_custkey exceeds the 1e6
    * offset around sf 7, where a range decode would misattribute the
    * survivorship plants. The key offsets themselves stay fixed because
    * the oracle SQL plants with the same literals; a key collision at
    * sf ≥ 7 changes both sides identically (engine and oracle build the
    * same dirty rows), so parity holds at any sf. */
  private def erDirtyBase(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = T.customer(s, d).select(
      col("c_custkey").cast("long").as("key"), col("c_name").as("name"),
      col("c_nationkey").as("nat"), col("c_acctbal").as("bal"))
    base.withColumn("__src", lit(0)).withColumn("__orig", col("key"))
      .unionByName(base.filter(col("key") % 7 === 0).select(
        (col("key") + 1000000L).as("key"),
        concat(col("name"), lit(" llc")).as("name"), col("nat"),
        lit(null).cast("double").as("bal"),
        lit(1).as("__src"), col("key").as("__orig")))
      .unionByName(base.filter(col("key") % 21 === 0).select(
        (col("key") + 2000000L).as("key"),
        concat(col("name"), lit(" co")).as("name"), col("nat"),
        col("bal"),
        lit(2).as("__src"), col("key").as("__orig")))
  }

  /** The dirty corpus joined with its persisted cluster labels
    * (component = own key for singletons). */
  private def erLabeled(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = graft.ops.Models.ensureBuilt(s"erlabels|$d") { tmp =>
      val blk = erDirtyBase(s, d).withColumn("blk", concat_ws("|",
        col("nat").cast("string"), substring(lower(col("name")), 1, 18)))
      val pairs = blk.select(col("blk"), col("key").as("doc_a"),
          col("name").as("na"))
        .join(blk.select(col("blk"), col("key").as("doc_b"),
          col("name").as("nb")), "blk")
        .filter(col("doc_a") < col("doc_b") &&
          levenshtein(lower(col("na")), lower(col("nb"))) <= 4)
        .select("doc_a", "doc_b").distinct()
      graft.ops.Pins.scoped {
        graft.ops.Models.save(s, tmp)(_.write("labels",
          graft.ops.Dedup.connectedComponents(pairs)
            .withColumnRenamed("doc_id", "key")))
      }
    }
    erDirtyBase(s, d)
      .join(graft.ops.Models.load(s, dir, "labels"), Seq("key"), "left")
      .withColumn("component", coalesce(col("component"), col("key")))
  }

  /** Entity resolution with survivorship ("golden record"): planted
    * dirty duplicates of the customer table (an " llc"-suffixed copy
    * with a NULL balance for every 7th key, an " co" copy for every
    * 21st — so some clusters are triples), then the canonical ER
    * pipeline: BLOCK on (nation, 18-char name prefix) so candidate
    * pairs are per-block not global, SCORE blocked pairs by levenshtein
    * ≤ 4, CLUSTER matches transitively (Dedup.connectedComponents —
    * pair-level merging over-merges nothing and under-merges A~B~C
    * chains), and SURVIVE one record per cluster by completeness (non-
    * null balance first) then smallest key. At 100 TB the block join is
    * a shuffled equi join on the blocking key (never all-pairs), the
    * edit distance runs only inside blocks, and CC is the same
    * log-diameter loop the dedup family uses. Emits multi-member
    * clusters with their survivor + completeness tallies. */
  val erGoldenRecord = QueryDef(
    "q_er_golden_record",
    """WITH RECURSIVE base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS key, c_name AS name,
      |         c_nationkey AS nat, c_acctbal AS bal
      |  FROM customer
      |), dirty AS (
      |  SELECT * FROM base
      |  UNION ALL
      |  SELECT key + 1000000, name || ' llc', nat, NULL
      |  FROM base WHERE key % 7 = 0
      |  UNION ALL
      |  SELECT key + 2000000, name || ' co', nat, bal
      |  FROM base WHERE key % 21 = 0
      |), blk AS (
      |  SELECT *, CAST(nat AS VARCHAR) || '|'
      |            || substr(lower(name), 1, 18) AS blk
      |  FROM dirty
      |), pairs AS (
      |  SELECT DISTINCT a.key AS ka, b.key AS kb
      |  FROM blk a JOIN blk b ON a.blk = b.blk
      |  WHERE a.key < b.key
      |    AND levenshtein(lower(a.name), lower(b.name)) <= 4
      |), edges AS (
      |  SELECT ka AS a, kb AS b FROM pairs
      |  UNION SELECT kb, ka FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS key, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |), labeled AS (
      |  SELECT d.key, d.name, d.bal,
      |         COALESCE(c.component, d.key) AS component
      |  FROM dirty d LEFT JOIN comp c USING (key)
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY component
      |            ORDER BY (bal IS NULL), key) AS rn
      |  FROM labeled
      |), stats AS (
      |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
      |         CAST(sum(CASE WHEN bal IS NOT NULL THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_with_balance
      |  FROM labeled GROUP BY component
      |)
      |SELECT r.component, r.key AS survivor_key,
      |       r.name AS survivor_name, s.n_members, s.n_with_balance
      |FROM ranked r JOIN stats s USING (component)
      |WHERE r.rn = 1 AND s.n_members >= 2
      |ORDER BY r.component""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val labeled = erLabeled(s, d)
    val ranked = labeled.withColumn("rn", row_number().over(
      Window.partitionBy("component")
        .orderBy(col("bal").isNull, col("key"))))
    val stats = labeled.groupBy("component").agg(
      count(lit(1)).as("n_members"),
      sum(when(col("bal").isNotNull, 1).otherwise(0)).cast("long")
        .as("n_with_balance"))
    ranked.filter(col("rn") === 1)
      .join(stats, "component")
      .filter(col("n_members") >= 2)
      .select(col("component"), col("key").as("survivor_key"),
        col("name").as("survivor_name"), col("n_members"),
        col("n_with_balance"))
      .orderBy("component")
  }

  /** Field-level survivorship ("golden record", fused form): where
    * q_er_golden_record keeps one whole RECORD per cluster, real
    * master-data pipelines fuse PER FIELD — each column gets its own
    * survivorship rule over the cluster's members. Same planted dirty
    * corpus and ER pipeline (block → levenshtein ≤ 4 → CC), then one
    * groupBy with per-column survivorship aggregates, each rule
    * exercised by a distinct plant:
    *   - survivor_name: the min-key member (source priority — the
    *     original table outranks the suffixed copies);
    *   - merged_bal: max non-null balance (the " co" copy plants
    *     bal + 100, so the fused value provably comes from a NON-survivor
    *     member);
    *   - merged_email: any-member non-null (only the " llc" copy carries
    *     an email — the survivor itself has NULL, so record-pick would
    *     lose it; that lost-field case is exactly why field merge
    *     exists);
    *   - last_updated: max recency (the " llc" copy plants +1000 days).
    * Scale shape identical to the record-pick query: block equi join,
    * in-block edit distance, log-diameter CC, one per-cluster agg. */
  val erFieldMerge = QueryDef(
    "q_er_field_merge",
    """WITH RECURSIVE base AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS key, c_name AS name,
      |         c_nationkey AS nat, c_acctbal AS bal,
      |         DATE '1995-01-01' + CAST(c_custkey % 365 AS INTEGER) AS upd,
      |         CAST(NULL AS VARCHAR) AS email
      |  FROM customer
      |), dirty AS (
      |  SELECT key, name, nat, bal, upd, email FROM base
      |  UNION ALL
      |  SELECT key + 1000000, name || ' llc', nat, NULL, upd + 1000,
      |         'k' || CAST(key AS VARCHAR) || '@x'
      |  FROM base WHERE key % 7 = 0
      |  UNION ALL
      |  SELECT key + 2000000, name || ' co', nat, bal + 100.0e0, upd, NULL
      |  FROM base WHERE key % 21 = 0
      |), blk AS (
      |  SELECT *, CAST(nat AS VARCHAR) || '|'
      |            || substr(lower(name), 1, 18) AS blk
      |  FROM dirty
      |), pairs AS (
      |  SELECT DISTINCT a.key AS ka, b.key AS kb
      |  FROM blk a JOIN blk b ON a.blk = b.blk
      |  WHERE a.key < b.key
      |    AND levenshtein(lower(a.name), lower(b.name)) <= 4
      |), edges AS (
      |  SELECT ka AS a, kb AS b FROM pairs
      |  UNION SELECT kb, ka FROM pairs
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS key, least(a, min(b)) AS component
      |  FROM reach GROUP BY a
      |), labeled AS (
      |  SELECT d.*, COALESCE(c.component, d.key) AS component
      |  FROM dirty d LEFT JOIN comp c USING (key)
      |), ranked AS (
      |  SELECT component, name,
      |         row_number() OVER (PARTITION BY component ORDER BY key) AS rn
      |  FROM labeled
      |), merged AS (
      |  SELECT component, CAST(count(*) AS BIGINT) AS n_members,
      |         max(bal) AS merged_bal, max(email) AS merged_email,
      |         max(upd) AS last_updated
      |  FROM labeled GROUP BY component
      |)
      |SELECT r.component, r.name AS survivor_name, m.n_members,
      |       m.merged_bal, m.merged_email, m.last_updated
      |FROM ranked r JOIN merged m USING (component)
      |WHERE r.rn = 1 AND m.n_members >= 2
      |ORDER BY r.component""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // survivorship-side plants layered over the SHARED dirty base +
    // cluster labels (names/blocks identical ⇒ identical clusters):
    // base rows get upd + NULL email; the llc copy +1000 days and an
    // email; the co copy bal+100 — attributed from the CARRIED __src
    // provenance, never decoded from key ranges (exact at any sf)
    val labeled = erLabeled(s, d)
      .withColumn("__upd0", date_add(to_date(lit("1995-01-01")),
        (col("__orig") % 365).cast("int")))
      .withColumn("upd",
        when(col("__src") === 1, date_add(col("__upd0"), 1000))
          .otherwise(col("__upd0")))
      .withColumn("email",
        when(col("__src") === 1,
          concat(lit("k"), col("__orig").cast("string"), lit("@x")))
          .otherwise(lit(null).cast("string")))
      .withColumn("bal",
        when(col("__src") === 2, col("bal") + 100.0)
          .otherwise(col("bal")))
      .drop("__upd0")
    val ranked = labeled.withColumn("rn", row_number().over(
      Window.partitionBy("component").orderBy("key")))
    val merged = labeled.groupBy("component").agg(
      count(lit(1)).as("n_members"),
      max(col("bal")).as("merged_bal"),
      max(col("email")).as("merged_email"),
      max(col("upd")).as("last_updated"))
    ranked.filter(col("rn") === 1)
      .select(col("component"), col("name").as("survivor_name"))
      .join(merged, "component")
      .filter(col("n_members") >= 2)
      .select(col("component"), col("survivor_name"), col("n_members"),
        col("merged_bal"), col("merged_email"), col("last_updated"))
      .orderBy("component")
  }

  /** Per-group winsorization — the robust-preprocessing staple: clamp
    * each group's values to its exact [p05, p95] band before any
    * mean-based modeling. Bounds are DISCRETE rank selections (value at
    * rank ⌈q·n⌉, ties broken by id — no interpolation arithmetic, so
    * both engines pick the identical value); the clamp itself is
    * map-side against a broadcast T-row bounds table, and the
    * before/after means accumulate in DECIMAL so the report is
    * order-independent. One shuffle for the rank window, one for the
    * final aggregate. */
  val winsorize = QueryDef(
    "q_dq_winsorize",
    """WITH v AS (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value, event_id) AS vr,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL
      |), bounds AS (
      |  SELECT event_type,
      |    max(CASE WHEN vr = CAST(ceil(0.05e0 * n) AS BIGINT)
      |             THEN value END) AS lo,
      |    max(CASE WHEN vr = CAST(ceil(0.95e0 * n) AS BIGINT)
      |             THEN value END) AS hi
      |  FROM v GROUP BY event_type
      |)
      |SELECT v.event_type, CAST(max(v.n) AS BIGINT) AS n,
      |       max(b.lo) AS lo, max(b.hi) AS hi,
      |       CAST(sum(CAST(v.value AS DECIMAL(18,2))) AS DOUBLE)
      |         / max(v.n) AS mean_before,
      |       CAST(sum(CAST(least(greatest(v.value, b.lo), b.hi)
      |                     AS DECIMAL(18,2))) AS DOUBLE)
      |         / max(v.n) AS mean_after,
      |       CAST(sum(CASE WHEN v.value < b.lo OR v.value > b.hi
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
      |FROM v JOIN bounds b USING (event_type)
      |GROUP BY v.event_type
      |ORDER BY v.event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ev = T.events(s, d).filter(col("value").isNotNull)
    val v = ev
      .withColumn("vr", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy("event_type")))
    val bounds = v.groupBy("event_type").agg(
      max(when(col("vr") === ceil(lit(0.05) * col("n")).cast("long"),
        col("value"))).as("lo"),
      max(when(col("vr") === ceil(lit(0.95) * col("n")).cast("long"),
        col("value"))).as("hi"))
    val dec = DecimalType(18, 2)
    v.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), max(col("lo")).as("lo"),
        max(col("hi")).as("hi"),
        (sum(col("value").cast(dec)).cast("double") / max(col("n")))
          .as("mean_before"),
        (sum(least(greatest(col("value"), col("lo")), col("hi")).cast(dec))
          .cast("double") / max(col("n"))).as("mean_after"),
        sum(when(col("value") < col("lo") || col("value") > col("hi"), 1)
          .otherwise(0)).cast("long").as("n_clamped"))
      .orderBy("event_type")
  }

  val defs: Seq[QueryDef] =
    Seq(scd2, scd2Pit, mergeUpsert, expectations, profileCols, tableDiff,
      aggMaintain, joinMaintain, schemaEvolution, outliers, erGoldenRecord,
      erFieldMerge, winsorize)
}
