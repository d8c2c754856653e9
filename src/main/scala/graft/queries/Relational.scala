package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan / projection / filter / aggregation / sort operator families
  * (SURVEY.md §2.1 S1, §2.2 P1-P7, §2.4 A1-A10, §2.6 O1-O3) re-expressed over
  * the driver testdata. Every query ends in a total ORDER BY so the DuckDB
  * oracle compare is deterministic; double aggregates are rounded on both
  * sides (per-row IEEE arithmetic is order-independent, cross-partition sums
  * are not).
  */
object Relational {

  /** S1 + P1/P2/P6: pruned scan — projection and filter both reach the
    * parquet reader (PushedFilters + narrow ReadSchema in .explain). */
  val s1ScanPrune = QueryDef(
    "q_s1_scan_prune",
    """SELECT l_orderkey, l_linenumber, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '2000-01-01'
      |ORDER BY l_shipdate, l_orderkey, l_linenumber
      |LIMIT 500""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      .limit(500)
  }

  /** P1 + F18/F19/F20: projection with per-row arithmetic and casts
    * (reference: net-price style derivations, stg_fight_results.sql:44-55). */
  val p1ProjectArith = QueryDef(
    "q_p1_project_arith",
    """SELECT l_orderkey, l_linenumber,
      |       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_price,
      |       CAST(l_quantity AS INT) AS qty_int
      |FROM lineitem
      |WHERE l_returnflag <> 'N'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .filter(col("l_returnflag") =!= "N")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("net_price"),
        col("l_quantity").cast("int").as("qty_int"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** P3 + P6: in-list and threshold predicates (reference:
    * clutch_wins.sql:25-26 `method_group in (...) and round_number >= 4`). */
  val p3InList = QueryDef(
    "q_p3_inlist_filter",
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_returnflag IN ('A', 'R') AND l_quantity >= 30
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R") && col("l_quantity") >= 30)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Fns.dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** P4: case-insensitive LIKE / NOT LIKE (reference: weightclass
    * `ilike '%Title Bout%' and not ilike '%interim%'`, title_reigns.sql:14-16). */
  val p4Ilike = QueryDef(
    "q_p4_ilike",
    """SELECT p_brand, count(*) AS n_parts, max(p_size) AS max_size
      |FROM part
      |WHERE p_name ILIKE '%red%' AND p_type NOT ILIKE '%promo%'
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    T.part(s, d)
      .filter(col("p_name").ilike("%red%") && !col("p_type").ilike("%promo%"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"), max(col("p_size")).as("max_size"))
      .orderBy("p_brand")
  }

  /** P5 + F8: POSIX-style regex predicate guarding classification
    * (reference: date-format guards, stg_event_details.sql:17-25). */
  val p5Regex = QueryDef(
    "q_p5_regex_guard",
    """SELECT source, count(*) AS n_docs
      |FROM documents
      |WHERE regexp_matches(text, '^[a-z]+\s+[a-z]+')
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, d) =>
    T.documents(s, d)
      .filter(col("text").rlike("^[a-z]+\\s+[a-z]+"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** A1 + A4 + A9: the flagship TPC-H-Q1-shaped aggregation — multi-key
    * groupBy with sum/avg/count (reference: fighters_by_wins.sql A1,
    * fight_time_per_division.sql A4). Partial (map-side) aggregation +
    * final HashAggregate; scales linearly with no extra shuffle. */
  val a1CountGroup = QueryDef(
    "q_a1_agg_pricing",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // fanned after the pushed filter, so only the surviving rows move
    graft.ops.ScaleOps.fanOutCompute(
        T.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
          .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount"),
        "l_orderkey")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Fns.dsum(col("l_quantity")).as("sum_qty"),
        Fns.dsum(col("l_extendedprice")).as("sum_base_price"),
        Fns.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("sum_disc_price"),
        Fns.davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A2 + A3 + A7: conditional-sum pivot, FILTER-clause count, HAVING
    * (reference: fighters_best_record.sql:17-20,
    * consecutive_title_defenses.sql:82, championship_rounds_fought.sql:40). */
  val a2CondSum = QueryDef(
    "q_a2_cond_sum_having",
    """SELECT o_custkey,
      |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_orders,
      |       count(*) FILTER (WHERE o_orderstatus = 'O') AS o_orders,
      |       count(*) AS total_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(*) >= 15
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    T.orders(s, d)
      .groupBy("o_custkey")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("f_orders"),
        count(when(col("o_orderstatus") === "O", 1)).as("o_orders"),
        count(lit(1)).as("total_orders"))
      .filter(col("total_orders") >= 15)
      .orderBy("o_custkey")
  }

  /** A4 + A5: avg / min / max over doubles and timestamps
    * (reference: fight_time_per_division.sql:6-7, wins_over_champions.sql:20). */
  val a4MinMaxAvg = QueryDef(
    "q_a4_minmax_avg",
    """SELECT l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |       min(l_shipdate) AS first_ship,
      |       max(l_shipdate) AS last_ship,
      |       min(l_extendedprice) AS min_price,
      |       max(l_extendedprice) AS max_price
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .groupBy("l_linestatus")
      .agg(
        Fns.davg(col("l_quantity")).as("avg_qty"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_linestatus")
  }

  /** A6: exact COUNT(DISTINCT) — two distinct aggregates in one query uses
    * Spark's expand+two-phase plan, still shuffle-efficient
    * (reference: wins_over_champions_agg.sql:5). */
  val a6CountDistinct = QueryDef(
    "q_a6_count_distinct",
    """SELECT l_returnflag,
      |       count(DISTINCT l_suppkey) AS n_supp,
      |       count(DISTINCT l_partkey) AS n_part
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    T.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"))
      .orderBy("l_returnflag")
  }

  /** A10 + U3: DISTINCT projection (reference: dim_division.sql:3-6). */
  val a10Distinct = QueryDef(
    "q_a10_distinct",
    """SELECT DISTINCT o_orderstatus, o_orderpriority
      |FROM orders
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
    T.orders(s, d)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** O1 + O3: multi-key mixed-direction sort + LIMIT top-k. Spark plans
    * TakeOrderedAndProject — per-partition top-k then merge, no global sort
    * (reference: fighters_best_record.sql:44 + the 13 LIMIT'd Metabase cards). */
  val o1MultiSort = QueryDef(
    "q_o1_multisort_topk",
    """SELECT o_custkey,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
      |       count(*) AS n_orders,
      |       max(o_orderdate) AS last_order
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY total_spent DESC, n_orders ASC, o_custkey ASC
      |LIMIT 100""".stripMargin) { (s, d) =>
    T.orders(s, d)
      .groupBy("o_custkey")
      .agg(
        Fns.dsum(col("o_totalprice")).as("total_spent"),
        count(lit(1)).as("n_orders"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy(desc("total_spent"), asc("n_orders"), asc("o_custkey"))
      .limit(100)
  }

  /** O2 + J1: explicit NULLS LAST ordering over a null-producing left join
    * (reference: title_reigns.sql:317 `order by reign_days desc nulls last`;
    * PG/Spark default null-order differ — SURVEY §7.4.1). */
  val o2NullsLast = QueryDef(
    "q_o2_nulls_last",
    """SELECT c.c_custkey, max(o.o_orderdate) AS last_order,
      |       count(o.o_orderkey) AS n_recent
      |FROM customer c
      |LEFT JOIN (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-07-01') o
      |  ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_custkey
      |ORDER BY last_order DESC NULLS LAST, c.c_custkey
      |LIMIT 300""".stripMargin) { (s, d) =>
    val recent = T.orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-07-01").cast("timestamp"))
    T.customer(s, d)
      .join(recent, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(max(col("o_orderdate")).as("last_order"),
        count(col("o_orderkey")).as("n_recent"))
      .orderBy(desc_nulls_last("last_order"), asc("c_custkey"))
      .limit(300)
  }

  /** JSONL source roundtrip (the training-data interchange format):
    * documents → one-object-per-line JSON artifact → schema'd readJsonl →
    * per-lang aggregate incl. a tokenization pass over the roundtripped
    * text. The oracle computes the SAME aggregate from the parquet table,
    * so equality proves the JSONL write+read is lossless through JSON
    * string escaping — the differential test a format deserves, not a
    * smoke check. Explicit schema keeps the read single-pass (no
    * inference scan); line-splittable at any file size. */
  val s8JsonlRoundtrip = QueryDef(
    "q_s8_jsonl_roundtrip",
    """SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                                x -> x <> ''))) AS BIGINT) AS sum_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin) { (s, d) =>
    val docs = T.documents(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"jsonl|$d") { tmp =>
      graft.model.Sources.writeJsonlReplace(docs, s"$tmp/documents")
    }
    graft.model.Sources.readJsonl(s, s"$dir/documents", docs.schema)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(size(filter(split(lower(trim(col("text"))), "\\s+"),
          x => x =!= "")).cast("long")).as("sum_tokens"))
      .orderBy("lang")
  }

  /** ORC source/sink roundtrip (the second columnar interchange format):
    * orders → ORC artifact → readOrc → filtered per-priority aggregate
    * over the TYPED surface (timestamp min/max, decimal sum) that text
    * formats can't carry natively. The oracle computes the same
    * aggregate from the parquet table, so equality proves the ORC
    * write+read preserves timestamps and numerics exactly; the status
    * filter rides Spark's native vectorized ORC reader with predicate
    * pushdown into stripe stats, like the parquet scan path. The decimal
    * sum is cast to DOUBLE on both sides (the q_j11 convention): Spark
    * widens sum(DECIMAL(18,6)) to DECIMAL(28,6) while DuckDB widens to
    * DECIMAL(38,6), and the driver's value hash is type-sensitive even
    * when the digits are byte-identical. */
  val s9OrcRoundtrip = QueryDef(
    "q_s9_orc_roundtrip",
    """SELECT o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
      |       min(o_orderdate) AS first_order,
      |       max(o_orderdate) AS last_order
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
    val dir = graft.ops.Models.ensureBuilt(s"orc|$d") { tmp =>
      graft.model.Sources.writeOrcReplace(orders, s"$tmp/orders")
    }
    graft.model.Sources.readOrc(s, s"$dir/orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double")
          .as("total_price"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy("o_orderpriority")
  }

  /** O4 (beyond ref): 2-D Pareto skyline — orders dominated by no other
    * order on (o_totalprice, o_orderdate), both maximized. The naive form
    * is a quadratic NOT EXISTS self-theta-join (the oracle); the engine
    * runs the sorted-scan algebra instead: collapse to one row per price
    * (groupBy → max date), compute the running max date over STRICTLY
    * greater prices with the two-pass bucketed prefix-max
    * (ScaleOps.prefixMax — no single-partition global window), and keep
    * rows beating that running max. O(n log n) work, every stage a
    * shuffle-partitioned agg/window/join — the 100 TB shape for skyline /
    * record-tracking queries. */
  val o3ParetoSkyline = QueryDef(
    "q_o3_pareto_skyline",
    """SELECT b.o_orderkey, b.o_totalprice, b.o_orderdate
      |FROM orders b
      |WHERE b.o_totalprice IS NOT NULL AND b.o_orderdate IS NOT NULL
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders a
      |    WHERE a.o_totalprice >= b.o_totalprice
      |      AND a.o_orderdate >= b.o_orderdate
      |      AND (a.o_totalprice > b.o_totalprice
      |           OR a.o_orderdate > b.o_orderdate))
      |ORDER BY b.o_totalprice DESC, b.o_orderkey""".stripMargin) { (s, d) =>
    val orders = T.orders(s, d)
      .filter(col("o_totalprice").isNotNull && col("o_orderdate").isNotNull)
    val byPrice = orders.groupBy("o_totalprice")
      .agg(max(col("o_orderdate")).as("__dmax"))
    // bucket = floor(−price/25k): monotone non-decreasing along the
    // price-DESC scan order, ~22 buckets over the testdata price range
    val frontier = graft.ops.ScaleOps.prefixMax(byPrice,
        floor(col("o_totalprice") / lit(-25000.0)).cast("long"),
        Seq(col("o_totalprice").desc), col("__dmax"), "__m1", strict = true)
      .filter(col("__m1").isNull || col("__dmax") > col("__m1"))
    orders.join(frontier, Seq("o_totalprice"))
      .filter(col("o_orderdate") === col("__dmax"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** O5 (beyond ref): 3-D Pareto skyline — orders dominated by no other
    * on (price, order date, key-derived tier), all maximized. The 2-D
    * prefix-max algebra doesn't generalize past two dims, so this runs
    * ScaleOps.skyline3d's dominance-grid form: fixed-width (price, day)
    * cells → strict 2-D suffix max over the width-bounded dense grid
    * (two windows, never data-sized) prunes every point a strictly
    * higher cell dominates; the exact check then runs candidates vs
    * candidates on a covering-cell-restored EQUI key (the
    * intervalBucketJoin trick) with the full dominance residual — no
    * cartesian, no nested loop (PlanSpec pin). The oracle is the naive
    * quadratic triple-NOT-EXISTS. */
  val o5Skyline3d = QueryDef(
    "q_o5_skyline_3d",
    """WITH p AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |         o_totalprice AS x,
      |         CAST(datediff('day', DATE '1992-01-01', o_orderdate)
      |              AS BIGINT) AS y,
      |         CAST(o_orderkey % 997 AS BIGINT) AS z
      |  FROM orders
      |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
      |)
      |SELECT b.o_orderkey, b.x, b.y, b.z
      |FROM p b
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM p a
      |  WHERE a.x >= b.x AND a.y >= b.y AND a.z >= b.z
      |    AND (a.x > b.x OR a.y > b.y OR a.z > b.z))
      |ORDER BY b.o_orderkey""".stripMargin) { (s, d) =>
    val pts = T.orders(s, d)
      .filter(col("o_totalprice").isNotNull && col("o_orderdate").isNotNull)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_totalprice").as("x"),
        datediff(col("o_orderdate"), to_date(lit("1992-01-01")))
          .cast("long").as("y"),
        (col("o_orderkey") % 997).cast("long").as("z"))
    // fixed ABSOLUTE cell widths (the q_j11 lesson): ~25k on price,
    // ~100 days on date — a ~22x25 grid at any scale factor
    graft.ops.ScaleOps.skyline3d(pts, "o_orderkey", wx = 25000.0,
        wy = 100.0)
      .select("o_orderkey", "x", "y", "z")
      .orderBy("o_orderkey")
  }

  val defs: Seq[QueryDef] = Seq(
    s1ScanPrune, p1ProjectArith, p3InList, p4Ilike, p5Regex,
    a1CountGroup, a2CondSum, a4MinMaxAvg, a6CountDistinct, a10Distinct,
    o1MultiSort, o2NullsLast, s8JsonlRoundtrip, s9OrcRoundtrip,
    o3ParetoSkyline, o5Skyline3d)
}
