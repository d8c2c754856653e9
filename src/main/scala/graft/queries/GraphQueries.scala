package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Graph analytics over a graph DERIVED at scale: the nation-level trade
  * network (customer nation → supplier nation, one edge per distinct
  * trading pair observed in lineitem). The derivation is the heavy part at
  * 100 TB — a four-table key join chain — and the iteration layer is the
  * standard join+aggregate PageRank that distributes at any node count.
  */
object GraphQueries {

  private val edgesSql =
    """SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |WHERE c.c_nationkey <> s.s_nationkey""".stripMargin

  /** 5-iteration PageRank over the trade graph, named by nation. The
    * oracle unrolls the same decimal-rounded fixed point (see
    * Graph.pageRank's determinism contract) so scores hash-match exactly. */
  val pagerank = QueryDef(
    "q_graph_pagerank",
    s"""SELECT n_name, CAST(score AS DOUBLE) AS score
       |FROM (${Graph.pageRankOracleSql(edgesSql, iters = 5)}) pr
       |JOIN nation ON pr.node = n_nationkey
       |ORDER BY score DESC, n_name""".stripMargin) { (s, d) =>
    val edges = T.customer(s, d)
      .join(T.orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(T.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(T.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
    val pr = Graph.pageRank(edges, iters = 5)
    pr.join(T.nation(s, d), pr("node") === col("n_nationkey"))
      .select(col("n_name"), col("score").cast("double").as("score"))
      .orderBy(desc("score"), asc("n_name"))
  }

  /** Bounded-hop reachability via WITH RECURSIVE (new in Spark 4) — the
    * same statement runs on both engines. Edges are thinned to pairs with
    * > 5 observed trades so hop distances are non-trivial; the recursion
    * is hop-bounded (UNION ALL + depth guard), then min-hop aggregated.
    * Integer-only — no float parity concerns. */
  private def reachBody(thinRelation: String) =
    s"""reach(node, hops) AS (
       |  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
       |  UNION ALL
       |  SELECT CAST(t.dst AS BIGINT), r.hops + 1
       |  FROM reach r JOIN $thinRelation t ON t.src = r.node
       |  WHERE r.hops < 3
       |)
       |SELECT node, CAST(min(hops) AS INTEGER) AS min_hops,
       |       CAST(count(*) AS BIGINT) AS n_paths
       |FROM reach GROUP BY node
       |ORDER BY node""".stripMargin

  private val thinSql =
    s"SELECT src, dst FROM ($edgesSql) e GROUP BY src, dst HAVING count(*) > 5"

  val reachability = QueryDef(
    "q_graph_reach_cte",
    s"WITH RECURSIVE thin AS MATERIALIZED ($thinSql),\n" + reachBody("thin")) { (s, d) =>
    Seq("customer" -> T.customer(s, d), "orders" -> T.orders(s, d),
      "lineitem" -> T.lineitem(s, d), "supplier" -> T.supplier(s, d))
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    // pre-materialize the thin edge list: the recursive step references it
    // once per iteration, and uncached that re-derives the 4-table join
    // every hop (same pattern as Graph.pageRank's cache; the oracle's
    // MATERIALIZED hint is the DuckDB analogue)
    graft.ops.Pins.cache(s.sql(thinSql))
      .createOrReplaceTempView("thin_edges")
    s.sql("WITH RECURSIVE " + reachBody("thin_edges"))
  }

  /** Per-nation triangle counts in the trade graph — degree-ordered
    * orientation (compact-forward), so the wedge join's fan-out is
    * bounded by higher-degree neighbors instead of deg² on hubs; each
    * triangle closes exactly once. */
  val triangles = QueryDef(
    "q_graph_triangles",
    s"""WITH e0 AS ($edgesSql),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e0 WHERE src <> dst
       |),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY node
       |),
       |o AS (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.a ELSE u.b END AS u,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.b ELSE u.a END AS v
       |  FROM und u
       |  JOIN deg da ON da.node = u.a
       |  JOIN deg db ON db.node = u.b
       |),
       |tri AS (
       |  SELECT w.u, w.v, w.w FROM (
       |    SELECT e1.u, e1.v, e2.v AS w
       |    FROM o e1 JOIN o e2 ON e2.u = e1.v
       |  ) w
       |  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.u = w.u AND e3.v = w.w)
       |)
       |SELECT n_name, n_triangles FROM (
       |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM (SELECT u AS node FROM tri
       |        UNION ALL SELECT v FROM tri
       |        UNION ALL SELECT w FROM tri)
       |  GROUP BY node
       |) t JOIN nation ON t.node = n_nationkey
       |ORDER BY n_name""".stripMargin) { (s, d) =>
    val edges = T.customer(s, d)
      .join(T.orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(T.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(T.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
    val tc = Graph.triangleCounts(edges)
    tc.join(T.nation(s, d), tc("node") === col("n_nationkey"))
      .select(col("n_name"), col("n_triangles"))
      .orderBy("n_name")
  }

  val defs: Seq[QueryDef] = Seq(pagerank, reachability, triangles)
}
