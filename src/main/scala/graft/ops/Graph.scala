package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed graph analytics over edge lists (the component-labeling half
  * lives in `Dedup.connectedComponents`). Each PageRank iteration is one
  * equi join (edges × scores, shuffled on src) plus one partial-aggregated
  * sum shuffled on dst — the standard scalable formulation; nothing is ever
  * materialized driver-side and no step is quadratic. At 100 TB the edge
  * list would be pre-bucketed by src so the per-iteration join is
  * shuffle-free; iterations would checkpoint every ~5 steps to cut lineage.
  *
  * Determinism contract (shared with `Retrieval`): cross-partition double
  * sums are order-dependent, so every per-edge contribution is rounded to
  * DECIMAL(18,9) before the exact decimal sum, and each new score is
  * re-rounded after the damping step. Both engines then agree bit-for-bit
  * at EVERY iteration, which is what lets a fixed-depth unrolled SQL oracle
  * hash-match the Spark loop.
  */
object Graph {

  /** PageRank with a fixed iteration count over directed edges (src, dst).
    * Returns (node, score DECIMAL(18,9)). Dangling-node mass is dropped
    * (nodes with no out-edges contribute nothing), the common simplified
    * form; scores still sum to < 1 and ranks are unaffected for connected
    * graphs. */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val dec = DecimalType(18, 9)
    // localCheckpoint (not cache) the derived edge list: a cache only saves
    // EXECUTION — the (possibly expensive) edge-derivation PLAN would still
    // be embedded in e/outdeg/nodes and re-analyzed driver-side inside every
    // AQE stage-job of every iteration, which for a joined-at-scale edge
    // list is the dominant per-iteration cost once the graph itself is
    // small. Checkpointing truncates the lineage to the materialized rows,
    // so each iteration's plan is a few nodes deep. The checkpoint is
    // released before returning (after the result is materialized), same
    // contract as Dedup.connectedComponents' edge checkpoint.
    val e = Pins.checkpoint(edges.select(col("src"), col("dst")).distinct())
    val outdeg = Pins.cache(e.groupBy("src").agg(count(lit(1)).as("od")))
    val nodes = Pins.cache(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct())
    val nRow = nodes.agg(count(lit(1)).as("n"))
    var scores = nodes.join(broadcast(nRow))
      .select(col("node"), (lit(1.0) / col("n")).cast(dec).as("score"))
    // Pin the frontier every `pinEvery` iterations (bounded plan depth) and
    // release the superseded pin immediately: a deep loop must hold at most
    // ONE frontier in memory, not iters of them. NOT every iteration — each
    // eager pin is a full job, and for a small graph the per-job overhead
    // dominates the 2 tiny shuffles an iteration actually does; a 5-deep
    // lazy chain folds into the next materialization at no extra cost.
    // cache+count rather than localCheckpoint — recompute-on-eviction is
    // safe because every step here is deterministic.
    val pinEvery = 5 // r18 A/B: pinEvery=3 cut cold reps (17.3→10.6) but
                     // cost the steady min an extra pin job (5.0→5.8 s,
                     // medians equal) — kept at 5, the steady state wins
    var frontier: DataFrame = null // the last pinned scores
    for (i <- 1 to iters) {
      if (i > 1 && (i - 1) % pinEvery == 0) {
        frontier = Pins.advance(frontier, scores)
        scores = frontier
      }
      val insum = e
        .join(scores.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          (col("score").cast("double") / col("od")).cast(dec).as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("insum"))
      scores = nodes
        .join(insum, Seq("node"), "left")
        .join(broadcast(nRow))
        .select(col("node"),
          ((lit(1.0) - lit(damping)) / col("n")
            + lit(damping) * coalesce(col("insum").cast("double"), lit(0.0)))
            .cast(dec).as("score"))
    }
    // materialize the result, then free every intermediate: the only cache
    // surviving the call is the returned table (release via Pins.releaseAll
    // after consuming, or the per-query clearState in Bench/Verify)
    val out = Pins.advance(frontier, scores)
    // the result is materialized above, so the edge checkpoint (whose
    // truncated lineage cannot recompute) is safe to release now
    Pins.release(e)
    Pins.release(outdeg)
    Pins.release(nodes)
    out
  }

  /** The DuckDB twin of [[pageRank]]: the same fixed-point arithmetic
    * unrolled as nested CTEs (recursive CTEs cannot aggregate in the
    * recursive term). Every CTE is MATERIALIZED — the oracle's analogue of
    * the Spark side's per-iteration cache pin; inlined, the multiply-
    * referenced chain would re-derive the edge list exponentially.
    * `edgesSql` must produce columns (src, dst). */
  def pageRankOracleSql(edgesSql: String, iters: Int = 5, damping: Double = 0.85): String = {
    val head =
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
         |outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS od FROM e GROUP BY 1),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         |s0 AS MATERIALIZED (SELECT node, CAST(CAST(1 AS DOUBLE) / n AS DECIMAL(18,9)) AS score
         |       FROM nodes CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT dst AS node,
         |       sum(CAST(CAST(score AS DOUBLE) / od AS DECIMAL(18,9))) AS insum
         |       FROM e JOIN s${i - 1} ON e.src = s${i - 1}.node
         |       JOIN outdeg USING (src) GROUP BY dst),
         |s$i AS MATERIALIZED (SELECT nodes.node,
         |       CAST((1 - CAST($damping AS DOUBLE)) / n
         |            + CAST($damping AS DOUBLE)
         |              * coalesce(CAST(insum AS DOUBLE), CAST(0 AS DOUBLE))
         |            AS DECIMAL(18,9)) AS score
         |       FROM nodes LEFT JOIN c$i USING (node) CROSS JOIN nn)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT node, score FROM s$iters"
  }

  /** Per-node triangle counts via DEGREE-ORDERED edge orientation (the
    * compact-forward algorithm): canonicalize to undirected distinct
    * edges, orient every edge from its lower-(degree, id) endpoint to
    * the higher, then close wedges with one equi join + one semi join.
    * The orientation is the scale move — a skewed graph's hub node has
    * out-degree bounded by the number of HIGHER-degree neighbors (≈√m),
    * so the wedge join's fan-out is O(m^1.5) total instead of the
    * Σdeg² a naive neighbor self-join pays on power-law graphs; every
    * triangle is produced exactly once (its unique (deg,id)-ordered
    * u<v<w traversal). Shuffles: the wedge equi join on the pivot node
    * and the closing semi join on (u,w) — both bounded by oriented-edge
    * volume. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = Pins.cache(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // oriented feeds three plans (wedge left, wedge right, closing semi);
    // uncached the 4-way derivation re-executes for each
    val oriented = Pins.cache(und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v")))
    val wedges = oriented
      .join(oriented.select(col("u").as("v"), col("v").as("w")), "v")
    val tris = wedges.join(oriented.select(col("u"), col("v").as("w")),
      Seq("u", "w"), "left_semi")
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
