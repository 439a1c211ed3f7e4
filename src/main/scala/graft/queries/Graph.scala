package graft.queries

import graft.{GQuery, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relations derived from the synthetic
  * tables. The reference has no graph operators (its one iterative shape is
  * the polling loop); this pack extends the engine the same way dd7's
  * connected components did: fixed-point computation expressed as a chain of
  * equi-joins + aggregations that Catalyst plans like any other relational
  * query — no driver-side per-vertex state, no collect().
  *
  * Exact-math discipline (see tx9/w18): ranks live in integer micro-units
  * with truncating division, so a fixed number of iterations is bit-stable
  * across engines and partitionings — the DuckDB oracle unrolls the same
  * three steps in SQL and hash-matches.
  */
object Graph extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** PageRank (3 unrolled iterations, damping 0.85) over the bipartite
    * customer<->supplier graph induced by order fulfilment: an edge links a
    * customer to every supplier that shipped a line item of one of its
    * orders. Node ids interleave the two key spaces (customer 2k,
    * supplier 2k+1) so one vertex relation serves both sides.
    *
    * Scale shape (Pregel-style): the edge list is a distinct projection of
    * the orders ⋈ lineitem join (shrinks the fact table to one row per
    * relationship), denormalized with the RECEIVER's degree, and persisted
    * hash-partitioned on the sender once — each iteration is then exactly
    * one shuffled-hash join (only the node-sized rank relation moves; the
    * cached edges never re-shuffle and the rank side never broadcasts,
    * which would not survive 100× nodes) plus one map-side-combinable sum.
    * The receiver-degree DENORMALIZATION onto the cached edges is
    * load-bearing, not an accident: a measured round-9 variant that kept
    * edges narrow and re-joined the degree table per iteration (the
    * oracle's own SQL shape) ran ~25% slower in two paired same-JVM
    * runs — carrying `v_outdeg` through the aggregate is free (one extra
    * max() fused into the existing shuffle), while the per-iteration deg
    * join adds a serial stage barrier to the critical path each round.
    * Rank mass is integer micro-units: contribution = rank div degree,
    * next = 150000 + 85·inflow div 100 — no floats, so no
    * order-of-addition divergence at any parallelism. Top-30 is
    * TakeOrderedAndProject, never a global sort.
    */
  val pagerank = GQuery(
    "g1_pagerank",
    (s, dir) => {
      val e0 = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          (col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
        .persist()
      val und = e0
        .union(e0.select(col("v").as("u"), col("u").as("v")))
      val deg = und
        .groupBy(col("u").as("node"))
        .agg(count(lit(1)).as("outdeg"))
      val edges = und
        .join(deg, und("v") === deg("node"))
        .select(col("u"), col("v"), col("outdeg").as("v_outdeg"))
        .repartition(col("u"))
        .persist()
      var ranks = edges
        .groupBy(col("v").as("node"))
        .agg(max(col("v_outdeg")).as("outdeg"))
        .withColumn("rank_mi", lit(1000000L))
      for (_ <- 1 to 3) {
        ranks = edges
          .join(ranks.hint("shuffle_hash"), edges("u") === ranks("node"))
          .select(col("v"),
            expr("rank_mi div outdeg").as("contrib"),
            col("v_outdeg"))
          .groupBy(col("v").as("node"))
          .agg(
            sum(col("contrib")).as("in_mi"),
            max(col("v_outdeg")).as("outdeg"))
          .select(col("node"), col("outdeg"),
            expr("150000L + (85L * in_mi) div 100").as("rank_mi"))
      }
      ranks
        .select(
          expr("node div 2").as("entity_id"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("outdeg").as("degree"),
          col("rank_mi"))
        .orderBy(col("rank_mi").desc, col("kind"), col("entity_id"))
        .limit(30)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rank_mi").desc, col("kind"), col("entity_id"))))
    },
    Some("""
      WITH e0 AS (
        SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      deg AS (SELECT u AS node, COUNT(*) AS outdeg FROM e GROUP BY 1),
      r0 AS (SELECT node, outdeg, CAST(1000000 AS BIGINT) AS rank_mi FROM deg),
      m1 AS (SELECT e.v AS node,
                    CAST(SUM(r.rank_mi // r.outdeg) AS BIGINT) AS in_mi
             FROM e JOIN r0 r ON e.u = r.node GROUP BY 1),
      r1 AS (SELECT d.node, d.outdeg,
                    CAST(150000 + (85 * m.in_mi) // 100 AS BIGINT) AS rank_mi
             FROM m1 m JOIN deg d ON m.node = d.node),
      m2 AS (SELECT e.v AS node,
                    CAST(SUM(r.rank_mi // r.outdeg) AS BIGINT) AS in_mi
             FROM e JOIN r1 r ON e.u = r.node GROUP BY 1),
      r2 AS (SELECT d.node, d.outdeg,
                    CAST(150000 + (85 * m.in_mi) // 100 AS BIGINT) AS rank_mi
             FROM m2 m JOIN deg d ON m.node = d.node),
      m3 AS (SELECT e.v AS node,
                    CAST(SUM(r.rank_mi // r.outdeg) AS BIGINT) AS in_mi
             FROM e JOIN r2 r ON e.u = r.node GROUP BY 1),
      r3 AS (SELECT d.node, d.outdeg,
                    CAST(150000 + (85 * m.in_mi) // 100 AS BIGINT) AS rank_mi
             FROM m3 m JOIN deg d ON m.node = d.node)
      SELECT node // 2 AS entity_id,
             CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             outdeg AS degree, rank_mi,
             row_number() OVER (ORDER BY rank_mi DESC, kind, node // 2) AS rk
      FROM r3 QUALIFY rk <= 30"""))

  /** Breadth-first hop distance from a seed vertex (supplier #1) over the
    * same fulfilment graph, reported as node counts per (distance, side) —
    * "how much of the market is within k relationships of this supplier".
    *
    * Scale shape: the level sets are computed WITHOUT per-hop anti-joins —
    * level h is simply the distinct neighbors of level h−1 (a node reached
    * earlier just reappears and min(dist) keeps the first hop), so each of
    * the 4 levels is one equi-join against the cached edge list on a
    * uniform key plus a distinct; every intermediate is node-bounded. The
    * final rollup is a handful of rows. Integer-only, so bit-stable.
    */
  val khopReach = GQuery(
    "g2_khop_reach",
    (s, dir) => {
      val e0 = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          (col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
        .distinct()
      // Persist the DOUBLED edge list hash-partitioned on the join key — it
      // is what every BFS level joins against. Persisting only e0 made each
      // of the 4 levels re-run the union and re-shuffle it under the join;
      // the repartition makes the cached partitioning satisfy the join's
      // requirement so only the frontier moves per level (the g1/g3 shape).
      val edges = e0
        .union(e0.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .persist()
      val seed = s.range(1).select(lit(3L).as("node"), lit(0).as("dist"))
      var levels = Seq(seed)
      for (h <- 1 to 4) {
        val prev = levels.last
        levels = levels :+ edges
          .join(prev, edges("u") === prev("node"))
          .select(col("v").as("node"))
          .distinct()
          .withColumn("dist", lit(h))
      }
      levels.reduce(_.union(_))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
        .groupBy(
          col("dist"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"))
        .agg(count(lit(1)).as("n_nodes"))
    },
    Some("""
      WITH e0 AS (
        SELECT DISTINCT o_custkey*2 AS u, l_suppkey*2+1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
      a0 AS (SELECT CAST(3 AS BIGINT) AS node, 0 AS dist),
      a1 AS (SELECT DISTINCT e.v AS node, 1 AS dist
             FROM e JOIN a0 ON e.u = a0.node),
      a2 AS (SELECT DISTINCT e.v AS node, 2 AS dist
             FROM e JOIN a1 ON e.u = a1.node),
      a3 AS (SELECT DISTINCT e.v AS node, 3 AS dist
             FROM e JOIN a2 ON e.u = a2.node),
      a4 AS (SELECT DISTINCT e.v AS node, 4 AS dist
             FROM e JOIN a3 ON e.u = a3.node),
      lv AS (SELECT * FROM a0 UNION ALL SELECT * FROM a1
             UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3
             UNION ALL SELECT * FROM a4),
      d AS (SELECT node, MIN(dist) AS dist FROM lv GROUP BY 1)
      SELECT dist,
             CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             COUNT(*) AS n_nodes
      FROM d GROUP BY 1, 2"""))

  /** Single-source cheapest path (Bellman-Ford, 4 relaxation rounds) over
    * the fulfilment graph with INTEGER edge costs: an edge's cost is
    * inverse to its shipment volume (`1000000 div n_lineitems`), so the
    * "cheapest" path prefers strong trading relationships — the weighted
    * companion to g2's unweighted hop distance.
    *
    * Scale shape (textbook relational Bellman-Ford): the weighted edge
    * list aggregates the fact join once and is cached; each round is
    * exactly `dist' = min(dist, min_{(u,v)} dist(u)+w(u,v))` — one
    * equi-join of the node-bounded frontier against the cached edges plus
    * one map-side-combinable min-aggregation. Integer costs make every
    * round bit-stable (min is deterministic under ties, unlike float
    * sums), so a fixed round count hash-matches the oracle's unrolled
    * recursion. Top-50 is a window over the final node-bounded relation.
    */
  val cheapestPath = GQuery(
    "g3_cheapest_path",
    (s, dir) => {
      val w0 = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(
          (col("o_custkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("u"), col("v"), expr("1000000L div cnt").as("w"))
        .persist()
      // no `repartition(u)` before the cache: AQE coalesces a cached plan's
      // shuffle (canChangeCachedPlanOutputPartitioning), which drops its
      // hash partitioning, so each round's join shuffles the edges by `u`
      // either way (PlanSpec's g3 test)
      val edges = w0
        .union(w0.select(col("v").as("u"), col("u").as("v"), col("w")))
        .persist()
      var dist = s.range(1)
        .select(lit(3L).as("node"), lit(0L).as("cost_mi"))
      for (round <- 1 to 4) {
        // dist appears twice per round (carry-over ∪ relaxation), so cut
        // the lineage each round — without this the self-reference doubles
        // the uncached plan per iteration (2^rounds recomputation), the
        // same reason ConnectedComponents checkpoints its labels.
        // Round 1's frontier is the literal source row: the optimizer folds
        // the key into a `u = 3` filter on the cached edges, so that join
        // has no equi key for a shuffle_hash hint and broadcasts the one
        // row instead.
        val frontier = if (round == 1) dist else dist.hint("shuffle_hash")
        dist = dist.union(
            edges.join(frontier, edges("u") === frontier("node"))
              .select(col("v").as("node"),
                (col("cost_mi") + col("w")).as("cost_mi")))
          .groupBy(col("node"))
          .agg(min(col("cost_mi")).as("cost_mi"))
          .localCheckpoint(true)
      }
      dist
        .select(
          expr("node div 2").as("entity_id"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("cost_mi"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cost_mi"), col("kind"), col("entity_id"))))
        .filter(col("rk") <= 50)
    },
    Some("""
      WITH w0 AS (
        SELECT o_custkey*2 AS u, l_suppkey*2+1 AS v,
               1000000 // COUNT(*) AS w
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2),
      e AS (SELECT u, v, w FROM w0 UNION ALL SELECT v, u, w FROM w0),
      d0 AS (SELECT CAST(3 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost_mi),
      d1 AS (SELECT node, MIN(cost_mi) AS cost_mi FROM (
               SELECT * FROM d0 UNION ALL
               SELECT e.v, d0.cost_mi + e.w FROM e JOIN d0 ON e.u = d0.node)
             GROUP BY 1),
      d2 AS (SELECT node, MIN(cost_mi) AS cost_mi FROM (
               SELECT * FROM d1 UNION ALL
               SELECT e.v, d1.cost_mi + e.w FROM e JOIN d1 ON e.u = d1.node)
             GROUP BY 1),
      d3 AS (SELECT node, MIN(cost_mi) AS cost_mi FROM (
               SELECT * FROM d2 UNION ALL
               SELECT e.v, d2.cost_mi + e.w FROM e JOIN d2 ON e.u = d2.node)
             GROUP BY 1),
      d4 AS (SELECT node, MIN(cost_mi) AS cost_mi FROM (
               SELECT * FROM d3 UNION ALL
               SELECT e.v, d3.cost_mi + e.w FROM e JOIN d3 ON e.u = d3.node)
             GROUP BY 1)
      SELECT * FROM (
        SELECT node // 2 AS entity_id,
               CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                 AS kind,
               cost_mi,
               row_number() OVER (ORDER BY cost_mi, kind, node // 2) AS rk
        FROM d4) WHERE rk <= 50"""))

  /** g4: triangle census of the repeat-co-purchase graph — nodes are parts,
    * an edge ties two parts bought together in ≥ 2 distinct orders (the
    * tie-strength knob that separates signal from basket noise). Output is
    * the one-row graph census: edges, triangles, wedges, and the global
    * clustering coefficient — the cohesion metric recommender and fraud
    * pipelines track over billions of edges.
    *
    * Scale shape (the compact-forward/degree-ordering argument):
    *   - Edge generation is bounded per order (≤ items², single-digit in
    *     any realistic basket), aggregated once on the canonical (u, v)
    *     key; the HAVING prune rides that aggregate.
    *   - Triangles are counted ONCE each by orienting every edge from its
    *     (degree, id)-smaller endpoint — a local lexicographic comparison,
    *     deliberately NOT a global rank (a dense `row_number` over all
    *     vertices would serialize through one window partition at scale).
    *     Orientation bounds every out-neighborhood by O(√m), so the wedge
    *     join — the only quadratic-risk step — generates Σ out-deg² ≈
    *     m^1.5 rows worst-case instead of Σ deg² (hub-quadratic).
    *   - Wedge enumeration + closure check are two equi-joins on uniform
    *     keys; the degree table joins in as a node-bounded dimension.
    *   - Wedge TOTAL for the coefficient is Σ C(d, 2) off the degree
    *     table — exact integers; the coefficient is one double division.
    */
  /** Shared co-purchase graph builders (g4 census + g5 local coefficients):
    * pruned canonical edge list (persisted — the per-order pair expansion
    * over the fact table must run once, not once per consumer branch),
    * degree table, and the (degree, id)-oriented edge list that bounds
    * every out-neighborhood by O(√m) for wedge enumeration.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = li.select(col("l_orderkey"), col("l_partkey").as("u"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("v"))
    a.join(b, "l_orderkey")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u"), col("v"))
      .persist()
  }

  private def degreesOf(e0: DataFrame): DataFrame =
    e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))

  /** Orient each edge from its (degree, id)-smaller endpoint; carry the
    * target's (degree, id) so wedge pairs can be ordered locally.
    */
  private def orientEdges(e0: DataFrame, deg: DataFrame): DataFrame =
    e0.join(deg.select(col("node").as("u"), col("d").as("ud")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("vd")), "v")
      .select(
        when(struct(col("ud"), col("u")) < struct(col("vd"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("ud"), col("u")) < struct(col("vd"), col("v")),
          col("v")).otherwise(col("u")).as("t"),
        when(struct(col("ud"), col("u")) < struct(col("vd"), col("v")),
          col("vd")).otherwise(col("ud")).as("td"))
      .persist()

  /** Oriented-wedge pair enumeration + closure check: the triangle triple
    * list (s, t1, t2), each triangle exactly once.
    */
  private def triangleTriples(oriented: DataFrame): DataFrame = {
    val o1 = oriented.select(col("s"), col("t").as("t1"), col("td").as("t1d"))
    val o2 = oriented.select(col("s"), col("t").as("t2"), col("td").as("t2d"))
    o1.join(o2, "s")
      .filter(struct(col("t1d"), col("t1")) < struct(col("t2d"), col("t2")))
      .join(oriented.select(col("s").as("t1"), col("t").as("t2")),
        Seq("t1", "t2"))
      .select(col("s"), col("t1"), col("t2"))
  }

  val triangleCensus = GQuery(
    "g4_triangle_census",
    (s, dir) => {
      val e0 = coPurchaseEdges(s, dir)
      val deg = degreesOf(e0)
      val oriented = orientEdges(e0, deg)
      val triangles = triangleTriples(oriented)
        .agg(count(lit(1)).as("n_triangles"))
      val census = e0.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(deg.agg(
          sum(expr("d * (d - 1) div 2")).as("n_wedges"))))
        .crossJoin(broadcast(triangles))
      census.select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double")).otherwise(lit(0.0))
          .as("global_clustering"))
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY 1),
      o AS (
        SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS s,
               CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS t,
               CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN dv.d ELSE du.d END AS td
        FROM e0 JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node),
      tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM o o1 JOIN o o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
        JOIN o o3 ON o3.s = o1.t AND o3.t = o2.t),
      wtot AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
      SELECT (SELECT COUNT(*) FROM e0) AS n_edges,
             n_wedges, n_triangles,
             CASE WHEN n_wedges > 0
                  THEN 3.0 * CAST(n_triangles AS DOUBLE)
                       / CAST(n_wedges AS DOUBLE)
                  ELSE 0.0 END AS global_clustering
      FROM wtot, tri"""))

  /** g5: local clustering coefficient per node — the per-entity cohesion
    * score (n_triangles_through_node / C(degree, 2)) that community and
    * fraud features consume row-wise, completing g4's one-row census with
    * the node-level distribution.
    *
    * Scale shape: identical machinery to g4 (shared builders — pruned
    * persisted edge list, √m-bounded oriented wedge join); the only new
    * work is crediting each triangle to its three corners (explode ×3,
    * node-bounded) and one broadcast-sized join against the degree table.
    * The denominator is exact integer wedge count per node; the
    * coefficient is one double division per row.
    */
  val clusteringCoeff = GQuery(
    "g5_clustering_coeff",
    (s, dir) => {
      val e0 = coPurchaseEdges(s, dir)
      val deg = degreesOf(e0)
      val oriented = orientEdges(e0, deg)
      val perNode = triangleTriples(oriented)
        .select(explode(array(col("s"), col("t1"), col("t2"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_triangles"))
      deg.filter(col("d") >= 2)
        .join(perNode, Seq("node"), "left")
        .select(col("node"), col("d").as("degree"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          (coalesce(col("n_triangles"), lit(0L)).cast("double") /
            expr("d * (d - 1) div 2").cast("double")).as("local_cc"))
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY 1),
      o AS (
        SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS s,
               CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS t,
               CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN dv.d ELSE du.d END AS td
        FROM e0 JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node),
      tri AS (
        SELECT o1.s, o1.t AS t1, o2.t AS t2
        FROM o o1 JOIN o o2 ON o1.s = o2.s AND (o1.td, o1.t) < (o2.td, o2.t)
        JOIN o o3 ON o3.s = o1.t AND o3.t = o2.t),
      pn AS (
        SELECT node, COUNT(*) AS n_triangles
        FROM (SELECT s AS node FROM tri
              UNION ALL SELECT t1 FROM tri
              UNION ALL SELECT t2 FROM tri)
        GROUP BY 1)
      SELECT d.node, d.d AS degree,
             COALESCE(pn.n_triangles, 0) AS n_triangles,
             CAST(COALESCE(pn.n_triangles, 0) AS DOUBLE)
               / CAST(d.d * (d.d - 1) // 2 AS DOUBLE) AS local_cc
      FROM deg d LEFT JOIN pn ON d.node = pn.node
      WHERE d.d >= 2"""))

  /** g6: degree assortativity — the Pearson correlation of endpoint degrees
    * over the undirected co-purchase edges: positive means hubs prefer hubs
    * (social-network shape), negative means hub-and-spoke (infrastructure
    * shape). One scalar that says which scaling strategies (sampling,
    * partitioning, attack surface) apply to this graph.
    *
    * Scale shape: reuses g4's pruned persisted edge list and degree table;
    * both endpoint-degree attachments are joins of the edge list against
    * the node-bounded degree relation, and every moment sum (n, Σx, Σxy,
    * Σx², …) is EXACT integer arithmetic — degrees are ints, so the
    * correlation is one double expression over exact BIGINT sums, the
    * ab-pack discipline with nothing to quantize.
    */
  val assortativity = GQuery(
    "g6_assortativity",
    (s, dir) => {
      val e0 = coPurchaseEdges(s, dir)
      val deg = degreesOf(e0)
      val und = e0.select(col("u"), col("v"))
        .unionAll(e0.select(col("v").as("u"), col("u").as("v")))
      val sums = und
        .join(deg.select(col("node").as("u"), col("d").as("x")), "u")
        .join(deg.select(col("node").as("v"), col("d").as("y")), "v")
        .agg(
          count(lit(1)).as("n0"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"))
      // the integer sums are exact; the normal-equation algebra then runs
      // in double with expression structure mirrored in the oracle (their
      // cross products can pass 2^63, where BIGINT would overflow but
      // identical double rounding on both engines stays bit-equal)
      sums.select(
        expr("n0 div 2").as("n_edges"),
        ((col("n0") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n0") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n0") * col("syy") - col("sy") * col("sy"))))
          .as("assortativity"))
    },
    Some("""
      WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        GROUP BY 1),
      und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      sums AS (
        SELECT COUNT(*) AS n0,
               CAST(SUM(du.d) AS DOUBLE) AS sx,
               CAST(SUM(dv.d) AS DOUBLE) AS sy,
               CAST(SUM(du.d * dv.d) AS DOUBLE) AS sxy,
               CAST(SUM(du.d * du.d) AS DOUBLE) AS sxx,
               CAST(SUM(dv.d * dv.d) AS DOUBLE) AS syy
        FROM und JOIN deg du ON und.u = du.node
                 JOIN deg dv ON und.v = dv.node)
      SELECT CAST(n0 // 2 AS BIGINT) AS n_edges,
             (n0 * sxy - sx * sy)
               / (sqrt(n0 * sxx - sx * sx) * sqrt(n0 * syy - sy * sy))
               AS assortativity
      FROM sums"""))

  /** g7: k-core decomposition (k=2, five peel rounds) — the cohesion filter
    * graph feature pipelines run before centralities: iteratively delete
    * nodes of degree < k until the remainder is the k-core, the canonical
    * "dense interior" of the graph. Output is the surviving membership with
    * each node's within-core degree.
    *
    * Scale shape (same fixed-point discipline as dd7/g1): each peel round
    * is one node-keyed degree aggregate plus two semi-joins of the edge
    * list against the shrinking keep-set — the edge relation only ever
    * SHRINKS, and the keep-set is node-bounded, so every round is cheaper
    * than the last; per-round persists cap recomputation the way dd7's CC
    * loop does. Five rounds reach the true fixed point on every testdata
    * SF (probed: sf0.1 converges at round 5, the others earlier); the
    * round count is a bounded-iteration constant like g1's three PageRank
    * steps, and the oracle unrolls the identical five rounds, so any
    * non-convergence would hash-mismatch rather than silently pass. All
    * math is integer counts — no floats anywhere.
    */
  val kcore = GQuery(
    "g7_kcore",
    (s, dir) => {
      val K = 2
      var e = coPurchaseEdges(s, dir)
      for (_ <- 1 to 5) {
        val keep = degreesOf(e).filter(col("d") >= K).select(col("node"))
        // localCheckpoint per round (the dd7 iterating-relation rule):
        // without it each round's two semi-joins nest the previous round's
        // whole plan twice — exponential lineage that OOMs the planner by
        // round 5. The edge list only shrinks, so the materialization is
        // cheap and bounds planning at O(1) per round.
        e = e
          .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .localCheckpoint(true)
      }
      degreesOf(e)
        .select(col("node").as("part_id"), col("d").as("core_degree"))
    },
    Some("""
      WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e0 AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      k1 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
             GROUP BY 1 HAVING COUNT(*) >= 2),
      e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e JOIN k1 a ON e.u = a.node
             JOIN k1 b ON e.v = b.node),
      k2 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
             GROUP BY 1 HAVING COUNT(*) >= 2),
      e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e JOIN k2 a ON e.u = a.node
             JOIN k2 b ON e.v = b.node),
      k3 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
             GROUP BY 1 HAVING COUNT(*) >= 2),
      e3 AS MATERIALIZED (SELECT e.u, e.v FROM e2 e JOIN k3 a ON e.u = a.node
             JOIN k3 b ON e.v = b.node),
      k4 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
             GROUP BY 1 HAVING COUNT(*) >= 2),
      e4 AS MATERIALIZED (SELECT e.u, e.v FROM e3 e JOIN k4 a ON e.u = a.node
             JOIN k4 b ON e.v = b.node),
      k5 AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e4 UNION ALL SELECT v FROM e4)
             GROUP BY 1 HAVING COUNT(*) >= 2),
      e5 AS MATERIALIZED (SELECT e.u, e.v FROM e4 e JOIN k5 a ON e.u = a.node
             JOIN k5 b ON e.v = b.node)
      SELECT node AS part_id, COUNT(*) AS core_degree
      FROM (SELECT u AS node FROM e5 UNION ALL SELECT v FROM e5)
      GROUP BY 1"""))

  override def queries: Seq[GQuery] =
    Seq(pagerank, khopReach, cheapestPath, triangleCensus, clusteringCoeff,
      assortativity, kcore)
}
