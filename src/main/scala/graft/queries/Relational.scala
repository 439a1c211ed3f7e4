package graft.queries

import graft.{GQuery, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators over the synthetic TPC-H-ish tables.
  *
  * The reference (`FigureTechnologies/event-stream`) has no joins or
  * aggregations (SURVEY.md §2.5/§2.6 — ABSENT); these are the built-in Spark
  * capabilities our engine inherits and exposes over its views. Exact math
  * discipline: monetary/quantity doubles are cast to DECIMAL(18,2) before
  * aggregation (associative, order-independent) and back to DOUBLE at the end
  * so results hash-match the DuckDB oracle bit-for-bit.
  */
object Relational extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** sum(decimal-cast) rendered back as double: exact and associative. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  val q1Pricing = GQuery(
    "q1_agg_pricing",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_shipdate" < lit("1998-09-01").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity").as("sum_qty"),
          dsum($"l_extendedprice").as("sum_base_price"),
          sum(($"l_extendedprice" * ($"l_discount" - 1) * -1)
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (l_discount - 1) * -1 AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""))

  /** Star join: small dims are broadcast (Catalyst auto-broadcasts under the
    * threshold; explicit hint keeps the plan shuffle-free for the dim side
    * even at 100 TB fact scale).
    */
  val q2JoinRevenue = GQuery(
    "q2_join_revenue_by_nation",
    (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      ord
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          dsum($"o_totalprice").as("revenue"),
          count(lit(1)).as("n_orders"))
    },
    Some("""
      SELECT r_name, n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name"""))

  /** Predicate + projection pushdown to the parquet scan (SURVEY §2.3 P1/P2:
    * the reference's skip-empty and event-type filters). `.explain` must show
    * PushedFilters on event_type/value.
    */
  val q3Filter = GQuery(
    "q3_filter_events",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .filter($"event_type" === "purchase" && $"value" > 100.0)
        .select($"event_id", $"user_id", $"value")
    },
    Some("""
      SELECT event_id, user_id, value
      FROM events
      WHERE event_type = 'purchase' AND value > 100.0"""))

  /** Large-fact join lineitem x orders: both sides shuffle-partitioned on the
    * join key; at 100 TB this is the plan you want (no broadcast possible),
    * with AQE handling skew.
    */
  val q4BigJoin = GQuery(
    "q4_join_lineitem_orders",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .filter($"o_orderstatus" === "O")
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_lines"),
          dsum($"l_extendedprice").as("sum_price"))
    },
    Some("""
      SELECT o_orderpriority,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'O'
      GROUP BY o_orderpriority"""))

  /** Grouping sets (§2.6, absent in the reference, inherited from Spark):
    * revenue by (nation, order-year) with ROLLUP subtotals and grand total.
    * Physically one Expand + hash aggregate — the fact table is scanned
    * once for all three grouping levels; the nation dim stays broadcast.
    */
  val q5Rollup = GQuery(
    "q5_rollup_revenue",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .withColumn("o_year", year($"o_orderdate").cast("long"))
        .rollup($"n_name", $"o_year")
        .agg(
          dsum($"l_extendedprice").as("revenue"),
          count(lit(1)).as("n_rows"))
    },
    Some("""
      SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_rows
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY ROLLUP(n_name, CAST(year(o_orderdate) AS BIGINT))"""))

  /** Backward as-of join ([[graft.operators.AsofJoin]]): each purchase event
    * attributed to the same user's most recent view at-or-before it —
    * left-outer semantics, one shuffle, no candidate-pair blow-up (see the
    * operator's scaladoc for why this beats a range join at 100 TB).
    * Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  val q6Asof = GQuery(
    "q6_asof_attribution",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      graft.operators.AsofJoin
        .backward(purchases, views, Seq("user_id"), "ts", "view_ts")
        .select("event_id", "user_id", "ts", "value", "view_id", "view_ts")
    },
    Some("""
      SELECT a.event_id, a.user_id, a.ts, a.value,
             b.event_id AS view_id, b.ts AS view_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') a
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
      ON a.user_id = b.user_id AND a.ts >= b.ts"""))

  /** q6 on the dedicated physical operator ([[graft.plans.AsofJoinExec]]:
    * logical node + strategy + sort-merge exec via SparkSessionExtensions)
    * instead of the union+window plan — same rows, same oracle.
    */
  val q6bAsofMerge = GQuery(
    "q6b_asof_merge",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      graft.operators.AsofJoin
        .merge(purchases, views, Seq("user_id"), "ts", "view_ts")
        .select("event_id", "user_id", "ts", "value", "view_id", "view_ts")
    },
    q6Asof.oracle)

  /** Proximity join: for every error event, how many clicks the same user
    * made within ±5 minutes, written as the plain band predicate
    * `abs(unix_micros(ts) - unix_micros(click_ts)) <= 5 min` next to the
    * user key. The session's [[graft.plans.BandJoinRewrite]] plans it as a
    * bucketed band join (3x probe explode + hash equi-join on (key,
    * bucket)) instead of comparing every pair inside each user's key group.
    * Left-outer shape (errors with zero clicks kept) via count + join-back
    * — a shuffle join on the unique event_id (the count side scales with
    * the error count, so it is NOT broadcast).
    */
  val q7Range = GQuery(
    "q7_range_proximity",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val pairs = errors.as("e").join(clicks.as("c"),
        col("e.user_id") === col("c.user_id") &&
          abs(unix_micros(col("ts")) - unix_micros(col("click_ts"))) <= 300000000L)
      val counts = pairs.groupBy("event_id").agg(count(lit(1)).as("n_clicks_5m"))
      errors.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("n_clicks_5m"), lit(0L)).as("n_clicks_5m"))
    },
    Some("""
      SELECT a.event_id, a.user_id, a.ts,
             COUNT(b.event_id) AS n_clicks_5m
      FROM (SELECT * FROM events WHERE event_type = 'error') a
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
        ON a.user_id = b.user_id
       AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts + INTERVAL 5 MINUTE
      GROUP BY a.event_id, a.user_id, a.ts"""))

  /** Pivot (§2.6): per-user event-type counts as columns. The value list is
    * EXPLICIT, so Spark skips the extra distinct-values job and the plan is
    * a single hash aggregate — the shape that matters when the fact side is
    * 100 TB. Pivot-count yields NULL for absent combinations; coalesced to 0
    * to match the conditional-aggregation oracle.
    */
  val q8Pivot = GQuery(
    "q8_pivot_event_counts",
    (s, dir) => {
      import s.implicits._
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy($"user_id").pivot("event_type", types).count()
      p.select($"user_id" +: types.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    },
    Some("""
      SELECT user_id,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
             COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
      FROM events GROUP BY user_id"""))

  /** Anti + semi joins (§2.5): market segments with, per segment, how many
    * customers never ordered (anti) and how many did (semi). Both plans are
    * broadcast-able hash joins on the key — no NOT-IN null-trap subquery.
    */
  val q9AntiSemi = GQuery(
    "q9_anti_semi_customers",
    (s, dir) => {
      import s.implicits._
      val cust = t(s, dir, "customer")
      val ordKeys = t(s, dir, "orders").select($"o_custkey")
      val never = cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_never_ordered"))
      val did = cust.join(ordKeys, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n_ordered"))
      never.join(did, Seq("c_mktsegment"), "full_outer")
        .select($"c_mktsegment",
          coalesce($"n_never_ordered", lit(0L)).as("n_never_ordered"),
          coalesce($"n_ordered", lit(0L)).as("n_ordered"))
    },
    Some("""
      SELECT c_mktsegment,
             COUNT(CASE WHEN NOT EXISTS (SELECT 1 FROM orders
                                         WHERE o_custkey = c_custkey) THEN 1 END)
               AS n_never_ordered,
             COUNT(CASE WHEN EXISTS (SELECT 1 FROM orders
                                     WHERE o_custkey = c_custkey) THEN 1 END)
               AS n_ordered
      FROM customer GROUP BY c_mktsegment"""))

  /** Exact interpolated percentiles (§2.6): order-value quartiles + p90 per
    * order priority. Rank-based → order-independent and deterministic; both
    * engines interpolate linearly and the 6-sig-digit hash normalization
    * absorbs last-ulp differences.
    */
  val q10Percentiles = GQuery(
    "q10_percentiles",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(
          percentile($"o_totalprice", lit(0.25)).as("p25"),
          percentile($"o_totalprice", lit(0.5)).as("p50"),
          percentile($"o_totalprice", lit(0.9)).as("p90"),
          count(lit(1)).as("n"))
    },
    Some("""
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.25) AS p25,
             quantile_cont(o_totalprice, 0.5) AS p50,
             quantile_cont(o_totalprice, 0.9) AS p90,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority"""))

  /** Forward as-of join with a bounded look-ahead: each view attributed to
    * the same user's NEXT purchase within 2 hours — conversion attribution.
    * Same single-shuffle union+window plan as q6, traversed in reverse time
    * order; the tolerance NULLs payloads further than 2 h ahead. Oracle:
    * candidate left join + row_number (bounded by the tolerance window, so
    * no unbounded pair blow-up on either engine).
    */
  val q6cAsofForward = GQuery(
    "q6c_asof_forward",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      graft.operators.AsofJoin
        .forward(views, purchases, Seq("user_id"), "ts", "purchase_ts",
          tolerance = Some(lit(7200)))
        .select("event_id", "user_id", "ts", "purchase_id", "purchase_ts")
    },
    Some("""
      SELECT event_id, user_id, ts, purchase_id, purchase_ts FROM (
        SELECT v.event_id, v.user_id, v.ts,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               row_number() OVER (PARTITION BY v.event_id
                                  ORDER BY p.ts, p.event_id) AS rk
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 2 HOUR)
      WHERE rk = 1"""))

  /** CUBE grouping sets (§2.6): order counts + revenue over every subset of
    * (status, priority), with `grouping_id` disambiguating "NULL because
    * rolled up" from a genuine NULL key. One hash aggregate expands the
    * grouping-set lattice map-side — no per-set re-scan of the fact table,
    * which is the property that matters when orders is the 100 TB side.
    */
  val q11Cube = GQuery(
    "q11_cube_orders",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          dsum($"o_totalprice").as("revenue"))
    },
    Some("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)"""))

  /** Set operators (§2.6-adjacent): INTERSECT / EXCEPT with SQL bag-to-set
    * semantics — converting users by behavior (clicked ∩ purchased ∖
    * errored). Both plan as hash-partitioned distinct + co-partitioned
    * joins on the key — no materialized intermediate sets.
    */
  val q12SetOps = GQuery(
    "q12_set_ops",
    (s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      def users(kind: String, minValue: Double) =
        ev.filter($"event_type" === kind && $"value" > minValue)
          .select($"user_id")
      users("purchase", 90).intersect(users("click", 90))
        .except(users("error", 95))
    },
    Some("""
      SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 90
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'click' AND value > 90
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'error' AND value > 95"""))

  /** Correlated subqueries through the SQL surface: a correlated scalar
    * subquery (is this order its customer's most expensive?) plus a
    * correlated NOT EXISTS — the patterns analysts write that only work at
    * scale because Catalyst DECORRELATES them: the scalar subquery becomes
    * one aggregate + a join on o_custkey, the NOT EXISTS a left-anti join
    * (PlanSpec pins the decorrelated shape). Both correlates are pure
    * EQUALITIES — an inequality correlate (e.g. "MAX of the customer's
    * OTHER orders", o2.o_orderkey <> o.o_orderkey) defeats the aggregate
    * pushdown and degrades to a per-row re-aggregation (measured: minutes
    * vs seconds at sf0.1). MAX (not AVG) keeps the compared value
    * order-independent — exact under any partitioning.
    */
  val q13Subqueries = GQuery(
    "q13_correlated_subqueries",
    (s, dir) => {
      Seq("orders", "lineitem").foreach(n =>
        Tables.load(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT o.o_orderkey, o.o_custkey,
               o.o_totalprice >= (SELECT MAX(o2.o_totalprice) FROM orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
                 AS is_customer_max,
               NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey) AS no_lineitems
        FROM orders o""")
    },
    Some("""
      SELECT o.o_orderkey, o.o_custkey,
             o.o_totalprice >= (SELECT MAX(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
               AS is_customer_max,
             NOT EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_orderkey = o.o_orderkey) AS no_lineitems
      FROM orders o"""))

  /** Nearest-direction as-of ([[graft.operators.AsofJoin.nearest]]): each
    * view matched to its closest purchase within ±2 hours, ties to the
    * earlier (backward) candidate — pandas `merge_asof(direction='nearest')`
    * completing the backward/forward family. One shuffle, two in-partition
    * bracket windows (the tsr2 idiom), zero Join nodes; the oracle
    * enumerates band candidates and ranks by `(|Δ|, ts, id)`.
    */
  val q6dAsofNearest = GQuery(
    "q6d_asof_nearest",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"))
      graft.operators.AsofJoin
        .nearest(views, purchases, Seq("user_id"), "ts", "purchase_ts",
          tolerance = Some(lit(7200)))
        .select("event_id", "user_id", "ts", "purchase_id", "purchase_ts")
    },
    Some("""
      SELECT event_id, user_id, ts, purchase_id, purchase_ts FROM (
        SELECT v.event_id, v.user_id, v.ts,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               row_number() OVER (PARTITION BY v.event_id
                 ORDER BY abs(epoch_us(p.ts) - epoch_us(v.ts)),
                          p.ts, p.event_id) AS rk
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON v.user_id = p.user_id
         AND p.ts BETWEEN v.ts - INTERVAL 2 HOUR AND v.ts + INTERVAL 2 HOUR)
      WHERE rk = 1"""))

  /** q14: sole-late-supplier ranking — the TPC-H Q21 shape (the classic
    * hard case for correlated-subquery planning): suppliers who shipped
    * LATE (> 90 days after the order date) on multi-supplier orders where
    * every OTHER supplier shipped on time — i.e. an EXISTS and a NOT
    * EXISTS both correlated against the same fact table the outer row
    * comes from.
    *
    * r14 shape (guide §2.4/§3.3): both correlated subqueries are
    * PER-ORDER set predicates, so instead of decorrelating them into a
    * semi-join + an anti-join against the participation relation (the
    * r9–r13 shape: distinct → repartition → persist → 2 shuffled-hash
    * joins), fold the whole candidate test into one order-keyed
    * aggregation chain — per (order, supplier) any-late, then per order
    * (n suppliers, n late suppliers, the sole late supplier); a
    * candidate order is exactly `n_late = 1 AND n_supp >= 2`. Every
    * stage of the chain is a hash aggregate with MAP-SIDE partials, so
    * each of its exchanges moves participation-sized (then order-sized)
    * rows, never fact rows — and the persist, both join builds, and the
    * 3× cache scan of the r13 shape all disappear (measured plan:
    * 22 → 10 Exchange, 4 → 0 ShuffledHashJoin; PlanSpec pins the shape).
    * The supplier dimension broadcasts; top-20 is TakeOrderedAndProject.
    */
  val q14SoleLate = GQuery(
    "q14_sole_late_supplier",
    (s, dir) => {
      val lo = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > date_add(col("o_orderdate"), 90)).as("late"))
      val perSupp = lo
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("any_late"))
      val perOrder = perSupp
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_supp"),
          sum(when(col("any_late"), 1L).otherwise(0L)).as("n_late"),
          max(when(col("any_late"), col("l_suppkey"))).as("sole_supp"))
      val counts = perOrder
        .filter(col("n_late") === 1 && col("n_supp") >= 2)
        .groupBy(col("sole_supp").as("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
      counts
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("numwait").desc, col("s_suppkey"))))
    },
    Some("""
      WITH lo AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey,
               (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      cand AS (
        SELECT p.l_orderkey, p.l_suppkey FROM lo p
        WHERE p.late
          AND EXISTS (SELECT 1 FROM lo q WHERE q.l_orderkey = p.l_orderkey
                      AND q.l_suppkey <> p.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lo r WHERE r.l_orderkey = p.l_orderkey
                      AND r.l_suppkey <> p.l_suppkey AND r.late))
      SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait,
             row_number() OVER (ORDER BY COUNT(*) DESC, s.s_suppkey) AS rk
      FROM cand JOIN supplier s ON cand.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
      ORDER BY numwait DESC, s_suppkey LIMIT 20"""))

  override def queries: Seq[GQuery] =
    Seq(q1Pricing, q2JoinRevenue, q3Filter, q4BigJoin, q5Rollup, q6Asof,
      q6bAsofMerge, q6cAsofForward, q6dAsofNearest, q7Range, q8Pivot,
      q9AntiSemi, q10Percentiles, q11Cube, q12SetOps, q13Subqueries,
      q14SoleLate)
}
