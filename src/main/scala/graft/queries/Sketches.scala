package graft.queries

import graft.{GQuery, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketches — the 100 TB scale path for the statistics the
  * profiling pack (prof1/prof4) computes exactly. At cluster scale you do
  * not sort 100 TB to get a percentile or shuffle every key to count
  * distincts; you build a small, MERGEABLE summary per partition, combine
  * summaries associatively (map-side, then one tiny reduce), and answer from
  * the summary. Spark ships approx_percentile / approx_count_distinct, but
  * their merge order is partition-scheduling-dependent, so their results
  * cannot be hash-compared against an independent engine. Every sketch here
  * is instead DETERMINISTIC BY CONSTRUCTION — priorities and bucket indices
  * come from fixed integer hashes of stable keys, all arithmetic is integer
  * (no float accumulation anywhere) — so the full build+query pipeline is
  * bit-identical across partitionings, retries, AND engines, which puts the
  * whole sketch on the DuckDB oracle gate, not just its output shape.
  *
  * The pack (cf. the AMS/Flajolet lineage surveyed in PAPERS.md):
  *   - sk1: KMV / bottom-k uniform row sample → rank quantiles,
  *   - sk2: Count-Min → frequency upper bounds for probe keys,
  *   - sk3: HyperLogLog registers → distinct-count estimate,
  *   - sk4: KMV union sample → pairwise set-overlap (Jaccard),
  *   - sk5: sample quantile boundaries → balanced range bucketing,
  *   - sk6: HLL per column, one scan → the mergeable column profile,
  *   - sk7: hash-bucket load forecast → shuffle-skew diagnosis.
  * Merge laws (verified by SketchSpec on split-and-merge): bottom-k(A ∪ B) =
  * bottom-k(bottom-k(A) ∪ bottom-k(B)); CM(A ∪ B) = CM(A) + CM(B)
  * counter-wise; HLL(A ∪ B) = register-wise max. Each of sk1/sk2/sk3 also
  * has a streaming face that calls the functions below — [[u]] in
  * StreamingKmv, [[cmCounters]] on a `readStream` frame, [[hllCells]] into
  * StreamingHll and [[hllReadout]] out of st3 — so this object is the only
  * definition of the sketch arithmetic and batch and stream answers are
  * bit-comparable.
  */
object Sketches extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Knuth multiplicative hash → 32-bit priority (the samp1 idiom; ids
    * here are < 2^31 so the product stays far inside Long/BIGINT).
    *
    * On SEQUENTIAL ids this hash is low-discrepancy (equidistributed, not
    * random-looking) — which is exactly right for the KMV/bottom-k SAMPLING
    * sketches (sk1/sk4/sk5: an extra-even sample only helps), but FATAL for
    * HLL ρ statistics (leading-zero counts of structured values are not
    * geometric; observed: 150 sequential users hit 150 distinct registers
    * with zero collisions, wrecking the estimator). The HLL family
    * (sk3/sk6) therefore uses [[mix32]] instead.
    */
  def u(id: Column): Column = (id * 2654435761L) % 4294967296L
  private def sqlU(id: String): String = s"($id * 2654435761) % 4294967296"

  /** Murmur-style 32-bit finalizer, expressed in portable integer ops
    * (multiply-mod-2^32 with multipliers < 2^31 so no product leaves
    * BIGINT for keys < 2^33; xor-shift via xor + integer division).
    * Applied as chained projections in Spark and chained CTEs in the
    * oracle so neither engine duplicates subexpressions.
    */
  private def mix32(df: DataFrame, key: Column): DataFrame = df
    .withColumn("ma", (key * 2654435761L) % 4294967296L)
    .withColumn("mb", expr("ma ^ (ma div 65536)"))
    .withColumn("mc", expr("(mb * 1540483477L) % 4294967296L"))
    .withColumn("md", expr("mc ^ (mc div 8192)"))
    .withColumn("me", expr("(md * 1274126177L) % 4294967296L"))
    .withColumn("pri", expr("me ^ (me div 65536)"))
    .drop("ma", "mb", "mc", "md", "me")

  /** The oracle-side mix32: CTE steps from a relation exposing `$key`. */
  private[queries] def sqlMix32(from: String, keep: String, key: String): String = s"""
      x1 AS (SELECT $keep, ($key * 2654435761) % 4294967296 AS ma FROM $from),
      x2 AS (SELECT $keep, xor(ma, ma // 65536) AS mb FROM x1),
      x3 AS (SELECT $keep, (mb * 1540483477) % 4294967296 AS mc FROM x2),
      x4 AS (SELECT $keep, xor(mc, mc // 8192) AS md FROM x3),
      x5 AS (SELECT $keep, (md * 1274126177) % 4294967296 AS me FROM x4),
      pr AS (SELECT $keep, xor(me, me // 65536) AS pri FROM x5)"""

  // ===== sk1: KMV bottom-k sample → quantiles ==========================

  /** Per-event-type quantile estimates (p50/p90/p99 of `value`) from a
    * deterministic bottom-k sample: the k=512 rows with the smallest hash
    * priority form a uniform row sample of the group (a k-minimum-values
    * sketch over rows), and the p-quantile of the sample estimates the
    * p-quantile of the group with rank error O(1/√k) — the textbook
    * sample-quantile bound, independent of group size.
    *
    * Scale shape: phase one is the samp2 salted local bottom-k (32-way
    * parallel inside every group — a single per-group window would be the
    * classic one-partition top-k trap), so the final per-group window sees
    * ≤ 32·k survivors no matter how many billions of rows the group has;
    * quantile extraction then runs on ≤ k rows per group. Nothing global
    * ever sorts, and the sample is mergeable: bottom-k of a union is the
    * bottom-k of the concatenated per-partition bottom-ks.
    *
    * Estimates are VALUES FROM THE DATA selected by integer rank
    * arithmetic (ceil via `(p·n + 99) div 100`) — no interpolation, no
    * float math — so the result hash-matches DuckDB bit-for-bit.
    */
  val kmvQuantiles = GQuery(
    "sk1_kmv_quantiles",
    (s, dir) => {
      val k = 512
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("pri", u(col("event_id")))
      val local = row_number().over(
        Window.partitionBy(col("event_type"), pmod(col("event_id"), lit(32L)))
          .orderBy(col("pri"), col("event_id")))
      val global = row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("pri"), col("event_id")))
      val sample = ev
        .withColumn("lrk", local).filter(col("lrk") <= k)
        .withColumn("rk", global).filter(col("rk") <= k)
      // rank the sample by value; n = sample size (≤ k; smaller groups keep
      // every row, where the "estimate" is exact by construction)
      val byValue = row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id")))
      val n = count(lit(1)).over(Window.partitionBy(col("event_type")))
      val ranked = sample
        .withColumn("vrk", byValue)
        .withColumn("n_sample", n)
      val pcts = Seq(50, 90, 99)
      ranked
        .withColumn("p_pct", explode(array(pcts.map(lit): _*)))
        .filter(col("vrk") === expr("(p_pct * n_sample + 99) div 100"))
        .select(col("event_type"), col("p_pct"), col("n_sample"),
          col("value").as("est_value"))
    },
    Some(s"""
      WITH pr AS (
        SELECT event_type, event_id, value,
               ${sqlU("event_id")} AS pri
        FROM events),
      sample AS (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY pri, event_id) AS rk
        FROM pr QUALIFY rk <= 512),
      ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS vrk,
               COUNT(*) OVER (PARTITION BY event_type) AS n_sample
        FROM sample)
      SELECT event_type, p.p_pct, n_sample, value AS est_value
      FROM ranked CROSS JOIN (VALUES (50), (90), (99)) p(p_pct)
      WHERE vrk = (p.p_pct * n_sample + 99) // 100"""))

  // ===== sk2: Count-Min frequency sketch ===============================

  /** Count-Min hash constants: d=4 independent affine hashes into w=256
    * counters. `(a·x + b) mod p mod w` with p = 2^31−1; ids are < 2^31 so
    * `a·x + b` peaks around 2^61, inside BIGINT for both engines.
    */
  private val CmRows = Seq(
    (1103515245L, 12345L), (22695477L, 1L),
    (1664525L, 1013904223L), (69069L, 362437L))

  private def cmHash(a: Long, b: Long, key: Column): Column =
    ((key * a + b) % 2147483647L) % 256L
  private def sqlCmHash(a: Long, b: Long, key: String): String =
    s"(($key * $a + $b) % 2147483647) % 256"

  /** The d counter cells `key` increments: one generated (i, bucket) row
    * per hash row.
    */
  private def cmBuckets(key: Column): Column =
    posexplode(array(CmRows.map { case (a, b) => cmHash(a, b, key) }: _*))
      .as(Seq("i", "bucket"))

  /** sk2's counter relation (i, bucket, cnt) over the `key` column of `df`.
    * Counters are plain additive counts, so the same function runs on a
    * batch frame and on a `readStream` frame (update or complete mode, as
    * `StreamingVolume.dailyCounts` does): any chunking or replay of the same
    * rows yields the same counters, and counters from independent jobs merge
    * by addition. State is d·w = 1024 rows at most, whatever the stream
    * length or the key cardinality.
    */
  def cmCounters(df: DataFrame, key: String): DataFrame =
    df.select(cmBuckets(col(key)))
      .groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** sk2's probe stage: for each (`key`, exact_n) probe row, the Count-Min
    * estimate min_i cm[i][h_i(key)] against a counter relation from
    * [[cmCounters]] — batch-built or a drained stream's — and its
    * overcount over the exact count.
    */
  def cmProbe(cm: DataFrame, probes: DataFrame, key: String): DataFrame =
    probes.select(col(key), col("exact_n"), cmBuckets(col(key)))
      .join(broadcast(cm), Seq("i", "bucket"))
      .groupBy(col(key), col("exact_n"))
      .agg(min(col("cnt")).as("cm_est"))
      .select(col(key), col("exact_n"), col("cm_est"),
        (col("cm_est") - col("exact_n")).as("overcount"))

  /** Count-Min sketch over per-user event counts, probed for a fixed key
    * subset (user_id ≡ 13 mod 97): for each probe the estimate is
    * min_i counter[i][h_i(key)], which upper-bounds the true count with
    * error ≤ εN at probability 1−δ (ε = e/w, δ = e^−d). The output carries
    * the exact count next to the estimate, so `overcount = est − exact ≥ 0`
    * is part of the verified result — the oracle confirms both the sketch
    * AND its guarantee.
    *
    * Scale shape: the sketch build is ONE pass — d bucket indices computed
    * per row (map-only), then a partial-aggregating groupBy onto d·w = 1024
    * counters total, which is the whole point: the shuffle moves ≤ 1024
    * rows per map partition regardless of input size. The probe side is a
    * key list (bounded by the asker, KB-scale) and BROADCASTS against the
    * 1024-row sketch; exact counts for probes ride a filtered partial agg
    * of the same scan. Counters merge by plain addition, so the identical
    * query is the streaming heavy-hitter path (cf. streaming/HeavyHitters).
    */
  val countMinProbe = GQuery(
    "sk2_countmin_probe",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"))
      val probes = ev.filter(col("user_id") % 97 === 13)
        .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      cmProbe(cmCounters(ev, "user_id"), probes, "user_id")
    },
    Some {
      val cmUnion = CmRows.zipWithIndex.map { case ((a, b), i) =>
        s"""SELECT $i AS i, ${sqlCmHash(a, b, "user_id")} AS bucket,
               COUNT(*) AS cnt FROM events GROUP BY 1, 2"""
      }.mkString(" UNION ALL ")
      val probeCase = CmRows.zipWithIndex.map { case ((a, b), i) =>
        s"WHEN $i THEN ${sqlCmHash(a, b, "user_id")}"
      }.mkString(" ")
      s"""
      WITH cm AS ($cmUnion),
      probes AS (
        SELECT user_id, COUNT(*) AS exact_n FROM events
        WHERE user_id % 97 = 13 GROUP BY 1),
      ph AS (
        SELECT user_id, exact_n, d.i,
               CASE d.i $probeCase END AS bucket
        FROM probes CROSS JOIN (VALUES (0), (1), (2), (3)) d(i)),
      est AS (
        SELECT ph.user_id, ph.exact_n, MIN(cm.cnt) AS cm_est
        FROM ph JOIN cm ON cm.i = ph.i AND cm.bucket = ph.bucket
        GROUP BY 1, 2)
      SELECT user_id, exact_n, cm_est, cm_est - exact_n AS overcount
      FROM est"""
    })

  // ===== sk3: HyperLogLog distinct-count sketch ========================

  /** m = 256 registers; the 32-bit priority splits into an 8-bit register
    * index and a 24-bit-ish remainder whose leading-zero count drives the
    * register value ρ ∈ [1, 25] (ρ = 25 for remainder 0). The ρ extraction
    * is a 25-branch integer CASE generated identically for Spark and the
    * oracle — no float log2, whose rounding near powers of two differs
    * between libm implementations. Priorities come from [[mix32]], not the
    * Knuth hash — see [[u]] for why structured keys break ρ statistics.
    */
  private[graft] val HllM = 256L

  /** ρ over the 24-bit remainder (pri div 256 of a 32-bit priority):
    * leading-zero count + 1 ∈ [1, 24], 25 for remainder 0.
    */
  private def rho24Column(rest: Column): Column =
    (23 to 0 by -1).foldLeft(when(lit(false), lit(0))) { (acc, j) =>
      acc.when(rest >= (1L << j), lit(24 - j))
    }.otherwise(lit(25))
  private[queries] def sqlRho24(rest: String): String =
    (23 to 0 by -1).map(j => s"WHEN $rest >= ${1L << j} THEN ${24 - j}")
      .mkString("CASE ", " ", " ELSE 25 END")

  /** One HLL cell per row of `df`: (`group`, reg, rho) — the [[mix32]]
    * priority of the integral `id` split into its register index reg ∈
    * [0, m) and the ρ of its 24-bit remainder. Registers are the max ρ per
    * (group, reg), folded by a batch aggregate (sk3/sk6/sk9) or by
    * StreamingHll's per-group state.
    */
  def hllCells(df: DataFrame, group: String, id: String): DataFrame =
    mix32(df.select(col(group), col(id)), col(id))
      .select(col(group), (col("pri") % HllM).as("reg"),
        rho24Column(expr(s"pri div $HllM")).as("rho"))

  /** Complete register rows (`group`, reg, rho) from [[hllCells]]: the max ρ
    * per register, and every register 0..m−1 of each group present, ρ = 0
    * for an empty one. The ≤ groups·m register relation is persisted and
    * the spine's group list derived FROM it — the alternative (distinct
    * over the data) costs a second full scan just to learn which groups
    * exist.
    */
  private def hllRegisters(cells: DataFrame, group: String): DataFrame = {
    val regs = cells.groupBy(col(group), col("reg"))
      .agg(max(col("rho")).as("rho"))
      .persist()
    val spine = regs.select(col(group)).distinct()
      .select(col(group), explode(sequence(lit(0L), lit(HllM - 1))).as("reg"))
    spine.join(regs, Seq(group, "reg"), "left")
      .withColumn("rho", coalesce(col("rho"), lit(0)))
  }

  /** The HLL readout per `keys` from COMPLETE register rows (keys, reg,
    * rho): `int_sum` = Σ 2^(25−ρ) (the harmonic denominator kept as an
    * exact integer), `n_zero_registers`, and `est_hll` = α·m²/Σ2^(−ρ) as one
    * integer division.
    */
  def hllReadout(regs: DataFrame, keys: String*): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(
        sum(expr("shiftleft(1L, 25 - rho)")).as("int_sum"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("n_zero_registers"))
      // 1579496831811846144 = 718272 · 2^16 · 2^25 (α_micro · m² · 2^25),
      // precomputed so neither engine multiplies int literals (Spark's
      // non-ANSI INT product would wrap silently; DuckDB's would error)
      .withColumn("est_hll",
        expr("1579496831811846144L div int_sum div 1000000"))

  /** Distinct users per event type, estimated from HLL registers and
    * reported next to the exact count. The harmonic denominator
    * Σ 2^(−ρ_j) is kept as the EXACT integer Σ 2^(25−ρ_j) (max 256·2^25 =
    * 2^33), and the raw HLL estimate α·m²/Σ2^(−ρ) becomes one integer
    * division — bit-stable in both engines. α_256 ≈ 0.7183 enters as the
    * shared constant 718272/10^6. Empty registers contribute ρ = 0 (the
    * full 2^25 term) via a generated 0..255 register spine per group. The
    * small-range linear-counting correction (est < 2.5m with empty
    * registers) needs ln(), whose libm rounding is not portable — so the
    * result instead carries `n_zero_registers`, from which a consumer
    * applies the correction; the sketch itself stays on the exact-integer
    * oracle gate.
    *
    * Scale shape: one map-side-combinable max-aggregate onto ≤ m rows per
    * group (the shuffle moves registers, not keys), one 256-row spine join
    * per group (broadcast — the spine is a constant), one 5-row final agg.
    * Registers merge by max, so per-partition sketches combine without
    * re-reading anything — the same registers are the incremental daily
    * union at 100 TB.
    */
  val hllDistinct = GQuery(
    "sk3_hll_distinct",
    (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      hllReadout(hllRegisters(hllCells(ev, "event_type", "user_id"),
          "event_type"), "event_type")
        .join(exact, "event_type")
        .select(col("event_type"), col("int_sum"), col("n_zero_registers"),
          col("est_hll"), col("exact_distinct"))
    },
    Some(s"""
      WITH ${sqlMix32("events", "event_type, user_id", "user_id")},
      h AS (
        SELECT event_type, pri % $HllM AS reg, pri // $HllM AS rest
        FROM pr),
      regs AS (
        SELECT event_type, reg, MAX(${sqlRho24("rest")}) AS rho
        FROM h GROUP BY 1, 2),
      spine AS (
        SELECT DISTINCT event_type, r.range AS reg
        FROM events CROSS JOIN range($HllM) r),
      filled AS (
        SELECT s.event_type, s.reg, COALESCE(regs.rho, 0) AS rho
        FROM spine s LEFT JOIN regs
          ON s.event_type = regs.event_type AND s.reg = regs.reg),
      agg AS (
        SELECT event_type,
               CAST(SUM(1::BIGINT << (25 - rho)) AS BIGINT) AS int_sum,
               CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_zero_registers
        FROM filled GROUP BY 1),
      exact AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1)
      SELECT a.event_type, a.int_sum, a.n_zero_registers,
             1579496831811846144 // a.int_sum // 1000000 AS est_hll,
             e.exact_distinct
      FROM agg a JOIN exact e ON a.event_type = e.event_type"""))

  // ===== sk4: KMV set-overlap (audience Jaccard between sources) =======

  /** Pairwise user-set overlap between event types, estimated from ONE
    * KMV sample of the global distinct-user space: take the k = 256
    * distinct users with the smallest hash priority (a uniform sample of
    * the UNION), test each sampled user's membership in every type, and
    * count pair co-memberships — J(A,B) ≈ |{u ∈ S_k : u∈A ∧ u∈B}| / k,
    * the classic bottom-k Jaccard estimator. The exact Jaccard rides
    * along (integer milli-units both), so the verified output exhibits
    * the estimator's accuracy, not just its shape.
    *
    * Scale shape: the only full-data pass is the distinct (type, user)
    * projection; the union sample is a k-row bottom-k (salted two-phase),
    * which then BROADCASTS into a semi-join — membership testing costs
    * one scan of the distinct pairs, never a per-pair join of full user
    * sets. Pair counting happens on ≤ k·|types| rows. The exact
    * comparison term is the one piece that does NOT scale (it joins full
    * user sets pairwise) — it is the verification ballast here, and the
    * first thing a 100 TB deployment drops.
    */
  val kmvOverlap = GQuery(
    "sk4_kmv_overlap",
    (s, dir) => {
      val k = 256
      // the distinct pairs feed five consumers (sample, membership, sizes,
      // both sides of the exact intersection) — one shuffle, cached
      val du = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .persist()
      val users = du.select(col("user_id")).distinct()
        .withColumn("pri", u(col("user_id")))
      val localW = row_number().over(
        Window.partitionBy(pmod(col("user_id"), lit(32L)))
          .orderBy(col("pri"), col("user_id")))
      val globalW = row_number().over(
        Window.orderBy(col("pri"), col("user_id")))
      val sampled = users
        .withColumn("lrk", localW).filter(col("lrk") <= k)
        .withColumn("rk", globalW).filter(col("rk") <= k)
        .select(col("user_id"))
      val kEff = sampled.agg(count(lit(1)).as("k_eff"))
      val mem = du.join(broadcast(sampled), "user_id")
      val pairs = mem.as("a").join(mem.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      val sizes = du.groupBy(col("event_type")).agg(count(lit(1)).as("sz"))
      val inter = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_inter"))
      pairs
        .crossJoin(broadcast(kEff))
        .join(inter, Seq("type_a", "type_b"))
        .join(sizes.withColumnRenamed("event_type", "type_a")
          .withColumnRenamed("sz", "sz_a"), "type_a")
        .join(sizes.withColumnRenamed("event_type", "type_b")
          .withColumnRenamed("sz", "sz_b"), "type_b")
        .select(col("type_a"), col("type_b"), col("k_eff"), col("n_both"),
          expr("1000L * n_both div k_eff").as("jaccard_milli"),
          expr("1000L * n_inter div (sz_a + sz_b - n_inter)")
            .as("exact_jaccard_milli"))
    },
    Some(s"""
      WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events),
      users AS (
        SELECT user_id, ${sqlU("user_id")} AS pri
        FROM (SELECT DISTINCT user_id FROM du)),
      sampled AS (
        SELECT user_id,
               ROW_NUMBER() OVER (ORDER BY pri, user_id) AS rk
        FROM users QUALIFY rk <= 256),
      keff AS (SELECT COUNT(*) AS k_eff FROM sampled),
      mem AS (
        SELECT du.event_type, du.user_id
        FROM du JOIN sampled ON du.user_id = sampled.user_id),
      pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM mem a JOIN mem b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2),
      sizes AS (
        SELECT event_type, COUNT(*) AS sz FROM du GROUP BY 1),
      inter AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               COUNT(*) AS n_inter
        FROM du x JOIN du y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT p.type_a, p.type_b, k.k_eff, p.n_both,
             1000 * p.n_both // k.k_eff AS jaccard_milli,
             1000 * i.n_inter // (sa.sz + sb.sz - i.n_inter)
               AS exact_jaccard_milli
      FROM pairs p CROSS JOIN keff k
      JOIN inter i ON p.type_a = i.type_a AND p.type_b = i.type_b
      JOIN sizes sa ON p.type_a = sa.event_type
      JOIN sizes sb ON p.type_b = sb.event_type"""))

  // ===== sk5: sample-driven range bucketing (balanced layout) ==========

  /** Range-bucket assignment from sampled quantile boundaries — the
    * RangePartitioner story as a verifiable query: a write path that wants
    * globally range-ordered output (for file-level min/max pruning on
    * `value`) cannot sort 100 TB to find splits; it samples, takes the
    * B−1 sample quantiles as boundaries, and assigns each row its bucket
    * with a per-row binary-decision against the broadcast boundary list.
    * The output is each bucket's population and value span — the balance
    * report that tells the writer its layout before it writes a byte.
    *
    * Scale shape: boundary derivation runs entirely on the ≤ k-row KMV
    * sample (the sk1 machinery, integer rank selection); the boundary
    * LIST (31 doubles) broadcasts as a one-row cross join; assignment is
    * per-row array arithmetic inside codegen (no join, no window over the
    * data); the only data-sized shuffle is the final 32-row aggregate,
    * which partial-aggregates map-side. Buckets are equi-POPULATED by
    * construction (equal sample ranks), not equi-width — skewed value
    * distributions land balanced files, which is the entire point.
    */
  val rangeBuckets = GQuery(
    "sk5_range_buckets",
    (s, dir) => {
      val k = 512
      val nB = 32
      val ev = t(s, dir, "events").select(col("event_id"), col("value"))
        .withColumn("pri", u(col("event_id")))
      val localW = row_number().over(
        Window.partitionBy(pmod(col("event_id"), lit(32L)))
          .orderBy(col("pri"), col("event_id")))
      val globalW = row_number().over(Window.orderBy(col("pri"), col("event_id")))
      val sample = ev
        .withColumn("lrk", localW).filter(col("lrk") <= k)
        .withColumn("rk", globalW).filter(col("rk") <= k)
      val byValue = row_number().over(Window.orderBy(col("value"), col("event_id")))
      val nS = count(lit(1)).over(Window.partitionBy())
      val bounds = sample
        .withColumn("vrk", byValue).withColumn("n_sample", nS)
        .withColumn("j", explode(sequence(lit(1), lit(nB - 1))))
        .filter(col("vrk") === expr(s"(j * n_sample + $nB - 1) div $nB"))
        .agg(sort_array(collect_list(col("value"))).as("bs"))
      ev.crossJoin(broadcast(bounds))
        .select(col("value"),
          size(filter(col("bs"), b => b <= col("value"))).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    },
    Some(s"""
      WITH pr AS (
        SELECT event_id, value, ${sqlU("event_id")} AS pri FROM events),
      sample AS (
        SELECT event_id, value,
               ROW_NUMBER() OVER (ORDER BY pri, event_id) AS rk
        FROM pr QUALIFY rk <= 512),
      ranked AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value, event_id) AS vrk,
               COUNT(*) OVER () AS n_sample
        FROM sample),
      bounds AS (
        SELECT value AS bv
        FROM ranked CROSS JOIN (SELECT unnest(range(1, 32)) AS j) js
        WHERE vrk = (j * n_sample + 31) // 32)
      SELECT b.bucket, COUNT(*) AS n_rows,
             MIN(e.value) AS min_v, MAX(e.value) AS max_v
      FROM events e CROSS JOIN LATERAL (
        SELECT COUNT(*) AS bucket FROM bounds WHERE bv <= e.value) b
      GROUP BY 1"""))

  // ===== sk6: one-scan HLL column profile ==============================

  /** Distinct-count estimates for EVERY numeric lineitem column in ONE
    * scan — the mergeable answer to prof1's expensive term: exact
    * per-column COUNT(DISTINCT) expands every row 8× and shuffles the
    * expansion, the known cost ceiling of the profiling pack. Here each
    * row explodes into 8 (column, quantized-value) pairs that fold into
    * 8×256 HLL registers via a map-side-combinable max — the shuffle
    * moves ≤ 2048 rows per map partition regardless of table size, and
    * daily register sets merge by max instead of re-profiling.
    * (Measured at sf0.1: 1.0 s vs prof1's 6.0 s, and the gap is the whole
    * table at 100 TB.)
    *
    * Values quantize to integer centi-units (`round(v·100)` — exact for
    * this schema: integral keys and 2-decimal monetary/rate columns)
    * before hashing, so the hash input is an integer in BOTH engines —
    * never a float's string rendering, which is not portable.
    *
    * Priorities come from [[mix32]] (like sk3): a single multiplicative
    * hash left the ·100-quantized keys sharing the factor 4, which biased
    * the low register bits (only 64 of 256 registers reachable, observed)
    * — full avalanche mixing removes the structure in every bit.
    */
  val hllColumnProfile = GQuery(
    "sk6_hll_column_profile",
    (s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = t(s, dir, "lineitem")
      val keyed = li.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"),
          expr(s"CAST(round($c * 100) AS BIGINT)").as("key"))): _*)).as("p"))
        .select(col("p.column_name").as("column_name"), col("p.key").as("key"))
      val regs = hllCells(keyed, "column_name", "key")
        .groupBy(col("column_name"), col("reg"))
        .agg(max(col("rho")).as("rho"))
      // the spine is a compile-time constant (8 names × 256 registers) —
      // derive it from a literal, never by re-scanning the table
      val spine = s.range(1)
        .select(explode(array(cols.map(lit): _*)).as("column_name"))
        .select(col("column_name"),
          explode(sequence(lit(0L), lit(HllM - 1))).as("reg"))
      val filled = spine.join(regs, Seq("column_name", "reg"), "left")
        .withColumn("rho", coalesce(col("rho"), lit(0)))
      hllReadout(filled, "column_name")
        .select(col("column_name"), col("int_sum"),
          col("n_zero_registers"), col("est_hll").as("est_distinct"))
    },
    Some {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val keyUnion = cols.map(c =>
        s"""SELECT '$c' AS column_name,
               CAST(round($c * 100) AS BIGINT) AS key
           FROM lineitem""").mkString(" UNION ALL ")
      val nameUnion = cols.map(c => s"SELECT '$c' AS column_name")
        .mkString(" UNION ALL ")
      s"""
      WITH keyed AS ($keyUnion),
      ${sqlMix32("keyed", "column_name", "key")},
      h AS (
        SELECT column_name, pri % $HllM AS reg, pri // $HllM AS rest
        FROM pr),
      regs AS (
        SELECT column_name, reg, MAX(${sqlRho24("rest")}) AS rho
        FROM h GROUP BY 1, 2),
      names AS ($nameUnion),
      spine AS (
        SELECT column_name, r.range AS reg
        FROM names CROSS JOIN range($HllM) r),
      filled AS (
        SELECT s.column_name, s.reg, COALESCE(regs.rho, 0) AS rho
        FROM spine s LEFT JOIN regs
          ON s.column_name = regs.column_name AND s.reg = regs.reg)
      SELECT column_name,
             CAST(SUM(1::BIGINT << (25 - rho)) AS BIGINT) AS int_sum,
             CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_registers,
             1579496831811846144 //
               CAST(SUM(1::BIGINT << (25 - rho)) AS BIGINT) // 1000000
               AS est_distinct
      FROM filled GROUP BY 1"""
    })

  // ===== sk7: shuffle-skew profiler =====================================

  /** Partition-skew forecast for candidate shuffle keys — the check an
    * operator runs BEFORE keying a 100 TB shuffle on a column: hash each
    * key into the shuffle-partition space (32 buckets here, matching the
    * session's shuffle parallelism) and report, per candidate column, the
    * bucket-load distribution — max/min/avg load and the skew ratio
    * (max·buckets/total, 1000 = perfectly even). A ratio of 3000 means the
    * hottest task does 3× the average work and the stage finishes at the
    * straggler's pace; that is when you reach for salting (w11) or AQE
    * skew splitting, BEFORE burning the cluster-day.
    *
    * Scale shape: the same one-scan explode as sk6 — 3 (column, bucket)
    * pairs per row folding into ≤ 3·32 counters via map-side partial
    * aggregation; the report is 3 rows. The hash is the Knuth priority on
    * the raw integral key (no ·100 quantization here, and bucket spread —
    * not ρ statistics — is all that matters, which the multiplicative
    * hash delivers; it is also exactly how these keys WOULD spread,
    * since hash-partitioning is multiplicative hashing).
    */
  val skewProfile = GQuery(
    "sk7_skew_profile",
    (s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      val li = t(s, dir, "lineitem")
      val pairs = li.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("long").as("key"))): _*)).as("p"))
        .select(col("p.column_name").as("column_name"),
          (u(col("p.key")) % 32L).as("bucket"))
      pairs.groupBy(col("column_name"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("column_name"))
        .agg(
          sum(col("n")).as("total_rows"),
          count(lit(1)).as("n_buckets"),
          max(col("n")).as("max_bucket"),
          min(col("n")).as("min_bucket"))
        .select(col("column_name"), col("total_rows"), col("n_buckets"),
          col("max_bucket"), col("min_bucket"),
          expr("1000L * max_bucket * 32 div total_rows").as("skew_ratio_milli"))
    },
    Some {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      val pairUnion = cols.map(c =>
        s"""SELECT '$c' AS column_name,
               ${sqlU(s"CAST($c AS BIGINT)")} % 32 AS bucket
           FROM lineitem""").mkString(" UNION ALL ")
      s"""
      WITH pairs AS ($pairUnion),
      b AS (
        SELECT column_name, bucket, COUNT(*) AS n
        FROM pairs GROUP BY 1, 2)
      SELECT column_name,
             CAST(SUM(n) AS BIGINT) AS total_rows,
             COUNT(*) AS n_buckets,
             CAST(MAX(n) AS BIGINT) AS max_bucket,
             CAST(MIN(n) AS BIGINT) AS min_bucket,
             1000 * CAST(MAX(n) AS BIGINT) * 32 // CAST(SUM(n) AS BIGINT)
               AS skew_ratio_milli
      FROM b GROUP BY 1"""
    })

  /** sk8: DDSketch-style relative-error quantiles — the OTHER mergeable
    * quantile family: where sk1's KMV sample gives rank-error O(1/√k),
    * log-γ bucketing gives guaranteed RELATIVE value error
    * ((γ−1)/2 ≈ 1% at γ=1.02) with a few hundred integer counters per
    * group, and the counters merge by plain addition — the sketch behind
    * latency-percentile monitoring at fleet scale.
    *
    * Plan: bucket assignment is per-row math riding the scan
    * (`floor(ln v / ln γ)`); ONE partial-aggregable shuffle on the
    * (group, bucket) key; quantile extraction is a cumulative window over
    * the bucket-bounded relation crossed with a broadcast literal of
    * probes. Determinism: bucket ids are integer results of double math
    * identical in both engines (a value landing within 1 ulp of a bucket
    * boundary could in principle flip — measure-zero on continuous data,
    * same caveat as every threshold comparison in the profiling pack);
    * everything after is integer counts.
    *
    * Estimate convention (mirrored in the oracle): value ∈ [γ^b, γ^{b+1})
    * maps to bucket b; the reported estimate is the bucket's geometric
    * midpoint γ^b·(1+γ)/2. Non-positive values are counted out-of-sketch
    * and reported per group (DDSketch's separate zero/negative store).
    */
  val ddQuantiles = GQuery(
    "sk8_dd_quantiles",
    (s, dir) => {
      val lnG = math.log(1.02)
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value"))
      val counts = ev.filter(col("value") > 0)
        .withColumn("bucket",
          floor(log(col("value")) / lit(lnG)).cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(
          Window.partitionBy(col("event_type"))))
      val probes = s.range(1).select(explode(array(
        lit(0.5), lit(0.9), lit(0.99))).as("p"))
      val hits = cum.crossJoin(broadcast(probes))
        .filter(col("cum") >= ceil(col("p") * col("n")))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"), col("p"))
            .orderBy(col("bucket"))))
        .filter(col("rk") === 1)
      hits.select(col("event_type"), col("p"), col("n"), col("bucket"),
        (exp(col("bucket") * lit(lnG)) * lit((1 + 1.02) / 2)).as("est"))
    },
    Some(s"""
      WITH counts AS (
        SELECT event_type,
               CAST(FLOOR(ln(value) / ln(1.02)) AS BIGINT) AS bucket,
               COUNT(*) AS c
        FROM events WHERE value > 0 GROUP BY 1, 2),
      cum AS (
        SELECT event_type, bucket, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM counts),
      probes AS (SELECT unnest([0.5, 0.9, 0.99]) AS p),
      hits AS (
        SELECT event_type, p, n, bucket,
               row_number() OVER (PARTITION BY event_type, p
                 ORDER BY bucket) AS rk
        FROM cum CROSS JOIN probes
        WHERE cum >= CEIL(p * n))
      SELECT event_type, p, CAST(n AS BIGINT) AS n, bucket,
             exp(bucket * ln(1.02)) * ((1 + 1.02) / 2) AS est
      FROM hits WHERE rk = 1"""))

  /** sk9: HLL set algebra — the payoff of mergeable registers: the union
    * of two audiences is the element-wise MAX of their register vectors
    * (no data re-read), and intersection follows by inclusion–exclusion
    * est(A) + est(B) − est(A∪B). This is how audience-overlap dashboards
    * answer pairwise questions over sketches that were built once — and
    * why register max being commutative/idempotent matters (sk3's scale
    * argument, exercised as algebra instead of asserted). The exact
    * intersection rides along as verification ballast; I–E error can go
    * negative on small overlaps, so the estimate clamps at 0 and the raw
    * signed value is kept next to it.
    *
    * Scale shape: registers come from one sk3-shaped aggregate (recomputed
    * here for self-containment; a production run reads the cached register
    * table) — after that, every pair is 256-row math: the pair join is
    * |types|²·m rows, data-size-independent. The exact term joins the
    * distinct (type, user) projection with itself on the uniform user key
    * — the one non-sketch cost, kept for the accuracy exhibit.
    */
  val hllSetAlgebra = GQuery(
    "sk9_hll_set_algebra",
    (s, dir) => {
      val filled = hllRegisters(hllCells(
          t(s, dir, "events"), "event_type", "user_id"), "event_type")
        .persist()
      val perType = hllReadout(filled, "event_type")
        .select(col("event_type"), col("est_hll").as("est"))
      val pairRegs = filled.select(col("event_type").as("ta"),
          col("reg"), col("rho").as("ra"))
        .join(filled.select(col("event_type").as("tb"),
          col("reg"), col("rho").as("rb")), Seq("reg"))
        .filter(col("ta") < col("tb"))
        .select(col("ta"), col("tb"), col("reg"),
          greatest(col("ra"), col("rb")).as("rho"))
      val unionEst = hllReadout(pairRegs, "ta", "tb")
        .select(col("ta"), col("tb"), col("est_hll").as("est_union"))
      val du = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct().persist()
      val exact = du.select(col("event_type").as("ta"), col("user_id"))
        .join(du.select(col("event_type").as("tb"), col("user_id")),
          Seq("user_id"))
        .filter(col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("exact_intersection"))
      unionEst
        .join(perType.select(col("event_type").as("ta"),
          col("est").as("est_a")), Seq("ta"))
        .join(perType.select(col("event_type").as("tb"),
          col("est").as("est_b")), Seq("tb"))
        .join(exact, Seq("ta", "tb"), "left")
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          col("est_a"), col("est_b"), col("est_union"),
          (col("est_a") + col("est_b") - col("est_union"))
            .as("est_intersection_raw"),
          greatest(lit(0L),
            col("est_a") + col("est_b") - col("est_union"))
            .as("est_intersection"),
          coalesce(col("exact_intersection"), lit(0L))
            .as("exact_intersection"))
    },
    Some(s"""
      WITH ${sqlMix32("events", "event_type, user_id", "user_id")},
      h AS (
        SELECT event_type, pri % $HllM AS reg, pri // $HllM AS rest
        FROM pr),
      regs AS (
        SELECT event_type, reg, MAX(${sqlRho24("rest")}) AS rho
        FROM h GROUP BY 1, 2),
      spine AS (
        SELECT DISTINCT event_type, r.range AS reg
        FROM events CROSS JOIN range($HllM) r),
      filled AS (
        SELECT s.event_type, s.reg, COALESCE(regs.rho, 0) AS rho
        FROM spine s LEFT JOIN regs
          ON s.event_type = regs.event_type AND s.reg = regs.reg),
      per_type AS (
        SELECT event_type,
               1579496831811846144
                 // CAST(SUM(1::BIGINT << (25 - rho)) AS BIGINT) // 1000000
                 AS est
        FROM filled GROUP BY 1),
      union_est AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               1579496831811846144
                 // CAST(SUM(1::BIGINT
                      << (25 - greatest(a.rho, b.rho))) AS BIGINT) // 1000000
                 AS est_union
        FROM filled a JOIN filled b
          ON a.reg = b.reg AND a.event_type < b.event_type
        GROUP BY 1, 2),
      du AS (SELECT DISTINCT event_type, user_id FROM events),
      exact AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               COUNT(*) AS exact_intersection
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT u.ta AS type_a, u.tb AS type_b,
             pa.est AS est_a, pb.est AS est_b, u.est_union,
             pa.est + pb.est - u.est_union AS est_intersection_raw,
             greatest(0, pa.est + pb.est - u.est_union) AS est_intersection,
             COALESCE(e.exact_intersection, 0) AS exact_intersection
      FROM union_est u
      JOIN per_type pa ON pa.event_type = u.ta
      JOIN per_type pb ON pb.event_type = u.tb
      LEFT JOIN exact e ON e.ta = u.ta AND e.tb = u.tb"""))

  def queries: Seq[GQuery] =
    Seq(kmvQuantiles, countMinProbe, hllDistinct, kmvOverlap, rangeBuckets,
      hllColumnProfile, skewProfile, ddQuantiles, hllSetAlgebra)
}
