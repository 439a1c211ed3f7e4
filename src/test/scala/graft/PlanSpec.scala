package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape gates: the properties that make the 100 TB story
  * true are asserted here, so a refactor that silently de-optimizes a plan
  * (drops a pushdown, turns a broadcast join into a shuffle join, sneaks a
  * nested-loop join in) fails CI instead of only showing up as a slow
  * cluster bill. Each assertion reads the FORMATTED explain of the exact
  * query the driver runs.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("plan-test").getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q1: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("q1_agg_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$p")
    // projection pruned to the referenced columns — no full-width scan
    assert(!p.contains("l_orderkey"), s"unreferenced column scanned:\n$p")
  }

  test("q2: every dim join is a broadcast hash join, fact side unshuffled") {
    val p = plan("q2_join_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to shuffle:\n$p")
  }

  test("q3: event_type predicate is pushed to the events scan") {
    val p = plan("q3_filter_events")
    assert(p.contains("PushedFilters") && p.contains("event_type"), p)
  }

  test("q7: range join plans as an equi hash join, never a nested loop") {
    val p = plan("q7_range_proximity")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band predicate fell back to a nested loop:\n$p")
    // the band predicate is bucketed by BandJoinRewrite, not left as a
    // residual over the whole user-key group
    assert(p.contains("__band_bucket"), s"band join not rewritten:\n$p")
  }

  test("q6b: the as-of join runs on the dedicated physical operator") {
    val p = plan("q6b_asof_merge")
    assert(p.contains("AsofJoin"), s"AsofJoinExec missing:\n$p")
  }

  test("dd2/dd6: global top-k is TakeOrderedAndProject, not a full sort") {
    assert(plan("dd2_ngram_jaccard_pairs").contains("TakeOrderedAndProject"))
    assert(plan("dd6_embedding_cosine_pairs").contains("TakeOrderedAndProject"))
  }

  test("dd6: pairs come from the sign-bucket equi join, never all-pairs") {
    val p = plan("dd6_embedding_cosine_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"dd6 degraded to an all-pairs join:\n$p")
  }

  test("sim1: the query side broadcasts; the corpus is never shuffled whole") {
    val p = plan("sim1_knn_bruteforce")
    assert(p.contains("BroadcastExchange"), p)
    // the only exchange of corpus-derived rows is the slim (query_id,
    // neighbor, cosine) window shuffle — the full qv vectors stay put
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tx1: token pipeline stays inside whole-stage codegen") {
    // formatted mode stars every node compiled into a WholeStageCodegen span
    val p = plan("tx1_token_counts")
    assert(p.contains("* Project"), s"projection fell out of codegen:\n$p")
  }

  test("q6c/q11: forward as-of has no join operator; cube is one Expand pass") {
    val asof = plan("q6c_asof_forward")
    assert(!asof.contains("Join"), s"as-of degraded to a join:\n$asof")
    // nearest: both brackets from ONE exchange (two in-partition sorts)
    val near = plan("q6d_asof_nearest")
    assert(!near.contains("Join"), s"nearest as-of degraded to a join:\n$near")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(near).size
    assert(exchanges === 1,
      s"nearest as-of should shuffle once, got $exchanges:\n$near")
    val cube = plan("q11_cube_orders")
    assert(cube.contains("Expand"), cube)
    // one aggregate pair over the expanded lattice — a per-set re-scan
    // would show up as a Union of scans
    assert(!cube.contains("Union"), s"grouping sets re-scan the fact:\n$cube")
  }

  test("w11: salted aggregation keeps both phases partial-aggregable") {
    val p = plan("w11_salted_type_stats")
    assert(p.contains("partial_"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("GLOBAL: no query in the whole inventory plans a CartesianProduct") {
    // broadcast nested-loop joins over a deliberately-broadcast small side
    // are fine (the query-batch / centroid / pair patterns); an unhinted
    // CartesianProduct of two big sides is never fine at any scale
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = plan(name)
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian products planned in: ${offenders.mkString(", ")}")
  }

  test("j1: JSON decode is pruned to the single referenced key") {
    val p = plan("j1_props_json")
    // OptimizeJsonExprs rewrites from_json(...).k to a pruned schema parse;
    // the plan must not carry the full-struct GetStructField indirection
    assert(p.contains("from_json"), p)
  }

  test("dd12: bloom verify is a broadcast semi join, never a shuffle of the batch") {
    val p = plan("dd12_bloom_incremental_dedup")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"batch shuffled to meet corpus:\n$p")
  }

  test("tx11/tx12: vocab and median come back as broadcasts over the corpus") {
    val v = plan("tx11_vocab_cap")
    assert(v.contains("BroadcastHashJoin"), v)
    val g = plan("tx12_quality_percentile_gate")
    assert(g.contains("BroadcastHashJoin"), g)
    assert(!g.contains("SortMergeJoin"), g)
  }

  test("mm8: Hamming pairs come from an equi band join, not a nested loop") {
    val p = plan("mm8_media_near_dup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pigeonhole band join degraded:\n$p")
  }

  test("z1: curve position is per-row math — exactly one shuffle (the agg)") {
    val p = plan("z1_zorder_layout")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"z-order layout should need no sort/window:\n$p")
    val exchanges = "\\+- Exchange \\(\\d+\\)".r.findAllIn(p).size
    assert(exchanges === 1, s"expected the single aggregate exchange:\n$p")
  }

  test("q13: correlated subqueries decorrelate to aggregate+join / anti join") {
    val p = plan("q13_correlated_subqueries")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"correlated subquery failed to decorrelate:\n$p")
    // projected (not filtering) NOT EXISTS → ExistenceJoin hash join
    assert(p.contains("ExistenceJoin"),
      s"NOT EXISTS should plan as an existence hash join:\n$p")
  }

  test("dd14: the sketch aggregate partial-aggregates (map-side combine)") {
    val p = plan("dd14_source_minhash_sketch")
    assert(p.contains("partial_graft_minhash_merge"),
      s"MinHashMerge lost its partial phase — sketches would shuffle raw rows:\n$p")
  }

  test("w16: the cohort join must NOT broadcast the per-user aggregate") {
    // firstDay is one row per USER — it grows with the data, so a broadcast
    // is an executor OOM at scale, not an optimization. The scale-safe plan
    // is a shuffle hash join on the uniform user_id key (hinted, so the
    // tiny-SF auto-broadcast can't sneak back in).
    val p = plan("w16_cohort_retention")
    assert(!p.contains("BroadcastHashJoin"),
      s"per-user aggregate must not be broadcast:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected shuffle hash join:\n$p")
  }

  test("w14: training-pair extraction is one user_id shuffle") {
    val p = plan("w14_next_event_pairs")
    val exchanges = "\\+- Exchange \\(\\d+\\)".r.findAllIn(p).size
    assert(exchanges === 1, s"expected one window exchange:\n$p")
    assert(p.contains("user_id"), p)
  }

  test("samp1/tx14/tx15: sampling and scrubbing ride the scan — zero exchanges") {
    // hash-threshold sampling, PII redaction, and chunking are per-row
    // work; at 100 TB any shuffle here would dominate the whole pipeline
    for (n <- Seq("samp1_stratified_sample", "tx14_pii_scan", "tx15_chunking")) {
      val p = plan(n)
      assert(!p.contains("Exchange"), s"$n must be map-only:\n$p")
    }
  }

  test("tx17: the quality rulebook is per-row work riding the scan — zero exchanges") {
    val p = plan("tx17_quality_rules")
    assert(!p.contains("Exchange"), s"tx17 must be map-only:\n$p")
  }

  test("samp2: per-stratum top-k is the salted two-phase shape, not one window") {
    // a single window per source serializes each stratum through one
    // partition; the salted local top-k caps the final window's input at
    // 32*k rows per stratum. Shape: exactly two Window ops, two exchanges.
    val p = plan("samp2_reservoir_per_source")
    val windows = "\\bWindow \\(\\d+\\)".r.findAllIn(p).size
    val exchanges = "\\+- Exchange \\(\\d+\\)".r.findAllIn(p).size
    assert(windows === 2, s"expected salted+final windows:\n$p")
    assert(exchanges === 2, s"expected two window exchanges:\n$p")
  }

  test("tx18: df and scoring share the one materialized postings set; dims broadcast") {
    val p = plan("tx18_bm25_topk")
    assert(!p.contains("SortMergeJoin"), s"query-term dim degraded to shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // the restricted postings are cached ONCE (persist, since the diamond
    // needs reuse, not lineage truncation) and feed both branches — the
    // corpus is never re-tokenized for the df count
    val cached = "\\(\\d+\\) InMemoryTableScan".r.findAllIn(p).size
    assert(cached === 2, s"expected the cached postings on both sides:\n$p")
    // 4 parquet scans PRINT, but 2 belong to the InMemoryRelation build
    // subtree (corpus tokenization + the query-term broadcast), which runs
    // exactly once at cache materialization; the steady plan re-scans only
    // qterms + stats. More than 4 would mean a consumer re-tokenized.
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq <= 4, s"a consumer re-tokenizes the corpus:\n$p")
  }

  test("samp3/sim10: rate and stats aggregates come back as broadcast dims") {
    // per-LANGUAGE / per-LABEL aggregates are bounded by the domain size —
    // true dimensions (contrast w16's per-user aggregate, which is not)
    for (n <- Seq("samp3_mixture_resample", "sim10_embedding_outliers")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n rate/stats join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$n degraded to a shuffle join:\n$p")
    }
  }

  test("pipe2: probe set broadcasts; no nested-loop anywhere in the cascade") {
    val p = plan("pipe2_training_mix")
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cascade planned a nested loop:\n$p")
  }

  test("pipe3: keeper election shuffles on the hash; no nested loop, no " +
    "corpus-scaled broadcast") {
    val p = plan("pipe3_shard_manifest")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"manifest cascade planned a nested loop:\n$p")
    // the keeper map grows with the corpus (one row per unique text) — it
    // must NOT broadcast (the w16 anti-pattern); a shuffle join on the
    // uniform sha key is the scale-safe plan
    assert(!p.contains("BroadcastHashJoin"),
      s"corpus-scaled keeper relation must not broadcast:\n$p")
  }

  test("w17/samp5: transition matrix and grouped split plan no join at all") {
    // both reduce the corpus to a tiny aggregate before any cross-relation
    // logic — margins/invariants come from windows over the aggregate, so
    // no join operator (of any kind) may appear
    for (n <- Seq("w17_markov_transitions", "samp5_grouped_split")) {
      val p = plan(n)
      assert(!p.contains("Join"), s"$n planned a join:\n$p")
    }
  }

  test("prof5: the contingency profile is ONE scan of the corpus") {
    val p = plan("prof5_categorical_assoc")
    assert(!p.contains("Join"), s"chi-square margins must come from windows:\n$p")
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq === 1, s"expected a single documents scan:\n$p")
  }

  test("tx24: intra-doc repetition is one scan, zero joins") {
    // per-document math with a corpus-shaped plan: shingles explode
    // map-side and everything downstream is keyed aggregation — nothing
    // crosses documents, so any Join node means a regression
    val p = plan("tx24_intra_doc_repetition")
    assert(!p.contains("Join"), s"cross-document join crept in:\n$p")
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq === 1, s"expected a single documents scan ($pq):\n$p")
  }

  test("sim17: model state broadcasts; no unbroadcast cross anywhere") {
    // the KB-scale model relations (probes, LUT, centroids) must ride
    // broadcasts — the only nested-loop allowed is the deliberate
    // queries×centroids broadcast cross (≤ NQueries·ncells rows, the
    // sim13 pattern); an unbroadcast CartesianProduct would mean a
    // corpus-sized side leaked into a cross
    val p = plan("sim17_knn_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      s"model-state joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbroadcast cross:\n$p")
  }

  test("prof1: the profile rides the histogram — no count-distinct Expand") {
    // N exact count_distincts in one aggregate plan as an Expand that
    // multiplies every row ×(N+1) pre-shuffle; the histogram formulation
    // must keep the plan Expand-free (stack's generator is not Expand)
    // with a single lineitem scan
    val p = plan("prof1_numeric_profile")
    assert(!p.contains("Expand"), s"count-distinct Expand crept back:\n$p")
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq === 1, s"expected a single lineitem scan ($pq):\n$p")
  }

  test("prof4/prof4b: quantiles come off the histogram — no full-value-list " +
      "percentile aggregate, one melt scan") {
    // the r4 perf-weak shape was `percentile`, whose merge task
    // materializes every row's value on one executor; the rewrite must
    // keep the plan free of it (hash-aggregable conditional MINs over the
    // histogram instead), with exactly one lineitem scan feeding the melt
    val p = plan("prof4_exact_quantiles")
    assert(!p.toLowerCase.contains("percentile"),
      s"full-value-list percentile agg crept back:\n$p")
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq === 1, s"expected a single lineitem scan ($pq):\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
    // prof4b keeps the exact arm percentile-free too; its only percentile
    // is the bounded approx_percentile sketch, and its cost is exactly
    // two scans (histogram band + sketch aggregate) — no silent growth
    val pb = plan("prof4b_approx_quantiles")
    assert(pb.toLowerCase.contains("approx_percentile"),
      s"sketch arm missing:\n$pb")
    assert(!pb.replaceAll("(?i)approx_percentile", "").toLowerCase
      .contains("percentile"), s"exact percentile agg in prof4b:\n$pb")
    val pbScans = "\\(\\d+\\) Scan parquet".r.findAllIn(pb).size
    assert(pbScans === 2, s"expected two lineitem scans ($pbScans):\n$pb")
  }

  test("w18: the transition model broadcasts back; top-k never globally sorts") {
    val p = plan("w18_sequence_anomaly")
    assert(p.contains("BroadcastHashJoin"), s"model-apply join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"TYPES^2 model degraded to shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k planned a global sort:\n$p")
  }

  test("g1: cached edges never re-shuffle; rank side shuffles, never broadcasts") {
    val p = plan("g1_pagerank")
    assert(p.contains("InMemoryTableScan"),
      s"edges not persisted across iterations:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k planned a global sort:\n$p")
    // the orders/lineitem fact join is scanned exactly once to build edges
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq <= 2, s"fact tables re-scanned per iteration ($pq scans):\n$p")
    // each of the 3 iterations is ONE shuffled-hash join: the node-sized
    // rank relation must not broadcast (w16 lesson: per-entity aggregates
    // are not dimension tables) and the edges side must reuse its cached
    // partitioning rather than re-exchange
    val shj = "ShuffledHashJoin".r.findAllIn(p).size
    assert(shj >= 3, s"iteration joins lost the shuffled-hash shape ($shj):\n$p")
  }

  test("prof6: two bounded scans, bucket agg is partial (map-side combine)") {
    val p = plan("prof6_histogram_quantiles")
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(pq === 2, s"expected exactly min/max pass + bucket pass ($pq scans):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"bucket aggregation lost its partial (map-side) half:\n$p")
    assert(!p.contains("CartesianProduct"), s"bounds join degraded:\n$p")
  }

  test("sim12: centroids broadcast against the streaming corpus, no shuffle join") {
    val p = plan("sim12_centroid_classify")
    // the |labels|-row centroid table is the broadcast side of a nested-loop
    // join by construction (constant-size side — NOT a data-scaled relation;
    // contrast dd6 where the broadcast side grows with the corpus)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus side must not shuffle for the scoring join:\n$p")
  }

  test("runtime bloom-filter semi-join reduction fires on selective fact joins") {
    // Spark 4 ships runtime bloom-filter injection ON by default, but its
    // applicationSideScanSizeThreshold (10 GB) means it only fires at real
    // fact-table scale. This pins that the engine's session + query shapes
    // are eligible: with the threshold representative of a 100 TB fact
    // side, a selective dim filter turns into a bloom probe ON THE FACT
    // SCAN SIDE — the semi-join reduction that saves the first shuffle.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val li = Tables.load(s2, dir, "lineitem")
    val urgent = Tables.load(s2, dir, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val j = li.join(urgent,
      org.apache.spark.sql.functions.col("l_orderkey") ===
        org.apache.spark.sql.functions.col("o_orderkey"))
    val p = j.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.toLowerCase.contains("bloomfilter"),
      s"no runtime bloom filter injected on the fact side:\n$p")
  }

  test("tx19: the benchmark side broadcasts; candidates come from the band equi join") {
    val p = plan("tx19_fuzzy_decontamination")
    assert(p.contains("BroadcastHashJoin"), s"probe bands not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate join degraded:\n$p")
  }

  test("cdc1/cdc2: changelog materialization is ONE hash shuffle by entity key") {
    for (q <- Seq("cdc1_latest_snapshot", "cdc2_scd2_history")) {
      val p = plan(q)
      val exchanges = "\\+- Exchange ".r.findAllIn(p).size
      assert(exchanges == 1, s"$q: expected exactly 1 key exchange, got $exchanges:\n$p")
      assert(!p.contains("Join"), s"$q: the changelog must never self-join:\n$p")
    }
  }

  test("cdc3: the sweep-line runs on the bounded hour grid, not the raw log") {
    // the only single-partition window must consume the post-aggregation
    // hour rows: a global sort of the raw changelog would show the window
    // BEFORE the hash aggregate in the plan tree.
    val p = plan("cdc3_concurrency_profile")
    assert(p.contains("HashAggregate"), p)
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0 && aggIdx >= 0, p)
    // formatted explain lists operators leaves-last; the running-sum Window
    // node must sit ABOVE (earlier in the listing than) the hour aggregate.
    assert(winIdx < aggIdx,
      s"running sum consumes pre-aggregation rows (global log sort):\n$p")
  }

  test("cdc4: point-in-time enrichment is the as-of union+window — zero Join nodes") {
    val p = plan("cdc4_point_in_time")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"),
      s"as-of degraded to a join against the unbounded history:\n$p")
  }

  test("cdc5: the interval-overlap join is an equi join on the time bucket") {
    val p = plan("cdc5_session_version_overlap")
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY nested loop allowed is the 1-row horizon-cap broadcast;
    // the interval pairing itself must be a hash/merge equi join
    // count tree nodes only (formatted mode re-lists each node in the
    // details section)
    val bnlj = "\\+- BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"interval pairing degraded to a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi join on the bucket key:\n$p")
  }

  test("prof7: drift statistics aggregate in decimal(38,0), bounds broadcast back") {
    val p = plan("prof7_distribution_drift")
    assert(p.contains("BroadcastHashJoin"), s"bounds join not broadcast:\n$p")
    // the count cross-products must be cast into the decimal domain before
    // multiplying (decimal(19,0)×decimal(19,0) → decimal(38,0)): a bare
    // int64 product overflows at ~1e12-per-bin counts.
    val opt = SparkEntry.queries("prof7_distribution_drift")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("as decimal(19,0)"),
      s"cross-products not widened past int64:\n$opt")
  }

  test("sk1: both sample windows are partitioned — no single-partition stage") {
    val p = plan("sk1_kmv_quantiles")
    // every window here is partitioned (event_type [+ salt]); an
    // unpartitioned window or global sort would plan an
    // Exchange SinglePartition and serialize the table through one task
    assert(!p.contains("SinglePartition"),
      s"a window/sort collapsed to one partition:\n$p")
    assert(p.contains("Window"), p)
  }

  test("sk2: probes meet the 1024-counter sketch by broadcast, never shuffle") {
    val p = plan("sk2_countmin_probe")
    assert(p.contains("BroadcastHashJoin"), s"sketch join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe side shuffled to meet a KB-sized sketch:\n$p")
  }

  test("sk3: register aggregation partial-aggregates; spine join broadcasts") {
    val p = plan("sk3_hll_distinct")
    assert(p.contains("partial_"), s"register max must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the 256-row register spine must never be the build side of a shuffle
    assert(!p.contains("SortMergeJoin"),
      s"constant-sized spine planned a shuffle join:\n$p")
  }

  test("sk5: bucket assignment is per-row math — the data is never sorted") {
    val p = plan("sk5_range_buckets")
    // the 31-double boundary list joins as a broadcast (1-row build side);
    // the data path's only aggregation is the 32-row bucket rollup. Window
    // sorts exist ONLY on the k-row sample subtree.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"boundaries must broadcast:\n$p")
    assert(p.contains("partial_count"), s"bucket rollup must map-side combine:\n$p")
  }

  test("sk6/sk7: one-scan profiles — a single parquet scan, partial aggs") {
    Seq("sk6_hll_column_profile", "sk7_skew_profile").foreach { name =>
      val p = plan(name)
      val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(pq === 1, s"$name: expected ONE lineitem scan, got $pq:\n$p")
      assert(p.contains("partial_"), s"$name: counters must map-side combine:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: unexpected shuffle join:\n$p")
    }
  }

  test("prof9: the Lorenz ranking is a partitioned window, never one partition") {
    val p = plan("prof9_gini_concentration")
    assert(!p.contains("SinglePartition"),
      s"the per-type Gini sort collapsed to one partition:\n$p")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), s"prof9 should be scan+window+agg, no joins:\n$p")
  }

  test("ab4: the user-level relation materializes ONCE for its 3 consumers") {
    val p = plan("ab4_cuped")
    assert(p.contains("InMemoryTableScan"),
      s"pooled/a/b branches must share the cached user relation:\n$p")
    // the cached subtree is echoed per consumer in the formatted output —
    // count DISTINCT scan node ids, which the cache shares
    val pq = "\\((\\d+)\\) Scan parquet".r.findAllMatchIn(p)
      .map(_.group(1)).toSet.size
    assert(pq === 1,
      s"ab4: events must be scanned once via the cache, got $pq scans:\n$p")
  }

  test("samp8: bootstrap is scan-shaped — explode, one (lang,b) shuffle") {
    val p = plan("samp8_bootstrap_ci")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), s"resample sums must map-side combine:\n$p")
    assert(!p.contains("SinglePartition"),
      s"the 32·langs means window must stay partitioned:\n$p")
  }

  test("w21/tsr5: per-series analytics keep every window partitioned") {
    Seq("w21_change_point", "tsr5_seasonal_backtest").foreach { name =>
      val p = plan(name)
      assert(!p.contains("SinglePartition"),
        s"$name: a per-user window collapsed to one partition:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("er6/tx22/dq6: audits are one scan (er6 via its persisted count level)") {
    Seq("er6_fs_weights", "tx22_langid_eval", "dq6_freshness").foreach { n =>
      val p = plan(n)
      val pq = "\\((\\d+)\\) Scan parquet".r.findAllMatchIn(p)
        .map(_.group(1)).toSet.size
      assert(pq === 1, s"$n: expected ONE distinct table scan, got $pq:\n$p")
    }
  }

  test("tx21: the top-k head election is bounded by WindowGroupLimit") {
    val p = plan("tx21_zipf_fit")
    // the salted local phase must push the rank bound below the shuffle —
    // without it the final single-partition window would see the whole
    // vocabulary instead of <= 32k survivors
    assert(p.contains("WindowGroupLimit"),
      s"salted top-k lost its partial group limit:\n$p")
  }

  test("prof10/sk8: quantile passes broadcast back, never shuffle the rows") {
    val p10 = plan("prof10_robust_outliers")
    assert(!p10.contains("SortMergeJoin"),
      s"a types-bounded median relation planned a shuffle join:\n$p10")
    val p8 = plan("sk8_dd_quantiles")
    assert(p8.contains("partial_"), s"bucket counts must map-side combine:\n$p8")
    assert(!p8.contains("CartesianProduct"), p8)
  }

  test("dq4/dq5: privacy census is one scan, one QI shuffle, partial aggs") {
    Seq("dq4_k_anonymity", "dq5_l_diversity").foreach { name =>
      val p = plan(name)
      val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(pq === 1, s"$name: expected ONE customer scan, got $pq:\n$p")
      // the only wide op is the groupBy on the QI tuple; the census over the
      // per-class relation must not introduce a join or a second table pass
      assert(p.contains("partial_"), s"$name: class sizing must map-side combine:\n$p")
      assert(!p.contains("Join"), s"$name: census planned a join:\n$p")
    }
  }

  test("sim16: SQ8 model and queries broadcast; the corpus never shuffles whole") {
    val p = plan("sim16_knn_sq8")
    // two broadcast sides ride the corpus scan: the 2×64-long min/max model
    // and the coded query batch; a SortMergeJoin would mean the full rv
    // vectors crossed the network
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to meet queries:\n$p")
  }

  test("tx23: the pair census map-side combines; top-K is salted two-phase") {
    val p = plan("tx23_bpe_merge_stats")
    assert(p.contains("partial_"), s"pair census must map-side combine:\n$p")
    // the final global rank must be fed by the salted local-rank window —
    // visible as two Window nodes, the first partitioned by the salt
    assert("\\(\\d+\\) Window".r.findAllIn(p).size >= 2,
      s"top-K lost its two-phase shape:\n$p")
  }

  test("dd17: the scrub is span-joins and windows — nothing pairwise") {
    val p = plan("dd17_span_scrub")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"dd17 degraded to a pairwise join:\n$p")
  }

  test("q14: the quantifier pair folds into one aggregation chain — no fact joins") {
    // r14: the semi+anti decorrelation was replaced by per-(order, supplier)
    // → per-order conditional aggregation (see Relational.q14SoleLate).
    // Pins: NO join over the fact side at all (the only joins left are the
    // broadcast supplier dim), the chain is hash aggregates with map-side
    // partials, and top-20 stays TakeOrderedAndProject.
    val p = plan("q14_sole_late_supplier")
    assert(!p.contains("LeftSemi") && !p.contains("LeftAnti"),
      s"the aggregation rewrite regressed to decorrelated joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"a fact-side shuffle join crept back in:\n$p")
    assert(p.contains("partial_"), s"candidate chain lost map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 planned a global sort:\n$p")
  }

  test("w22: the WAU explode stays map-side; one (day,user) exchange") {
    val p = plan("w22_active_stickiness")
    // Generate (the ×7 day explode) must sit BELOW the distinct-count
    // aggregation's exchange, not above a join of per-day relations
    assert(p.contains("Generate"), s"bounded explode missing:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"dau×wau join shape degraded:\n$p")
  }

  test("g3: round 1 broadcasts the literal source row; rounds 2-4 are shuffled-hash joins") {
    // every relaxation round is an eager localCheckpoint and the returned
    // plan reads round 4's checkpoint, so the rounds' join strategies are
    // read off the four checkpoint executions, in order
    val rounds = new LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") rounds.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plans = try {
      SparkEntry.queries("g3_cheapest_path")(spark, dir)
      Seq.fill(4)(rounds.poll(60, TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.contains(null), s"expected 4 relaxation rounds, saw ${plans.count(_ != null)}")
    // round 1: `u = 3` is a filter on the cached edges, and the one-row
    // frontier broadcasts; no hint asks for a hash join it cannot have
    assert(plans.head.contains("BroadcastNestedLoopJoin") &&
      !plans.head.contains("ShuffledHashJoin"), plans.head)
    for (p <- plans.tail)
      assert(p.contains("ShuffledHashJoin") && !p.contains("NestedLoopJoin"), p)
  }

  test("sim7/sim17: the corpus reaches the ADC projection unexploded, never shuffled on vec_id") {
    for (q <- Seq("sim7_knn_pq_adc", "sim17_knn_ivfpq")) {
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
      // the one posexplode left splits the 10 query vectors into the LUT's
      // subvectors (the KB-scale model side), not the scanned corpus
      val queryOnly = "vec_id#\\d+L < 10\\)".r
      val generates = p.collect { case g: GenerateExec => g }
      assert(generates.forall(_.child.exists {
        case f: FilterExec => queryOnly.findFirstIn(f.condition.toString).isDefined
        case _ => false
      }), s"$q: a posexplode reads more than the query rows:\n$p")
      val onVecId = p.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("vec_id#") => e
      }
      assert(onVecId.isEmpty, s"$q: an Exchange is keyed on vec_id:\n$p")
    }
  }

  test("block and sink queries plan a blockfeed BatchScan, never a cached or JSON scan") {
    for (q <- Seq("s1_block_scan", "e1_tx_events_by_type", "e2_block_events_by_type",
        "f10_attr_key_histogram", "s13_combined_stream", "p2_filter_by_event_type",
        "p1_skip_empty_blocks", "e3_tx_errors", "f4_tx_hashes", "p6_nth_block_sample",
        "f13_tx_fees_by_denom", "k2_file_manifest", "k4_kafka_keys",
        "e6_stream_block_assembly", "k5_kafka_roundtrip")) {
      val p = plan(q)
      assert(p.contains("BatchScan blockfeed"), s"$q:\n$p")
      assert(!p.contains("InMemoryTableScan") && !p.contains("Scan json"), s"$q:\n$p")
    }
  }
}
