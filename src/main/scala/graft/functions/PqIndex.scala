package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for ANN at scale: each vector is split into
  * `m` subspaces of `subDim` dims; every subspace gets its own tiny
  * codebook (`ks` centroids, Lloyd-trained); a vector is stored as `m`
  * small codes. Asymmetric distance computation (ADC) then scores a query
  * against a vector by summing per-subspace lookup-table entries — the
  * corpus scan touches only the codes (m small ints per vector) plus one
  * cached norm, never the full float vectors. That is the 100 TB story:
  * a 64-dim float corpus collapses ~16× into a code table that fits in
  * memory bandwidth; full vectors are read once at index-build time and
  * again only for the final re-rank of a tiny candidate pool.
  *
  * Everything is a DataFrame plan over exact integer math (the 1e4-scale
  * quantized vectors of [[TextHash.quantize]]):
  *   - one `posexplode` projection turns the corpus into (vec_id, sub, sqv)
  *     rows, so ALL m codebooks train in the same jobs — no per-subspace
  *     driver loop;
  *   - assignment is argmin-L2 over exact integer ‖c‖² − 2⟨x,c⟩ (the ‖x‖²
  *     term is constant per argmin group), unrolled into one shuffle-free
  *     codegen'd projection over codebook literals (see [[assign]]);
  *   - codebook update = exact long sums per (sub, cell, dim), means
  *     rounded back to the same 1e4 integer scale (L2 needs centroids and
  *     vectors on ONE scale — unlike the cosine-only [[IvfIndex]], which
  *     can carry centroids at an inflated scale);
  *   - like [[IvfIndex]], the km×subDim codebook is MODEL STATE: collected
  *     to the driver (a few KB) and re-broadcast each iteration, keeping
  *     lineage one-scan-per-iteration.
  *
  * Deterministic by construction: fixed init (sub-vectors of the first `ks`
  * vec_ids), integer distances, explicit tie-breaks — rows are stable
  * across runs and partitionings (asserted in SimilaritySpec).
  */
object PqIndex {

  /** (vec_id, qv) → (vec_id, sub, sqv): literal-offset slices, exploded.
    * The slice array is built OUTSIDE any lambda (literal offsets, bound
    * input) so nothing re-evaluates per element.
    */
  def subvectors(vectors: DataFrame, m: Int, subDim: Int): DataFrame =
    vectors.select(col("vec_id"),
      posexplode(array((0 until m).map(j =>
        slice(col("qv"), j * subDim + 1, subDim)): _*)).as(Seq("sub", "sqv")))

  /** Nearest centroid per (vec_id, sub) by exact integer L2 argmin;
    * `centroids`: (sub, cell, cq). Keeps `sqv` on the output row (needed by
    * the update step).
    *
    * r14 shape (the [[IvfIndex.assign]] rewrite): the codebook is KB-scale
    * driver state (m·ks rows — the same scale [[materialize]] already
    * collects every Lloyd step), so the argmin unrolls into ONE codegen'd
    * projection — per subspace, `least(struct(‖c‖² − 2⟨x,c⟩, cell))` over
    * its ks centroid literals, dispatched by a `when` chain on `sub` —
    * instead of the r9–r13 broadcast join (ks× row multiplication) +
    * (vec_id, sub)-exchange + min_by aggregate. Exact integer distances
    * and the (d2, cell) lexicographic tie-break are unchanged, so codes
    * are bit-identical; assignment is now shuffle-free.
    *
    * NB EAGER in `centroids` (see [[IvfIndex.assign]]): the codebook is
    * collected at call time; pass a finished model.
    */
  def assign(subvecs: DataFrame, centroids: DataFrame): DataFrame = {
    val bySub = centroids.select(
        col("sub").cast("int"), col("cell").cast("int"), col("cq"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .groupBy(_._1)
    val choice = bySub.toSeq.sortBy(_._1).map { case (sub, cs) =>
      val structs = cs.sortBy(_._2).map { case (_, cell, cq) =>
        // ‖c‖² is a pure literal — computed exactly in driver long math
        val cqdot = cq.iterator.map(x => x * x).sum
        struct(
          (lit(cqdot) - lit(2L) * TextHash.dotQ(col("sqv"), typedLit(cq)))
            .as("d"),
          lit(cell).as("cell"))
      }
      val best =
        if (structs.length == 1) structs.head else least(structs.toSeq: _*)
      (sub, best.getField("cell"))
    }
    // contract parity with the r9–r13 inner join on "sub": a sub-vector
    // whose subspace has no codebook entry was DROPPED (and an empty
    // codebook assigned nothing) — never kept with a null code. The
    // when-chain alone would fall through to null, so filter the
    // unmatched subs out explicitly.
    val knownSub =
      if (bySub.isEmpty) lit(false)
      else col("sub").isin(bySub.keys.toSeq.sorted: _*)
    val cellExpr = choice.foldRight(lit(null).cast("int")) {
      case ((sub, cell), acc) => when(col("sub") === sub, cell).otherwise(acc)
    }
    subvecs.filter(knownSub).select(col("vec_id"), col("sub"),
      cellExpr.as("cell"), col("sqv"))
  }

  /** LocalRelation, not an RDD (see [[IvfIndex.materialize]]): collects and
    * broadcast builds over the model then run driver-local, job-free.
    */
  private def materialize(spark: SparkSession, centroids: DataFrame): DataFrame = {
    val cols = centroids.select("sub", "cell", "cq")
    val rows = java.util.Arrays.asList(cols.collect(): _*)
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(cols.schema.fields))
  }

  /** Train all `m` codebooks (`iters` Lloyd steps from the deterministic
    * init) and encode the corpus. Returns (codebook, codes):
    * codebook = (sub, cell, cq); codes = (vec_id, codes array<int> in
    * subspace order) — the compact index, persisted (it IS the artifact a
    * real deployment writes out).
    */
  def fitEncode(spark: SparkSession, vectors: DataFrame,
                m: Int, subDim: Int, ks: Int, iters: Int): (DataFrame, DataFrame) = {
    val sv = subvectors(vectors, m, subDim).persist()
    var centroids = materialize(spark, sv.filter(col("vec_id") < ks)
      .select(col("sub"), col("vec_id").cast("int").as("cell"), col("sqv").as("cq")))
    for (_ <- 0 until iters) {
      centroids = materialize(spark,
        assign(sv, centroids)
          .select(col("sub"), col("cell"), posexplode(col("sqv")).as(Seq("d", "x")))
          .groupBy(col("sub"), col("cell"), col("d"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n")) // exact long sums
          .groupBy(col("sub"), col("cell"))
          .agg(array_sort(collect_list(struct(col("d"), col("s"), col("n")))).as("a"))
          .select(col("sub"), col("cell"),
            // mean rounded back to the vectors' own 1e4 scale (exact L2)
            transform(col("a"), e =>
              round(e("s").cast("double") / e("n").cast("double"))
                .cast("long")).as("cq")))
    }
    // r15: encode via ONE projection over the unexploded vectors instead of
    // assign(sv) → groupBy(vec_id) → collect_list — same argmin, same
    // tie-break, bit-identical codes, but no m× row explosion and no
    // vec_id exchange for the encode pass (the sv cache now only feeds the
    // Lloyd updates).
    val codes = encode(vectors, centroids, subDim)
      .select(col("vec_id"), col("codes"))
    (centroids, codes)
  }

  /** The corpus encode as ONE codegen'd projection over the UNEXPLODED
    * vector column (r15; guide §2.4): per codebook subspace (in `sub`
    * order), argmin-L2 over that subspace's centroid literals with the
    * exact integer ‖c‖² − 2⟨x_sub, c⟩ distance and (d2, cell) tie-break —
    * the same arithmetic as [[assign]], so codes are bit-identical to the
    * explode → assign → groupBy(vec_id) → sorted collect_list path this
    * replaces (pinned by AssignEquivalenceSpec), without the m× row
    * explosion or the vec_id exchange. Keeps every input column and adds
    * `codes` (array<int> over the codebook's subspaces in sorted order —
    * exactly the old sorted collect_list shape, including when a subspace
    * is absent from the codebook). Contract parity: empty codebook →
    * empty result, like the join shape and [[assign]].
    *
    * NB EAGER in `centroids` (the [[assign]] contract): collected at call
    * time; pass a finished model.
    */
  def encode(vectors: DataFrame, centroids: DataFrame, subDim: Int): DataFrame = {
    val bySub = centroids.select(
        col("sub").cast("int"), col("cell").cast("int"), col("cq"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .groupBy(_._1)
    if (bySub.isEmpty)
      return vectors
        .withColumn("codes", lit(null).cast("array<int>")).limit(0)
    val codeExprs = bySub.toSeq.sortBy(_._1).map { case (sub, cs) =>
      // the slice is referenced once per centroid term; codegen's
      // subexpression elimination computes it once per row
      val sqv = slice(col("qv"), sub * subDim + 1, subDim)
      val structs = cs.sortBy(_._2).map { case (_, cell, cq) =>
        val cqdot = cq.iterator.map(x => x * x).sum // exact driver long math
        struct(
          (lit(cqdot) - lit(2L) * TextHash.dotQ(sqv, typedLit(cq))).as("d"),
          lit(cell).as("cell"))
      }
      (if (structs.length == 1) structs.head else least(structs.toSeq: _*))
        .getField("cell")
    }
    vectors.withColumn("codes", array(codeExprs: _*))
  }

  /** The ADC sum Σ_sub rdots[pos(sub, codes[sub])] as ONE codegen'd
    * expression (r15; guide §2.4): replaces the posexplode(codes) ×m →
    * broadcast LUT join → (query, vec) re-aggregation pipeline. `rdots`
    * must be the per-query LUT folded to an array SORTED BY (sub, code) —
    * i.e. `transform(array_sort(collect_list(struct(sub, code, rdot))),
    * x -> x.rdot)` — and `codes` the [[encode]] output; the (sub, code) →
    * position table comes from the driver-known codebook, so a sparse
    * codebook (dead cells, missing subspaces) indexes exactly like the
    * join did. Same integer terms in a different association — long sums
    * are exact, so the result is bit-identical to join + sum().
    *
    * Guards: (sub, code) packs as sub·base + code with base = the largest
    * cell + 1, so no codebook size can collide two keys; and a LUT whose
    * length is not the codebook's key count — a missing (sub, code) row
    * would shift every later position — raises instead of summing the
    * wrong entries (a null LUT stays null).
    */
  def adcLookupSum(centroids: DataFrame, codes: Column, rdots: Column): Column = {
    val keys = centroids.select(col("sub").cast("int"), col("cell").cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).sorted
    require(keys.nonEmpty, "adcLookupSum needs a non-empty codebook")
    require(keys.forall(_._2 >= 0), "adcLookupSum needs non-negative cell ids")
    val base = keys.map(_._2).max + 1L
    val posOf = keys.zipWithIndex
      .map { case ((sub, code), i) => (sub * base + code) -> i }.toMap
    val sortedSubs = keys.map(_._1).distinct.sorted
    val sum = sortedSubs.zipWithIndex.map { case (sub, j) =>
      element_at(rdots,
        element_at(typedLit(posOf),
          lit(sub * base) + element_at(codes, lit(j + 1))) + 1)
    }.reduce(_ + _)
    when(size(rdots) === lit(keys.length), sum)
      .when(rdots.isNotNull, raise_error(lit(
        s"adcLookupSum: the LUT must hold one entry per codebook (sub, code) " +
          s"key (${keys.length})")))
  }
}
