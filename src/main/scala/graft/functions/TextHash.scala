package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text/hash primitives shared by the dedup, text-analysis and
  * similarity packs.
  *
  * Every function here is (a) a built-in-only Column expression (whole-stage
  * codegen, no UDFs on the hot path) and (b) *bit-reproducible in ANSI SQL*,
  * so the DuckDB oracle can recompute identical values — the correctness gate
  * then checks real content, not just row counts. That rules out Spark's
  * murmur3 `hash()` (engine-specific); we use an explicit 31-base polynomial
  * rolling hash mod 1e9+7 (the classic Rabin–Karp construction) everywhere.
  *
  * Scale notes: all per-document work is per-row array math — embarrassingly
  * parallel, no shuffle, no data skew sensitivity. The quadratic candidate
  * generation lives in the pack queries (inverted-index / LSH-band joins),
  * not here.
  */
object TextHash {

  val Mod = 1000000007L // prime modulus for the rolling hash

  /** Whitespace tokens — `\S+` extraction (identical semantics in RE2/Java,
    * no empty-token edge cases unlike split()).
    */
  def tokens(text: Column): Column =
    regexp_extract_all(text, lit("\\S+"), lit(0))

  /** BPE-ish lexer tokens: word runs or single punctuation marks. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))

  /** Characters (including newlines — `(?s).`). */
  def chars(text: Column): Column =
    regexp_extract_all(text, lit("(?s)."), lit(0))

  /** Polynomial rolling hash of a string: fold (acc*31 + codepoint) % Mod.
    * Native codegen'd Catalyst expression ([[PolyHash]]); DuckDB equivalent:
    * [[sqlPolyHash]]. The built-in-only formulation is kept in the test
    * sources (`HofTwins.polyHashHof`) for the equivalence spec.
    */
  def polyHash(text: Column): Column =
    org.apache.spark.sql.GraftColumn.of(
      PolyHash(org.apache.spark.sql.GraftColumn.expr(text)))

  /** DuckDB SQL rendering of [[polyHash]] over expression `e`. */
  def sqlPolyHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(regexp_extract_all($e, '(?s).'), c -> CAST(ord(c) AS BIGINT))), " +
      s"(a, c) -> (a * 31 + c) % $Mod)"

  /** Distinct word 3-gram shingles as strings ("w1 w2 w3").
    *
    * PERF: built as `zip_with` over three shifted `slice`s so `toks` appears
    * only in HOF *argument* position (evaluated once per row). The obvious
    * `transform(sequence(0, n-3), i => element_at(toks, i+...))` formulation
    * puts `toks` inside the lambda body — Catalyst re-evaluates the full
    * upstream expression tree per element, which turns an upstream regex
    * tokenize into O(n²) per document.
    */
  def shingles3(toks: Column): Column = {
    val n = greatest(size(toks) - 2, lit(0))
    array_distinct(
      zip_with(
        zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
          (a, b) => concat_ws(" ", a, b)),
        slice(toks, lit(3), n),
        (ab, c) => concat_ws(" ", ab, c)))
  }

  /** DuckDB SQL for [[shingles3]] over a token-list expression `t`. */
  def sqlShingles3(t: String): String =
    s"CASE WHEN len($t) >= 3 THEN list_distinct(list_transform(" +
      s"range(1, len($t) - 1), i -> $t[i] || ' ' || $t[i+1] || ' ' || $t[i+2])) " +
      s"ELSE [] END"

  /** General k-gram shingles — same shifted-slice construction as
    * [[shingles3]] (inputs stay in HOF argument position).
    */
  def shinglesK(toks: Column, k: Int): Column = {
    require(k >= 2, "k >= 2")
    val n = greatest(size(toks) - (k - 1), lit(0))
    val joined = (2 to k).foldLeft(slice(toks, lit(1), n)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), n), (a, b) => concat_ws(" ", a, b))
    }
    array_distinct(joined)
  }

  /** DuckDB SQL for [[shinglesK]] over a token-list expression `t`. */
  def sqlShinglesK(t: String, k: Int): String = {
    val concat = (0 until k).map(j => s"$t[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len($t) >= $k THEN list_distinct(list_transform(" +
      s"range(1, len($t) - ${k - 2}), i -> $concat)) ELSE [] END"
  }

  /** [[shinglesK]] WITH multiplicity (no distinct) — for within-document
    * repetition statistics, where how often a gram recurs is the signal.
    */
  def shinglesKAll(toks: Column, k: Int): Column = {
    require(k >= 2, "k >= 2")
    val n = greatest(size(toks) - (k - 1), lit(0))
    (2 to k).foldLeft(slice(toks, lit(1), n)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), n), (a, b) => concat_ws(" ", a, b))
    }
  }

  /** DuckDB SQL for [[shinglesKAll]] over a token-list expression `t`. */
  def sqlShinglesKAll(t: String, k: Int): String = {
    val concat = (0 until k).map(j => s"$t[i+$j]").mkString(" || ' ' || ")
    s"CASE WHEN len($t) >= $k THEN list_transform(" +
      s"range(1, len($t) - ${k - 2}), i -> $concat) ELSE [] END"
  }

  /** MinHash signature (k values) over an array of shingle hashes:
    * sig_i = min over shingles s of (a_i·s + b_i) mod Mod, a_i = 2i+1,
    * b_i = 7919·(i+1). Standard universal-hash minwise scheme (Broder '97).
    */
  def minhashSig(shingleHashes: Column, k: Int): Column =
    // Native codegen'd kernel ([[MinHashSig]]): one k×n loop, one output
    // allocation. The built-in-only fold is kept in the test sources
    // (`HofTwins.minhashSigHof`) for the equivalence spec.
    org.apache.spark.sql.GraftColumn.of(MinHashSig(
      org.apache.spark.sql.GraftColumn.expr(shingleHashes), k))

  /** MinHash-UNION sketch AGGREGATE: element-wise min of the group's
    * signatures — exactly the signature of the pooled shingle set (custom
    * [[MinHashMerge]] TypedImperativeAggregate; constant k-long state,
    * mergeable, partitioning-independent).
    */
  def minhashMerge(sig: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumn.of(
      MinHashMerge(org.apache.spark.sql.GraftColumn.expr(sig), k)
        .toAggregateExpression())

  /** DuckDB SQL for [[minhashSig]] over a BIGINT-list expression `hs`. */
  def sqlMinhashSig(hs: String, k: Int): String =
    s"list_transform(range(0, $k), i -> COALESCE(list_min(" +
      s"list_transform($hs, s -> ((2*i + 1) * s + 7919 * (i + 1)) % $Mod)), $Mod))"

  /** 32-bit SimHash over token hashes: bit j of the result is set iff
    * sum over tokens of ±1 (sign of token-hash bit j) is positive.
    * Pure array math — one pass over tokens, no explode.
    */
  def simhash32(tokenHashes: Column): Column =
    // Native codegen'd kernel ([[SimHash32]]); the built-in-only fold is
    // kept in the test sources (`HofTwins.simhash32Hof`) for the
    // equivalence spec.
    org.apache.spark.sql.GraftColumn.of(SimHash32(
      org.apache.spark.sql.GraftColumn.expr(tokenHashes)))

  /** DuckDB SQL for [[simhash32]] over a BIGINT-list expression `hs`. */
  def sqlSimhash32(hs: String): String = {
    val acc = s"list_reduce(list_prepend(list_transform(range(0, 32), j -> CAST(0 AS BIGINT)), " +
      s"list_transform($hs, h -> list_transform(range(0, 32), " +
      s"j -> (h // CAST(floor(pow(2, j)) AS BIGINT)) % 2 * 2 - 1))), " +
      s"(a, b) -> list_transform(range(1, 33), i -> a[i] + b[i]))"
    s"CAST(list_sum(list_transform(list_zip($acc, range(0, 32)), " +
      s"x -> CASE WHEN x[1] > 0 THEN CAST(floor(pow(2, x[2])) AS BIGINT) ELSE 0 END)) AS BIGINT)"
  }

  // === quantized vector math (similarity / embedding dedup) ==========

  /** Quantize a float vector to BIGINTs at 1e4 scale. All downstream sums of
    * products stay < 2^53, so even double-based engines compute them EXACTLY
    * and the oracle comparison is bit-stable (no float-association drift).
    */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 10000).cast("long"))

  def sqlQuantize(e: String): String =
    s"list_transform($e, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))"

  /** Exact integer dot product of two quantized vectors — native codegen'd
    * expression ([[DotQ]]); the built-in-only formulation is kept in the
    * test sources (`HofTwins.dotQHof`) for the equivalence spec.
    */
  def dotQ(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumn.of(DotQ(
      org.apache.spark.sql.GraftColumn.expr(a),
      org.apache.spark.sql.GraftColumn.expr(b)))

  /** Batched [[dotQ]]: `vec` against every vector of the batch in one
    * codegen'd pass ([[DotQMulti]]) — array of dots, null slots per
    * mismatched/null query.
    */
  def dotQMulti(vec: Column, batch: Column): Column =
    org.apache.spark.sql.GraftColumn.of(DotQMulti(
      org.apache.spark.sql.GraftColumn.expr(vec),
      org.apache.spark.sql.GraftColumn.expr(batch)))

  def sqlDotQ(a: String, b: String): String =
    // guard matches DotQ's null semantics: NULL on length mismatch or any
    // null element (DuckDB's list_zip would pad and list_sum would skip,
    // silently returning a partial overlap sum instead)
    s"CASE WHEN len($a) = len($b) " +
      s"AND len(list_filter($a, x -> x IS NULL)) = 0 " +
      s"AND len(list_filter($b, x -> x IS NULL)) = 0 " +
      s"THEN list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) " +
      s"ELSE NULL END"

  // === random-hyperplane LSH (sign-bucket ANN, Charikar '02) ==========

  /** Signed dot of a quantized vector with deterministic pseudo-random
    * hyperplane `r`: coefficient for dimension d is a small signed integer
    * h(r,d) = ((2r+3)(d²+1) + 7919(r+1)(d+1)) mod 101 − 50. All-integer and
    * reproduced digit-for-digit by [[sqlHplaneDot]], so bucket assignment is
    * oracle-checkable (|dot| ≤ dims·10⁴·50 ≪ 2⁵³ — exact everywhere).
    * PERF: `qv` stays in HOF argument position (zip_with input), never in a
    * lambda body — see the re-evaluation trap note on [[shingles3]].
    */
  def hplaneDot(qv: Column, r: Int): Column =
    aggregate(
      zip_with(qv, sequence(lit(0), size(qv) - 1),
        (x, d) => x * (((lit(2L * r + 3) * (d * d + 1) +
          lit(7919L * (r + 1)) * (d + 1)) % 101) - 50)),
      lit(0L), (acc, v) => acc + v)

  def sqlHplaneDot(e: String, r: Int): String =
    s"list_sum(list_transform(list_zip($e, range(0, len($e))), " +
      s"x -> x[1] * (((${2L * r + 3} * (x[2]*x[2] + 1) + " +
      s"${7919L * (r + 1)} * (x[2] + 1)) % 101) - 50)))"

  /** LSH bucket id: bit r set iff the vector lies on the non-negative side of
    * hyperplane r. Vectors in the same bucket agree on all `planes` signs —
    * the candidate-generation key for ANN at scale (join on bucket, never a
    * cross join).
    */
  def lshBucket(qv: Column, planes: Int): Column =
    // Native codegen'd kernel ([[LshBucketExpr]]): one pass over the vector
    // updating all plane accumulators; the built-in-only formulation is
    // kept in the test sources (`HofTwins.lshBucketHof`) for the
    // equivalence spec.
    org.apache.spark.sql.GraftColumn.of(LshBucketExpr(
      org.apache.spark.sql.GraftColumn.expr(qv), planes))

  def sqlLshBucket(e: String, planes: Int): String = {
    val bits = (0 until planes).map { r =>
      s"(CASE WHEN ${sqlHplaneDot(e, r)} >= 0 THEN ${1L << r} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    // null-input guard mirrors the native LshBucketExpr (NULL, not bucket 0)
    s"(CASE WHEN $e IS NULL THEN NULL ELSE $bits END)"
  }
}
