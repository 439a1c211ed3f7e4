package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextHash.{Mod, chars, hplaneDot}

/** Built-in-HOF reference formulations of the native [[TextHash]] kernels.
  * They are interpreted (CodegenFallback), so they exist only for the
  * equivalence specs that cross-check each native expression against them.
  */
object HofTwins {

  /** Reference formulation of [[TextHash.polyHash]] with built-in HOFs only —
    * interpreted (CodegenFallback), so only used to cross-check the native
    * expression.
    */
  def polyHashHof(text: Column): Column =
    aggregate(chars(text), lit(0L), (acc, ch) => (acc * 31 + ascii(ch)) % Mod)

  /** Reference formulation of [[TextHash.minhashSig]] with built-in HOFs only
    * (interpreted): single pass — fold over the hashes keeping an
    * element-wise-min accumulator of all k permutations, with
    * `shingleHashes` in argument position. The loop-over-permutations
    * formulation (transform(sequence(0, k-1), i =>
    * array_min(transform(hashes, ...)))) re-evaluates the whole upstream
    * shingle pipeline k times per row. Empty shingle set → sentinel Mod
    * (the fold's initial value).
    */
  def minhashSigHof(shingleHashes: Column, k: Int): Column =
    aggregate(
      shingleHashes,
      array_repeat(lit(Mod), k),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(k - 1)),
        (m, i) => least(m, ((lit(2) * i + 1) * s + lit(7919L) * (i + 1)) % Mod)))

  /** Reference formulation of [[TextHash.simhash32]] with built-in HOFs only
    * (interpreted) — cross-checks the native expression.
    */
  def simhash32Hof(tokenHashes: Column): Column = {
    val acc = aggregate(
      tokenHashes,
      array_repeat(lit(0L), 32),
      (a, h) => zip_with(a,
        transform(sequence(lit(0), lit(31)),
          j => (h / floor(pow(lit(2), j)).cast("long")).cast("long") % 2 * 2 - 1),
        (x, y) => x + y))
    aggregate(
      zip_with(acc, sequence(lit(0), lit(31)),
        (s, j) => when(s > 0, floor(pow(lit(2), j)).cast("long")).otherwise(lit(0L))),
      lit(0L), (a, x) => a + x)
  }

  /** Reference formulation of [[TextHash.dotQ]] with built-in HOFs only (interpreted). */
  def dotQHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Reference formulation of [[TextHash.lshBucket]] with built-in HOFs only
    * (interpreted, one fold per plane) — cross-checks the native kernel.
    */
  def lshBucketHof(qv: Column, planes: Int): Column =
    (0 until planes).map { r =>
      when(hplaneDot(qv, r) >= 0, lit(1L << r)).otherwise(lit(0L))
    }.reduce(_ + _)
}
