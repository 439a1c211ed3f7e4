package graft

import graft.functions.{IvfIndex, PqIndex, TextHash}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r14 pins: the shuffle-free argmin rewrites of [[IvfIndex.assign]] and
  * [[PqIndex.assign]] (unrolled codegen projections over model literals)
  * must be row-identical — cells AND dtypes — to the r9–r13 formulations
  * they replaced (crossJoin(broadcast) → per-vector rank-1 window, and
  * broadcast join → min_by aggregate), on real fixture data including
  * their tie-break order. The DuckDB oracle pins the downstream sim*
  * results; this spec pins the operator seam itself so a future edit
  * that drifts the tie-break or the cell type fails HERE, by name.
  */
class AssignEquivalenceSpec extends AnyFunSuite {

  private lazy val spark = Session.builder("assign-equiv-spec").getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def quantized = Tables.load(spark, dir, "embeddings")
    .select(col("vec_id"), TextHash.quantize(col("embedding")).as("qv"))

  test("IvfIndex.assign ≡ crossJoin + rank-1 window reference (cells, ties, dtype)") {
    val v = quantized.withColumn("qnorm",
      sqrt(TextHash.dotQ(col("qv"), col("qv")).cast("double")))
    val cents = IvfIndex.fitCentroids(spark, v, k = 8, iters = 2)
      .withColumn("cnorm",
        sqrt(TextHash.dotQ(col("cq"), col("cq")).cast("double")))
    val got = IvfIndex.assign(v, cents).select("vec_id", "cell")

    // the pre-r14 shape, verbatim
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("_cos",
        TextHash.dotQ(col("qv"), col("cq")).cast("double") /
          (col("qnorm") * col("cnorm")))
    val rk = row_number().over(
      Window.partitionBy(col("vec_id")).orderBy(col("_cos").desc, col("cell")))
    val ref = scored.withColumn("_rk", rk).filter(col("_rk") === 1)
      .select("vec_id", "cell")

    assert(got.schema("cell").dataType === ref.schema("cell").dataType,
      "cell dtype drifted from the join-shape original")
    val g = got.collect().map(r => (r.getLong(0), r.getInt(1)))
    val r = ref.collect().map(r => (r.getLong(0), r.getInt(1)))
    // cardinality first, then set equality — a Set compare alone would
    // hide a duplicate-row regression (e.g. a lost rank-1 filter)
    assert(g.length === r.length, "row cardinality drifted")
    assert(g.nonEmpty && g.toSet === r.toSet)
  }

  test("PqIndex.assign ≡ broadcast join + min_by reference (codes, ties, dtype)") {
    val sv = PqIndex.subvectors(quantized, m = 4, subDim = 16)
    val (codebook, _) =
      PqIndex.fitEncode(spark, quantized, m = 4, subDim = 16, ks = 8, iters = 1)
    val got = PqIndex.assign(sv, codebook).select("vec_id", "sub", "cell")

    // the pre-r14 shape, verbatim
    val ref = sv.join(broadcast(codebook), "sub")
      .withColumn("_d2",
        TextHash.dotQ(col("cq"), col("cq")) -
          lit(2L) * TextHash.dotQ(col("sqv"), col("cq")))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(struct(col("cell"), col("sqv")),
        struct(col("_d2"), col("cell"))).as("_a"))
      .select(col("vec_id"), col("sub"), col("_a.cell").as("cell"))

    assert(got.schema("cell").dataType === ref.schema("cell").dataType,
      "cell dtype drifted from the join-shape original")
    val g = got.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val r = ref.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(g.length === r.length, "row cardinality drifted")
    assert(g.nonEmpty && g.toSet === r.toSet)
  }

  test("PqIndex.encode ≡ assign → groupBy → sorted collect_list (codes, order, dtype)") {
    // r15 pin: the one-projection encode over the UNEXPLODED vectors must
    // reproduce the exploded assign → groupBy(vec_id) → array_sort path
    // row-for-row, including the array's subspace order
    val (codebook, _) =
      PqIndex.fitEncode(spark, quantized, m = 4, subDim = 16, ks = 8, iters = 1)
    val got = PqIndex.encode(quantized, codebook, subDim = 16)
      .select("vec_id", "codes")

    // the r14 shape, verbatim
    val sv = PqIndex.subvectors(quantized, m = 4, subDim = 16)
    val ref = PqIndex.assign(sv, codebook)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cell")))).as("a"))
      .select(col("vec_id"), transform(col("a"), x => x("cell")).as("codes"))

    // element type must match exactly; the projection shape is allowed to
    // TIGHTEN nullability (containsNull false vs the collect_list true) —
    // no consumer or dumped result carries `codes`, values are what's pinned
    (got.schema("codes").dataType, ref.schema("codes").dataType) match {
      case (org.apache.spark.sql.types.ArrayType(g, gn),
            org.apache.spark.sql.types.ArrayType(r, rn)) =>
        assert(g === r, "codes element dtype drifted")
        assert(!gn || rn, "codes nullability widened")
      case (g, r) => fail(s"codes dtype drifted: $g vs $r")
    }
    val g = got.collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList))
    val r = ref.collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList))
    assert(g.length === r.length, "row cardinality drifted")
    assert(g.nonEmpty && g.toSet === r.toSet)

    // degenerate contract parity: empty codebook → empty result, like the
    // join shape (an empty broadcast side assigned nothing)
    val empty = PqIndex.encode(quantized, codebook.limit(0), subDim = 16)
    assert(empty.count() === 0L)
  }

  /** A sparse codebook whose cell ids reach 1024: under a fixed 1024
    * packing base, (0, 1024) and (1, 0) would share a key.
    */
  private def wideCodebook = {
    import spark.implicits._
    Seq((0, 0), (0, 1024), (1, 0), (1, 5)).toDF("sub", "cell")
  }

  test("PqIndex.adcLookupSum: cell ids >= 1024 index their own LUT entries") {
    import spark.implicits._
    // LUT positions in (sub, code) order: (0,0) (0,1024) (1,0) (1,5)
    val rows = Seq((Seq(1024, 5), Seq(10L, 20L, 30L, 40L)),
        (Seq(0, 0), Seq(10L, 20L, 30L, 40L)))
      .toDF("codes", "rdots")
    val got = rows.select(
      PqIndex.adcLookupSum(wideCodebook, col("codes"), col("rdots")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(20L + 40L, 10L + 30L))
  }

  test("PqIndex.adcLookupSum: a LUT short of the codebook fails, never shifts") {
    import spark.implicits._
    val short = Seq((Seq(1024, 5), Seq(10L, 20L, 30L))).toDF("codes", "rdots")
    val e = intercept[Exception](short.select(
      PqIndex.adcLookupSum(wideCodebook, col("codes"), col("rdots"))).collect())
    assert(e.getMessage.contains("adcLookupSum"))
    // a null LUT stays null
    val none = Seq((Seq(1024, 5), Option.empty[Seq[Long]])).toDF("codes", "rdots")
    assert(none.select(
      PqIndex.adcLookupSum(wideCodebook, col("codes"), col("rdots")))
      .head().isNullAt(0))
  }
}
