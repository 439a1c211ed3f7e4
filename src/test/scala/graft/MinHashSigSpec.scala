package graft

import graft.functions.{HofTwins, TextHash}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd MinHashSig expression must agree with the built-in
  * HOF fold it replaces — on real corpus shingles and on the edge cases
  * (empty set, null elements, null input).
  */
class MinHashSigSpec extends AnyFunSuite {

  private lazy val spark = Session.builder("minhash-spec").getOrCreate()

  test("native expression == HOF formulation on the documents corpus") {
    import TextHash._
    val hs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles3(col("toks")).as("sh"))
      .select(col("doc_id"), transform(col("sh"), s => polyHash(s)).as("hs"))
    val bad = hs.select(
      minhashSig(col("hs"), 16).as("native"),
      HofTwins.minhashSigHof(col("hs"), 16).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
  }

  test("native SimHash32 == HOF formulation on the documents corpus") {
    import TextHash._
    val hs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(transform(tokens(col("text")), t => polyHash(t)).as("hs"))
    val bad = hs.select(
      simhash32(col("hs")).as("native"),
      HofTwins.simhash32Hof(col("hs")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
  }

  test("SimHash32 edge cases: empty, null element, null input") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Seq[Option[Long]]())),                // empty → 0
      (2, Some(Seq[Option[Long]](Some(5L), None))),  // null poisons → 0
      (3, Option.empty[Seq[Option[Long]]])           // null → null
    ).toDF("id", "hs")
    val out = df.select(col("id"),
        TextHash.simhash32(col("hs")).as("native"),
        HofTwins.simhash32Hof(col("hs")).as("hof"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) === 0L && out(0).getLong(2) === 0L)
    assert(out(1).getLong(1) === 0L && out(1).getLong(2) === 0L)
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }

  test("native LshBucket == HOF formulation on the embeddings corpus") {
    import TextHash._
    val q = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(quantize(col("embedding")).as("qv"))
    val bad = q.select(
      lshBucket(col("qv"), 8).as("native"),
      HofTwins.lshBucketHof(col("qv"), 8).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
  }

  test("LshBucket edge cases: empty, null element, null input") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Seq[Option[Long]]())),                // empty → 0
      (2, Some(Seq[Option[Long]](Some(5L), None))),  // null → 0
      (3, Option.empty[Seq[Option[Long]]])           // null input → null
    ).toDF("id", "qv")
    val out = df.select(col("id"),
        TextHash.lshBucket(col("qv"), 8).as("native"),
        HofTwins.lshBucketHof(col("qv"), 8).as("hof"))
      .orderBy("id").collect()
    assert(out(0).getLong(1) === 0L && out(0).getLong(2) === 0L)
    assert(out(1).getLong(1) === 0L && out(1).getLong(2) === 0L)
    // documented divergence: the native kernel is null-safe (NULL), the
    // HOF twin's otherwise(0) chain folds a null vector into bucket 0
    assert(out(2).isNullAt(1))
    assert(out(2).getLong(2) === 0L)
  }

  test("edge cases: empty array, null element skipped, null input") {
    import spark.implicits._
    val df = Seq(
      (1, Some(Seq[Option[Long]]())),                     // empty → all-Mod
      (2, Some(Seq[Option[Long]](Some(42L), None))),      // null skipped
      (3, Option.empty[Seq[Option[Long]]])                // null → null
    ).toDF("id", "hs")
    val out = df.select(col("id"),
        TextHash.minhashSig(col("hs"), 4).as("native"),
        HofTwins.minhashSigHof(col("hs"), 4).as("hof"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1) === Seq.fill(4)(TextHash.Mod))
    assert(out(0).getSeq[Long](1) === out(0).getSeq[Long](2))
    assert(out(1).getSeq[Long](1) === out(1).getSeq[Long](2))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2))
  }
}
