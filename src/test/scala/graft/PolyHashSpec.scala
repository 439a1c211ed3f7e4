package graft

import graft.functions.{HofTwins, PolyHash, TextHash}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd PolyHash expression must agree with the built-in HOF
  * formulation (and with the scalar kernel) on real corpus data and edge
  * cases — it replaces them on the hot path of every dedup / fingerprint
  * query.
  */
class PolyHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Session.get("polyhash-spec")

  override def afterAll(): Unit = spark.stop()

  test("native expression == HOF formulation on the documents corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val bad = docs.select(
      TextHash.polyHash(col("text")).as("native"),
      HofTwins.polyHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() == 0)
  }

  test("edge cases: empty, null, single char, ascii boundary") {
    val df = spark.createDataFrame(Seq(
      (1, ""), (2, "a"), (3, "~"), (4, "hello world"))).toDF("id", "s")
    val rows = df.select(col("id"), TextHash.polyHash(col("s")).as("h"))
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 0L)
    assert(rows(1).getLong(1) == 'a'.toLong)
    assert(rows(3).getLong(1) == PolyHash.hash("hello world"))
    // null in → null out
    val n = spark.sql("SELECT CAST(NULL AS STRING) AS s")
      .select(TextHash.polyHash(col("s")).as("h")).head()
    assert(n.isNullAt(0))
  }

  test("scalar kernel matches expression (shared by the multimodal stub)") {
    assert(PolyHash.hash("") == 0L)
    assert(PolyHash.hash("abc") == (('a' * 31L + 'b') * 31L + 'c') % PolyHash.Mod)
  }

  test("native dotQ == HOF formulation on the embeddings corpus + edges") {
    val q = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(TextHash.quantize(col("embedding")).as("qv"))
    val bad = q.select(
      TextHash.dotQ(col("qv"), col("qv")).as("native"),
      HofTwins.dotQHof(col("qv"), col("qv")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() == 0)
    // empty arrays → 0; length mismatch → null (zip_with padding semantics)
    val edges = spark.sql(
      """SELECT CAST(array() AS ARRAY<BIGINT>) AS a,
                CAST(array(1, 2) AS ARRAY<BIGINT>) AS b""")
    assert(edges.select(TextHash.dotQ(col("a"), col("a"))).head().getLong(0) == 0L)
    assert(edges.select(TextHash.dotQ(col("a"), col("b"))).head().isNullAt(0))
    assert(edges.select(HofTwins.dotQHof(col("a"), col("b"))).head().isNullAt(0))
  }
}
