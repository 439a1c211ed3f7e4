package graft

import graft.functions.{HofTwins, TextHash}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-driven property tests for the native kernels (the upgrade
  * SURVEY §5 promises over the reference's example-based tests): randomized
  * adversarial inputs — not just the corpus — must keep every native
  * codegen'd expression equal to its interpreted HOF twin, and the scalar
  * JVM kernel equal to both. Inputs are generated with a FIXED seed and
  * evaluated as one DataFrame per property (one Spark job, not one per
  * sample).
  */
class KernelPropertySpec extends AnyFunSuite {

  private lazy val spark = Session.builder("kernel-prop").getOrCreate()

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  // oracle-comparable domain: printable ASCII incl. spaces (what DuckDB
  // ord() and our codepoint loop agree on byte-for-byte)
  private val asciiText: Gen[String] =
    Gen.listOf(Gen.frequency(
      9 -> Gen.choose(32.toChar, 126.toChar),
      1 -> Gen.const(' '))).map(_.mkString)

  private val hashVal: Gen[Long] = Gen.choose(0L, TextHash.Mod - 1)

  test("polyHash: native == HOF twin == scalar kernel on random ASCII") {
    import spark.implicits._
    val texts = sample(asciiText, 300)
    val df = texts.toDF("s")
    val bad = df.select(col("s"),
      TextHash.polyHash(col("s")).as("native"),
      HofTwins.polyHashHof(col("s")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
    val scalarOk = df.select(col("s"), TextHash.polyHash(col("s")).as("native"))
      .collect().forall(r =>
        r.getLong(1) === graft.functions.PolyHash.hash(r.getString(0)))
    assert(scalarOk)
  }

  test("minhashSig: native == HOF twin on random hash arrays (k=16)") {
    import spark.implicits._
    val arrays = sample(Gen.listOf(hashVal).map(_.toArray), 300)
    val df = arrays.map(_.toSeq).toDF("hs")
    val bad = df.select(
      TextHash.minhashSig(col("hs"), 16).as("native"),
      HofTwins.minhashSigHof(col("hs"), 16).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
  }

  test("simhash32: native == HOF twin on random hash arrays") {
    import spark.implicits._
    val arrays = sample(Gen.listOf(hashVal).map(_.toSeq), 300)
    val df = arrays.toDF("hs")
    val bad = df.select(
      TextHash.simhash32(col("hs")).as("native"),
      HofTwins.simhash32Hof(col("hs")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
  }

  test("dotQ: native == HOF on equal lengths; null on length mismatch") {
    import spark.implicits._
    val dim = 16
    val vec: Gen[Seq[Long]] = Gen.listOfN(dim, Gen.choose(-10000L, 10000L)).map(_.toSeq)
    val pairs = sample(Gen.zip(vec, vec), 300)
    val df = pairs.toDF("a", "b")
    val bad = df.select(
      TextHash.dotQ(col("a"), col("b")).as("native"),
      HofTwins.dotQHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(bad.count() === 0)
    // mismatched lengths -> NULL (the documented DotQ semantics)
    val mis = df.select(
      TextHash.dotQ(slice(col("a"), 1, dim - 1), col("b")).as("d"))
      .filter(col("d").isNotNull)
    assert(mis.count() === 0)
  }

  test("shinglesK: count == max(0, n-k+1) distinct-capped on random docs") {
    import spark.implicits._
    val words: Gen[String] = Gen.listOfN(1,
      Gen.oneOf("a", "b", "c", "dd", "ee", "xyz")).map(_.head)
    val doc: Gen[String] = Gen.listOf(words).map(_.mkString(" "))
    val df = sample(doc, 300).toDF("text")
    val toks = TextHash.tokens(col("text"))
    // shingles are DISTINCT, so count <= the window count, and nonzero
    // exactly when the doc has >= k tokens
    val bad = df.select(
      size(toks).as("n"),
      size(TextHash.shinglesK(toks, 3)).as("ns"))
      .filter(
        (col("n") >= 3 && (col("ns") < 1 || col("ns") > col("n") - 2)) ||
          (col("n") < 3 && col("ns") =!= 0))
    assert(bad.count() === 0)
  }

  test("ProtoMini: random byte garbage returns, never hangs or throws") {
    // hostile tx bytes must yield None (or a parse) within a bounded walk —
    // no negative length-delimited sizes cycling pos backwards, no varint
    // reads past a nested reader's end. Runs single-threaded with a hard
    // wall-clock budget so a regression to the infinite-loop behavior
    // fails fast instead of wedging the suite.
    val raw = sample(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray), 2000)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    raw.foreach { bytes =>
      graft.blocks.ProtoMini.txMeta(bytes) // must return; Option either way
      assert(System.nanoTime() < deadline, "ProtoMini fuzz exceeded budget")
    }
  }

  test("ProtoMini: corrupted VALID transactions never hang the parser") {
    // mutation fuzz: take a well-formed encoded Tx and flip bytes —
    // corruption inside nested messages exercises the negative-length and
    // truncated-varint paths that pure random bytes rarely reach
    def ld(field: Int, bytes: Array[Byte]): Array[Byte] = {
      // single-byte varint length is fine for test payloads < 128 bytes
      require(bytes.length < 128)
      Array(((field << 3) | 2).toByte, bytes.length.toByte) ++ bytes
    }
    val coin = ld(1, "uatom".getBytes("UTF-8")) ++ ld(2, "12345".getBytes("UTF-8"))
    val fee = ld(1, coin)
    val auth = ld(2, fee)
    val body = ld(2, "a memo string".getBytes("UTF-8"))
    val tx = ld(1, body) ++ ld(2, auth)
    assert(graft.blocks.ProtoMini.txMeta(tx)
      .contains(graft.blocks.ProtoMini.TxMeta("12345", "uatom", "a memo string")))
    val rnd = new scala.util.Random(42)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    (0 until 2000).foreach { _ =>
      val m = tx.clone()
      (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      }
      graft.blocks.ProtoMini.txMeta(m) // must return
      assert(System.nanoTime() < deadline, "ProtoMini mutation fuzz exceeded budget")
    }
  }
}
