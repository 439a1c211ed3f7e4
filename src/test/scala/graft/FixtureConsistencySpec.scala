package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.blocks.FixtureSource
import org.scalatest.funsuite.AnyFunSuite

/** The committed chain (`fixtures/chain`) and its `manifest.json` must stay
  * what `tools/fixture_chain.py` writes: a hand edit, a generator change or
  * a manifest that drifts from its files would leave the specs asserting
  * values the files no longer hold. Two checks:
  *
  *   - regenerating from the seed yields byte-identical files, manifest
  *     included;
  *   - `tools/wire_oracle.py`, a separate Python parse of the tx protobufs,
  *     agrees with the manifest's tx hashes and per-denom fee totals.
  *
  * Skipped (not failed) where python3 is unavailable.
  */
class FixtureConsistencySpec extends AnyFunSuite {

  private val chain = Paths.get(FixtureSource.CommittedChain)

  private def python3: Boolean =
    try {
      import scala.sys.process._
      Seq("python3", "--version").! == 0
    } catch { case _: Exception => false }

  private def files(root: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private lazy val manifest =
    new ObjectMapper().readTree(chain.resolve("manifest.json").toFile)

  test("the committed chain is byte-identical to a fresh generator run") {
    assume(python3, "python3 not on PATH — generator check skipped")
    val tmp = Files.createTempDirectory("fixture-chain-")
    try {
      import scala.sys.process._
      val out = tmp.resolve("chain")
      val seed = manifest.path("seed").asInt()
      assert(Seq("python3", "tools/fixture_chain.py", out.toString,
        "--seed", seed.toString).! === 0)
      val committed = files(chain)
      val fresh = files(out)
      assert(committed.keySet === fresh.keySet)
      val differing = committed.keySet.filter(k => committed(k) != fresh(k))
      assert(differing.isEmpty, s"files differ from a fresh run: ${differing.toSeq.sorted}")
    } finally TestDirs.deleteRecursively(tmp)
  }

  test("wire_oracle.py's parse of the committed chain agrees with the manifest") {
    assume(python3, "python3 not on PATH — oracle check skipped")
    import scala.sys.process._
    val parsed = Seq("python3", "tools/wire_oracle.py", chain.toString).!!

    val hashRow = raw"\((\d+), (\d+), '([0-9A-F]{64})'\)".r
    val parsedHashes = hashRow.findAllMatchIn(parsed)
      .map(m => (m.group(1).toLong, m.group(2).toInt, m.group(3))).toSet
    val manifestHashes = manifest.path("tx_hashes").elements().asScala
      .map(r => (r.get(0).asLong(), r.get(1).asInt(), r.get(2).asText())).toSet
    assert(manifestHashes.nonEmpty)
    assert(parsedHashes === manifestHashes)
    val big = manifest.path("big_tx")
    assert(parsedHashes.contains(
      (big.path("height").asLong(), big.path("tx_index").asInt(), big.path("hash").asText())))

    val feeRow = raw"\((?:'(\w+)'|NULL), (\d+), (\d+)\)".r
    val parsedFees = feeRow.findAllMatchIn(parsed)
      .map(m => (Option(m.group(1)), BigInt(m.group(2)), m.group(3).toLong)).toSet
    val manifestFees = manifest.path("fees_by_denom").elements().asScala
      .map(r => (Option(r.get(0).asText()), BigInt(r.get(1).asText()), r.get(2).asLong()))
      .toSet
    assert(manifestFees.nonEmpty)
    assert(parsedFees === manifestFees)
  }
}
