package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke of the CLI service (§3.1): stream the fixture chain to
  * the K2 file layout with a checkpoint, filters off, and assert the full
  * combined feed lands on disk exactly once.
  */
class MainSpec extends AnyFunSuite {

  test("CLI: stream to files with checkpoint, combined feed, idempotent") {
    val out = java.nio.file.Files.createTempDirectory("cli_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cli_ckpt").toString
    def run(): Unit = Main.main(Array(
      "from=2270370", s"out=$out", s"checkpoint=$ckpt",
      "maxHeightsPerTrigger=40", "trigger=availableNow"))
    run()
    import scala.jdk.CollectionConverters._
    def files() =
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
        .filter(_.toString.endsWith(".json")).toSeq
    assert(files().size === 106) // 100 historical + 6 live
    // re-run from the same checkpoint: nothing new, nothing rewritten
    val stamps = files().map(f =>
      f.toString -> java.nio.file.Files.getLastModifiedTime(f)).toMap
    run()
    val after = files()
    assert(after.size === 106)
    assert(after.forall(f =>
      java.nio.file.Files.getLastModifiedTime(f) == stamps(f.toString)))
    // the blockfiles writer's temp files never outlive a write
    val stray = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .iterator().asScala.filter(_.toString.contains(".tmp-")).toSeq
    assert(stray.isEmpty, s"temp files leaked: $stray")
  }

  test("CLI watchdog: the stalled-chain alarm runs alongside the stream " +
      "without disturbing delivery") {
    val out = java.nio.file.Files.createTempDirectory("cli_wd_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cli_wd_ckpt").toString
    // watchdog= spawns the transformWithState alarm as a second query on
    // the same source (requires rocksdb); the primary file delivery must
    // be byte-for-byte unaffected
    Main.main(Array(
      "from=2270370", s"out=$out", s"checkpoint=$ckpt",
      "maxHeightsPerTrigger=40", "trigger=availableNow",
      "stateStore=rocksdb", "watchdog=30"))
    import scala.jdk.CollectionConverters._
    val files =
      java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
        .filter(_.toString.endsWith(".json")).size
    assert(files === 106)
    // mis-configuration is an explicit error, not a silent no-alarm run
    val e = intercept[RuntimeException] {
      Main.main(Array("from=2270370", s"out=$out", s"checkpoint=$ckpt",
        "trigger=availableNow", "watchdog=30"))
    }
    assert(e.getMessage.contains("rocksdb"))
  }

  test("CLI events mode: flattened tx-event parquet per batch (EventsMain)") {
    val out = java.nio.file.Files.createTempDirectory("cli_ev").toString
    Main.main(Array(
      "from=2270370", "to=2270469", s"out=$out",
      "events=tx", "maxHeightsPerTrigger=40", "trigger=availableNow"))
    val ev = Session.get("main-spec").read.parquet(s"$out/batch=*")
    assert(ev.count() === Fixture.txEventRows) // the fixture's full tx-event total (E1)
    assert(ev.columns.contains("event_type") && ev.columns.contains("tx_hash"))
  }

  test("CLI: skipEmpty + event filter narrow the file set") {
    val out = java.nio.file.Files.createTempDirectory("cli_out2").toString
    Main.main(Array(
      "from=2270370", "to=2270469", s"out=$out",
      "skipEmpty=true", "txEvents=transfer", "trigger=availableNow"))
    import scala.jdk.CollectionConverters._
    val n = java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .count(_.toString.endsWith(".json"))
    // 27 of the 29 non-empty historical blocks carry a `transfer` tx event
    // (P2 fixture ground truth, cf. p2_filter_by_event_type = 27 rows)
    assert(n === Fixture.blocksWithTransferTxEvent)
  }
}
