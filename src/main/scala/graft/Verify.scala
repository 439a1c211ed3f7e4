package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args = subset of query names (iteration aid)
    val selected =
      if (args.length <= 2) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.drop(2).toSet).toMap
    val spark = Session.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    // the Bench sweep (r14): several queries persist() an intra-query
    // diamond (dd2/dd13/pipe1/pipe2/pipe4/tx9/sk4/...); across a 223-query
    // single-session dump those caches would otherwise accumulate and force
    // LRU churn for every later query — free each query's caches (blocks
    // AND CacheManager registration, so later same-plan persists still
    // work) once its dump lands
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      org.apache.spark.sql.GraftCaches.sweepExcept(spark, Nil)
    }
    // fitted-model dumps: the oracle replays sim5/sim7's post-fit stages in
    // SQL from these relations (written INSIDE each query's dir so the
    // compare only sees the top-level result parquet); the fits are
    // bit-deterministic, so this re-fit equals the model the query used
    Seq(
      "sim5_knn_ivf_trained" -> (() => graft.queries.Similarity.sim5Model(spark, sfDir)),
      "sim13_knn_ivf_multiprobe" -> (() => graft.queries.Similarity.sim5Model(spark, sfDir)),
      "sim15_nprobe_sweep" -> (() => graft.queries.Similarity.sim5Model(spark, sfDir)),
      "sim7_knn_pq_adc" -> (() => graft.queries.Similarity.sim7Model(spark, sfDir)),
      "sim17_knn_ivfpq" -> (() => graft.queries.Similarity.sim17Model(spark, sfDir)))
      .foreach { case (name, model) =>
        if (selected.contains(name))
          try model().coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name/_model")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name model dump failed: ${e.getMessage}")
          }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // resolve model-dump references against the actual output dir
    val out = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{GRAFT_OUT}", out))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
