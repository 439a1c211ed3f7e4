package graft

import org.apache.spark.sql.SparkSession

/** Single place where engine SparkSessions are configured.
  *
  * Scale notes (local[N] here, 1000-executor cluster in production):
  *   - `spark.sql.shuffle.partitions` is a FIXED default (32), decoupled
  *     from the core count (r15; it was `= cpus` through r14). Task count
  *     per stage must be a function of DATA SIZE, not of how many cores the
  *     host happens to expose: r14's driver measured the full sf0.1 sweep
  *     FASTER at 8 cores than at 32 purely because every stage's task count
  *     scaled with the core count while the per-task payload stayed
  *     kilobytes. For batch stages the value is a pre-AQE ceiling only —
  *     AQE re-sizes the reduce side by bytes (below). Stateful streams get
  *     no AQE (Spark fixes their state-partition count when the checkpoint
  *     is created), so `StreamGate.drain` applies the same bytes rule
  *     itself — clamp(ceil(input bytes / advisoryPartitionSizeInBytes), 1,
  *     this value) — and streams of unknown input size (`graft.Main`, the
  *     `blockfeed` drains) take this value as is. Production raises the
  *     env to O(cluster cores) so the ceiling never binds at 100 TB.
  *   - AQE is left ON (Spark 4 default): runtime skew-join splitting and
  *     partition coalescing are exactly what we want at 100 TB.
  *   - `coalescePartitions.parallelismFirst` is left at Spark's default
  *     (true): an r15 ABAB subset A/B measured `false` (coalesce toward the
  *     64 MB advisory size) over-serializing the compute-bound small
  *     shuffles of the graph pack (g4 4.6 → 5.9 s, its ~10 s of real join
  *     work squeezed onto one post-coalesce partition).
  *   - `canChangeCachedPlanOutputPartitioning=true`: the iterative packs
  *     (graph, dd) persist hash-partitioned relations; without this flag a
  *     cached plan keeps its pre-AQE partition count (= the shuffle ceiling,
  *     32) and every downstream stage inherits it — g1 measured 533 tasks
  *     for kilobyte iterations. With it, cached relations coalesce by bytes
  *     like everything else (results are partitioning-independent; the
  *     oracle re-verified 223/223 under the flip).
  *   - The `file:` scheme (checkpoints, local parquet output, state
  *     stores) runs on [[ForkFreeLocalFileSystem]] / [[ForkFreeLocalFs]].
  *     Without Hadoop's native library, stock `RawLocalFileSystem` forks a
  *     `chmod` for every file and directory it creates and a `readlink` for
  *     every link-status check, so each streaming offset, commit and state
  *     file cost 30–45 ms of forked processes — about half of every live
  *     trigger. The replacement is the same Hadoop classes (checksummed
  *     FileSystem, `ChecksumFs` over `DelegateToFileSystem` for FileContext,
  *     the same atomic rename contract) with only those two calls made
  *     in the JVM through NIO's POSIX attributes, so on a POSIX host it
  *     behaves as stock does (`LocalFsSpec` pins the parity); other
  *     schemes (HDFS, S3) keep their own implementations.
  *   - Session artifact isolation is OFF
  *     (`spark.sql.artifact.isolation.enabled=false`). Every streaming query
  *     runs on a `cloneSession()` with a new session UUID, and with
  *     isolation on each UUID got its own `ExecutorClassLoader` on the
  *     executors. `CodeGenerator.compile` caches by (context classloader,
  *     source), so every backfill drain recompiled the same plan with
  *     Janino (5 compiles per drain of perfbench's ingest shape) and the
  *     JIT learned the fresh classes again from the interpreter. On a
  *     4-core host (1000-height drains, medians of drains 2–12) the
  *     engine's CPU per drain falls 4.7 → 2.9 core-seconds with it off,
  *     while task CPU moves only 2.0 → 1.7 s: the saving is compile work.
  *     The engine adds no session artifacts (no `addArtifact`/`addJar`),
  *     so isolation bought nothing; with it off, every query shares one
  *     executor classloader, the codegen cache and the JIT's compiled code
  *     (`CodegenReuseSpec` pins both). A deployment that does ship
  *     per-session jars must turn it back on and pay the recompile.
  *   - `nanosAsLong`: the synthetic `events` table carries parquet
  *     TIMESTAMP(NANOS), which Spark cannot represent natively; we read it as
  *     Long and convert to micros in [[Tables.load]].
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
  def shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")

  def builder(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // band-join predicates (`abs(l - r) <= tol`) rewrite to bucketed hash
      // joins — see graft.plans.BandJoinRewrite
      .withExtensions(graft.plans.BandJoinRewrite.extension)
      // physical sort-merge as-of join — see graft.plans.AsofJoinPlan
      .withExtensions(graft.plans.AsofJoinPlan.extension)
      // thresholded levenshtein predicates run the banded O(k·n) DP
      .withExtensions(graft.plans.LevenshteinBandRewrite.extension)
      // edit-distance JOINS gain the implied length-band blocking key,
      // which BandJoinRewrite then turns into a bucketed hash join
      .withExtensions(graft.plans.LevenshteinJoinBlocking.extension)
      // the native dedup/similarity kernels as SQL functions
      // (graft_poly_hash, graft_minhash_sig, ...) — see GraftFunctions
      .withExtensions(graft.functions.GraftFunctions.extension)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // the env hook lets a controlled A/B flip the knob ("false" restores
      // the measured-and-rejected variant) without a rebuild
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHED_PLAN_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The reference is null-lenient everywhere (decode/cast failures → null
      // or a default, never a query failure) — non-ANSI mode mirrors that.
      .config("spark.sql.ansi.enabled", "false")
      // Kotlin `associate` keeps the LAST value on duplicate map keys
      // (`models/Extensions.kt:188`); match it for attribute maps.
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // `file:` only (HDFS, S3 untouched): see the scale note above
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)
      // one executor classloader for every query, so streaming drains reuse
      // generated code: see the scale note above
      .config("spark.sql.artifact.isolation.enabled", "false")

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
