package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * All engine queries take `(spark, sfDir)` and resolve tables through here so
  * the same code runs at any scale factor. Parquet scans get predicate
  * pushdown + column pruning from Catalyst automatically; at cluster scale the
  * same loader works on object-store paths because nothing below assumes
  * local files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") eventsTs(df) else df
  }

  // events.ts has shipped under two parquet encodings across testdata
  // generations, so branch on what the scan actually produced rather than
  // assuming one:
  //   - TIMESTAMP(NANOS): Spark can't represent nanos; with nanosAsLong=true
  //     (set in Session) it reads as Long, which we truncate to micros.
  //     `div` is integral — double division loses precision above 2^53 ns.
  //   - timestamp[us] without tz metadata: reads as TIMESTAMP_NTZ; cast to
  //     session-local TimestampType (session tz is pinned UTC, so the
  //     wall-clock values are unchanged and unix_micros/window math holds).
  private def eventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => sys.error(
        s"events.ts read as unexpected type $other — testdata parquet encoding " +
          "changed again; add a branch in Tables.eventsTs")
    }
  }

  /** Register all tables as temp views named after themselves, so queries can
    * be written in SQL when that is clearer than the DataFrame API.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** The same table as a STREAMING relation (file source over the parquet
    * path) — what the st-family gate queries read so real `readStream`
    * machinery, not a batch scan, sits under the DuckDB oracle. The schema
    * comes from a batch probe (file streaming sources require one
    * up-front), and `events.ts` goes through the same encoding branch as
    * [[load]] so batch and stream see one engine-facing type.
    */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = spark.read.parquet(path).schema
    // file streaming sources demand a DIRECTORY basePath; the
    // single-alternative brace glob makes Spark derive basePath = dir
    // while matching EXACTLY this table's file — a bare `*` suffix would
    // silently ingest any sibling whose name merely starts with it
    // (events.parquet_bak, …) and double every count downstream
    val df = spark.readStream.schema(schema).parquet(s"$dir/{$name.parquet}")
    if (name == "events") eventsTs(df) else df
  }
}
