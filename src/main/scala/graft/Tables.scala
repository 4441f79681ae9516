package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the synthetic testdata star schema (TESTDATA.md) plus
  * session-level tuning every entry point applies.
  *
  * Scale notes (100 TB design point): all tables are read through
  * `spark.read.parquet`, so Catalyst predicate pushdown / column pruning /
  * partition pruning apply unchanged on a real cluster; nothing here
  * materializes on the driver.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** Idempotent session defaults. AQE handles runtime re-planning (skew
    * joins, partition coalescing) — the knobs that matter at 1000-executor
    * scale and are harmless on local[32].
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects; read the raw int64 and convert in `apply`.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Load one table, normalizing `events.ts` to a session-zone TIMESTAMP
    * regardless of how the generator wrote it:
    *  - int64 TIMESTAMP(NANOS) (see `tune`) → truncated to microseconds,
    *    the same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP;
    *  - plain timestamp[us] with no zone (Spark TIMESTAMP_NTZ) → cast to
    *    TIMESTAMP, which under the engine-wide UTC session zone keeps the
    *    wall-clock values identical while restoring the instant semantics
    *    every downstream window/`unix_micros` operator expects.
    * Either way the engine sees one canonical `ts` type, and the DuckDB
    * oracle (which reads the file as a naive TIMESTAMP) stays comparable.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
    else df
  }

  /** Register every table as a temp view, making the whole engine drivable
    * through raw `spark.sql` text (SURVEY §3.3's third entry point — the
    * reference's psql/DBeaver surface). Views are lazy: registration costs
    * one schema read per table, and every SQL query still gets the full
    * Catalyst pushdown/pruning treatment of the DataFrame path.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
