package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Fixture loaders + shared numeric helpers.
  *
  * Numeric policy for oracle parity: money-ish double columns are summed as
  * exact `DECIMAL(18,2)` (order-independent, identical in Spark and DuckDB)
  * and the final aggregate is cast back to `DOUBLE`. Plain double sums are
  * order-dependent at the ulp level and would hash-mismatch across engines.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Where fixture `name` lives under `dir`. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(path(dir, name))
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Normalize an events-shaped frame's `ts` column to TIMESTAMP (with
    * local tz) no matter which physical type the fixture generation
    * produced — the ONE conversion every batch AND streaming read of the
    * events fixture must route through (the r8 fixture regen flipped the
    * encoding and broke every site that had its own copy of this match).
    * The epoch math in q40/st0x needs a type `unix_micros` accepts:
    *  - TIMESTAMP(NANOS) reads as a nanos long
    *    (spark.sql.legacy.parquet.nanosAsLong=true, set by GraftSession);
    *    truncate to micros, matching DuckDB's read behavior.
    *  - timestamp[us] without tz reads as TIMESTAMP_NTZ; the session tz is
    *    pinned to UTC, so the cast keeps the identical instant DuckDB's
    *    epoch_us sees.
    *  - TIMESTAMP passes through. */
  def normalizeEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }

  /** Register all fixtures as temp views so `spark.sql` can reference them
    * with the same bare names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Exact (order-independent) sum of a money column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Deterministic average: exact decimal sum divided by count, in double
    * arithmetic — both engines compute the identical result. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Exact sum with more fractional digits (for derived products like
    * price*(1-discount) that need >2 decimal places). */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast(DoubleType)
}
