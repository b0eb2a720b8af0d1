package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Accessors for the driver-generated test lake (TESTDATA.md).
  *
  * One parquet file per table under `dir`, opened through
  * [[graft.sources.LakeReader.read]] (schema from the footer, no Spark
  * job), so Catalyst's filter pushdown / column pruning apply to every
  * downstream query unchanged.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.LakeReader.read(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** The engine-wide events contract: `ts` = nanos-since-epoch LongType
    * (exact ordering and arithmetic; DuckDB oracles read the same value
    * via `epoch_ns(ts)`), plus a derived TimestampType `ts_utc` for
    * calendar functions.
    *
    * The driver's parquet has shipped `ts` two ways — INT64
    * (TIMESTAMP_NANOS), which Spark exposes as LongType nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, and plain microsecond
    * timestamp (TIMESTAMP_NTZ to Spark). [[normalizeEventTs]] folds both
    * to the contract at the read boundary, so every downstream query and
    * oracle is schema-generation-proof. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(apply(spark, dir, "events"))
      .withColumn("ts_utc", expr("timestamp_micros(ts div 1000)"))

  /** Fold either on-disk representation of `events.ts` to nanos-Long
    * (see [[events]]). The NTZ→instant interpretation is pinned by the
    * session's UTC time zone ([[GraftSession]]); DuckDB reads the same
    * naive microseconds as UTC, so both engines see identical nanos. A
    * LongType `ts` (old fixtures, test-built frames) passes through
    * untouched. Works on batch and streaming frames alike — it is a
    * plain projection. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
}
