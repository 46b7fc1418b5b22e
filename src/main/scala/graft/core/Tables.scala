package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the test star schema (see /root/repo/TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst pushdown (filters,
  * column pruning, partition pruning on partitioned layouts) applies
  * transparently to every query built on top.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with `ts` as a microsecond TIMESTAMP (with time zone).
    *
    * The driver has shipped the `ts` column under three physical types
    * across rounds, so the loader normalizes all of them to the same
    * instant semantics:
    *   - TIMESTAMP(NANOS): Spark has no nanos type — the session reads
    *     it as an epoch-nanos long (`spark.sql.legacy.parquet.nanosAsLong`)
    *     and this truncates to microseconds;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *     TIMESTAMP_NTZ — cast to TIMESTAMP, which under the pinned UTC
    *     session zone (GraftSession) keeps the identical micros value,
    *     matching how DuckDB treats the same naive column;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TIMESTAMP. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** `events` with `ts` truncated to whole seconds: queries that
    * surface or compare `ts` use this for cross-engine determinism
    * (sub-second ordering is never semantically meaningful in the event
    * data — ties break on event_id). */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir).withColumn("ts", date_trunc("second", col("ts")))
}
