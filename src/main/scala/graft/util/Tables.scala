package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test-table loaders + cross-engine determinism helpers.
  *
  * Every query registered in [[graft.SparkEntry.queries]] is hash-compared by
  * the driver against DuckDB running the equivalent SQL on the same parquet
  * files. Floating-point aggregation order differs between engines, so all
  * money/measure aggregations go through exact arithmetic:
  *
  *  - `money(c)`: cast a 2-decimal double (prices, quantities) to
  *    DECIMAL(18,2). The cast rounds to nearest; source data carries exactly
  *    two decimals so no midpoint ambiguity exists. Decimal sums are exact and
  *    order-independent in both engines.
  *  - final results are cast back to DOUBLE (exact for < 15 significant
  *    digits) so both engines emit an identical IEEE-754 schema+value.
  */
object Tables {
  /** Load one driver-generated table, e.g. `t(spark, dir, "lineitem")`. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table has shipped with two physical `ts` encodings: parquet
    * TIMESTAMP(NANOS) (readable only as a long via the nanosAsLong legacy
    * conf) and plain TIMESTAMP(MICROS). Normalize either to a microsecond
    * TimestampType so downstream ops always see a regular timestamp.
    * The conf is the session's own: [[graft.GraftSession.build]] sets it,
    * and every session is built there; this read writes no conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS) with isAdjustedToUTC=false surfaces as NTZ; the
      // session timezone is pinned to UTC so this cast is value-identity,
      // and watermarks require TimestampType.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Exact 2-decimal fixed-point view of a money/measure double column. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-decimal fixed-point (for products like price * (1-disc)). */
  def money4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a 2-decimal double, emitted as double. */
  def sumMoney(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Exact sum of a 4-decimal derived measure, emitted as double. */
  def sumMoney4(c: Column): Column = sum(money4(c)).cast(DoubleType)

  /** Deterministic average: exact decimal sum / count, divided in double. */
  def avgMoney(c: Column): Column =
    sum(money(c)).cast(DoubleType) / count(lit(1)).cast(DoubleType)
}
