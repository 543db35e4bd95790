package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A driver-checkable query: a Spark DataFrame program plus (when
  * SQL-expressible) an equivalent DuckDB oracle over the same parquet
  * tables. Column names/aliases MUST match between the two — the driver
  * sorts columns by name before hashing values.
  */
final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Load a driver-provided testdata table (TESTDATA.md), normalizing
    * `events.ts` to TimestampType whatever parquet encoding the driver
    * generated it with. Observed encodings so far:
    *
    *   - TIMESTAMP(NANOS): Spark 4 only reads it with
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set in every graft
    *     session builder) → LongType nanos; integer-DIV down to micros (a
    *     double division would lose precision at ~1.7e18).
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads
    *     TIMESTAMP_NTZ, for which `cast("long")`/`unix_micros` are
    *     analysis errors. Cast to TIMESTAMP — the session timezone is
    *     pinned UTC in every entry point, so the instant is unchanged.
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TimestampType.
    *
    * TsEncodingSpec pins all three paths to identical epoch seconds, so
    * the next silent testdata regeneration fails in `sbt test` rather
    * than in the driver's post-round sweep.
    */
  def apply(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
