package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's test tables (`/root/testdata/sf*`).
  *
  * `events.parquet` has shipped with two `ts` physical types across
  * testdata generations: TIMESTAMP(NANOS) — which Spark 4's vectorized
  * parquet reader rejects (`PARQUET_TYPE_ILLEGAL`) unless read with the
  * legacy nanos-as-long conf — and TIMESTAMP(MICROS,
  * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. We set
  * the legacy conf (harmless for micros files), then branch on the
  * type the reader actually produced: a LongType `ts` is nanos-as-long
  * and gets truncated to a microsecond TIMESTAMP (matches DuckDB at
  * second granularity); a TIMESTAMP_NTZ `ts` is cast to TIMESTAMP —
  * every entry point pins the session timezone to UTC, so the wall
  * times are unchanged and the whole engine (unix_micros, windows,
  * date_format) keeps seeing the one timestamp type it was built
  * against. All other tables read natively.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integer `div`, not `/` — double division loses sub-us
          // precision on 2^60-size nanosecond epochs
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    case other =>
      spark.read.parquet(s"$sfDir/$other.parquet")
  }
}
