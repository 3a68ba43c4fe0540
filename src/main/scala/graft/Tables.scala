package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provisioned parquet tables (TESTDATA.md).
  *
  * Each table is one parquet file; at 100 TB these would be partitioned
  * directories — the read path is identical (`spark.read.parquet(dir)`),
  * and every query below relies on Catalyst pushing filters/projections
  * into the scan rather than materializing full tables.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") normalizeEventsTs(rawEvents(spark, s"$dir/$name.parquet"))
    else spark.read.parquet(s"$dir/$name.parquet")

  /** The events parquet as stored. It has shipped with two `ts`
    * encodings across testdata generations: TIMESTAMP(NANOS) (which
    * Spark rejects by default, [PARQUET_TYPE_ILLEGAL]) and plain
    * TIMESTAMP(MICROS). `nanosAsLong` makes the first readable as
    * BIGINT nanos; it stays set on the session, so a streaming file
    * source over the same files reads them too.
    */
  def rawEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path)
  }

  /** `ts` of a raw events frame (batch or stream) as micros-precision
    * TimestampType either way: BIGINT nanos truncate to micros
    * (identical to DuckDB's nanos→micros conversion), a native
    * timestamp casts to the same type, so downstream `ts` semantics
    * (UTC session, micros precision) do not depend on the encoding.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.withColumn("ts", raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    })
}
