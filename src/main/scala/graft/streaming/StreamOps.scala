package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.ParquetSchema

/** Structured Streaming surface over the events log.
  *
  * The batch queries in StreamQueries pin the semantics; these helpers
  * run the same shapes as genuine streams (`readStream` file source →
  * watermarked stateful aggregation), which is the 100 TB ingestion
  * path: the parquet file source scales to a directory of append-only
  * logs, and every aggregation below is keyed so state partitions by
  * (key, window) across executors.
  */
object StreamOps {

  /** Streaming read of an events parquet path, ts recovered to
    * microsecond TIMESTAMP (watermarks require TimestampType, not NTZ;
    * the session is pinned UTC so wall-clock values match the batch
    * loader's TIMESTAMP_NTZ).
    *
    * Streaming sources require a user schema; it is taken from the
    * parquet footer of the same path ([[graft.sources.ParquetSchema]])
    * so whichever physical `ts` encoding the fixture generation used
    * (int64 nanos vs timestamp[us]) gets the same dispatch as
    * `Tables.events`. The footer read is driver-side (one file, no
    * Spark job), not a data scan.
    */
  def eventsStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(ParquetSchema.of(spark, path))
      .parquet(path)
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType    => raw
      case other => throw new IllegalArgumentException(
        s"events.ts read as $other; expected long nanos, timestamp_ntz or timestamp " +
          "(fixture drift — see Tables.events)")
    }
  }

  /** Watermarked tumbling counts per event type (append-mode safe). */
  def tumblingCounts(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Watermarked session windows per user (30-min default gap). */
  def sessionCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("user_id"), col("n_events"))

  /** Stateful exact dedup on a key set within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
}
