package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.LogEvent

/** A keyed, timestamped log event — the spec-side analogue of the
  * reference's `KStream<String, LogEvent>` record. `event_time_us` is
  * epoch-micros.
  */
case class LogRecord(key: Option[String], event: Option[LogEvent], event_time_us: Long)

/** Test-local bridge between typed records and the Kafka-shaped frames
  * the dedup engine consumes: the value is `to_json` of the event, the
  * frame timestamp is the event time, and the key carries
  * `id@event_time_us` (empty id for null-id records) so the engine's
  * verbatim-forwarded output can be read back.
  */
object RecordFrames {

  def toFrames(ds: Dataset[LogRecord]): DataFrame =
    ds.select(
      concat_ws("@", coalesce(col("event.exception.exception_class"), lit("")),
        col("event_time_us")).as("key"),
      to_json(col("event")).as("value"),
      timestamp_micros(col("event_time_us")).as("timestamp"))

  /** `(exception_class, event_time_us)` of each output frame; the id is
    * null for null-id records.
    */
  def readBack(out: DataFrame): DataFrame = {
    val parts = split(col("key").cast("string"), "@")
    out.select(
      nullif(parts.getItem(0), lit("")).as("exception_class"),
      parts.getItem(1).cast("long").as("event_time_us"))
  }
}
