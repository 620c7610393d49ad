package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Windowed aggregation over the `events(event_id, ts, user_id, event_type, value,
  * props)` stream shape.
  *
  * The reference engine has no streaming surface (SURVEY §2.9) — this module is the
  * engine's ingestion companion: a crawl-event / page-update stream lands as an
  * append-only table that the batch graph pipeline consumes per snapshot.
  */
object EventStreams {

  /** Event-time tumbling-window counts per event type over the static events table
    * (the batch form of the canonical streaming aggregation).
    */
  def windowedCountsBatch(events: DataFrame, windowDur: String = "1 minute"): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("events"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("events"), col("total_value")
      )
}
