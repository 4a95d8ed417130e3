package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-mode windowed aggregation — the FINALIZED-window contract: a
  * window row is emitted exactly once, only after the watermark passes its
  * end (no retractions, no updates), which is what lets a downstream batch
  * consumer treat the sink as immutable facts. Update/complete modes
  * (StreamingHotTopics) trade that for lower latency; append is the
  * exactly-once-to-batch handoff.
  *
  * Bounded-input subtlety, same as StreamingOuterJoin: watermarks advance
  * only on data, so the last day's window would never finalize on a finite
  * file. The runners read [[Replay.eventsWithSentinel]], whose far-future
  * rows push the watermark past every real window; their own (far-future)
  * windows fall after the dataset's last day and are dropped from the
  * result.
  */
object StreamingAppendAgg {

  /** Daily click counts, append-mode finalized. Returns (day, n_clicks,
    * sum_value).
    */
  def dailyFinalizedClickCounts(spark: SparkSession, dir: String): DataFrame = {
    val daily = Replay.eventsWithSentinel(spark, dir)
      .filter(col("event_type") === "click")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_clicks"), sum(col("value")).as("sv"))
    Replay.drain(daily, "append", "stream_append_agg", dir)
      .select(to_date(col("window.start")).as("day"), col("n_clicks"),
        round(col("sv"), 2).as("sum_value"))
      .filter(col("day") <= lastDay(spark, dir))
  }

  /** Chained stateful operators (Spark's multiple-stateful-operator lane,
    * SPARK-40925): an hourly windowed count per event type feeds a SECOND
    * windowed aggregation — the daily profile over the hourly series — in
    * ONE streaming query, append mode end-to-end. The downstream window
    * keys on `window_time()` of the upstream window, which is what makes
    * watermark propagation across the two stateful operators legal. At
    * scale this collapses what would otherwise be two jobs with an
    * intermediate sink (hourly table + daily rollup) into one pass with
    * two bounded state stores.
    *
    * Returns (event_type, day, n_events, n_active_hours, max_hourly).
    */
  def dailyHourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Replay.eventsWithSentinel(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(col("event_type"), window(window_time(col("window")), "1 day"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_active_hours"),
        max(col("n")).as("max_hourly"))
    Replay.drain(daily, "append", "stream_chain_agg", dir)
      .select(col("event_type"), to_date(col("window.start")).as("day"),
        col("n_events"), col("n_active_hours"), col("max_hourly"))
      .filter(col("day") <= lastDay(spark, dir))
  }

  /** The dataset's last real day: the fence past which only sentinel
    * windows lie.
    */
  private def lastDay(spark: SparkSession, dir: String): Column =
    to_date(timestamp_micros(lit(Replay.sentinel(spark, dir).maxUs)))
}
