package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication (the training-pipeline twin of batch q15):
  * `dropDuplicatesWithinWatermark` over a keyed event stream keeps the
  * FIRST-seen row per key in the state store and emits it append-mode.
  *
  * The `WithinWatermark` variant matters for state size: plain
  * `dropDuplicates(subset)` only evicts state when the watermarked
  * event-time column is itself part of the dedup key subset — with a key of
  * (user_id, newsId, day) its state would grow without bound on an
  * unbounded stream. `dropDuplicatesWithinWatermark` instead expires each
  * key at (its event time + watermark delay), so at 100 TB the state store
  * holds one watermark-window of keys, not history. Semantics guarantee:
  * duplicates arriving within the watermark delay of each other are
  * dropped; here duplicate (user, news, day) clicks are at most ~24h apart
  * by construction (same calendar day) and the delay is 1 day, so the
  * result equals batch DISTINCT.
  *
  * Here: one counted exposure per (user, news, day) from the click stream,
  * then a batch aggregation over the deduplicated sink — dedup is the only
  * stateful operator in the streaming query, so append mode emits rows
  * immediately (no multi-stateful-operator restrictions).
  */
object StreamingDedup {

  /** Runs the dedup stream to completion; returns per-day
    * (day, n_exposures, n_users) over first-seen (user, news, day) rows.
    */
  def dailyExposures(spark: SparkSession, dir: String): DataFrame = {
    val exposures = StreamingHotTopics.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), (col("event_id") % 500).as("newsId"),
        to_date(col("ts")).as("day"), col("ts"))
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "newsId", "day")

    Replay.drain(exposures, "append", "stream_dedup", dir)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_exposures"),
        countDistinct(col("user_id")).as("n_users"))
  }
}

