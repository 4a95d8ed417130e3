package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** `flatMapGroupsWithState` — the multi-row-emission half of the custom-state
  * API (the reference's Flink `KeyedProcessFunction` analogue;
  * `mapGroupsWithState` in [[StreamingUserProfiles]] covers the one-row
  * form). Per user, the state is a single running click total; each
  * micro-batch emits one row per (user, day) with that day's count and the
  * cumulative count so far — a streaming running aggregate whose state is
  * O(users), not O(events).
  *
  * Determinism contract: batches must close on day boundaries (the bounded
  * file source arrives as one batch, trivially closed; the MemoryStream spec
  * cuts on a day boundary). Under that contract the emitted rows equal the
  * batch per-user running sum, which is what the oracle checks.
  */
object StreamingClickCume {

  /** Runs the stream to completion; returns (userId, day, n_clicks,
    * cum_clicks) — per-user per-day counts with running totals.
    */
  def dailyCumulative(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stream = StreamingHotTopics.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .as[(Long, java.sql.Date)]
    Replay.drain(cumulative(stream), "append", "stream_click_cume", dir)
  }

  /** The stateful transform itself, shared by the file-source runner and the
    * MemoryStream spec. rows: (user_id, day).
    */
  def cumulative(rows: org.apache.spark.sql.Dataset[(Long, java.sql.Date)]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, java.sql.Date, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, java.sql.Date)], state: GroupState[Long]) =>
          // iterator order is arbitrary — group and sort by day so emission
          // order (and thus the running sum) is deterministic
          val perDay = batch.toSeq.groupBy(_._2).view.mapValues(_.size.toLong)
            .toSeq.sortBy(_._1.getTime)
          var cum = state.getOption.getOrElse(0L)
          val out = perDay.map { case (day, n) =>
            cum += n
            (user, day, n, cum)
          }
          state.update(cum)
          out.iterator
      }
      .toDF("userId", "day", "n_clicks", "cum_clicks")
  }
}
