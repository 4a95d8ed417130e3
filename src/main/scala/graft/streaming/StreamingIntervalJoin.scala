package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the Flink-signature operator the reference's
  * runtime is built around (its DataSet `cross`/`join` calls, e.g.
  * /root/reference/TextRank.java:258, become interval joins in any streaming
  * deployment of the same pipelines). Spark's form: two watermarked streams
  * joined with an equi-key plus an event-time range predicate, executed by
  * `StreamingSymmetricHashJoinExec` — each side buffers only rows newer than
  * the other side's watermark minus the interval, so state is bounded by
  * (watermark delay + interval window) regardless of total stream length.
  * That bounded-state property is exactly what makes the operator viable on
  * an unbounded 100 TB/day event firehose; a batch join would re-shuffle
  * history every run.
  *
  * Use case here: click attribution — each click joins every view by the
  * same user in the preceding hour. Inner interval joins in append mode are
  * deterministic for in-order (bounded-file) input, so the result hash-matches
  * the identical batch/DuckDB theta join.
  */
object StreamingIntervalJoin {

  /** The join itself, shared by the file-source runner and the MemoryStream
    * spec — works identically on streaming and batch frames. Equi-key on
    * user plus the time-range predicate: both are required for streaming
    * state cleanup (the user key keeps the join co-partitioned; the range
    * bound lets each side evict buffered rows once the other side's
    * watermark passes v_ts + 1h).
    * views: (v_user, view_id, v_ts); clicks: (c_user, click_id, c_ts).
    */
  def join(views: DataFrame, clicks: DataFrame): DataFrame =
    clicks.join(views,
      expr("c_user = v_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 1 hour"),
      "inner")

  /** Runs the interval-join stream to completion; returns one row per
    * (view, click) attribution pair: (userId, view_id, click_id, gap_us).
    */
  def attributedClicks(spark: SparkSession, dir: String): DataFrame = {
    val (views, clicks) = viewsClicks(StreamingHotTopics.eventsStream(spark, dir))
    attribution(Replay.drain(join(views, clicks), "append", "stream_interval_join", dir),
      col("c_user"))
  }

  /** The two watermarked join legs over an events stream:
    * views (v_user, view_id, v_ts) and clicks (c_user, click_id, c_ts).
    */
  private[streaming] def viewsClicks(events: DataFrame): (DataFrame, DataFrame) = {
    def leg(kind: String, p: String, id: String): DataFrame =
      events.filter(col("event_type") === kind)
        .select(col("user_id").as(s"${p}_user"), col("event_id").as(id),
          col("ts").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "2 hours")
    (leg("view", "v", "view_id"), leg("click", "c", "click_id"))
  }

  /** A view/click join sink as (userId, view_id, click_id, gap_us). */
  private[streaming] def attribution(sink: DataFrame, userId: Column): DataFrame =
    sink.select(userId.as("userId"), col("view_id"), col("click_id"),
      (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
}
