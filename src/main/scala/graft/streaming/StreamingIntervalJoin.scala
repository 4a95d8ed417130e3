package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stream-stream interval join — the Flink-signature operator the reference's
  * runtime is built around (its DataSet `cross`/`join` calls, e.g.
  * /root/reference/TextRank.java:258, become interval joins in any streaming
  * deployment of the same pipelines). It runs the way Flink runs an interval
  * join: as one keyed operator whose per-key state buffers both sides' rows
  * and whose event-time timers drop them once no future row can match, so
  * state is bounded by (watermark delay + interval window) regardless of
  * total stream length. That bounded-state property is what makes the
  * operator viable on an unbounded 100 TB/day event firehose; a batch join
  * would re-shuffle history every run.
  *
  * Use case here: click attribution — each click joins every view by the
  * same user in the preceding hour. Inner interval joins in append mode are
  * deterministic for in-order (bounded-file) input, so the result hash-matches
  * the identical batch/DuckDB theta join.
  */
object StreamingIntervalJoin {

  /** The join window: a click pairs with a view when
    * `v_ts <= c_ts <= v_ts + 1 h` (both bounds closed).
    */
  private val WindowUs = 3600L * 1000000L

  /** The interval join of two watermarked streams, as one keyed stateful
    * operator: the legs are unioned into (user, side, id, ts) rows and
    * grouped by user into `flatMapGroupsWithState` (append mode, event-time
    * timeout) on the HDFS-backed state store.
    * views: (v_user, view_id, v_ts); clicks: (c_user, click_id, c_ts), with
    * user and ids as longs. Output columns (c_user, click_id, c_ts, v_user,
    * view_id, v_ts), timestamps µs-exact: every pair of the same user with
    * `v_ts <= c_ts <= v_ts + 1 h`, emitted once.
    *
    *  - State per user: the buffered views and clicks as (id, µs) pairs,
    *    one state row per user with buffered rows.
    *  - Emission: new views × (buffered + new) clicks, then buffered views ×
    *    new clicks, so each pair leaves in the batch holding its later row.
    *  - Eviction: with watermark w, a view stays while `v_ts + 1 h > w` and
    *    a click while `c_ts > w`; no row at or below w arrives later, so an
    *    evicted row has no partner left. The group's timeout is the earliest
    *    buffered expiry; a user whose buffers empty loses their state row.
    *  - Late rows: Spark's late-event filter for event-time-timeout groups
    *    drops input rows at or below the previous batch's watermark, the
    *    rule `StreamingSymmetricHashJoinExec` applies to a join's inputs.
    *  - Checkpoints: a checkpoint written by the relational `clicks.join(
    *    views, ...)` form (Spark's symmetric hash join) holds that
    *    operator's four stores per partition, not this state. Restarting it
    *    under this operator fails at its first batch with a state-metadata
    *    error instead of resuming with empty buffers; such a query restarts
    *    from a fresh checkpoint.
    *
    * Streaming only: the event-time timeout needs the legs' watermarks.
    */
  def join(views: DataFrame, clicks: DataFrame): DataFrame = {
    import views.sparkSession.implicits._
    def leg(df: DataFrame, p: String, id: String, isView: Boolean): DataFrame =
      df.select(col(s"${p}_user").as("user"), lit(isView).as("isView"), col(id).as("id"),
        col(s"${p}_ts").as("ts"), unix_micros(col(s"${p}_ts")).as("us"))
    // `ts` keeps the views leg's watermark attribute through the union, so
    // the late-event filter sees it; the state logic reads `us`
    leg(views, "v", "view_id", isView = true)
      .union(leg(clicks, "c", "click_id", isView = false))
      .as[IntervalLeg]
      .groupByKey(_.user)
      .flatMapGroupsWithState[IntervalBuffers, IntervalPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(matchAndEvict)
      .select(col("c_user"), col("click_id"), timestamp_micros(col("c_us")).as("c_ts"),
        col("v_user"), col("view_id"), timestamp_micros(col("v_us")).as("v_ts"))
  }

  private def matchAndEvict(user: Long, rows: Iterator[IntervalLeg],
                            state: GroupState[IntervalBuffers]): Iterator[IntervalPair] = {
    val (views, clicks) = rows.toSeq.partition(_.isView) match {
      case (v, c) => (v.map(r => (r.id, r.us)), c.map(r => (r.id, r.us)))
    }
    val held = state.getOption.getOrElse(IntervalBuffers(Nil, Nil))
    val allClicks = held.clicks ++ clicks
    def pairs(vs: Seq[(Long, Long)], cs: Seq[(Long, Long)]) =
      for ((v, vUs) <- vs; (c, cUs) <- cs if vUs <= cUs && cUs <= vUs + WindowUs)
        yield IntervalPair(user, c, cUs, user, v, vUs)
    val out = pairs(views, allClicks) ++ pairs(held.views, clicks)

    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val keptViews = (held.views ++ views).filter(_._2 + WindowUs > wmUs)
    val keptClicks = allClicks.filter(_._2 > wmUs)
    if (keptViews.isEmpty && keptClicks.isEmpty) state.remove()
    else {
      state.update(IntervalBuffers(keptViews, keptClicks))
      // a timeout fires once the watermark passes it: one ms below the
      // earliest expiry fires at the first watermark that reaches it
      val expiryUs = (keptViews.map(_._2 + WindowUs) ++ keptClicks.map(_._2)).min
      state.setTimeoutTimestamp(Math.floorDiv(expiryUs + 999L, 1000L) - 1L)
    }
    out.iterator
  }

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

/** One row of either join leg: user, side, id and event time in µs. */
private[streaming] final case class IntervalLeg(user: Long, isView: Boolean, id: Long, us: Long)

/** A user's buffered (id, µs) views and clicks. */
private[streaming] final case class IntervalBuffers(views: Seq[(Long, Long)],
                                                    clicks: Seq[(Long, Long)])

/** One attributed pair, event times in µs. */
private[streaming] final case class IntervalPair(c_user: Long, click_id: Long, c_us: Long,
                                                 v_user: Long, view_id: Long, v_us: Long)
