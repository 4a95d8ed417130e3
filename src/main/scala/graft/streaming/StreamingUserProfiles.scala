package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Stateful-streaming user profiles (SURVEY.md §2.8 idiomatic upgrade): the
  * reference rebuilds per-user state from scratch every simulated day
  * (driver loop + full re-read); the streaming form keeps it incrementally
  * in the state store via `mapGroupsWithState` — the custom-state seam for
  * cross-day user profiles.
  *
  * State per user = (click count, distinct clicked news). The distinct set
  * is exact here (news id space is bounded); at 100 TB the same seam holds
  * an HLL sketch or a bounded LRU of recent news instead — the contract
  * (keyed state, incremental update, update-mode output) is what scales.
  */
object StreamingUserProfiles {

  case class ClickEvent(userId: Long, newsId: Long)
  case class UserState(nClicks: Long, news: Seq[Long])
  case class UserProfile(userId: Long, n_clicks: Long, n_distinct_news: Long)

  /** Drives the (bounded) events stream to completion and returns the final
    * per-user profile table (userId, n_clicks, n_distinct_news).
    */
  def userClickProfiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    val stream = StreamingHotTopics.eventsStream(spark, dir)

    val clicks = stream
      .filter(col("event_type") === "click")
      .select(col("user_id").as("userId"), (col("event_id") % 500).as("newsId"))
      .as[ClickEvent]

    val updateState: (Long, Iterator[ClickEvent], GroupState[UserState]) => UserProfile =
      (userId, events, state) => {
        val prev = state.getOption.getOrElse(UserState(0L, Nil))
        var n = prev.nClicks
        val seen = scala.collection.mutable.LinkedHashSet[Long](prev.news: _*)
        events.foreach { e => n += 1; seen += e.newsId }
        state.update(UserState(n, seen.toSeq))
        UserProfile(userId, n, seen.size.toLong)
      }

    val profiles = clicks
      .groupByKey(_.userId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(updateState)

    // Update-mode memory sink may hold one row per state update; keep the
    // latest (max clicks) per user.
    Replay.drain(profiles.toDF(), "update", "stream_profiles", dir)
      .groupBy(col("userId"))
      .agg(max(col("n_clicks")).as("n_clicks"),
        max(col("n_distinct_news")).as("n_distinct_news"))
  }
}
