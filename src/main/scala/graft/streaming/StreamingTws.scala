package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** `transformWithState` — Spark 4's arbitrary-stateful-processing operator
  * (SPARK-46815, the successor seam to `mapGroupsWithState`): a keyed
  * [[StatefulProcessor]] with NAMED, individually-typed state variables
  * (ValueState / ListState / MapState), optional per-state TTL, and timers.
  * This is the idiomatic upgrade target for the reference's per-user
  * accumulators (q41's profile state, SURVEY.md §2.8): each logical
  * quantity lives in its own state variable instead of one monolithic
  * case-class blob, so the store reads/writes only what a batch touches —
  * at 100 TB of keyed state (RocksDB-backed, one store per partition) that
  * selective I/O is the difference between a maintenance pass over every
  * key and touching only active users.
  *
  * The processor keeps per-user activity: running event count + first/last
  * event time in a ValueState, distinct active-day ordinals in a ListState
  * (appended only when new — the store-side list grows by deltas, never
  * rewritten). transformWithState requires the RocksDB state-store
  * provider; the conf is scoped to the stream's start..drain window.
  */
object StreamingTws {

  case class Ev(userId: Long, dayOrd: Int, tsUs: Long)
  case class Totals(n: Long, firstUs: Long, lastUs: Long)
  case class UserActivity(userId: Long, n_events: Long, n_active_days: Int,
                          first_us: Long, last_us: Long)

  class ActivityProcessor extends StatefulProcessor[Long, Ev, UserActivity] {
    @transient private var totals: ValueState[Totals] = _
    @transient private var days: ListState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[Totals]("totals",
        Encoders.product[Totals], TTLConfig.NONE)
      days = getHandle.getListState[Int]("days",
        Encoders.scalaInt, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timerValues: TimerValues): Iterator[UserActivity] = {
      val prev = if (totals.exists()) totals.get()
        else Totals(0L, Long.MaxValue, Long.MinValue)
      val seen = scala.collection.mutable.HashSet[Int](days.get().toSeq: _*)
      var n = prev.n
      var first = prev.firstUs
      var last = prev.lastUs
      rows.foreach { e =>
        n += 1
        if (e.tsUs < first) first = e.tsUs
        if (e.tsUs > last) last = e.tsUs
        if (seen.add(e.dayOrd)) days.appendValue(e.dayOrd)
      }
      totals.update(Totals(n, first, last))
      Iterator.single(UserActivity(key, n, seen.size, first, last))
    }
  }

  case class TypedEv(userId: Long, eventType: String)
  case class TypeCount(user_id: Long, event_type: String, n_events: Long)

  /** MapState variant (the third TWS state type next to Value/List): one
    * store-side map entry per (user, event_type) — a micro-batch updates
    * only the types it saw, and emission walks the map without
    * deserializing anything else. Counts are monotone, so the
    * update-mode memory sink reduces with max().
    */
  class TypeCountProcessor extends StatefulProcessor[Long, TypedEv, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEv],
                                 timerValues: TimerValues): Iterator[TypeCount] = {
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.eventType)) counts.getValue(e.eventType) else 0L
        counts.updateValue(e.eventType, cur + 1L)
      }
      counts.iterator().map { case (t, n) => TypeCount(key, t, n) }
    }
  }

  /** Replays the events stream through [[TypeCountProcessor]] and returns
    * the final per-(user, event_type) counts.
    */
  def userTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withRocksDb(spark) {
      val evs = StreamingHotTopics.eventsStream(spark, dir)
        .select(col("user_id").as("userId"), col("event_type").as("eventType"))
        .as[TypedEv]
      implicit val outEnc: Encoder[TypeCount] = Encoders.product[TypeCount]
      val out = evs.groupByKey(_.userId)
        .transformWithState(new TypeCountProcessor,
          TimeMode.None(), OutputMode.Update())
      Replay.drain(out.toDF(), "update", "tws_typecounts", dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n_events")).as("n_events"))
    }
  }

  case class TimedEv(userId: Long, tsMs: Long)
  case class UserSummary(user_id: Long, n_events: Long,
                         first_ms: Long, last_ms: Long)

  /** Event-time TIMER variant (the remaining TWS lane after Value/List/
    * MapState): rows only accumulate state; the OUTPUT is emitted by
    * [[handleExpiredTimer]] when the watermark passes the registered
    * event-time timer — the push-based "emit when the entity goes quiet"
    * contract (session finalization, abandonment detection). Each batch
    * re-registers one timer at last_ts + gap; an expiry emits the summary
    * and clears state.
    */
  class TimerSummaryProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEv, UserSummary] {
    @transient private var totals: ValueState[Totals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[Totals]("totals",
        Encoders.product[Totals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TimedEv],
                                 timerValues: TimerValues): Iterator[UserSummary] = {
      val prev = if (totals.exists()) totals.get()
        else Totals(0L, Long.MaxValue, Long.MinValue)
      var n = prev.n
      var first = prev.firstUs // ms here; field reused
      var last = prev.lastUs
      rows.foreach { e =>
        n += 1
        if (e.tsMs < first) first = e.tsMs
        if (e.tsMs > last) last = e.tsMs
      }
      totals.update(Totals(n, first, last))
      // one live timer per key: re-arm at the newest quiet deadline
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(last + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[UserSummary] = {
      val t = totals.get()
      totals.clear()
      Iterator.single(UserSummary(key, t.n, t.firstUs, t.lastUs))
    }
  }

  /** Replays events through the timer processor: the far-future sentinel
    * of [[Replay.eventsWithSentinel]] (excluded from state by user-id
    * filter upstream of grouping is NOT possible — it must flow through
    * the watermark, so it carries a sentinel key that is dropped from the
    * result) advances the event-time watermark past every real timer,
    * firing all summaries.
    */
  def timerSummaries(spark: SparkSession, dir: String): DataFrame =
    withRocksDb(spark) {
      val raw = Replay.eventsWithSentinel(spark, dir)
        .select(col("user_id").as("userId"),
          expr("unix_micros(ts) DIV 1000").as("tsMs")) // integral DIV: `/` is double division
      mergeTimerSink(Replay.drain(timerPipeline(spark, raw), "append", "tws_timers", dir))
    }

  /** The streaming transform of [[timerSummaries]] — watermark + timer
    * processor over a raw (userId, tsMs) stream. Factored out so specs can
    * drive it from a MemoryStream in controlled micro-batches.
    */
  private[graft] def timerPipeline(spark: SparkSession, raw: DataFrame): DataFrame = {
    import spark.implicits._
    val evs = raw
      .withColumn("ets", timestamp_millis(col("tsMs")))
      .withWatermark("ets", "1 hour")
      .select(col("userId"), col("tsMs"))
      .as[TimedEv]
    implicit val outEnc: Encoder[UserSummary] = Encoders.product[UserSummary]
    evs.groupByKey(_.userId)
      .transformWithState(new TimerSummaryProcessor(30L * 60 * 1000),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Post-sink merge of [[timerSummaries]]: if the source ever splits a
    * user's events across micro-batches (multiple files /
    * maxFilesPerTrigger / MemoryStream batches), the watermark can fire a
    * user's timer mid-stream — a partial summary now plus another later,
    * each covering a disjoint event segment (the timer expiry clears
    * state). Merge segments per user — counts add, extremes min/max — so
    * the result is stable under any batch split, mirroring userActivity's
    * post-sink reduction.
    */
  private[graft] def mergeTimerSink(sinkTable: DataFrame): DataFrame =
    sinkTable
      .filter(col("user_id") =!= Replay.SentinelUser)
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("first_ms")).as("first_ms"),
        max(col("last_ms")).as("last_ms"))
      .select(col("user_id"), col("n_events"), col("first_ms"), col("last_ms"))

  /** Scopes the RocksDB state-store provider (required by
    * transformWithState) to `f`, restoring the prior provider after.
    */
  private[graft] def withRocksDb[T](spark: SparkSession)(f: => T): T = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally saved match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  /** Replays the (bounded) events stream through the processor and returns
    * the final per-user activity table.
    */
  def userActivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withRocksDb(spark) {
      val evs = StreamingHotTopics.eventsStream(spark, dir).select(
          col("user_id").as("userId"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("dayOrd"),
          unix_micros(col("ts")).as("tsUs"))
        .as[Ev]
      implicit val outEnc: Encoder[UserActivity] = Encoders.product[UserActivity]
      val out = evs.groupByKey(_.userId)
        .transformWithState(new ActivityProcessor,
          TimeMode.None(), OutputMode.Update())
      // Update mode emits one row per (user, micro-batch); the final state
      // is the row with the highest running count per user.
      Replay.drain(out.toDF(), "update", "tws_activity", dir)
        .groupBy(col("userId").as("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("n_active_days")).as("n_active_days"),
          min(col("first_us")).as("first_us"),
          max(col("last_us")).as("last_us"))
        .select(col("user_id"), col("n_events"), col("n_active_days"),
          timestamp_micros(col("first_us")).as("first_ts"),
          timestamp_micros(col("last_us")).as("last_ts"))
    }
  }
}
