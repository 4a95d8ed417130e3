package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming upgrade of the HotTopics pipeline (SURVEY.md §2.8):
  * the reference simulates "real-time" with a driver-side daily batch loop
  * (/root/reference/HotTopics.java:36-37 via DateIterator); the idiomatic
  * Spark form is a streaming read of the click/event log with 1-day tumbling
  * event-time windows and a watermark for late data. Late-data semantics have
  * no reference analogue — the 1-day watermark is a documented free choice.
  *
  * At scale this is the same plan as the batch aggregation (hash agg on
  * (window, newsId) with partial aggregation) plus incremental state in the
  * state store; the batch pipeline stays the correctness source of truth and
  * this streaming run is hash-checked against the same DuckDB oracle.
  */
object StreamingHotTopics {

  /** Memoized `ts` probe results per (path, glob): sentinel dirs are fully
    * written before the first probe and the driver's table files are
    * immutable within a run, so a layout never changes under a live key —
    * while call sites like the interval join's two stream legs and the
    * sentinel-union lanes re-probe the same (path, glob) repeatedly, each
    * paying a directory listing plus a footer read without the cache.
    */
  private val probedTsTypes =
    new java.util.concurrent.ConcurrentHashMap[(String, Option[String]), DataType]()

  /** events.parquet read schema with the stored `ts` type probed from the
    * file footer. The driver's events layout has changed across rounds —
    * TIMESTAMP(NANOS) (readable only as long under
    * spark.sql.legacy.parquet.nanosAsLong) through round 5, plain µs
    * TIMESTAMP_NTZ from round 6 — and sentinel files this engine writes
    * carry raw long nanos, so the read schema is probed per path instead of
    * hardcoded. ONLY a missing/empty path (no footer to read) falls back to
    * the long layout — a stream over it yields no rows, so the choice is
    * inconsequential there. Any other probe failure (a real file whose
    * footer can't be read, a transient IO error) is rethrown: swallowing it
    * would declare a long schema that mismatches the actual NTZ file and
    * surface later as a baffling parquet conversion error mid-stream.
    */
  def eventsSchemaFor(spark: SparkSession, path: String,
                      glob: Option[String]): StructType = {
    // The missing/empty-path fallback is deliberately NOT memoized: a path
    // probed before its dataset exists would otherwise be stuck on the
    // long layout for the JVM lifetime even after the real (NTZ) files
    // appear. Only a schema read from an actual footer is stable enough
    // to cache.
    val tsType = Option(probedTsTypes.get((path, glob))).getOrElse {
      try {
        val r = spark.read
        glob.foreach(g => r.option("pathGlobFilter", g))
        val t = r.parquet(path).schema("ts").dataType
        probedTsTypes.put((path, glob), t)
        t
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition != null &&
               (e.getCondition.contains("PATH_NOT_FOUND") ||
                e.getCondition.contains("UNABLE_TO_INFER_SCHEMA")) =>
          LongType
      }
    }
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Normalize a freshly-read events frame so `ts` is a plain µs
    * TimestampType whatever the stored layout (mirrors
    * [[graft.io.Tables.events]]): long epoch-nanos → integral DIV (double
    * division would land ±1µs off past 2^53), TIMESTAMP_NTZ → cast, which
    * is wall-clock-preserving under the session's pinned UTC zone.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    case _: TimestampNTZType =>
      // The NTZ→Timestamp cast reinterprets the wall clock in the SESSION
      // zone: instant-preserving only under the UTC pin every entry point
      // sets. Fail loudly here rather than let a consumer that forgot the
      // pin read silently shifted timestamps (and wrong oracle hashes).
      require(
        df.sparkSession.conf.get("spark.sql.session.timeZone", "") == "UTC",
        "events.ts normalization requires spark.sql.session.timeZone=UTC; " +
          s"session has '${df.sparkSession.conf.get("spark.sql.session.timeZone", "<unset>")}'")
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Probe + streaming read + ts normalization in one step — the events
    * source every streaming lane shares.
    */
  def eventsStream(spark: SparkSession, path: String,
                   glob: Option[String] = Some("events.parquet")): DataFrame = {
    val r = spark.readStream.schema(eventsSchemaFor(spark, path, glob))
    glob.foreach(g => r.option("pathGlobFilter", g))
    normalizeTs(r.parquet(path))
  }

  /** Runs the streaming query to completion over the (bounded) events file
    * and returns the result table: (day, newsId, clicks) — daily click
    * counts per news item, the input to the hot-topics ranking.
    */
  def dailyClickCounts(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select((col("event_id") % 500).as("newsId"), col("ts"))

    val agg = clicks
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("newsId"))
      .agg(count(lit(1)).as("clicks"))
      .select(to_date(col("window.start")).as("day"), col("newsId"), col("clicks"))

    Replay.drain(agg, "complete", "stream_counts", dir)
  }

  /** The daily-count table as a shared stage: one streaming ingestion run
    * per (session, dataset), reused by every consumer (q36 raw counts, q51
    * ranking) — the streaming analogue of the reference's materialized
    * DAILY_STATS input (/root/reference/HotTopics.java:34).
    */
  def sharedDailyClickCounts(spark: SparkSession, dir: String): DataFrame =
    graft.runtime.Stage.shared(spark, s"stream-daily-counts:$dir") {
      graft.runtime.Stage.persistShared(dailyClickCounts(spark, dir))
    }
}
