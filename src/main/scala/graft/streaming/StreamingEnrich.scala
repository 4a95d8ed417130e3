package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream–static (dimension) join: the enrichment pattern every streaming
  * deployment of the reference pipelines needs — each arriving event is
  * joined against a slowly-changing dimension table (here `customer`) that
  * lives as a batch DataFrame. The reference's analogue is its per-day batch
  * join of clicks against news metadata (/root/reference/HotTopics.java:41-46
  * consumes the pre-joined DAILY_STATS file).
  *
  * Spark executes the static side as a broadcast hash join *inside* each
  * micro-batch: no streaming state at all (stateless, append-mode safe), and
  * the dimension is re-resolvable per batch — at 100 TB/day of events with a
  * ~GB dimension this is the shape that avoids shuffling the firehose; only
  * the dimension moves (once, as a broadcast).
  */
object StreamingEnrich {

  /** Runs the enrichment stream to completion over the bounded events file
    * and returns one row per enriched event:
    * (event_id, user_id, event_type, value, segment). Shared stage: one
    * streaming ingestion+enrichment run per (session, dataset).
    */
  def sharedEnrichedEvents(spark: SparkSession, dir: String): DataFrame =
    graft.runtime.Stage.shared(spark, s"stream-enriched-events:$dir") {
      val dim = graft.io.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      // Inner join against the static side: stateless per micro-batch, so
      // the sink sees exactly the batch-join rows (append mode, no
      // watermark).
      val joined = StreamingHotTopics.eventsStream(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          col("c_mktsegment").as("segment"))
      graft.runtime.Stage.persistShared(Replay.drain(joined, "append", "stream_enrich", dir))
    }
}
