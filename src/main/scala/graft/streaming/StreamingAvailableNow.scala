package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Trigger.AvailableNow — the incremental-batch lifecycle: process every
  * file available at start (in rate-limited micro-batches), commit the
  * checkpoint, and TERMINATE. This is how a 100 TB deployment runs
  * "streaming" logic on a nightly schedule: same exactly-once state
  * machine and sink contract as the always-on query, but with batch-job
  * start/stop semantics (contrast [[Replay]]'s drain, which the other
  * streaming runners go through: it waits on an ever-running query).
  * This lane therefore keeps its own start..termination block.
  */
object StreamingAvailableNow {

  /** Daily click counts via an AvailableNow run (complete-mode memory
    * sink). Returns (day, n_clicks).
    */
  def dailyClickCounts(spark: SparkSession, dir: String): DataFrame = {
    val sink = s"avail_now_${graft.runtime.Scratch.tag(dir)}"
    val counts = StreamingHotTopics.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_clicks"))
    StreamConf.withStatePartitions(spark) {
      counts.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination() // AvailableNow terminates on its own
    }
    spark.table(sink)
  }
}
