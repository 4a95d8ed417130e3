package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `foreachBatch` — the programmable-sink half of the streaming output API
  * (the reference's Flink `SinkFunction` analogue; the declarative sinks are
  * covered by the memory/file sinks the other streaming queries use).
  *
  * The recipe here is the standard exactly-once upsert onto a
  * non-transactional store: every micro-batch owns the `batch=<id>`
  * subdirectory and OVERWRITES it. After a failure, Structured Streaming
  * replays the last uncommitted batch with the SAME batchId — the rewrite
  * lands in the same directory, so replays repair rather than duplicate.
  * Consumers read the whole tree; partition discovery exposes `batch` as a
  * column to drop.
  */
object ForeachBatchSink {

  /** The (df, batchId) => Unit function to pass to `writeStream.foreachBatch`. */
  def idempotentParquet(out: String)(df: DataFrame, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$out/batch=$batchId")

  /** End-to-end run of the sink: stream the purchase events through
    * [[Replay.drainParquet]] into a per-batch-overwrite parquet tree under
    * the scratch dir, then read the tree back as the ledger. One ingestion
    * per (session, dataset) via the stage registry.
    */
  def sharedPurchaseLedger(spark: SparkSession, dir: String): DataFrame =
    graft.runtime.Stage.shared(spark, s"foreachbatch-ledger:$dir") {
      val purchases = StreamingHotTopics.eventsStream(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
      val ledger = Replay.drainParquet(purchases, graft.runtime.Scratch.dir("ledger", dir))
        .getOrElse(sys.error(s"no events to replay under $dir"))
      graft.runtime.Stage.persistShared(ledger)
    }
}
