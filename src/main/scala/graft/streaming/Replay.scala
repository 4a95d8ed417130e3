package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Bounded replay: the one lifecycle every streaming lane runs over its
  * finite events file — start the query, drain everything available, stop
  * it, read the sink back. Structured Streaming's exactly-once rests on a
  * replayable source and an idempotent sink; here the source is the
  * (immutable) events file plus the shared sentinel, and the sinks are the
  * two drains below.
  *
  *  - [[drain]]: a memory sink named `<lane>_<tag(dir)>`.
  *  - [[drainParquet]]: the per-batch-overwrite parquet tree of
  *    [[ForeachBatchSink.idempotentParquet]], checkpointed under a cleared
  *    work dir.
  *
  * Both run the query under [[StreamConf.withStatePartitions]] from start
  * to drain, and stop it on every exit path, so a failing micro-batch
  * surfaces as the thrown query error with no query left active and the
  * session's shuffle-partition conf restored.
  */
object Replay {

  /** User id carried only by sentinel rows. */
  val SentinelUser: Long = -1L

  /** Runs `df` into the memory sink `<lane>_<tag(dir)>` until every
    * available row is processed, and returns the sink table. The tag is
    * per dataset ([[graft.runtime.Scratch.tag]]): a fixed sink name would
    * be re-registered by a second dataset in the same session, and the
    * first dataset's shared DataFrame — which reads the view by name —
    * could recompute against the replaced table if its cache blocks were
    * evicted.
    */
  def drain(df: DataFrame, mode: String, lane: String, dir: String): DataFrame = {
    val sink = s"${lane}_${graft.runtime.Scratch.tag(dir)}"
    run(df.sparkSession, df.writeStream.outputMode(mode).format("memory").queryName(sink))
    df.sparkSession.table(sink)
  }

  /** Runs append-mode `df` through the idempotent foreachBatch sink into
    * `workDir/data`, checkpointed at `workDir/_ckpt`. The work dir is
    * cleared first: a rerun is a fresh run, not a resume, and re-lands
    * every batch instead of double-counting a previous run's. Returns the
    * union of every batch's output, or None when no micro-batch landed
    * (an empty source).
    */
  def drainParquet(df: DataFrame, workDir: String): Option[DataFrame] = {
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(workDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    val data = s"$workDir/data"
    run(spark, df.writeStream.outputMode("append")
      .foreachBatch(ForeachBatchSink.idempotentParquet(data) _)
      .option("checkpointLocation", s"$workDir/_ckpt"))
    // partition discovery exposes batch=<id>; drop it
    if (fs.exists(new org.apache.hadoop.fs.Path(data)))
      Some(spark.read.parquet(data).drop("batch"))
    else None
  }

  private def run(spark: SparkSession, writer: DataStreamWriter[Row]): Unit =
    StreamConf.withStatePartitions(spark) {
      val q = writer.start()
      try q.processAllAvailable()
      finally q.stop()
    }

  /** The far-future sentinel of a dataset: parquet at `path` holding one
    * view and one click for [[SentinelUser]], 72 h past the dataset's last
    * event (`maxUs`, µs since epoch). Watermarks advance only on data,
    * so on a finite file the last windows, join buffers and timers would
    * never close; the sentinel pushes every watermark past every real row,
    * and the no-data micro-batch that follows flushes the state. Each lane
    * drops the sentinel's own rows from its result. A production stream
    * never ends and needs none of this.
    */
  final case class Sentinel(path: String, maxUs: Long)

  /** The widest horizon any lane needs (the chained hourly→daily
    * aggregation; the others close within 12–48 h).
    */
  private val HorizonUs = 72L * 3600L * 1000000L

  /** One sentinel per (session, dataset), shared by every sentinel lane. */
  def sentinel(spark: SparkSession, dir: String): Sentinel =
    graft.runtime.Stage.shared(spark, s"replay-sentinel:$dir") {
      val path = graft.runtime.Scratch.dir("replay_sentinel", dir)
      // Harness-only scalar: a single-row parallel max() — not a data
      // collect; no production-stream analogue.
      val maxUs = graft.io.Tables.events(spark, dir)
        .agg(max(unix_micros(col("ts")))).head().getLong(0)
      val farNs = (maxUs + HorizonUs) * 1000L // events.parquet layout: ts in nanos
      spark.createDataFrame(Seq(
          (-1L, farNs, SentinelUser, "view", 0.0, "{}"),
          (-2L, farNs, SentinelUser, "click", 0.0, "{}")))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(path)
      Sentinel(path, maxUs)
    }

  /** The dataset's events stream with the shared sentinel unioned in. */
  def eventsWithSentinel(spark: SparkSession, dir: String): DataFrame =
    StreamingHotTopics.eventsStream(spark, dir)
      .union(StreamingHotTopics.eventsStream(spark, sentinel(spark, dir).path, None))
}
