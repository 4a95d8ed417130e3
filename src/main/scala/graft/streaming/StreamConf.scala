package graft.streaming

import org.apache.spark.sql.SparkSession

/** Stateful-stream sizing: a streaming query's shuffle-partition count is
  * pinned into its checkpoint at first start and allocates ONE state-store
  * instance per partition per stateful operator — every micro-batch then
  * pays a per-store open/commit regardless of how little data arrived.
  * Batch queries want partitions sized to total data; stateful streams want
  * them sized to per-batch throughput and keyspace. Running a bounded local
  * replay at the batch setting (32 here) makes tiny micro-batches spend
  * their time committing 32 near-empty stores.
  *
  * [[withStatePartitions]] scopes the session's shuffle-partition conf to a
  * stream's start..drain window and restores it after, so batch plans in the
  * same session are untouched. The scope is applied in one place, the
  * [[Replay]] drains every bounded runner goes through (plus the
  * AvailableNow lane's own start..termination block). The default (min(8, defaultParallelism)) is a
  * local-replay setting; a production deployment sets
  * `spark.graft.streaming.statePartitions` to match its ingest rate — at
  * 100 TB/day that is hundreds of partitions, chosen so each store's state
  * fits executor memory, NOT the batch shuffle default.
  */
object StreamConf {

  def statePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.streaming.statePartitions")
      .map(_.toInt)
      .getOrElse(math.min(8, spark.sparkContext.defaultParallelism))

  def withStatePartitions[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, statePartitions(spark).toString)
    try f finally spark.conf.set(key, saved)
  }
}
