package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-native hot-key detection feeding the salted stream-stream
  * join (VERDICT r11 task 2) — replaces the harness batch pre-pass that
  * fed [[StreamingOuterJoin.viewFunnelSalted]]'s hot set.
  *
  * Detection is itself a streaming query: a tumbling-window key-frequency
  * aggregation in APPEND mode, so a (window, key, n) row emits only once
  * the watermark passes the window end — each emitted row is a CLOSED
  * "previous window" ledger entry, exactly the input a production salted
  * join consumes. The ledger lands through the idempotent foreachBatch
  * parquet sink (same exactly-once recipe as [[ForeachBatchSink]]); a
  * killed and restarted detector replays the last uncommitted batch into
  * the same `batch=<id>` directory and repairs rather than duplicates.
  *
  * Hotness contract: a key is hot when its count within one closed window
  * is at least `minShare` of that window's rows AND at least `minCount`
  * rows. Share is what melts a state-store partition: state is
  * hash-partitioned by join key, so one key = one partition regardless of
  * cluster size, and the interval join's pair fan-out is QUADRATIC in a
  * key's per-window row count — a key at even ~1% of a high-volume window
  * (the default) already dominates one partition's work (the r10 probe
  * measured 1.9x per-output-row on a 2%-share key). The absolute floor
  * rejects tiny windows where a handful of rows is trivially a large
  * share. Both tests are per-window, so a key that was hot in ANY closed
  * window is salted — hot sets only grow within an epoch, which is the
  * conservative direction (salting a no-longer-hot key costs xsalts
  * replication of its clicks, never correctness).
  *
  * Epoch contract (why the join reads the hot set once, at start): the
  * salt columns join key includes the salt, and in-flight state rows
  * carry the salts assigned when they arrived. Changing the hot set
  * mid-query would leave old-salt view rows unmatched by new-salt click
  * replicas. A deployment therefore rotates the hot set by EPOCH —
  * restart the join from its checkpoint on a window boundary with the
  * refreshed set; rows in state keep matching because both sides
  * re-derive salts with the same (new) set on replayed+new rows, and the
  * watermark bounds how much state a restart re-salts. The bounded
  * harness here runs one epoch: detect over the input, then join.
  */
object HotKeyDetector {

  /** The detection aggregation, batch/stream agnostic: per (tumbling
    * window, key) counts in append mode. `events` must carry `keyCol` and
    * an event-time `tsCol`.
    */
  def windowCounts(events: DataFrame, keyCol: String, tsCol: String,
                   windowDur: String, delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol).as("key"), col("n"))

  /** Hot keys from a closed-window ledger (the batch side of the
    * contract): per-window share ≥ `minShare` and count ≥ `minCount`.
    * Output cardinality is bounded by windows/minShare (≤ 1/minShare hot
    * keys can exist per window), so collecting it is a bounded driver
    * scalar, not a data collect.
    */
  def hotKeys(ledger: DataFrame, minShare: Double, minCount: Long): DataFrame = {
    val tot = ledger.groupBy(col("w_start")).agg(sum(col("n")).as("_tot"))
    ledger.join(tot, "w_start")
      .filter(col("n") >= minCount &&
        col("n").cast("double") >= col("_tot").cast("double") * minShare)
      .select(col("key")).distinct()
  }

  /** Runs the detector stream to completion over a bounded events source
    * and returns the detected hot keys. `events` must be a STREAMING frame
    * with `user_id` and `ts`. The ledger lands through
    * [[Replay.drainParquet]] under `workDir`, which a rerun clears (a
    * rerun is a fresh epoch, not a resume).
    */
  def detectBounded(events: DataFrame, workDir: String,
                    windowDur: String = "1 hour", delay: String = "2 hours",
                    minShare: Double = 0.01, minCount: Long = 100L): Seq[Long] =
    // An all-late or empty input emits no closed windows at all — no
    // ledger, no hot keys (the join degenerates to unsalted).
    Replay.drainParquet(windowCounts(events, "user_id", "ts", windowDur, delay), workDir)
      .fold(Seq.empty[Long])(hotKeys(_, minShare, minCount)
        .collect().toSeq.map(_.getLong(0)).sorted)
}
