package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** The relational interval join the keyed
  * [[graft.streaming.StreamingIntervalJoin.join]] must agree with: the
  * theta join `c_user = v_user AND v_ts <= c_ts <= v_ts + 1 h`. On batch
  * frames it is the batch reference; on two watermarked streams Spark runs
  * it as `StreamingSymmetricHashJoinExec`, the streaming reference.
  * views: (v_user, view_id, v_ts); clicks: (c_user, click_id, c_ts); output
  * (c_user, click_id, c_ts, v_user, view_id, v_ts).
  */
object IntervalJoinReference {
  def join(views: DataFrame, clicks: DataFrame): DataFrame =
    clicks.join(views,
      expr("c_user = v_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 1 hour"),
      "inner")
}
