package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream LEFT OUTER interval join — q66's inner attribution flipped
  * to the funnel question: every view, with its converting clicks if any,
  * and an explicit null row if none arrived within the hour.
  *
  * The semantics Spark adds over the inner form: an unmatched left row is
  * held in the state store until the RIGHT side's watermark passes
  * `v_ts + interval` (no later click can match), and only then emitted
  * null-extended. State stays bounded by watermark delay + interval exactly
  * as in the inner join — the property that keeps this viable on an
  * unbounded firehose.
  *
  * End-of-input subtlety: watermarks advance only on data, so a finite
  * input's last `delay + interval` of unmatched views would sit in state
  * forever and never emit. The runners therefore read
  * [[Replay.eventsWithSentinel]], whose far-future view + click push both
  * watermarks past every real row; Spark's no-data microbatch
  * (`noDataMicroBatches`, on by default) then flushes the remaining
  * state. The sentinel rows are dropped from the result.
  */
object StreamingOuterJoin {

  /** The join itself, batch/stream agnostic.
    * views: (v_user, view_id, v_ts); clicks: (c_user, click_id, c_ts).
    */
  def join(views: DataFrame, clicks: DataFrame): DataFrame =
    views.join(clicks,
      expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 1 hour"),
      "left_outer")

  /** Salted variant of [[join]] for DECLARED hot keys — the skew remedy
    * for the one-hot-state-partition problem (SCALE.md r10 probe: a 2%
    * single-key skew put 3.2× wall on the join, all of it funneled
    * through ONE state-store partition because state is hash-partitioned
    * by join key). Each hot VIEW row gets a deterministic sub-key salt
    * (hash of its unique view_id); each hot CLICK row is replicated to
    * every salt. A hot (view, click) pair therefore meets on exactly one
    * (user, salt) partition and every cold pair on salt 0 — the output is
    * row-identical to [[join]] (pinned in PlanAndStreamSpec; the q284
    * gate lane hash-checks it against q102's batch oracle), while the hot
    * key's view state and its pair fan-out spread across `salts`
    * partitions.
    *
    * Cost contract: hot-side CLICK state is replicated ×salts (bounded —
    * watermark delay + interval worth of hot clicks, times salts); cold
    * keys pay nothing. The hot-key SET is an input, not magic: a
    * production deployment feeds it from a frequency sketch over the
    * previous window (the same detection AQE uses for batch skew joins,
    * which streaming state partitioning lacks) — [[viewFunnelSalted]]
    * shows the one-aggregate pre-pass form.
    */
  def joinSalted(views: DataFrame, clicks: DataFrame,
                 hotKeys: Seq[Long], salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val vs = views.withColumn("_vsalt",
      when(col("v_user").isin(hotKeys: _*),
        pmod(hash(col("view_id")), lit(salts))).otherwise(lit(0)))
    val cs = clicks.withColumn("_csalt",
      explode(when(col("c_user").isin(hotKeys: _*),
        sequence(lit(0), lit(salts - 1))).otherwise(array(lit(0)))))
    vs.join(cs,
        expr("v_user = c_user AND _vsalt = _csalt AND " +
          "c_ts >= v_ts AND c_ts <= v_ts + interval 1 hour"),
        "left_outer")
      .drop("_vsalt", "_csalt")
  }

  /** Runs the outer-join stream to completion: one row per (view, click)
    * attribution pair plus one null-click row per unconverted view —
    * (userId, view_id, click_id, gap_us).
    */
  def viewFunnel(spark: SparkSession, dir: String): DataFrame =
    funnel(spark, dir, "stream_outer_join")(join)

  /** [[viewFunnel]] through the SALTED join: the hot-key set comes from a
    * one-row batch pre-pass (top user by event count, id-asc tie-break) —
    * the harness rendering of the frequency-sketch detection a production
    * stream feeds from its previous window. Output is row-identical to
    * [[viewFunnel]] by [[joinSalted]]'s contract, so the q284 gate lane
    * shares q102's batch oracle verbatim.
    */
  def viewFunnelSalted(spark: SparkSession, dir: String,
                       salts: Int = 8): DataFrame = {
    // Harness-only scalar (same class as the sentinel's max(ts)): one
    // row out of a groupBy — the "previous window" sketch stand-in. An
    // empty events table yields NO hot keys (joinSalted with an empty hot
    // set degenerates to the unsalted join) instead of a head() throw.
    val hot: Seq[Long] = graft.io.Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("_n"))
      .orderBy(col("_n").desc, col("user_id").asc)
      .limit(1).collect().toSeq.map(_.getLong(0))
    funnel(spark, dir, "stream_salted_join")(joinSalted(_, _, hot, salts))
  }

  /** [[viewFunnelSalted]] with the hot-key set detected by a STREAMING
    * query instead of a batch pre-pass (VERDICT r11 task 2): phase 1 runs
    * [[HotKeyDetector]]'s windowed frequency aggregation over the same
    * bounded event stream (closed windows land in an exactly-once
    * foreachBatch ledger), phase 2 runs the salted join with the detected
    * set — the one-epoch rendering of the production posture where the
    * join consumes the previous window's ledger (see HotKeyDetector's
    * epoch contract). Output is row-identical to [[viewFunnel]] whatever
    * the detected set (joinSalted's contract; an empty set degenerates to
    * the unsalted join), so the gate lane shares q102's batch oracle
    * verbatim.
    */
  def viewFunnelAutoSalted(spark: SparkSession, dir: String,
                           salts: Int = 8,
                           minShare: Double = 0.01,
                           minCount: Long = 100L): DataFrame = {
    // Phase 1 — detection (its own streaming query + checkpoint). The
    // sentinel rows ride along and push the watermark past every real
    // window so the last windows CLOSE; the sentinel's own far-future
    // window never closes and so never enters the ledger.
    // Session-shared (VERDICT r12 task 1): the detection epoch is a
    // deterministic function of (events table, window/threshold params),
    // so re-invocations in one session — bench k=3 samples, the warm-up
    // pass — reuse the first run's ledger verdict instead of re-running
    // the detection stream each time. A production epoch rotation is a
    // NEW session/checkpoint, so this memo never crosses epochs.
    val hot = graft.runtime.Stage.shared(spark,
        s"hotkey-detect:$dir:$minShare:$minCount") {
      HotKeyDetector.detectBounded(Replay.eventsWithSentinel(spark, dir),
        graft.runtime.Scratch.dir("hotkey_detect", dir),
        minShare = minShare, minCount = minCount)
    }
    // Phase 2 — the salted join under the detected epoch.
    funnel(spark, dir, "stream_autosalted")(joinSalted(_, _, hot, salts))
  }

  /** FULL OUTER variant (completing the stream-stream join modes next to
    * q66's inner and q102's left outer): unmatched VIEWS null-extend as in
    * the left join, and unmatched CLICKS (those converting no view within
    * the preceding hour) also emit, click-side null-extended, once the
    * LEFT watermark passes `c_ts` (no earlier view can still arrive).
    * State bounds are identical to the other modes. Emits (userId,
    * view_id, click_id, gap_us) with nulls on whichever side is missing.
    */
  def viewFunnelFull(spark: SparkSession, dir: String): DataFrame =
    funnel(spark, dir, "stream_full_outer", full = true) { (views, clicks) =>
      views.join(clicks,
        expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 1 hour"),
        "full_outer")
    }

  /** The one funnel body: `join` over the sentinel-extended view/click
    * legs, drained to the `lane` memory sink, sentinel rows dropped. A
    * `full` join keeps rows missing either side.
    */
  private def funnel(spark: SparkSession, dir: String, lane: String,
                     full: Boolean = false)
                    (join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (views, clicks) =
      StreamingIntervalJoin.viewsClicks(Replay.eventsWithSentinel(spark, dir))
    val sink = Replay.drain(join(views, clicks), "append", lane, dir)
    def real(user: String) = col(user) =!= Replay.SentinelUser
    if (full)
      StreamingIntervalJoin.attribution(
        sink.filter((col("v_user").isNull || real("v_user")) &&
          (col("c_user").isNull || real("c_user"))),
        coalesce(col("v_user"), col("c_user")))
    else StreamingIntervalJoin.attribution(sink.filter(real("v_user")), col("v_user"))
  }
}
