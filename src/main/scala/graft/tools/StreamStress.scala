package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming stress probe (VERDICT r9 task 7): skewed-key state growth and
  * mid-stream kill/restart recovery for the q102 (stream-stream outer
  * join) and q204 (transformWithState event-time timers) operator shapes,
  * at stress scale.
  *
  * What the driver-gate lanes do NOT exercise:
  *  - **Key skew**: one hot user = one hot state-store partition. The
  *    outer join buffers every unmatched hot-key row in a single
  *    partition's store until the watermark passes; the TWS lane grows one
  *    per-key Totals blob but funnels every hot row through one store.
  *  - **Kill/restart at scale**: the spec-level recovery tests
  *    (PlanAndStreamSpec) run on 6-row fixtures; this probe kills a
  *    multi-million-row run mid-stream (after `KillAfterBatches`
  *    committed micro-batches) and restarts on the same checkpoint + file
  *    sink, asserting the merged output is exactly the uninterrupted
  *    batch-computed expectation (file-sink log = exactly-once).
  *
  * Protocol per lane: events are re-keyed so `hotPct`% of rows (by
  * deterministic event_id hash) belong to ONE hot user, split into
  * `NumFiles` part files streamed `maxFilesPerTrigger=2` per micro-batch;
  * a far-future sentinel file (mtime-forced LAST) flushes the final
  * watermark. Phase 1 starts the query and stops it after
  * `KillAfterBatches` progress events; phase 2 restarts the IDENTICAL
  * query on the same checkpoint and drains. The probe then compares the
  * parquet sink against the batch oracle (exceptAll both ways) and emits
  * one JSON line: per-phase wall seconds, micro-batch count, max state
  * rows/bytes from the progress stream, watermark advance, match verdict.
  * Like every entry point it calls [[graft.runtime.GraftScale.configure]]
  * before building its session; the skewed source, sinks and checkpoints
  * live in a [[graft.runtime.Scratch]] dir deleted at exit.
  *
  * Usage: runMain graft.tools.StreamStress <sfDir> <outJsonPath> [mode]
  * mode = hotPct number (default 2; 0 = unskewed control), or
  *  - `multi` (VERDICT r12 task 5): THREE planted keys — 2.0% and 1.5%
  *    above both detector thresholds, 0.5% under both (count ≈ 41/window
  *    vs the 100 floor AND share < 1%) — the detected set must be exactly
  *    the two above-threshold keys, and the auto-salted join runs with a
  *    MULTI-key salt set through the kill/restart protocol;
  *  - `rotate` (VERDICT r12 task 2): the hot key SHIFTS mid-stream
  *    (first-half slices skew to key A, second half to key B); epoch 1
  *    runs the salted join with {A}, is killed mid-stream, the hot set is
  *    refreshed from the detector ledger, and epoch 2 RESTARTS THE SAME
  *    CHECKPOINT with the grown set {A, B} — exercising the
  *    HotKeyDetector epoch-rotation contract end to end. Monotone growth
  *    + event-time-ordered arrival make the rotation exactly-once: state
  *    rows from epoch 1 all carry event times before the restart point,
  *    and a click-side row only matches LATER view times, so every
  *    cross-epoch pair re-derives consistent salts (old hot views still
  *    meet replicated clicks; B had no epoch-1 rows). An out-of-order
  *    deployment must additionally delay a NEWLY-hot key's activation by
  *    the watermark horizon, or a late pre-boundary view of that key
  *    (salted under the new set) would miss its salt-0 buffered clicks.
  */
object StreamStress {

  private val HotUser = 424242424242L
  private val HotUser2 = 434343434343L
  private val ColdUser = 454545454545L   // planted UNDER both thresholds
  private val SentinelUser = -1L
  private val NumFiles = 24
  private val KillAfterBatches = 4
  /** Sub-keys the salted lane spreads the hot key across (= local[…]
    * parallelism, so one hot key can occupy every core).
    */
  private val SaltK = 16

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val mode = if (args.length > 2) args(2) else "2"
    val hotPct = mode match {
      case "multi" | "rotate" => 2
      case s => s.toInt
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.runtime.GraftScale.session(sfDir, cpus)

    val work = graft.runtime.Scratch.fresh("stream_stress")
    val skewDir = s"$work/events_skew"

    // --- skewed source: hotPct% of events re-keyed to the single hot user,
    // written as NumFiles part files (multi-micro-batch), plus a sentinel
    // file whose mtime forces it to stream LAST (file source orders by
    // modification time), advancing both watermarks past every real row.
    val ev = graft.io.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // TIME-ORDERED file slices, streamed in event-time order (the file
    // source reads oldest-mtime first): a random repartition would hand
    // batch 1 rows from the whole month, jump the watermark to
    // max(ts) - delay, and drop nearly every later batch as late data —
    // a harness artifact no real stream has. Slice boundaries come from
    // the (min,max) ts range; each slice's part files get a strictly
    // increasing mtime, the sentinel strictly last. Slices are computed
    // BEFORE re-keying so the rotate mode can skew by stream half.
    val stamped0 = ev.withColumn("_us", unix_micros(col("ts")))
    val Row(minUs: Long, maxUs: Long) =
      stamped0.agg(min(col("_us")), max(col("_us"))).head()
    val span = maxUs - minUs + 1
    val presliced = stamped0.withColumn("_b",
      ((col("_us") - minUs) * NumFiles / span).cast("int"))
    val draw = pmod(hash(col("event_id")), lit(1000))
    val sliced = mode match {
      case "multi" =>
        // 2.0% / 1.5% above both thresholds; 0.5% under BOTH (per-window
        // count ≈ 0.005 · window rows < the 100 floor at this tier, and
        // share < 1%) — the detected set must exclude it.
        presliced.withColumn("user_id",
          when(draw < 20, lit(HotUser))
            .when(draw < 35, lit(HotUser2))
            .when(draw < 40, lit(ColdUser))
            .otherwise(col("user_id")))
      case "rotate" =>
        // the hot key SHIFTS at the stream midpoint: A in the first half
        // of the event-time range, B in the second.
        presliced.withColumn("user_id",
          when(draw < hotPct * 10,
            when(col("_b") < NumFiles / 2, lit(HotUser)).otherwise(lit(HotUser2)))
            .otherwise(col("user_id")))
      case _ if hotPct == 0 => presliced
      case _ =>
        // unchanged from the r10-r12 artifacts (draw mod 100) so the
        // legacy hot2/hot0 lanes stay row-identical round over round
        presliced.withColumn("user_id",
          when(pmod(hash(col("event_id")), lit(100)) < hotPct, lit(HotUser))
            .otherwise(col("user_id")))
    }
    val base = System.currentTimeMillis()
    val seen = scala.collection.mutable.Set[String]()
    def stampNew(i: Int): Unit =
      new java.io.File(skewDir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !seen(f.getName))
        .foreach { f => f.setLastModified(base + i * 1000L); seen += f.getName }
    (0 until NumFiles).foreach { i =>
      sliced.filter(col("_b") === i).drop("_us", "_b")
        .coalesce(1).write.mode("append").parquet(skewDir)
      stampNew(i)
    }
    // One far-future VIEW and CLICK: the outer join holds unmatched views
    // until the RIGHT watermark passes v_ts + interval, so BOTH sides'
    // watermarks must advance or the last delay+interval of views never
    // flushes (StreamingOuterJoin's writeSentinel contract).
    val farTs = timestamp_micros(lit(maxUs + 48L * 3600L * 1000000L))
    spark.createDataFrame(Seq(
        (-1L, SentinelUser, "view"), (-2L, SentinelUser, "click")))
      .toDF("event_id", "user_id", "event_type")
      .select(col("event_id"), farTs.as("ts"), col("user_id"), col("event_type"))
      .coalesce(1).write.mode("append").parquet(skewDir)
    stampNew(NumFiles + 10)

    def stream(): DataFrame = {
      val schema = spark.read.parquet(skewDir).schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2").parquet(skewDir)
    }

    val results = new StringBuilder
    /** Runs one kill/restart lane. `build2`, when non-null, builds the
      * PHASE-2 (post-restart) query instead of `build` — the rotate mode's
      * epoch switch: same checkpoint and sink, refreshed hot set.
      */
    def lane(name: String, build2: DataFrame => DataFrame = null)
            (build: DataFrame => DataFrame)
            (expected: DataFrame => DataFrame): Unit = {
      val sinkDir = s"$work/${name}_sink"
      val ckpt = s"$work/${name}_ckpt"
      var progress = Vector.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

      def writer(df: DataFrame): DataStreamWriter[Row] =
        df.writeStream.outputMode("append").format("parquet")
          .option("path", sinkDir).option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(0L))

      // phase 1: run to KillAfterBatches committed batches, then kill.
      val t0 = System.nanoTime()
      val q1 = writer(build(stream())).start()
      var killedAt = -1
      while (killedAt < 0) {
        Thread.sleep(200)
        val done = q1.recentProgress.count(_.numInputRows > 0)
        if (done >= KillAfterBatches) { killedAt = done; q1.stop() }
        else if (!q1.isActive) killedAt = done // drained before the kill
      }
      q1.awaitTermination()
      progress ++= q1.recentProgress
      val preS = (System.nanoTime() - t0) / 1e9

      // phase 2: same checkpoint — resume and drain (rotate mode swaps in
      // the refreshed-epoch build here; otherwise the identical query).
      val t1 = System.nanoTime()
      val q2 = writer((if (build2 != null) build2 else build)(stream())).start()
      q2.processAllAvailable()
      q2.stop(); q2.awaitTermination()
      progress ++= q2.recentProgress
      val postS = (System.nanoTime() - t1) / 1e9

      // exactly-once check: sink == batch expectation, both directions.
      val got = expected(spark.read.parquet(sinkDir))
      val exp = expected(null) // null signals "compute from batch source"
      val missing = exp.exceptAll(got).count()
      val extra = got.exceptAll(exp).count()
      val rows = got.count()

      val stateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
      val stateBytes = progress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
      val dataBatches = progress.count(_.numInputRows > 0)
      results.append(
        s""""$name":{"mode":"$mode","hot_pct":$hotPct,"pre_kill_s":${f"$preS%.1f"},""" +
        s""""post_restart_s":${f"$postS%.1f"},"batches_pre_kill":$killedAt,""" +
        s""""data_batches_total":$dataBatches,"rows_out":$rows,""" +
        s""""state_rows_max":${if (stateRows.isEmpty) 0 else stateRows.max},""" +
        s""""state_bytes_max":${if (stateBytes.isEmpty) 0 else stateBytes.max},""" +
        s""""missing_vs_batch":$missing,"extra_vs_batch":$extra,""" +
        s""""exactly_once_match":${missing == 0 && extra == 0}},""")
      println(f"[stress] $name: pre=$preS%.1f post=$postS%.1f rows=$rows " +
        s"missing=$missing extra=$extra stateRowsMax=" +
        s"${if (stateRows.isEmpty) 0 else stateRows.max}")
    }

    // --- shared projections/builders for the q102-shape lanes.
    def ojViews(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    def ojClicks(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    def unsaltedBuild(src: DataFrame): DataFrame =
      graft.streaming.StreamingOuterJoin.join(
        ojViews(src).withWatermark("v_ts", "2 hours"),
        ojClicks(src).withWatermark("c_ts", "2 hours"))
        .select(col("v_user"), col("view_id"), col("click_id"))
    def saltedBuild(hot: Seq[Long])(src: DataFrame): DataFrame =
      graft.streaming.StreamingOuterJoin.joinSalted(
        ojViews(src).withWatermark("v_ts", "2 hours"),
        ojClicks(src).withWatermark("c_ts", "2 hours"),
        hot, SaltK)
        .select(col("v_user"), col("view_id"), col("click_id"))
    // Batch expectation stays the UNSALTED join for every lane: the
    // comparison IS the salt-invariance contract.
    def ojExpected(sunk: DataFrame): DataFrame = {
      val base =
        if (sunk != null) sunk
        else {
          val b = spark.read.parquet(skewDir)
          graft.streaming.StreamingOuterJoin.join(ojViews(b), ojClicks(b))
            .select(col("v_user"), col("view_id"), col("click_id"))
        }
      base.filter(col("v_user") =!= SentinelUser)
    }
    def detect(): Seq[Long] = {
      val d = graft.streaming.HotKeyDetector.detectBounded(
        stream().withColumn("ts", col("ts").cast("timestamp")),
        s"$work/hotkey_detect")
      println(s"[stress] detector found hot keys: ${d.mkString(",")}")
      d
    }

    mode match {
      case "multi" =>
        // --- multi-hot-key detection boundary (VERDICT r12 task 5): the
        // detected set must be EXACTLY the two above-threshold keys — the
        // 0.5% ColdUser fails both the share and the count floor.
        val detected = detect()
        assert(detected.toSet == Set(HotUser, HotUser2),
          s"multi-mode detection mismatch: got ${detected.mkString(",")}, " +
            s"want exactly {$HotUser,$HotUser2} (ColdUser under both thresholds)")
        lane("outer_join")(unsaltedBuild)(ojExpected)
        lane("outer_join_salted_multi")(saltedBuild(detected))(ojExpected)

      case "rotate" =>
        // --- epoch rotation (VERDICT r12 task 2): epoch 1 salts {A} (what
        // a first-half detector yields — B has no first-half rows), the
        // kill lands mid-first-half, the refreshed ledger detection sees
        // both halves' closed windows, and epoch 2 resumes the SAME
        // checkpoint with the GROWN set. Monotone growth is the safety
        // contract (see the usage scaladoc).
        val detected = detect()
        assert(Set(HotUser, HotUser2).subsetOf(detected.toSet),
          s"rotate-mode detection must see both epoch keys: ${detected.mkString(",")}")
        val epoch2 = (detected.toSet + HotUser).toSeq.sorted
        lane("outer_join")(unsaltedBuild)(ojExpected)
        lane("outer_join_rotated", build2 = saltedBuild(epoch2))(
          saltedBuild(Seq(HotUser)))(ojExpected)

      case _ =>
        // --- lane 1: q102 shape — stream-stream LEFT OUTER interval join.
        lane("outer_join")(unsaltedBuild)(ojExpected)

        // --- lane 1b: the SALTED outer join on the same skewed input — the
        // hot-key remedy (StreamingOuterJoin.joinSalted): hot view state and
        // pair fan-out spread across SaltK sub-keys, output contract-identical
        // to lane 1. In the hot0 control no row carries HotUser, so the lane
        // doubles as the salt-overhead measurement.
        lane("outer_join_salted")(saltedBuild(Seq(HotUser)))(ojExpected)

        // --- lane 1c: the AUTO-salted outer join — the hot set comes from
        // the STREAMING windowed-frequency detector (HotKeyDetector), not
        // from naming HotUser. On the skewed corpus it MUST rediscover
        // HotUser; hot0 control: no key reaches 1% share, the set is
        // empty, and the lane measures pure detection+unsalted overhead.
        val detected = detect()
        assert(hotPct == 0 || detected.contains(HotUser),
          s"detector missed the planted hot key at hotPct=$hotPct: $detected")
        assert(hotPct > 0 || detected.isEmpty,
          s"detector false-positives on the unskewed control: $detected")
        lane("outer_join_salted_auto")(saltedBuild(detected))(ojExpected)

        // --- lane 2: q204 shape — TWS event-time timers (RocksDB provider).
        graft.streaming.StreamingTws.withRocksDb(spark) {
          lane("tws_timers") { src =>
            graft.streaming.StreamingTws.timerPipeline(spark,
              src.select(col("user_id").as("userId"),
                expr("unix_micros(ts) DIV 1000").as("tsMs")))
          } { sunk =>
            // Explicit sentinel cut on the sink side too (mergeTimerSink's
            // own -1L filter coincides with SentinelUser today, but the
            // comparison must stay insensitive to whether the sentinel's
            // timer fires even if that constant ever diverges — ADVICE r10).
            if (sunk != null) graft.streaming.StreamingTws.mergeTimerSink(
              sunk.filter(col("user_id") =!= SentinelUser))
            else {
              spark.read.parquet(skewDir)
                .filter(col("user_id") =!= SentinelUser)
                .select(col("user_id"),
                  expr("unix_micros(ts) DIV 1000").as("tsMs"))
                .groupBy(col("user_id"))
                .agg(count(lit(1)).as("n_events"),
                  min(col("tsMs")).as("first_ms"),
                  max(col("tsMs")).as("last_ms"))
            }
          }
        }
    }

    val json = "{" + results.toString.stripSuffix(",") + "}"
    val w = new java.io.PrintWriter(outJson, "UTF-8")
    try w.println(json) finally w.close()
    println(json)
    spark.stop()
  }
}
