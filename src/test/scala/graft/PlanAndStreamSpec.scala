package graft

import graft.ext.Ann
import graft.queries.RelationalQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape checks: the plans Catalyst actually produces must have the
  * properties the 100 TB design depends on — filters reaching the parquet
  * scan, small dimensions broadcast, whole-stage codegen covering the hot
  * path — plus native-expression parity and the streaming variant.
  */
class PlanAndStreamSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  import spark.implicits._

  private def plan(name: String): String =
    RelationalQueries.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q3/q11: dimension joins are broadcast (no shuffle join for small dims)") {
    assert(plan("q3_join_agg").contains("BroadcastHashJoin"))
    assert(plan("q11_star_join").contains("BroadcastHashJoin"))
  }

  test("q4: semi join executes as a broadcast LeftSemi") {
    val p = plan("q4_semi_join")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("q6: date-zone predicate is pushed to the parquet scan") {
    // The filter must appear as a data-source pushed filter, not only as a
    // post-scan Filter node: Column-expression date logic, never a UDF.
    val p = RelationalQueries.queries("q6_date_window")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(event_type)") || p.contains("PushedFilters: [IsNotNull"))
    // and the scan must not read all columns
    assert(!p.contains("props"))
  }

  test("q1: aggregation runs inside whole-stage codegen with partial aggregation") {
    val qe = RelationalQueries.queries("q1_agg")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum")) // map-side combine before the shuffle
    val codegen = qe.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen"))
  }

  test("q56: range join executes as equi-join on day, never a nested-loop BETWEEN join") {
    val p = plan("q56_range_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Generate explode")) // intervals exploded into member days
  }

  test("q54: sessionization is a single shuffle on the user key") {
    val p = plan("q54_sessionize")
    // window partitioning by user_id also satisfies the (user_id, session_id)
    // group-by clustering (subset rule) — any second Exchange means the
    // aggregation re-shuffled and the plan regressed
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected 1 hash exchange, plan:\n$p")
  }

  test("bucketed join: no Exchange on either side once broadcast is off") {
    // The property q84 exists for: both tables pre-bucketed on the join key
    // means the SortMergeJoin consumes bucket-local reads directly. Disable
    // auto-broadcast so the small SF doesn't hide the shuffle-free shape.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (o, l) = graft.io.Bucketed.ordersLineitem(spark, sf)
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
      // correctness: identical to the unbucketed join
      val plain = graft.io.Tables.lineitem(spark, sf)
        .join(graft.io.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("o_orderpriority"))
      assert(joined.count() === plain.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partitionBy(date) write: a date filter prunes partitions at the scan") {
    val dir = tempDir("graft_part")
    val kw = graft.io.Tables.clicks(spark, sf)
      .select($"userId", $"newsId", $"date")
    graft.io.Writers.writeDual(kw, concat_ws("|", $"userId", $"newsId"),
      s"$dir/parquet", s"$dir/text", partitionBy = Seq("date"))

    val read = spark.read.parquet(s"$dir/parquet")
      .filter($"date" === java.sql.Date.valueOf("2024-01-15"))
    val p = read.queryExecution.executedPlan.toString
    // the date predicate must be a PartitionFilter (directory pruning),
    // never a post-scan Filter over all partitions
    assert(p.contains("PartitionFilters: [isnotnull(date"), p)
    val dirs = new java.io.File(s"$dir/parquet").listFiles().map(_.getName)
      .filter(_.startsWith("date="))
    assert(dirs.length > 1) // really partitioned by day
    assert(read.count() > 0)
  }

  test("native FloatVecDot == ordered-fold dot on real embeddings (codegen path)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val a = e.select($"vec_id", $"embedding".as("x"))
    val b = e.select($"vec_id".as("vid2"), $"embedding".as("y"))
    val pairs = a.crossJoin(b).limit(500)
    val both = pairs.select(
      graft.functions.VectorExpressions.floatVecDot($"x", $"y").as("native"),
      Ann.dotCol($"x", $"y").as("fold"),
      graft.functions.VectorExpressions.floatVecNormSq($"x").as("nativeNormSq"),
      Ann.dotCol($"x", $"x").as("foldNormSq"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r => // bit-identical
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(2) === r.getDouble(3))
    }
  }

  test("FloatVecDot: length mismatch yields null, matching the fold form") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (Array(1.0f, 2.0f, 5.0f), Array(3.0f, 4.0f)) // unequal lengths
    ).toDF("x", "y")
    val rows = df.select(
      graft.functions.VectorExpressions.floatVecDot($"x", $"y").as("native"),
      Ann.dotCol($"x", $"y").as("fold")).collect()
    assert(rows(0).getDouble(0) === 11.0 && rows(0).getDouble(1) === 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1)) // both null on mismatch
  }

  test("stateful streaming user profiles equal the batch aggregation") {
    val streamed = graft.streaming.StreamingUserProfiles
      .userClickProfiles(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.io.Tables.clicks(spark, sf)
      .groupBy($"userId")
      .agg(count(lit(1)).as("n"), countDistinct($"newsId").as("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming session windows (append + watermark) equal the batch session aggregation") {
    // Spark 4.1: MemoryStream lives in execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.io.Tables.events(spark, sf)
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect().toSeq

    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = graft.streaming.StreamingSessions.sessionAgg(
      stream.toDF().toDF("user_id", "ts"))
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("stream_sessions_test").start()
    try {
      stream.addData(ev)
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past every
      // real session, the second triggers the batch that emits them
      val sentinel = (-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))
      stream.addData(Seq(sentinel))
      q.processAllAvailable()
      stream.addData(Seq(sentinel.copy(_2 = java.sql.Timestamp.valueOf("2030-01-02 00:00:00"))))
      q.processAllAvailable()
    } finally q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime) -> r.getLong(3)
    val streamed = spark.table("stream_sessions_test")
      .filter($"user_id" >= 0).collect().map(key).toMap
    val batch = graft.streaming.StreamingSessions.sessionAgg(
        graft.io.Tables.events(spark, sf).select($"user_id", $"ts"))
      .collect().map(key).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming hot topics equals the batch aggregation") {
    val streamed = graft.streaming.StreamingHotTopics
      .dailyClickCounts(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.io.Tables.clicks(spark, sf)
      .groupBy($"date", $"newsId").agg(count(lit(1)).as("clicks"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("foreachBatch idempotent sink: batch replay rewrites instead of duplicating") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tempDir("graft_feb_test") + "/sink"

    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF().toDF("id", "payload")
      .writeStream
      .foreachBatch(graft.streaming.ForeachBatchSink.idempotentParquet(out) _)
      .start()
    val batch2 = Seq((3L, "c"), (4L, "d"))
    try {
      stream.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()

    def readAll() = spark.read.parquet(out)
      .select($"id", $"payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val first = readAll()
    assert(first === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // simulate the post-failure replay of batch 1: same data, same batchId —
    // the overwrite must leave the sink unchanged, not append duplicates
    graft.streaming.ForeachBatchSink.idempotentParquet(out)(
      batch2.toDF("id", "payload"), 1L)
    assert(readAll() === first)
  }

  test("sketch audit lane: exact counts match and error-contract verdicts hold") {
    val ev = graft.io.Tables.events(spark, sf)
    // r9 schema: (event_type, exact_users, users_ok, p50_ok, p95_ok)
    val got = RelationalQueries.queries("q74_sketches")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"),
        expr("percentile(value, 0.5)").as("p50"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got.keySet === exact.keySet)
    exact.foreach { case (t, (n, _)) =>
      val (en, uok, p50ok, p95ok) = got(t)
      assert(en === n, s"$t: exact_users $en vs recomputed $n")
      assert(uok && p50ok && p95ok, s"$t: a sketch verdict is false")
    }
    // the verdicts are not vacuous: the raw sketches themselves land near
    // the exact answers (same legs DumpAux exports for verify_sketches.py)
    val raw = ev.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", rsd = 0.02).as("an"),
        percentile_approx($"value", lit(0.5), lit(10000)).as("ap50"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    exact.foreach { case (t, (n, p50)) =>
      val (an, ap50) = raw(t)
      assert(math.abs(an - n).toDouble / n <= 0.10, s"$t: HLL $an vs exact $n")
      assert(math.abs(ap50 - p50) <= math.max(0.05 * math.abs(p50), 1e-6),
        s"$t: p50 $ap50 vs exact $p50")
    }
    assert(exact.nonEmpty)
  }

  test("streaming aggregation recovers from a mid-stream kill via checkpoint (exactly-once state)") {
    val base = tempDir("graft_ckpt_test")
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    // split the events into 4 files so maxFilesPerTrigger=1 forces multiple
    // micro-batches, leaving work behind when we kill the first query
    graft.io.Tables.events(spark, sf).repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def start() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .filter($"event_type" === "click")
      .groupBy(to_date($"ts").as("day")).count()
      .writeStream.outputMode("complete").format("memory")
      .queryName("ckpt_restart_test")
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    // let at least one batch commit, then kill mid-stream
    val deadline = System.currentTimeMillis + 30000
    while (q1.recentProgress.length < 2 && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    q1.stop()

    // a fresh query on the same checkpoint resumes from committed offsets —
    // whatever the kill point was, the final state must equal the batch run
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.table("ckpt_restart_test").collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val batch = graft.io.Tables.clicks(spark, sf)
      .groupBy($"date").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("interval join killed mid-stream resumes from checkpoint: buffered state joins post-restart rows, file sink stays exactly-once") {
    import java.sql.Timestamp
    val base = tempDir("graft_ij_restart")
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    def t(min: Int) = Timestamp.valueOf(f"2024-03-01 10:$min%02d:00")
    val cols = Seq("user_id", "event_id", "event_type", "ts")
    // pre-restart slices (two files so maxFilesPerTrigger=1 leaves a real
    // mid-stream kill point between batches)
    val sliceA = Seq((1L, 100L, "view", t(0)), (2L, 101L, "view", t(5)),
      (3L, 102L, "view", t(10)))
    val sliceB = Seq((2L, 200L, "click", t(20)))
    // post-restart slice: clicks 201/203 join VIEWS BUFFERED BEFORE THE
    // KILL — they can only appear if the join's state store recovered
    val sliceC = Seq((1L, 201L, "click", t(30)), (2L, 202L, "click", t(40)),
      (3L, 203L, "click", t(55)))
    sliceA.toDF(cols: _*).coalesce(1).write.mode("append").parquet(srcDir)
    sliceB.toDF(cols: _*).coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def start() = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val views = src.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val clicks = src.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      graft.streaming.StreamingIntervalJoin.join(views, clicks)
        .select($"c_user".as("userId"), $"view_id", $"click_id")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .start()
    }
    // run 1: kill after at least one committed batch, before the backlog
    // is drained — whatever the exact kill point, recovery must converge
    val q1 = start()
    val deadline = System.currentTimeMillis + 30000
    while (q1.recentProgress.length < 1 && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    q1.stop()
    // backlog lands while nothing is running
    sliceC.toDF(cols: _*).coalesce(1).write.mode("append").parquet(srcDir)
    // run 2: fresh query, same checkpoint — offsets AND join state resume
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch oracle: the same theta join over the union of all slices
    val all = (sliceA ++ sliceB ++ sliceC).toDF(cols: _*)
    val expected = IntervalJoinReference.join(
        all.filter($"event_type" === "view")
          .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts")),
        all.filter($"event_type" === "click")
          .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts")))
      .select($"c_user", $"view_id", $"click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === expected)
    // the pairs that REQUIRE recovered state (view buffered pre-kill,
    // click arriving post-restart) are present
    assert(out.contains((1L, 100L, 201L)) && out.contains((3L, 102L, 203L)))
    // exactly-once across the restart: no pair emitted twice
    assert(spark.read.parquet(outDir).count() === expected.size.toLong)
  }

  test("a symmetric-join checkpoint restarted under the keyed interval join fails with a state error, never resumes with empty buffers") {
    import java.sql.Timestamp
    val base = tempDir("graft_ij_ckpt_compat")
    val srcDir = s"$base/src"
    def t(min: Int) = Timestamp.valueOf(f"2024-03-01 10:$min%02d:00")
    val cols = Seq("user_id", "event_id", "event_type", "ts")
    Seq((1L, 100L, "view", t(0)), (2L, 200L, "click", t(20))).toDF(cols: _*)
      .coalesce(1).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def run(join: (DataFrame, DataFrame) => DataFrame): Unit = {
      val (views, clicks) = ijLegs(spark.readStream.schema(schema).parquet(srcDir))
      val q = join(views, clicks).select($"c_user", $"view_id", $"click_id")
        .writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // the q66 shape under the relational form, which buffers view 100
    run(IntervalJoinReference.join)
    // a click that joins view 100 only if its buffered state came back
    Seq((1L, 201L, "click", t(30))).toDF(cols: _*).coalesce(1).write.mode("append")
      .parquet(srcDir)
    // Spark's operator-metadata check refuses the changed stateful operator
    // at the restart's first batch
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(graft.streaming.StreamingIntervalJoin.join))
    assert(e.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"),
      e.getMessage)
    assert(spark.streams.active.isEmpty)
    // the refused batch landed nothing (the first run had no pair to write)
    assert(spark.read.parquet(s"$base/out").count() === 0L)
  }

  test("q36 hot-key windows stopped at a batch boundary resume from checkpoint: the idempotent parquet sink equals the uninterrupted run, no window key twice") {
    import java.sql.Timestamp
    val base = tempDir("graft_q36_restart")
    // one file of clicks keyed by news id per day; each day's rows close
    // the day before it (1-day windows, 1 h watermark), day 4 stays open
    def day(d: Int) = (0 until 48).map(i =>
      ((i * 7 + d) % 5L, Timestamp.valueOf(f"2024-01-$d%02d ${i / 2}%02d:${i % 2 * 30}%02d:00")))
      .toDF("newsId", "ts").coalesce(1)
    def land(src: String, days: Range): Unit =
      days.foreach(d => day(d).write.mode("append").parquet(src))
    val schema = day(1).schema
    // the click_stream q36 shape: HotKeyDetector.windowCounts, append mode,
    // ForeachBatchSink.idempotentParquet, one file per micro-batch
    def start(src: String, run: String) =
      graft.streaming.HotKeyDetector.windowCounts(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src),
          "newsId", "ts", "1 day", "1 hour")
        .writeStream.outputMode("append")
        .foreachBatch(graft.streaming.ForeachBatchSink.idempotentParquet(s"$run/sink") _)
        .option("checkpointLocation", s"$run/ckpt")
        .start()
    def drain(src: String, run: String): Unit = {
      val q = start(src, run)
      try q.processAllAvailable() finally q.stop()
    }
    def sink(run: String) = spark.read.parquet(s"$run/sink")
      .select($"w_start", $"key", $"n").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSeq.sorted

    land(s"$base/src_once", 1 to 4)
    drain(s"$base/src_once", s"$base/once")

    // run 1 drains two days and stops between batches; the last batch's
    // commit-log entry is then dropped, as a kill between the sink write and
    // the commit leaves it, so run 2 replays that batch id before the rest
    land(s"$base/src", 1 to 2)
    drain(s"$base/src", s"$base/restart")
    val commits = new java.io.File(s"$base/restart/ckpt/commits")
    val last = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(commits, n).delete())
    land(s"$base/src", 3 to 4)
    drain(s"$base/src", s"$base/restart")

    val once = sink(s"$base/once")
    assert(once.map(_._1.take(10)).distinct === Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    assert(once.map(_._3).sum === 3L * 48)
    assert(sink(s"$base/restart") === once)
    // exactly once: no (window, key) landed in two batches
    val keys = spark.read.parquet(s"$base/restart/sink").select($"w_start", $"key")
    assert(keys.count() === keys.distinct().count())
  }

  test("flatMapGroupsWithState cumulative counts carry state across day-aligned batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.io.Tables.clicks(spark, sf)
      .select($"userId", $"date").as[(Long, java.sql.Date)].collect()
    val days = rows.map(_._2.getTime).distinct.sorted
    val cut = days(days.length / 2) // batch 2 starts a fresh day

    val stream = MemoryStream[(Long, java.sql.Date)]
    val q = graft.streaming.StreamingClickCume.cumulative(stream.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_cume_test").start()
    try {
      stream.addData(rows.filter(_._2.getTime <= cut).toSeq)
      q.processAllAvailable()
      stream.addData(rows.filter(_._2.getTime > cut).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_cume_test").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) -> (r.getLong(2), r.getLong(3))).toMap
    // independently computed expectation: per-user day counts + running sum
    val expected = rows.groupBy(_._1).flatMap { case (u, rs) =>
      val perDay = rs.groupBy(_._2.toString).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      var cum = 0L
      perDay.map { case (d, n) => cum += n; (u, d) -> (n, cum) }
    }.toMap
    assert(streamed === expected)
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join over multiple in-order batches equals the batch theta join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.io.Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
    val viewRows = ev.filter(_._4 == "view").map(e => (e._1, e._2, e._3)).sortBy(_._3.getTime)
    val clickRows = ev.filter(_._4 == "click").map(e => (e._1, e._2, e._3)).sortBy(_._3.getTime)

    val vStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val views = vStream.toDF().toDF("v_user", "view_id", "v_ts")
      .withWatermark("v_ts", "2 hours")
    val clicks = cStream.toDF().toDF("c_user", "click_id", "c_ts")
      .withWatermark("c_ts", "2 hours")
    val q = graft.streaming.StreamingIntervalJoin.join(views, clicks)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ij_test").start()
    try {
      // event-time-ordered halves: watermarks only advance, so no row is late
      // and the inner join must emit exactly the batch result
      val cut = viewRows(viewRows.length / 2)._3.getTime
      vStream.addData(viewRows.filter(_._3.getTime <= cut).toSeq)
      cStream.addData(clickRows.filter(_._3.getTime <= cut).toSeq)
      q.processAllAvailable()
      vStream.addData(viewRows.filter(_._3.getTime > cut).toSeq)
      cStream.addData(clickRows.filter(_._3.getTime > cut).toSeq)
      q.processAllAvailable()
    } finally q.stop()

    // joined columns: (c_user, click_id, c_ts, v_user, view_id, v_ts)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(4))
    val streamed = spark.table("stream_ij_test").collect().map(key).sorted.toSeq
    val batch = IntervalJoinReference.join(
        viewRows.toSeq.toDF("v_user", "view_id", "v_ts"),
        clickRows.toSeq.toDF("c_user", "click_id", "c_ts"))
      .collect().map(key).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  /** Events (user_id, event_id, event_type, ts) as the interval join's two
    * legs, 2 h watermarks. Rows after `until` only move the watermark: they
    * are dropped above the watermark node (a filter on the event-time
    * column is not pushed below it) and never reach the join.
    */
  private def ijLegs(events: DataFrame, until: Option[java.sql.Timestamp] = None)
      : (DataFrame, DataFrame) = {
    def leg(kind: String, p: String, id: String) = {
      val l = events.filter($"event_type" === kind)
        .select($"user_id".as(s"${p}_user"), $"event_id".as(id), $"ts".as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "2 hours")
      until.fold(l)(u => l.filter(col(s"${p}_ts") <= lit(u)))
    }
    (leg("view", "v", "view_id"), leg("click", "c", "click_id"))
  }

  private type Ev = (Long, Long, String, java.sql.Timestamp)
  private val ijT0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime * 1000L
  private val ijMin = 60L * 1000000L
  private def ijAt(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  private def ijView(u: Long, id: Long, us: Long): Ev = (u, id, "view", ijAt(ijT0 + us))
  private def ijClick(u: Long, id: Long, us: Long): Ev = (u, id, "click", ijAt(ijT0 + us))

  /** Feeds `batches` one micro-batch each through `join` over its own
    * MemoryStream into a memory sink; returns the sink's rows as
    * (c_user, click_id, c_ts µs, v_user, view_id, v_ts µs), sorted, and the
    * query's progress. After batch i is processed, `after(q, i)` runs.
    */
  private def ijRun(name: String, batches: Seq[Seq[Ev]],
                    join: (DataFrame, DataFrame) => DataFrame,
                    after: (org.apache.spark.sql.streaming.StreamingQuery, Int) => Unit =
                      (_, _) => (),
                    until: Option[java.sql.Timestamp] = None)
      : (Seq[(Long, Long, Long, Long, Long, Long)],
         Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    val (views, clicks) =
      ijLegs(stream.toDF().toDF("user_id", "event_id", "event_type", "ts"), until)
    val q = join(views, clicks)
      .select($"c_user", $"click_id", unix_micros($"c_ts"), $"v_user", $"view_id",
        unix_micros($"v_ts"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      stream.addData(b)
      q.processAllAvailable()
      after(q, i)
    } finally q.stop()
    val rows = spark.table(name).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    (rows.toSeq.sorted, q.recentProgress.toSeq)
  }

  /** State rows after the last micro-batch `q` ran at watermark `wmUs`. A
    * data batch's eviction runs in the no-data batch after it, which
    * `processAllAvailable` waits for.
    */
  private def ijStateRowsAt(q: org.apache.spark.sql.streaming.StreamingQuery, wmUs: Long): Long = {
    val at = q.recentProgress.filter(p => Option(p.eventTime.get("watermark"))
      .exists(w => java.time.Instant.parse(w).toEpochMilli * 1000L == wmUs))
    assert(at.nonEmpty, s"no micro-batch ran at watermark ${ijAt(wmUs)}")
    at.last.stateOperators.head.numRowsTotal
  }

  test("keyed interval join equals Spark's symmetric hash join on multi-batch input: closed 0 and 1 h bounds, users across batches, late rows dropped") {
    val h = 60 * ijMin
    val batches = Seq(
      // gap 0 (1/20 on view 10), exactly 1 h (2/21), 1 h + 1 µs (3/22:
      // no pair), exactly 1 h at µs offsets (6/27); user 1 holds three
      // views, user 4's view waits for a click in the next batch
      Seq(ijView(1, 10, 0), ijView(1, 11, 10 * ijMin), ijView(1, 12, 20 * ijMin),
        ijClick(1, 20, 0), ijView(2, 13, 5 * ijMin), ijClick(2, 21, 65 * ijMin),
        ijView(3, 14, 10 * ijMin), ijClick(3, 22, 70 * ijMin + 1),
        ijView(4, 15, 30 * ijMin), ijView(6, 18, 7), ijClick(6, 27, h + 7)),
      // buffered views meet new clicks: 4/23 at exactly 1 h, 1/24 on all
      // three of user 1's views; user 8's click 40 expires before view 30
      Seq(ijClick(4, 23, 90 * ijMin), ijClick(1, 24, 25 * ijMin), ijView(9, 16, 6 * h),
        ijView(8, 30, 3 * h + 30 * ijMin), ijClick(8, 40, 3 * h + 50 * ijMin)),
      // user 9's click joins its buffered view (9/26); with both legs past
      // 6 h the watermark (the smaller leg's) reaches 4 h, which times
      // user 8 out on click 40 while view 30 (3 h 30 min) must stay
      Seq(ijClick(9, 26, 6 * h + 30 * ijMin)),
      // late: user 5's pair at 1 h sits below that watermark on both
      // sides; user 7's pair is on time, and user 8's click 41 joins the
      // view buffered past the watermark
      Seq(ijView(5, 17, h), ijClick(5, 25, h + ijMin),
        ijView(7, 19, 6 * h + 40 * ijMin), ijClick(7, 28, 7 * h),
        ijClick(8, 41, 4 * h + 15 * ijMin)))
    val (keyed, keyedProgress) = ijRun("ij_keyed_diff", batches,
      graft.streaming.StreamingIntervalJoin.join)
    val (symmetric, symmetricProgress) = ijRun("ij_symmetric_diff", batches,
      IntervalJoinReference.join)
    assert(keyed === symmetric)
    assert(keyed.map(r => (r._2, r._5)).sorted === Seq((20L, 10L), (21L, 13L), (23L, 15L),
      (24L, 10L), (24L, 11L), (24L, 12L), (26L, 16L), (27L, 18L), (28L, 19L),
      (40L, 30L), (41L, 30L)))
    // µs-exact event times on the way out
    assert(keyed.find(_._2 == 27L).map(r => (r._3, r._6)) ===
      Some((ijT0 + h + 7, ijT0 + 7)))
    // the late pair would join in a batch join over the same rows
    val (bv, bc) = ijLegs(batches.flatten.toDF("user_id", "event_id", "event_type", "ts"))
    assert(IntervalJoinReference.join(bv, bc).filter($"click_id" === 25L).count() === 1L)
    // one state operator with one store per partition, against the
    // symmetric join's four
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toLong
    assert(keyedProgress.last.stateOperators.map(_.numStateStoreInstances).toSeq ===
      Seq(partitions))
    assert(symmetricProgress.last.stateOperators.map(_.numStateStoreInstances).sum ===
      4 * partitions)
  }

  test("keyed interval join state is bounded: a user's state row goes once the watermark passes their last click and last view + 1 h") {
    val h = 60 * ijMin
    val batches = Seq(
      // user 1's state expires at 1 h 20 min (view at 20 min + 1 h), user
      // 2's at 4 h
      Seq(ijView(1, 10, 20 * ijMin), ijClick(1, 20, 25 * ijMin),
        ijView(2, 11, 3 * h), ijClick(2, 21, 3 * h)),
      // watermark rows only (past 3 h), on both legs: the watermark is the
      // smaller leg's
      Seq(ijView(3, 12, 3 * h + 30 * ijMin), ijClick(3, 22, 3 * h + 30 * ijMin)),
      Seq(ijView(3, 13, 10 * h), ijClick(3, 23, 10 * h)))
    // watermark after each batch: 1 h, 1 h 30 min, 8 h
    val wms = Seq(h, h + 30 * ijMin, 8 * h).map(ijT0 + _)
    var stateRows = Seq.empty[Long]
    val (rows, _) = ijRun("ij_keyed_state", batches, graft.streaming.StreamingIntervalJoin.join,
      after = (q, i) => stateRows :+= ijStateRowsAt(q, wms(i)), until = Some(ijAt(ijT0 + 3 * h)))
    assert(rows.map(r => (r._2, r._5)) === Seq((20L, 10L), (21L, 11L)))
    assert(stateRows === Seq(2L, 1L, 0L))
    assert(spark.streams.active.isEmpty)
  }

  test("TWS timers: a user's timer firing mid-stream still merges to the full summary") {
    // The ADVICE r3 scenario: a batch split lets the watermark pass a
    // user's quiet deadline while MORE of their events are still coming —
    // the timer fires mid-stream, emitting a partial summary, then a
    // second one at the end. The post-sink merge must make the result
    // identical to the unsplit run.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val min = 60L * 1000
    graft.streaming.StreamingTws.withRocksDb(spark) {
      val stream = MemoryStream[(Long, Long)]
      val out = graft.streaming.StreamingTws.timerPipeline(
        spark, stream.toDF().toDF("userId", "tsMs"))
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("tws_split_test").start()
      try {
        // batch 1: user 7 at t=0; user 8 at t=600min drives the watermark
        // to 540min — past user 7's 30min-gap deadline, firing its timer
        stream.addData(Seq((7L, 0L), (8L, 600 * min)))
        q.processAllAvailable()
        // batch 2: user 7 returns at t=560min (ahead of the watermark, so
        // not late) — state restarts from empty after the expiry
        stream.addData(Seq((7L, 560 * min)))
        q.processAllAvailable()
        // sentinel advances the watermark past every live timer
        stream.addData(Seq((-1L, 100000 * min)))
        q.processAllAvailable()
      } finally q.stop()
      val sink = spark.table("tws_split_test")
      // the split DID fire user 7's timer twice (two partial summaries)...
      assert(sink.filter($"user_id" === 7L).count() === 2)
      // ...and the merge reassembles the full summary
      val merged = graft.streaming.StreamingTws.mergeTimerSink(sink)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(merged(7L) === ((2L, 0L, 560 * min)))
      assert(merged(8L) === ((1L, 600 * min, 600 * min)))
    }
  }

  test("q94: the benchmark gram set joins as a broadcast (corpus side never re-shuffles for it)") {
    val p = SparkEntry.queries("q94_decontam")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q96: the per-language rate table joins as a broadcast") {
    val p = SparkEntry.queries("q96_lang_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q104: decile boundaries never ride a global window/sort in the output plan") {
    // exactRanks resolves boundaries eagerly over single-bin slivers; the
    // returned plan must be a plain scan+agg — a Window or global Sort here
    // would mean the equi-depth path regressed to the single-partition form.
    val p = SparkEntry.queries("q104_equidepth")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"))
    assert(!p.contains("Sort "), s"unexpected global sort in:\n$p")
  }

  test("TWS timer lane killed mid-stream resumes from checkpoint: ValueState and registered timers survive a restart") {
    import graft.streaming.{StreamConf, StreamingTws}
    val base = tempDir("graft_tws_restart")
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    def ms(min: Int): Long =
      java.sql.Timestamp.valueOf(f"2024-03-01 10:$min%02d:00").getTime
    // pre-kill slices (two files, maxFilesPerTrigger=1 → a real mid-stream
    // kill point): ALL of user 1's events and user 2's first event
    Seq((1L, ms(0)), (1L, ms(5)), (2L, ms(2))).toDF("userId", "tsMs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq((1L, ms(20))).toDF("userId", "tsMs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    def start() = StreamingTws.withRocksDb(spark) {
      StreamConf.withStatePartitions(spark) {
        val raw = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        StreamingTws.timerPipeline(spark, raw).writeStream
          .outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .start()
      }
    }

    // run 1: kill after at least one committed batch — no timer has fired
    // yet (watermark stays 1h behind), so EVERY summary depends on state
    // surviving the restart
    val q1 = start()
    val deadline = System.currentTimeMillis + 30000
    while (q1.recentProgress.length < 1 && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    q1.stop()
    // post-restart backlog: user 2's second event, then a far-future
    // sentinel that advances the watermark past every registered timer
    Seq((2L, ms(40))).toDF("userId", "tsMs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq((-1L, ms(0) + 48L * 3600 * 1000)).toDF("userId", "tsMs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val merged = StreamingTws.mergeTimerSink(spark.read.parquet(outDir))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // user 1's events all arrived PRE-kill and its summary only fires
    // post-restart — it exists iff the ValueState AND the registered timer
    // were recovered from the checkpoint; user 2's count spans the kill
    assert(merged(1L) === ((3L, ms(0), ms(20))),
      s"user 1 summary must cover all pre-kill events, got $merged")
    assert(merged(2L) === ((2L, ms(2), ms(40))),
      s"user 2 state must span the restart, got $merged")
    assert(!merged.contains(-1L))
  }

  test("TWS ListState killed mid-stream resumes: post-restart rows carry recovered distinct-day and count state") {
    import graft.streaming.{StreamConf, StreamingTws}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoder, Encoders}
    val base = tempDir("graft_tws_list_restart")
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"
    // day ordinals split ACROSS the kill: users 1/2 act on days 10 and 11
    // pre-kill, then again on day 11 and newly on day 12 post-restart
    Seq((1L, 10, 1000L), (1L, 11, 2000L), (2L, 10, 1500L)).toDF("userId", "dayOrd", "tsUs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq((2L, 11, 2500L)).toDF("userId", "dayOrd", "tsUs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val outDir = s"$base/out"

    // update-mode memory sinks cannot recover from a checkpoint, so the
    // restartable sink is foreachBatch → parquet append: running totals
    // are monotone per user, so max-per-user over ALL emitted rows (even a
    // replayed uncommitted batch) is the final state
    def start() = StreamingTws.withRocksDb(spark) {
      StreamConf.withStatePartitions(spark) {
        import spark.implicits._
        val evs = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
          .as[StreamingTws.Ev]
        implicit val outEnc: Encoder[StreamingTws.UserActivity] =
          Encoders.product[StreamingTws.UserActivity]
        evs.groupByKey(_.userId)
          .transformWithState(new StreamingTws.ActivityProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF().writeStream.outputMode(OutputMode.Update)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", ckpt)
          .start()
      }
    }

    val q1 = start()
    val deadline = System.currentTimeMillis + 30000
    while (q1.recentProgress.length < 1 && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    q1.stop()
    // post-restart: one more event for EACH user (day 11 repeats for user
    // 1 — must NOT re-count; day 12 is new for user 2)
    Seq((1L, 11, 3000L), (2L, 12, 3500L)).toDF("userId", "dayOrd", "tsUs")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // each user's max row carries running totals that are correct only if
    // the ValueState count AND the ListState day set were recovered
    val finalRows = spark.read.parquet(outDir)
      .groupBy($"userId").agg(max($"n_events").as("n"), max($"n_active_days").as("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(finalRows(1L) === ((3L, 2)),
      s"user 1: 3 events over days {10,11} (day 11 repeat must not re-count), got $finalRows")
    assert(finalRows(2L) === ((3L, 3)),
      s"user 2: 3 events over days {10,11,12}, got $finalRows")
  }

  test("TWS MapState killed mid-stream resumes: post-restart rows carry recovered per-type counts") {
    import graft.streaming.{StreamConf, StreamingTws}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoder, Encoders}
    val base = tempDir("graft_tws_map_restart")
    val srcDir = s"$base/src"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    // per-type counts split ACROSS the kill: user 1 clicks twice and views
    // once pre-kill; user 2 views once
    Seq((1L, "click"), (1L, "click"), (2L, "view")).toDF("userId", "eventType")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq((1L, "view")).toDF("userId", "eventType")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema

    // same restartable-sink shape as the ListState test: counts are
    // monotone per (user, type), so max over all emitted rows is final
    def start() = StreamingTws.withRocksDb(spark) {
      StreamConf.withStatePartitions(spark) {
        import spark.implicits._
        val evs = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
          .as[StreamingTws.TypedEv]
        implicit val outEnc: Encoder[StreamingTws.TypeCount] =
          Encoders.product[StreamingTws.TypeCount]
        evs.groupByKey(_.userId)
          .transformWithState(new StreamingTws.TypeCountProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF().writeStream.outputMode(OutputMode.Update)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.mode("append").parquet(outDir)
          }
          .option("checkpointLocation", ckpt)
          .start()
      }
    }

    val q1 = start()
    val deadline = System.currentTimeMillis + 30000
    while (q1.recentProgress.length < 1 && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    q1.stop()
    // post-restart: one more click per user — user 1's click total reaches
    // 3 only if the pre-kill MapState entry (2) was recovered, and its
    // emitted map walk must still carry the recovered "view" entry too
    Seq((1L, "click"), (2L, "click")).toDF("userId", "eventType")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val finalRows = spark.read.parquet(outDir)
      .groupBy($"user_id", $"event_type").agg(max($"n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(finalRows((1L, "click")) === 3L,
      s"user 1 clicks must span the restart (2 pre + 1 post), got $finalRows")
    assert(finalRows((1L, "view")) === 1L,
      s"user 1's view entry must survive in the recovered map, got $finalRows")
    assert(finalRows((2L, "view")) === 1L && finalRows((2L, "click")) === 1L,
      s"user 2 per-type counts must span the restart, got $finalRows")
  }

  test("salted outer join: row-identical to the unsalted join, hot and cold keys alike") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-05 10:$m%02d:00")
    // user 7 is "hot" (declared); user 8 cold; view 30 unmatched (null row);
    // view 13's click arrives outside the hour window
    val views = Seq(
      (7L, 10L, ts(0)), (7L, 11L, ts(5)), (7L, 13L, ts(10)),
      (8L, 20L, ts(0)), (7L, 30L, ts(30)))
      .toDF("v_user", "view_id", "v_ts")
    val lateTs = Timestamp.valueOf("2024-01-05 11:30:00")
    val clicks = Seq(
      (7L, 100L, ts(1)), (7L, 101L, ts(6)), (7L, 102L, ts(7)),
      (8L, 200L, ts(2)), (7L, 300L, lateTs))
      .toDF("c_user", "click_id", "c_ts")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("v_user"), col("view_id"), col("click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val plain = rows(graft.streaming.StreamingOuterJoin.join(views, clicks))
    val salted = rows(graft.streaming.StreamingOuterJoin
      .joinSalted(views, clicks, Seq(7L), 4))
    assert(salted === plain)
    // empty hot set (what the auto-salted lane runs when detection finds
    // nothing): degenerates to the unsalted join, same rows
    val unsalted = rows(graft.streaming.StreamingOuterJoin
      .joinSalted(views, clicks, Seq.empty, 4))
    assert(unsalted === plain)
    // the hot pair fan-out is real in this fixture (view 10/11 each match
    // multiple clicks) and the unmatched-view null row survives salting
    assert(plain.count(_._3 == -1L) >= 1)
    assert(plain.size > views.count())
  }

  test("hot-key detector: share+count hotness over closed windows; streaming detection finds the planted key") {
    import java.sql.Timestamp
    // batch side: the hotness predicate — per-window share AND absolute
    // floor, OR across windows
    def t(h: Int) = Timestamp.valueOf(f"2024-01-05 $h%02d:00:00")
    val ledger = Seq(
      (t(1), t(2), 7L, 300L), (t(1), t(2), 8L, 9700L),   // 7: 3% share, hot
      (t(2), t(3), 9L, 50L), (t(2), t(3), 10L, 950L),    // 9: 5% but < 100 rows
      (t(3), t(4), 11L, 2L), (t(3), t(4), 12L, 3L),      // tiny window, floor
      // EXACT threshold boundaries (VERDICT r12 task 5): both tests are
      // inclusive (>=) — a key AT share 1% and AT count 100 is hot...
      (t(4), t(5), 13L, 100L), (t(4), t(5), 14L, 9900L), // 13: =1%, =100 → hot
      // ...while one row of window total past the share boundary
      // (100/10001) excludes it even at the count floor exactly.
      (t(5), t(6), 15L, 100L), (t(5), t(6), 16L, 9901L)) // 15: just under 1%
      .toDF("w_start", "w_end", "key", "n")
    val hot = graft.streaming.HotKeyDetector.hotKeys(ledger, 0.01, 100L)
      .collect().map(_.getLong(0)).toSet
    assert(hot === Set(7L, 8L, 10L, 13L, 14L, 16L))

    // streaming side: planted 30%-share key in a 500-row hour, closed by a
    // far-future row; the final (open) window never reaches the ledger
    val dir = tempDir("graft_hotdet")
    val base = Timestamp.valueOf("2024-01-05 10:00:00").getTime
    val rows = (0 until 500).map { i =>
      val u = if (i % 10 < 3) 7L else 100L + i % 50
      (i.toLong, u, new Timestamp(base + (i % 3600) * 1000L))
    } :+ (9999L, -1L, new Timestamp(base + 48L * 3600 * 1000))
    rows.toDF("event_id", "user_id", "ts").write.parquet(s"$dir/ev")
    val schema = spark.read.parquet(s"$dir/ev").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/ev")
    val detected = graft.streaming.HotKeyDetector.detectBounded(
      stream, s"$dir/work")
    assert(detected === Seq(7L))
  }

  test("events schema probe: missing-path fallback is not memoized; a real footer is") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val dir = tempDir("graft_probe")
    val path = s"$dir/events.parquet"
    // Path absent: long fallback (a stream over it yields no rows)...
    val before = graft.streaming.StreamingHotTopics
      .eventsSchemaFor(spark, path, None)
    assert(before("ts").dataType === LongType)
    // ...and must NOT be sticky: once the real NTZ files appear, the next
    // probe reads the footer (ADVICE r6: memoize only real footers).
    Seq((1L, 7L, "click", "2024-01-05 10:00:00"))
      .toDF("user_id", "event_id", "event_type", "w")
      .withColumn("ts", to_timestamp_ntz(col("w"))).drop("w")
      .write.parquet(path)
    val after = graft.streaming.StreamingHotTopics
      .eventsSchemaFor(spark, path, None)
    assert(after("ts").dataType === TimestampNTZType)
    // Memoized now: deleting the files does not flip the cached footer type.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(path))
    val cached = graft.streaming.StreamingHotTopics
      .eventsSchemaFor(spark, path, None)
    assert(cached("ts").dataType === TimestampNTZType)
  }

  test("sentinel lanes (q183, q227, q204, q102, q207) equal their batch forms over one shared sentinel") {
    import graft.streaming.{StreamingAppendAgg, StreamingOuterJoin, StreamingTws}
    val ev = graft.io.Tables.events(spark, sf)
    val views = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
    def attribution(joined: org.apache.spark.sql.DataFrame, user: org.apache.spark.sql.Column) =
      joined.select(user.as("userId"), $"view_id", $"click_id",
        (unix_micros($"c_ts") - unix_micros($"v_ts")).as("gap_us"))
    val hourly = ev.groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n"))
    val lanes = Seq(
      ("q183", StreamingAppendAgg.dailyFinalizedClickCounts(spark, sf),
        ev.filter($"event_type" === "click").groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("n_clicks"), round(sum($"value"), 2).as("sum_value"))),
      ("q227", StreamingAppendAgg.dailyHourlyProfile(spark, sf),
        hourly.groupBy($"event_type", to_date($"h").as("day"))
          .agg(sum($"n").as("n_events"), count(lit(1)).as("n_active_hours"),
            max($"n").as("max_hourly"))),
      ("q204", StreamingTws.timerSummaries(spark, sf),
        ev.select($"user_id", expr("unix_micros(ts) DIV 1000").as("ms"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_events"), min($"ms").as("first_ms"),
            max($"ms").as("last_ms"))),
      ("q102", StreamingOuterJoin.viewFunnel(spark, sf),
        attribution(StreamingOuterJoin.join(views, clicks), $"v_user")),
      ("q207", StreamingOuterJoin.viewFunnelFull(spark, sf),
        attribution(views.join(clicks,
          expr("v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 1 hour"),
          "full_outer"), coalesce($"v_user", $"c_user"))))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    lanes.foreach { case (lane, streamed, batch) =>
      val want = rows(batch)
      assert(want.nonEmpty, lane)
      assert(rows(streamed) === want, lane)
    }
    // every lane above reads the one per-dataset sentinel stage
    val sentinelKeys = graft.runtime.Stage.buildLedger.keys
      .filter(k => k.contains("sentinel") && k.endsWith(sf)).toSet
    assert(sentinelKeys === Set(s"replay-sentinel:$sf"))
  }

  test("replay drain fails loudly: the batch error surfaces, no query stays active, partitions restored") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "7") // differs from the state-partition setting
    try {
      val stream = MemoryStream[Long]
      stream.addData(1L, 2L)
      val boom = udf { (x: Long) =>
        if (x > 0) throw new IllegalStateException("boom")
        x
      }
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        graft.streaming.Replay.drain(stream.toDF().select(boom($"value")), "append",
          "replay_fail_test", sf)
      }
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(key) === "7")
    } finally spark.conf.set(key, saved)
  }
}
