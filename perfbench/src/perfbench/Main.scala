package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run of one workload in this JVM: session, set-up and
  * warm-up, the timed phase, then a result file for `run.py`, which checks
  * the outputs against DuckDB and prints the metrics line.
  *
  * Usage: perfbench.Main key=value... with keys workload, data, out,
  * result, seconds, trace (0|1) and the workload's own keys (days, warm,
  * count; rate, jitter, warm, drains).
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val (data, out) = (args("data"), args("out"))
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    graft.runtime.GraftScale.configure(data)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$data/spark-local")
      .config("spark.sql.warehouse.dir", s"$data/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.install())
    val runner = new Runner(spark, trace)
    val res = new Result
    res.info("cores", cores)
    res.info("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    res.info("jdk", System.getProperty("java.version"))
    res.info("spark", spark.version)
    res.info("session_s", (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    try {
      workload match {
        case "daily_rec" => dailyRec(spark, args, runner, trace, res)
        case "click_stream" => clickStream(spark, args, runner, trace, res, seconds)
        case "faults" => faults(spark, runner, res)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      // heap left after full collections once the timed phase is over
      val rt = Runtime.getRuntime
      val used = (1 to 5).map { _ =>
        System.gc()
        Thread.sleep(100)
        (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      }
      res.num("retained_heap_mb", used.min)
      res.num("attempted", runner.attempted)
      res.list("samples", runner.samples.map(_.toString).toSeq)
      res.strList("failures", runner.failures.toSeq)
      res.num("jvm_start_ms", ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
      writeOracleSql(out)
      trace.foreach(t => Files.writeString(Paths.get(args("result")).resolveSibling("spans.json"),
        t.spansJson))
      Files.writeString(Paths.get(args("result")), res.json)
    } finally spark.stop()
  }

  /** Wall-clock epoch ms of the first timed operation; ends set-up. */
  private def timedStart(res: Result): Long = {
    val t = System.currentTimeMillis()
    res.num("first_op_ms", t.toDouble)
    t
  }

  private def timedEnd(res: Result, t0: Long): Unit =
    res.num("timed_s", (System.currentTimeMillis() - t0) / 1e3)

  /** Each layer metric's median over the operations that recorded it. */
  private def layers(res: Result, perOp: Iterable[Map[String, Double]]): Unit =
    perOp.flatMap(_.keys).toSeq.distinct.foreach { k =>
      res.num(s"layer:$k", Runner.median(perOp.flatMap(_.get(k)).toSeq))
    }

  private def dailyRec(spark: SparkSession, args: Map[String, String], runner: Runner,
                       trace: Option[Trace], res: Result): Unit = {
    val w = new DailyRec(spark, args("data"), args("out"), trace)
    val days = args("days").split(",").toSeq
    Runner.await("warm-up", 300) {
      args("warm").split(",").foreach { d => w.op(d); w.release() }
    }
    val done = mutable.ArrayBuffer[String]()
    val t0 = timedStart(res)
    // traced run: per day, the stage registry's and the storage's view of
    // the day, and the id of the operation that ran the traced-only layers
    val runtime = mutable.Map[Int, Map[String, Double]]()
    val tracedLayers = mutable.Map[Int, Int]()
    // a fixed number of days, so every run's median is taken over the same
    // positions in the JIT warm-up, however fast the machine is
    val count = args("count").toInt
    Iterator.continually(days).flatten.take(count).zipWithIndex.foreach { case (day, i) =>
      val id = runner.nextId
      val ledger0 = graft.runtime.Stage.buildLedger
      val ok = runner.op(s"day $day", 120)(w.op(day))
      if (ok) done += day
      trace.filter(_ => ok).foreach { t =>
        val built = graft.runtime.Stage.buildLedger.filter { case (k, secs) =>
          secs > ledger0.getOrElse(k, 0.0) }
        runtime(id) = Map(
          "runtime.shared_stages" -> built.size.toDouble,
          "runtime.shared_build_ms" ->
            built.map { case (k, secs) => secs - ledger0.getOrElse(k, 0.0) }.sum * 1e3,
          "runtime.cached_bytes" -> w.cachedBytes)
        // once a run, after the last day: the layers it traces cost about as
        // much as a day
        if (i == count - 1) {
          tracedLayers(id) = runner.nextId
          runner.op(s"traced layers $day", 120, timed = false)(w.tracedLayers(t))
        }
      }
      w.release()
    }
    timedEnd(res, t0)
    res.strList("done", done.toSeq)
    trace.foreach { t =>
      t.drain()
      val perOp = t.perOp
      // a day's metrics are its own operation's, plus the sim and ext
      // layers of the operation that ran them after it
      layers(res, runtime.keys.toSeq.sorted.flatMap(id => perOp.get(id).map { m =>
        m ++ runtime(id) ++ tracedLayers.get(id).flatMap(perOp.get).getOrElse(Map.empty)
          .filter { case (k, _) => k.startsWith("sim.") || k.startsWith("ext.") }
      }))
    }
  }

  private def clickStream(spark: SparkSession, args: Map[String, String], runner: Runner,
                          trace: Option[Trace], res: Result, seconds: Double): Unit = {
    val jitter = args("jitter").split(",").map(_.toDouble).toIndexedSeq
    val rate = args("rate").toDouble
    val Seq(cold, warmArrivals, warm) = args("warm").split(",").map(_.toInt).toSeq
    val w = new ClickStream(spark, args("data"), args("out"), rate, jitter)
    val cuts = args("drains").split(",").map(_.toInt).toSeq
    val arrivals = cuts.head - warm
    require(arrivals > 0 && cuts.last == w.nSlices, s"${w.nSlices} slices cannot cover the run")
    // warm-up, untimed: the first slices land one at a time, then a short
    // open-loop arrival and one backlog run the same paths as the timed phase
    w.land(0)
    w.start()
    (1 until cold).foreach { i => w.awaitCommitted("warm-up commit", i, 60); w.land(i) }
    w.awaitCommitted("warm-up commit", cold, 60)
    Runner.await("warm-up generator", 60)(w.arrive(cold, warmArrivals))
    w.awaitCommitted("warm-up commit", warmArrivals, 60)
    w.awaitIdle(30)
    (warmArrivals until warm).foreach(w.land)
    w.awaitCommitted("warm-up commit", warm, 60)
    val gc0 = Trace.gcMillis
    val t0 = timedStart(res)
    def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))
    span("streaming.arrival") {
      Runner.await("generator", seconds + 30)(w.arrive(warm, warm + arrivals))
      w.awaitCommitted("arrival commit", warm + arrivals, 60)
    }
    // drain: the rest lands as backlogs of about equal event counts, each
    // landed at once on idle queries and consumed before the next lands
    val drains = cuts.sliding(2).map { case Seq(from, until) =>
      w.awaitIdle(30)
      val start = System.currentTimeMillis()
      span("streaming.drain") {
        (from until until).foreach(w.land)
        w.awaitCommitted("drain commit", until, 120)
      }
      (from, until, start)
    }.toList
    val t1 = System.currentTimeMillis()
    timedEnd(res, t0)
    w.awaitReported(30)
    w.stop()
    val last = w.lastCommitted
    val arrival = warm until warm + arrivals
    val committedAt = w.committedAt
    val latency = arrival.map(i => (committedAt(i) - w.dueAt(i)) / 1e3)
    runner.attempted = w.nSlices - warm
    runner.samples ++= latency
    res.list("drains", drains.map { case (from, until, start) =>
      s"[$from,$until,${((from until until).map(committedAt).max - start) / 1e3}]" })
    last.foreach { case (n, b, wm) => res.str(s"sink:$n", s"$b|$wm") }
    trace.foreach { t =>
      t.drain()
      Runner.waitUntil("streaming listener drain", 30)(
        t.progress.synchronized(t.progress.size) >= w.progress.size)
      val batches = t.progress.synchronized(t.progress.toList).map(_.progress)
        .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= t0)
      val dataBatches = batches.filter(_.numInputRows > 0)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Runner.median(xs)
      val states = dataBatches.map(_.stateOperators.toSeq)
      val backlog = arrival.map(i => arrival.count(j => j <= i && committedAt(j) > w.landedAt(i)))
      val spark0 = t.window(t0, t1, Trace.gcMillis - gc0, w.nSlices - warm)
      layers(res, Seq(spark0 ++ Map(
        "streaming.batches" -> batches.size.toDouble,
        "streaming.batch_ms" -> med(dataBatches.map(dur(_, "triggerExecution"))),
        "streaming.add_batch_ms" -> med(dataBatches.map(dur(_, "addBatch"))),
        "streaming.plan_ms" -> med(dataBatches.map(dur(_, "queryPlanning"))),
        "streaming.wal_ms" ->
          med(dataBatches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
        "streaming.state_commit_ms" -> med(states.map(_.map(_.commitTimeMs.toDouble).sum)),
        "streaming.state_rows" -> med(states.map(_.map(_.numRowsTotal.toDouble).sum)),
        "streaming.state_bytes" -> med(states.map(_.map(_.memoryUsedBytes.toDouble).sum)),
        "streaming.backlog_slices" -> backlog.max.toDouble,
        "streaming.generator_late_ms" -> med(arrival.map(w.lateMs)),
        "trace.op_s" -> med(latency))))
    }
  }

  /** Failure accounting check: one passing, one throwing, one hanging Spark
    * job and one operation hanging outside Spark.
    */
  private def faults(spark: SparkSession, runner: Runner, res: Result): Unit = {
    val t0 = timedStart(res)
    runner.op("ok", 30)(spark.range(10).count())
    runner.op("throws", 30)(throw new IllegalStateException("injected"))
    runner.op("hangs in a job", 3) {
      spark.range(0, 4, 1, 4).foreach(_ => Thread.sleep(120000))
    }
    runner.op("hangs outside Spark", 1)(Thread.sleep(120000))
    runner.op("ok again", 30)(spark.range(10).count())
    timedEnd(res, t0)
  }

  private def writeOracleSql(out: String): Unit = {
    val names = Seq("q23_rec_lists", "q46_precision_rec", "q19_hot_topics", "q24_precision_hot",
      "q36_streaming_hot", "q66_interval_join")
    val sql = graft.SparkEntry.oracleSql
    new java.io.File(out).mkdirs()
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      names.map(n => s"${Result.q(n)}: ${Result.q(sql(n))}").mkString("{", ",\n", "}"))
  }
}

/** The run's result file: flat JSON of numbers, strings and lists. */
final class Result {
  private val fields = mutable.LinkedHashMap[String, String]()
  def num(k: String, v: Double): Unit =
    fields(k) = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(k: String, v: String): Unit = fields(k) = Result.q(v)
  def info(k: String, v: Any): Unit = v match {
    case d: Double => num(s"info:$k", d)
    case i: Int => num(s"info:$k", i.toDouble)
    case other => str(s"info:$k", other.toString)
  }
  def list(k: String, vs: Seq[String]): Unit = fields(k) = vs.mkString("[", ",", "]")
  def strList(k: String, vs: Seq[String]): Unit = list(k, vs.map(Result.q))
  def json: String = fields.map { case (k, v) => s"${Result.q(k)}: $v" }.mkString("{", ",\n", "}")
}

object Result {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
