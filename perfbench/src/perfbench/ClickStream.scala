package perfbench

import graft.streaming.{ForeachBatchSink, HotKeyDetector, StreamConf, StreamingHotTopics,
  StreamingIntervalJoin}
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `click_stream`: event-time-ordered slices of the event log land in a
  * watched directory and two streaming queries consume them: hot-topic day
  * windows (HotKeyDetector.windowCounts over clicks keyed by newsId) and
  * view-to-click attribution (StreamingIntervalJoin.join), both written
  * through ForeachBatchSink.idempotentParquet. One operation is one slice.
  *
  * The run has an open-loop arrival phase — a generator thread lands slice i
  * at its due time t0 + (i + jitter_i) / rate, whatever the queries are
  * doing — and a drain phase that lands a backlog at once and times its
  * consumption. A slice's latency runs from its due time to the commit of
  * the last micro-batch (over both queries and every source) that holds it.
  */
final class ClickStream(spark: SparkSession, data: String, out: String,
                        rate: Double, jitter: IndexedSeq[Double]) {

  private val staged = new File(s"$data/slices")
  private val landed = new File(s"$data/landed")
  private val slices = staged.listFiles().filter(_.getName.endsWith(".parquet"))
    .map(_.getName).sorted.toIndexedSeq
  val landedAt = mutable.Map[Int, Long]()
  val dueAt = mutable.Map[Int, Long]()
  val lateMs = mutable.Map[Int, Double]()
  private var queries = Seq.empty[(String, StreamingQuery)]

  def nSlices: Int = slices.size

  def land(i: Int): Unit = {
    val f = new File(landed, slices(i))
    Files.move(new File(staged, slices(i)).toPath, f.toPath, StandardCopyOption.ATOMIC_MOVE)
    f.setLastModified(System.currentTimeMillis())
    landedAt(i) = System.currentTimeMillis()
  }

  def start(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", StreamConf.statePartitions(spark).toString)
    def src = StreamingHotTopics.eventsStream(spark, landed.getPath, glob = None)
    val clicks = src.filter(col("event_type") === "click")
      .select((col("event_id") % 500).as("newsId"), col("ts"))
    val hot = HotKeyDetector.windowCounts(clicks, "newsId", "ts", "1 day", "1 hour")
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val viewClicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val attributed = StreamingIntervalJoin.join(views, viewClicks)
      .select(col("c_user").as("userId"), col("view_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
    queries = Seq("q36_streaming_hot" -> hot, "q66_interval_join" -> attributed).map {
      case (name, df) =>
        name -> df.writeStream.outputMode("append").queryName(name)
          .foreachBatch(ForeachBatchSink.idempotentParquet(s"$out/$name") _)
          .option("checkpointLocation", s"$data/ckpt/$name")
          .start()
    }
  }

  /** Micro-batch id holding each landed slice, per (query, source). A file
    * source logs each file under its own log offset; the query's offset log
    * records, per batch, the log offset each source had reached, so a file
    * belongs to the first batch whose offset covers its log entry.
    */
  private def batchOf: Seq[(Int, Map[Int, Long])] = {
    val entry = """"path":"[^"]*/(slice_\d+\.parquet)"[^}]*"batchId":(\d+)""".r
    val logOffset = """"logOffset":(\d+)""".r
    val index = slices.zipWithIndex.toMap
    def lines(f: File): Seq[String] = Files.readAllLines(f.toPath).asScala.toSeq
    def files(dir: File): Seq[File] =
      Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
    queries.zipWithIndex.flatMap { case ((name, _), qi) =>
      val ckpt = s"$data/ckpt/$name"
      val reached = files(new File(s"$ckpt/offsets"))
        .filter(_.getName.forall(_.isDigit))
        .map(f => f.getName.toLong -> lines(f).drop(2).map(l =>
          logOffset.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L)))
        .sortBy(_._1)
      files(new File(s"$ckpt/sources")).sortBy(_.getName).zipWithIndex.map { case (src, k) =>
        qi -> files(src).flatMap(lines).flatMap(l => entry.findFirstMatchIn(l)).flatMap { m =>
          val logged = m.group(2).toLong
          reached.find(_._2.lift(k).exists(_ >= logged)).map(b => index(m.group(1)) -> b._1)
        }.toMap
      }
    }
  }

  /** Highest committed batch id per query (-1 before the first commit). */
  private def committed: Seq[Long] = queries.map { case (name, _) =>
    Option(new File(s"$data/ckpt/$name/commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).foldLeft(-1L)(math.max)
  }

  /** Whether every query has committed every source's batch holding slice i. */
  def isCommitted(i: Int, maps: Seq[(Int, Map[Int, Long])], done: Seq[Long]): Boolean =
    maps.forall { case (qi, m) => m.get(i).exists(_ <= done(qi)) }

  def awaitCommitted(step: String, upTo: Int, deadlineSec: Double): Unit = {
    queries.foreach { case (n, q) =>
      q.exception.foreach(e => throw new RuntimeException(s"query $n failed", e)) }
    Runner.waitUntil(step, deadlineSec) {
      queries.foreach { case (n, q) =>
        q.exception.foreach(e => throw new RuntimeException(s"query $n failed", e)) }
      val maps = batchOf
      val done = committed
      maps.size == 3 && (0 until upTo).forall(i => isCommitted(i, maps, done))
    }
  }

  /** Waits until no query is running a micro-batch, so a backlog landed
    * next is timed from an idle engine rather than from whatever batch was
    * in flight.
    */
  def awaitIdle(deadlineSec: Double): Unit =
    Runner.waitUntil("idle queries", deadlineSec) {
      queries.forall { case (_, q) => !q.status.isTriggerActive && !q.status.isDataAvailable }
    }

  /** Open-loop arrival of slices [from, until) at `rate` per second from
    * now; records how late each slice landed, in ms with sub-ms digits.
    */
  def arrive(from: Int, until: Int): Unit = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    (from until until).foreach { i =>
      val dueNs = n0 + (((i - from) + jitter(i)) / rate * 1e9).toLong
      dueAt(i) = t0 + (dueNs - n0) / 1000000
      val wait = math.ceil((dueNs - System.nanoTime()) / 1e6).toLong
      if (wait > 0) Thread.sleep(wait)
      land(i)
      lateMs(i) = (System.nanoTime() - dueNs) / 1e6
    }
  }

  def progress: Seq[StreamingQueryProgress] = queries.flatMap(_._2.recentProgress)

  /** Commit time (epoch ms) of every batch, per query. */
  def commitTimes: Seq[Map[Long, Long]] = queries.map { case (_, q) =>
    q.recentProgress.map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).longValue)
    }.toMap
  }

  /** Epoch ms at which each slice was committed everywhere (call once the
    * queries have stopped).
    */
  def committedAt: Map[Int, Long] = {
    val maps = batchOf
    val times = commitTimes
    slices.indices.map(i => i -> maps.map { case (qi, m) => times(qi)(m(i)) }.max).toMap
  }

  /** Waits until every committed batch has reported its progress (the
    * progress of a batch is posted just after its commit).
    */
  def awaitReported(deadlineSec: Double): Unit = {
    val done = committed
    Runner.waitUntil("progress report", deadlineSec) {
      queries.zip(done).forall { case ((_, q), b) =>
        Option(q.lastProgress).exists(_.batchId >= b) }
    }
  }

  /** Last committed batch id and the event-time watermark (epoch ms) it
    * ran with, per query, from the checkpoint's commit and offset logs.
    */
  def lastCommitted: Seq[(String, Long, Long)] = queries.zip(committed).map { case ((n, _), b) =>
    val meta = Files.readAllLines(new File(s"$data/ckpt/$n/offsets/$b").toPath).get(1)
    val wm = """"batchWatermarkMs":(\d+)""".r.findFirstMatchIn(meta).map(_.group(1).toLong)
    (n, b, wm.getOrElse(0L))
  }

  def stop(): Unit = queries.foreach(_._2.stop())
}
