package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's recorder: spans kept in memory around the calls into
  * each layer, plus the engine's own accounting from Spark's public listener
  * and progress APIs. Job records are tagged with the operation through a
  * local property set on the operation's thread; query-execution records
  * (planning time, join output rows) are attributed to the span whose
  * interval holds them.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  final case class Span(name: String, opId: Int, parent: Option[Int],
                        start: Long, var end: Long = -1L)
  final case class TaskRec(opId: Option[Int], launch: Long, finish: Long,
                           runMs: Long, cpuNs: Long, shuffleWrite: Long,
                           fetchWaitMs: Long, spill: Long, bytesRead: Long,
                           recordsRead: Long, span: Option[String])
  final case class QeRec(at: Long, planMs: Long, wordJoinRows: Long)

  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private val opWindows = mutable.Map[Int, (Long, Long)]()
  private val opGc = mutable.Map[Int, Long]()
  private val gcStart = mutable.Map[Int, Long]()
  private val opCounts = mutable.Map[Int, mutable.Map[String, Double]]()
  private var currentOp = -1

  // listener-bus side (single thread), read after the bus drains
  private val stageOp = mutable.Map[Int, (Option[Int], Option[String])]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val jobs = mutable.ArrayBuffer[(Option[Int], Int, Long)]() // (op, #stages, start ms)
  val qes = mutable.ArrayBuffer[QeRec]()
  val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  private def now: Long = System.currentTimeMillis()

  def opStart(id: Int): Unit = synchronized {
    currentOp = id
    opWindows(id) = (now, -1L)
    gcStart(id) = gcMillis
  }

  def opEnd(id: Int, ok: Boolean): Unit = synchronized {
    opWindows(id) = (opWindows(id)._1, now)
    opGc(id) = gcMillis - gcStart(id)
    if (!ok) opWindows.remove(id)
  }

  /** Times `body` as a span of the current operation; nested calls record
    * their parent. Jobs started inside are tagged with the span name.
    */
  def span[T](name: String)(body: => T): T = {
    val idx = synchronized {
      spans += Span(name, currentOp, open.headOption, now)
      open.push(spans.size - 1)
      spans.size - 1
    }
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, name)
    try body
    finally {
      sc.setLocalProperty(SpanProperty, outer)
      synchronized { spans(idx).end = now; open.pop() }
    }
  }

  /** Adds a count measured at a layer boundary to the current operation. */
  def count(name: String, v: Double): Unit = synchronized {
    val m = opCounts.getOrElseUpdate(currentOp, mutable.Map())
    m(name) = m.getOrElse(name, 0.0) + v
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val op = props.flatMap(p => Option(p.getProperty(OpProperty))).map(_.toInt)
        val sp = props.flatMap(p => Option(p.getProperty(SpanProperty)))
        e.stageIds.foreach(s => stageOp(s) = (op, sp))
        jobs += ((op, e.stageIds.size, e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val (op, sp) = stageOp.getOrElse(e.stageId, (None, None))
          tasks += TaskRec(op, e.taskInfo.launchTime, e.taskInfo.finishTime,
            m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, sp)
        }
      }
    })
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
      .register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = {
          val phases = qe.tracker.phases
          val planMs = phases.values.map(_.durationMs).sum
          val at = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
          qes.synchronized(qes += QeRec(at, planMs, wordJoinRows(qe.executedPlan)))
        }
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Blocks until the listener bus has delivered every job, task and
    * query-execution event posted so far: they share one queue, so the end
    * of a marked no-op job is a fence.
    */
  def drain(): Unit = {
    val fence = new java.util.concurrent.CountDownLatch(1)
    @volatile var fenceJob = -1
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(FenceProperty) != null)) fenceJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob) fence.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty(FenceProperty, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceProperty, null)
    Runner.await("trace listener drain", 30)(fence.await())
    sc.removeSparkListener(l)
  }

  /** The engine-side metrics of tasks `ts` and jobs `js` over [t0, t1]. */
  private def sparkMetrics(ts: Seq[TaskRec], js: Seq[(Option[Int], Int, Long)], planMs: Long,
                           t0: Long, t1: Long, gcMs: Long): Map[String, Double] = {
    val busy = covered(tasks.map(t => (t.launch, t.finish)).toSeq, t0, t1)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_._2).sum.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.plan_ms" -> planMs.toDouble,
      "spark.idle_ms" -> ((t1 - t0) - busy).toDouble,
      "spark.exec_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.exec_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> gcMs.toDouble)
  }

  private def qesIn(t0: Long, t1: Long): List[QeRec] =
    qes.synchronized(qes.filter(q => q.at >= t0 && q.at <= t1).toList)

  /** The spark.* metrics of everything that ran in [t0, t1], divided over
    * `ops` operations: for workloads whose operations are not Spark actions
    * of their own (streamed slices).
    */
  def window(t0: Long, t1: Long, gcMs: Long, ops: Int): Map[String, Double] = synchronized {
    sparkMetrics(tasks.filter(t => t.launch >= t0 && t.finish <= t1).toSeq,
        jobs.filter(j => j._3 >= t0 && j._3 <= t1).toSeq, qesIn(t0, t1).map(_.planMs).sum,
        t0, t1, gcMs)
      .map { case (k, v) => k -> v / ops }
  }

  private def spanAt(t: Long, name: String): Boolean =
    spans.exists(s => s.name == name && s.start <= t && t <= s.end)

  /** Layer metrics of every successful operation, by operation id. A layer
    * metric is present only when the operation ran the layer's span.
    */
  def perOp: Map[Int, Map[String, Double]] = synchronized {
    opWindows.toMap.map { case (id, (t0, t1)) =>
      val ts = tasks.filter(t => t.opId.contains(id)).toSeq
      val inWin = qesIn(t0, t1)
      val mySpans = spans.filter(_.opId == id)
      val ran = mySpans.map(_.name).toSet
      def self(name: String): Double = mySpans.filter(_.name == name).map { s =>
        val kids = spans.filter(k => k.parent.exists(p => spans(p) eq s))
        (s.end - s.start) - covered(kids.map(k => (k.start, k.end)).toSeq, s.start, s.end)
      }.sum.toDouble
      val ioTasks = ts.filter(_.span.contains("io.scan"))
      val io = if (!ran("io.scan")) Map.empty[String, Double] else Map(
        "io.scan_ms" -> self("io.scan"),
        "io.rows_read" -> ioTasks.map(_.recordsRead).sum.toDouble,
        "io.bytes_read" -> ioTasks.map(_.bytesRead).sum.toDouble)
      val sim = if (!ran("sim.score")) Map.empty[String, Double] else Map(
        "sim.pairs_joined" ->
          inWin.filter(q => spanAt(q.at, "sim.score")).map(_.wordJoinRows).sum.toDouble)
      id -> (sparkMetrics(ts, jobs.filter(_._1.contains(id)).toSeq, inWin.map(_.planMs).sum,
          t0, t1, opGc.getOrElse(id, 0L)) ++
        Map("trace.op_s" -> (t1 - t0) / 1e3) ++ io ++ sim ++
        SpanMetrics.collect { case (metric, span) if ran(span) => metric -> self(span) } ++
        opCounts.getOrElse(id, Map.empty))
    }
  }

  def spansJson: String = synchronized {
    spans.zipWithIndex.map { case (s, i) =>
      s"""{"id":$i,"name":"${s.name}","op":${s.opId},"parent":${s.parent.getOrElse("null")},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Trace {
  val OpProperty = "perfbench.op"
  val SpanProperty = "perfbench.span"
  val FenceProperty = "perfbench.fence"

  /** Layer metrics that are the self time of one named span. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "text.tfidf_ms" -> "text.tfidf", "text.textrank_ms" -> "text.textrank",
    "sim.score_ms" -> "sim.score",
    "pipelines.rank_ms" -> "pipelines.rank", "pipelines.hot_ms" -> "pipelines.hot",
    "pipelines.eval_ms" -> "pipelines.eval",
    "ext.minhash_ms" -> "ext.minhash", "ext.lsh_ms" -> "ext.lsh",
    "ext.jaccard_ms" -> "ext.jaccard", "ext.cc_ms" -> "ext.cc")

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Length of the union of `[a, b]` intervals clipped to `[lo, hi]`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Output rows of the executed joins keyed on a `word` column: the
    * inverted-index word join of the scoring stage.
    */
  def wordJoinRows(plan: SparkPlan): Long = {
    object H extends AdaptiveSparkPlanHelper
    H.collect(plan) {
      case j: HashJoin if j.leftKeys.exists(_.references.exists(_.name == "word")) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case j: SortMergeJoinExec if j.leftKeys.exists(_.references.exists(_.name == "word")) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }
}
