package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Runs operations with a deadline each and keeps failures out of the
  * latency samples: an operation that throws or passes its deadline is
  * counted in `failures` and never timed. Every other wait of a run (warm-up,
  * generator, streaming commits) goes through [[Runner.await]], which fails
  * the whole run with the step named when its deadline passes.
  */
final class Runner(spark: SparkSession, trace: Option[Trace]) {
  val samples = mutable.ArrayBuffer[Double]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  private var nextOp = 0

  /** Id the next operation will get. */
  def nextId: Int = nextOp

  /** Runs `body` as one operation on its own thread, tagged with a job
    * group so its Spark jobs can be cancelled at the deadline. Returns
    * whether it succeeded. An untimed operation is counted and checked like
    * any other but gives no latency sample.
    */
  def op(name: String, deadlineSec: Double, timed: Boolean = true)(body: => Unit): Boolean = {
    val id = nextOp
    nextOp += 1
    attempted += 1
    val group = s"perfbench-op-$id"
    trace.foreach(_.opStart(id))
    val t0 = System.nanoTime()
    val outcome = Runner.onThread(s"op $name", deadlineSec) {
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      spark.sparkContext.setLocalProperty(Trace.OpProperty, id.toString)
      try body
      finally {
        spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
        spark.sparkContext.clearJobGroup()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    outcome match {
      case Right(_) =>
        if (timed) samples += secs
        trace.foreach(_.opEnd(id, ok = true))
        true
      case Left(why) =>
        spark.sparkContext.cancelJobGroup(group)
        failures += s"$name: $why"
        trace.foreach(_.opEnd(id, ok = false))
        false
    }
  }
}

object Runner {

  /** Runs `body` on a fresh daemon thread and waits at most `deadlineSec`.
    * Left(reason) when it throws or is still running at the deadline (the
    * thread is interrupted and abandoned).
    */
  def onThread[T](what: String, deadlineSec: Double)(body: => T): Either[String, T] = {
    @volatile var result: Option[Either[String, T]] = None
    val t = new Thread(() => {
      result = Some(try Right(body) catch {
        case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      })
    }, s"perfbench-$what")
    t.setDaemon(true)
    t.start()
    t.join((deadlineSec * 1000).toLong.max(1L))
    result.getOrElse {
      t.interrupt()
      Left(f"passed its $deadlineSec%.0f s deadline")
    }
  }

  /** A wait that must succeed for the run to mean anything: throws with the
    * step named when `body` fails or passes its deadline.
    */
  def await[T](step: String, deadlineSec: Double)(body: => T): T =
    onThread(step, deadlineSec)(body) match {
      case Right(v) => v
      case Left(why) => throw new RuntimeException(s"step '$step' $why")
    }

  /** Polls `cond` every 20 ms until it holds; throws with the step named
    * when it still does not after `deadlineSec`.
    */
  def waitUntil(step: String, deadlineSec: Double)(cond: => Boolean): Unit = {
    val end = System.nanoTime() + (deadlineSec * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > end)
        throw new RuntimeException(f"step '$step' passed its $deadlineSec%.0f s deadline")
      Thread.sleep(20)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
