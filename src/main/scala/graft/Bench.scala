package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
object Bench {

  /** Times `run` k times and returns the per-sample seconds, or the error
    * of the first sample that throws. A throwing sample ends the lane and
    * discards the samples before it: its elapsed time measures how fast the
    * lane failed, not what it costs, so a failing lane must never reach a
    * median or the suite total.
    */
  private[graft] def sampleLane(k: Int)(run: () => Unit): Either[Throwable, Seq[Double]] =
    try Right((1 to k).map { _ =>
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    })
    catch { case e: Throwable => Left(e) }

  /** The final stdout line: MUST be the last output and MUST fit the
    * driver's 2000-char stdout tail, or BENCH_r*.json records
    * "parsed": null (rounds 7-9 all did). The full 278-lane medians map
    * is ~7 KB, so the line carries the failed lanes first, then the
    * SLOWEST lanes (the informative ones), up to a hard character budget,
    * and points at the full artifact for the rest. The header's counts
    * say how many of each exist.
    */
  private[graft] def summaryLine(total: Double, k: Int, sfName: String,
                                 outPath: String, medians: Seq[(String, Double)],
                                 failed: Seq[String], budget: Int = 1800): String = {
    val sb = new StringBuilder(
      s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},""" +
        s""""unit":"sec","k":$k,"stat":"median","sf":"$sfName",""" +
        s""""queries_total":${medians.size},"failed_total":${failed.size},""" +
        s""""artifact":"$outPath","failed":[""")
    // Entries are appended while the line stays `reserve` chars under the
    // budget; the slack covers the closing suffix (and, for the failed
    // list, the opening of the queries map).
    def appendWithin(entries: Iterator[String], reserve: Int): Int = {
      var shown = 0
      var done = false
      while (!done && entries.hasNext) {
        val e = entries.next()
        if (sb.length + e.length + reserve > budget) done = true
        else {
          if (shown > 0) sb.append(',')
          sb.append(e); shown += 1
        }
      }
      shown
    }
    appendWithin(failed.iterator.map(n => s"\"$n\""), 80)
    sb.append("""],"queries":{""")
    val shown = appendWithin(medians.sortBy(-_._2).iterator
      .map { case (n, v) => s"\"$n\":${math.rint(v * 1000) / 1000}" }, 40)
    sb.append(s"""},"queries_shown":$shown}""")
    sb.toString
  }

  /** Janino compiles so far in this JVM: generated classes that missed
    * Spark's codegen cache (sized in [[graft.runtime.GraftScale]]). A warm
    * lane that still compiles emits new source on every run, e.g. a literal
    * that changes between runs.
    */
  private[graft] def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.runtime.GraftScale.session(sfDir, cpus)
    // JVM/codegen/parquet-reader warmup so the first timed query doesn't
    // absorb one-time initialization (no query data is cached by this).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // optional comma-separated subset / exclusion for local profiling
    // (driver leaves both unset)
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val excluded = sys.env.get("SPARK_GRAFT_EXCLUDE")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val selected = (only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }).filter { case (n, _) => !excluded(n) }
    // Noise-robust protocol (SCALE.md "bench protocol"): run each query k
    // times (default 3) and report the MEDIAN — single-sample timings on
    // this box carry a measured ~27% geomean run-to-run spread, which is
    // wider than most real regressions. All samples ship in the artifact so
    // per-query variance is inspectable after the fact. k=1 (set
    // SPARK_GRAFT_BENCH_K=1) restores the old single-pass behavior.
    val k = sys.env.getOrElse("SPARK_GRAFT_BENCH_K", "3").toInt
    // Box-state warm-up (VERDICT r12 task 1): one untimed pass over every
    // selected lane before the k timed samples. The r12 driver bench
    // launched minutes after a 1.5 h verify JVM exited and recorded a
    // uniform ~7.5% smear over all 285 common lanes — page cache, JIT and
    // shared-stage builds all cold. Warming INSIDE Bench makes the
    // driver-visible medians independent of whatever ran on the box
    // before; it costs one extra pass of wall-clock, which the driver does
    // not time. SPARK_GRAFT_BENCH_WARMUP=0 restores the old behavior.
    // Between-lane cleanup (r13, re-tuned r14): the ContextCleaner only
    // learns an RDD / shuffle is dead when the JVM GC enqueues its weak
    // reference, so a GC must run REGULARLY for scoped caches and loop
    // checkpoints to be reclaimed — but a full System.gc() pause must
    // never land inside a timed sample (the r12 driver-bench smear and
    // r13's q220/q33 spikes were exactly that). r13 shipped a sweep keyed
    // on heap occupancy ALONE (used > max/2), and the driver's 32-core run
    // landed in the regime r13's own experiments had measured as bad: with
    // a 24 g heap the trigger rarely fired, the cleaner backlog grew for
    // minutes, and the eventual drain ran 6-16× slow bands through
    // untouched lanes (q256 1.1→4.5 s, q118 2.6→6.6 s — VERDICT r13 #1).
    // r14 keys the sweep on WALL-CLOCK since the last sweep as well
    // (ADVICE r13: heap occupancy says nothing about shuffle-file/cleaner
    // backlog), so backlogs stay ~cadence-sized and every pause lands
    // between lanes, outside every timed region. Cadence default 25 s —
    // the r13 measured-best pacing (12 g + 30 s GC cadence, 196.2 s)
    // minus slack so a long lane doesn't stretch the period.
    val sweepCadenceSec =
      sys.env.getOrElse("SPARK_GRAFT_SWEEP_SEC", "25").toDouble
    var lastSweep = System.nanoTime()
    var sweepCount = 0
    var sweepSecTotal = 0.0
    def sweepIfPressured(): Unit = {
      val rt = Runtime.getRuntime
      val pressured =
        rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 2 ||
          (System.nanoTime() - lastSweep) / 1e9 > sweepCadenceSec
      if (pressured) {
        val t0 = System.nanoTime()
        System.gc()
        sweepSecTotal += (System.nanoTime() - t0) / 1e9
        sweepCount += 1
        lastSweep = System.nanoTime()
      }
    }
    // noop sink: forces full evaluation of every output column (a count()
    // would let Catalyst prune projection-heavy work out of the measurement)
    def runLane(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)(): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    // A lane that throws — in warm-up or in any timed sample — is listed
    // under "failed" and kept out of the medians and the total; a failure
    // in warm-up skips its timed samples.
    val failed = mutable.LinkedHashSet[String]()
    def fail(phase: String, name: String, e: Throwable): Unit = {
      System.err.println(s"[bench] $phase $name: ${e.getMessage}")
      failed += name
    }
    // Per-lane warm-up seconds are recorded into the artifact: a lane whose
    // first pass builds a session-shared stage pays that build HERE, so the
    // suite's true cost stays inspectable next to the warm medians
    // (VERDICT r13 "what's wrong" #2).
    val warmupSecs = mutable.LinkedHashMap[String, Double]()
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0") {
      selected.foreach { case (name, fn) =>
        sweepIfPressured()
        sampleLane(1)(runLane(fn)) match {
          case Right(xs) => warmupSecs(name) = xs.head
          case Left(e) => fail("warmup", name, e)
        }
      }
    }
    // Per-lane JVM GC seconds over the k timed samples (all collectors):
    // distinguishes "this lane's plan got slower" from "a collection band
    // landed here" without re-running anything (VERDICT r13 task 2).
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    val gcSecs = mutable.LinkedHashMap[String, Double]()
    // Per-lane Janino compiles over the k timed samples (see
    // codegenCompiles).
    val compileCounts = mutable.LinkedHashMap[String, Long]()
    val results = selected.filter { case (n, _) => !failed.contains(n) }
      .flatMap { case (name, fn) =>
        sweepIfPressured()
        val (gc0, c0) = (gcMillis, codegenCompiles)
        val run = sampleLane(k)(runLane(fn))
        gcSecs(name) = (gcMillis - gc0) / 1e3
        compileCounts(name) = codegenCompiles - c0
        run match {
          case Right(samples) => Some(name -> samples)
          case Left(e) => fail("sample", name, e); None
        }
      }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val medians = results.map { case (n, xs) => n -> median(xs) }
    val qs = medians.map { case (k0, v) => s"\"" + k0 + "\":" + v }
      .mkString("{", ",", "}")
    val samplesJson = results.map { case (k0, xs) =>
      s"\"" + k0 + "\":" + xs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    def numMap(m: Iterable[(String, Double)]): String =
      m.map { case (k0, v) => s"\"" + k0 + "\":" + math.rint(v * 1000) / 1000 }
        .mkString("{", ",", "}")
    val total = if (medians.nonEmpty) medians.values.sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""k":$k,"stat":"median","samples":$samplesJson,"sf":"$sfDir",""" +
      s""""gc_sec":${numMap(gcSecs)},""" +
      s""""codegen_compiles":${compileCounts.map { case (k0, n) => s"\"$k0\":$n" }
        .mkString("{", ",", "}")},""" +
      s""""warmup_sec":${numMap(warmupSecs)},""" +
      s""""failed":${failed.map(n => s"\"$n\"").mkString("[", ",", "]")},""" +
      s""""stage_build_sec":${numMap(graft.runtime.Stage.buildLedger)},""" +
      s""""sweeps":{"count":$sweepCount,"sec":${math.rint(sweepSecTotal * 1000) / 1000}}}"""
    // Machine-readable full artifact: the driver's stdout tail keeps only
    // the LAST 2000 CHARS, which is what limits cross-round comparison —
    // persist ALL per-query samples here. Default path
    // bench/full_<sfname>.json (repo-relative, committed per round);
    // override with SPARK_GRAFT_BENCH_OUT.
    val sfName = new java.io.File(sfDir).getName
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench/full_$sfName.json")
    try {
      val f = new java.io.File(outPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.println(line) finally w.close()
    } catch { case e: Exception => System.err.println(s"[bench] artifact write failed: $e") }
    // Spark's own logging goes to stderr, so nothing follows this line on
    // stdout.
    println(summaryLine(total, k, sfName, outPath, medians.toSeq, failed.toSeq))
    spark.stop()
  }
}
