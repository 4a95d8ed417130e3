package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins: decorrelation, broadcast choices, per-side norms and
  * the shared-stage cuts' partitioning and statistics.
  */
class PlansSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("q224 LATERAL top-k decorrelates: ranked join, never a per-row nested loop") {
    graft.runtime.Stage.newQueryScope()
    val p = SparkEntry.queries("q224_lateral_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // Catalyst rewrites the correlated ORDER BY/LIMIT subquery into a
    // window ranking + equi-join; a LocalLimit per row or a cartesian
    // product here would mean decorrelation failed.
    assert(p.contains("Window"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q229 vocab join broadcasts: the corpus token scan never re-shuffles for the vocab") {
    graft.runtime.Stage.newQueryScope()
    val p = SparkEntry.queries("q229_vocab_oov")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q242 per-side norms are computed below the join, once per row, never per pair") {
    import org.apache.spark.sql.catalyst.expressions.Sqrt
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    graft.runtime.Stage.newQueryScope()
    val plan = SparkEntry.queries("q242_hard_negatives")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    def hasSqrt(p: LogicalPlan): Boolean =
      p.expressions.exists(_.find(_.isInstanceOf[Sqrt]).isDefined)
    val join = plan.collectFirst { case j: Join => j }.get
    // the O(dim) sqrt-norm must appear in each side's projection UNDER the
    // theta-join — otherwise every candidate row pays it once per query row
    assert(join.children.forall(_.collect {
      case p: LogicalPlan if hasSqrt(p) => p
    }.nonEmpty), "each join side must compute its own norm below the join")
    // and NOTHING above the join recomputes a norm: the cosine projection
    // references only the precomputed _qn/_cn columns
    // pre-order prefix up to the join = the node chain above it (the plan
    // is linear between root and the single join)
    val aboveJoin = plan.collect { case p => p }.takeWhile(_ ne join)
    assert(!aboveJoin.exists(hasSqrt),
      "no sqrt may run above the join (per-pair recomputation)")
  }

  test("sharedStage pins partition count and key against AQE coalescing") {
    // THE q21/q22 sf1 serial-collapse pin: a shared stage that feeds a
    // high-fanout join must carry its parallelism ITSELF — AQE sizes
    // stages by input exchanges (blind to join fan-out) and coalesced the
    // KB-sized profile stream to one partition, running the 143M-row word
    // join + pair aggregation in a single 222 s task. The fix caches the
    // cut stage behind an explicit-N repartition on the scoring key: an
    // InMemoryRelation's partitioning can neither be elided by the planner
    // nor rewritten by AQE.
    val prof = (1L to 500L).flatMap(u => (1 to 8).map(w => (u, s"w${(u + w) % 50}", 0.5)))
      .toDF("userId", "word", "value")
    val staged = graft.runtime.Stage.sharedStage(prof, col("userId"))
    assert(staged.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions,
      "stage must hold exactly numShufflePartitions partitions")
    assert(staged.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
      "stage must be cached (partitioning pinned for every consumer)")
    assert(staged.count() === 4000)
    staged.unpersist()
  }

  test("sharedCut output keeps real size stats; joins above the cut broadcast") {
    // THE q23 sf1 regression pin: a checkpoint-backed cut (LogicalRDD)
    // reports defaultSizeInBytes — effectively infinite — so every join
    // above a shared stage degrades to SortMergeJoin (measured 143 s →
    // 1347 s at sf1 when the TF-IDF profile joins lost their broadcasts).
    // The parquet round-trip must (a) carry the true on-disk size and
    // (b) let a small cut stage auto-broadcast with NO explicit hint.
    val small = (1L to 100L).map(i => (i, s"w$i", i * 0.5))
      .toDF("id", "word", "value")
    val cut = graft.runtime.Stage.sharedCut(small)
    assert(cut.collect().length === 100, "round-trip preserves rows")
    val sz = cut.queryExecution.optimizedPlan.stats.sizeInBytes
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(sz > 0 && sz < default / 1024,
      s"cut stage must carry real stats, got $sz (default $default)")
    val big = (1L to 10000L).map(i => (i % 100 + 1, i)).toDF("id", "x")
    val joined = big.join(cut, "id")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"join above a small cut stage must broadcast, plan was:\n$phys")
    assert(!phys.contains("SortMergeJoin"),
      "no SortMergeJoin may appear above a megabyte-scale cut stage")
  }

  test("sharedCut reads its parquet back with the written schema: no schema-inference job") {
    val df = (1L to 100L).map(i => (i, s"w$i", java.sql.Timestamp.valueOf("2024-03-01 10:00:00")))
      .toDF("id", "word", "ts")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext, 30000L)
      jobs.set(0)
      body
      org.apache.spark.graft.TestBridge.waitForListenerBus(spark.sparkContext, 30000L)
      jobs.get
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val dir = tempDir("graft_cut_jobs")
      val writeJobs = jobsOf(df.write.mode("overwrite").parquet(dir))
      var cut: org.apache.spark.sql.DataFrame = null
      // the cut is the write alone: reading back starts no job
      assert(jobsOf { cut = graft.runtime.Stage.sharedCut(df) } === writeJobs)
      assert(cut.schema.map(f => (f.name, f.dataType)) === df.schema.map(f => (f.name, f.dataType)))
      assert(cut.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("sharedCut over a scoped input outlives the query scope and the scratch sweep") {
    // the persistShared INVARIANT: a cut built over a scopedPersist input
    // is self-contained data, so releasing the scope must not make its
    // reads re-run the scoped source
    val sourceRows = spark.sparkContext.longAccumulator("scoped_source_rows")
    val tracked = udf { (i: Long) => sourceRows.add(1); i * 2 }
    val scoped = graft.runtime.Stage.scopedPersist(
      spark.range(1, 51).toDF("id").withColumn("v", tracked(col("id"))))
    val cut = graft.runtime.Stage.sharedCut(scoped.filter(col("v") % 4 === 0))
    val built = sourceRows.value
    assert(built > 0)
    graft.runtime.Stage.newQueryScope()
    graft.runtime.Scratch.sweepForTest()
    assert(cut.orderBy("id").collect().map(_.getLong(0)).toSeq === (2L to 50L by 2))
    assert(sourceRows.value === built, "reading the cut re-ran the scoped source")
    // its files sit in this JVM's scratch, under the cut's own dir
    val files = cut.inputFiles
    assert(files.nonEmpty)
    val home = s"/graft_cut_${graft.runtime.Scratch.jvmTag}_n"
    assert(files.forall(_.contains(home)), files.mkString(", "))
  }
}
