package graft.tools

import graft.Verify.{jsonString => jq}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}

/** sf1-scale plan pins for the rec family.
  *
  * Both round-7 sf1 regressions were invisible to the sf0.001 plan digests
  * and the sf0.1 bench: (1) a lineage cut that lost size stats flipped the
  * profile join broadcast→sort-merge (q23 143→1347 s), visible only in the
  * AQE-FINAL plan at sf1 sizes; (2) AQE coalesced the KB-sized profile
  * exchange feeding a high-fanout join to ONE partition, so the scoring
  * stage ran single-task (q21 ran 222 s serial) — visible only in runtime
  * task counts. This tool runs the rec lanes against a REAL sf1 directory
  * and pins both signals:
  *
  *  - the AQE-final physical plan must contain ≥1 BroadcastHashJoin and
  *    (for these lanes, whose only large join is the broadcast-side
  *    profile join) ZERO SortMergeJoins;
  *  - the widest stage of each lane must run ≥ [[MinMaxStageTasks]] tasks
  *    (the serial-collapse tripwire);
  *
  * and writes a normalized digest + the raw counts per lane to a JSON
  * artifact (bench/plans_sf1_r{N}.json, diffable with tools/plans_diff.py)
  * so either bug class diffs loudly in future rounds. Exit code 1 on any
  * violated pin.
  *
  *   sbt "runMain graft.tools.ScalePins /tmp/sf1 bench/plans_sf1_r8.json"
  */
object ScalePins {

  /** q23 is the exact all-days contract lane (output ∝ users × days ×
    * in-range news); the capped lanes are its documented scale posture.
    * All five must hold the broadcast + parallel-scoring shape.
    *
    * Each lane pins its EXPECTED SortMergeJoin count rather than an
    * absolute zero: q246's two SMJs are the `invertedCosineX` size-table
    * joins over the CAPPED pair frame — small-frame sorts (the lane runs
    * ~3.4 s at sf1, 4× faster than uncapped q22), and hint-forcing them to
    * broadcast would pin a choice that is only correct at small scale (the
    * size tables grow with user/news count; the q70/q98 reasoning in
    * [[PlanDigest]]). What must diff loudly is a CHANGE in the count —
    * the round-7 regression was 0→N on the profile join.
    *
    * r9 (VERDICT r8 task 2) extends the pin set beyond the rec family to
    * the other high-fanout shared-stage consumers — LSH bands → scored
    * pairs (q26/q70/q263/q268), cluster-bounded SemDeDup (q252), the
    * bigram model joins (q260/q267), and the rare-item candidate join
    * (q119). Tuple = (lane, minBhj, expectedSmj); expectedSmj = -1 means
    * record-only (first measurement round for a lane — baked to a hard pin
    * once adjudicated). The serial-collapse task floor applies to every
    * lane regardless.
    *
    * r9 LESSON (the sf10 tier's first run): raw whole-plan-text join
    * counts conflate the AQE-FINAL sections with the == Initial Plan ==
    * sections. The initial sections hold the STATIC planner's estimates,
    * which legitimately cross the broadcast threshold as data grows — at
    * sf10 every lane's initial sections showed SMJs that the FINAL
    * (executed) plan re-converted to broadcasts (q260's vocabulary-bounded
    * model joins being the clearest case: initial SMJ at sf10, executed
    * BHJ at every tier, because the post-aggregate runtime size is
    * corpus-independent). The counts that carry the r7 bug signal are the
    * FINAL-plan-only ones, so the pin is now on those (bhjF/smjF below);
    * whole-plan counts still ship in the artifact for continuity.
    *
    * r9 sf1 FINAL-plan baselines (measured this round): the residual SMJs
    * (q246=2, q26=2, q268=2, q252=1) are joins whose BOTH sides grow with
    * the corpus — sort-merge is the correct shape there at scale (the
    * q246 reasoning); what must diff loudly is a CHANGE: a lost broadcast
    * on a small side (the bhj floor, half the measured count for AQE
    * headroom) or a new corpus-sized sort where none was (the exact smj
    * pin).
    *
    * Baselines are PER-TIER facts: at sf10 several build sides (profile
    * tables, band tables) legitimately outgrow the broadcast threshold,
    * so enforcing sf1 constants against an sf10 run flags correct planner
    * adaptations (adjudicated lane by lane in SCALE.md round 9). Set
    * SPARK_GRAFT_PIN_RECORD=1 for a cross-tier run: join-shape deltas are
    * REPORTED but only the scale-invariant serial-collapse task floor
    * counts as a violation; same-tier reruns then diff the artifact
    * (plans_diff.py) against that tier's recorded baseline.
    */
  private val Lanes: Seq[(String, Int, Int)] = Seq(
    ("q21_rec_dot", 2, 0), ("q22_rec_cosine", 3, 0), ("q23_rec_lists", 4, 0),
    ("q245_rec_lists_capped", 2, 0), ("q246_rec_cosine_capped", 2, 2),
    ("q26_lsh_pairs", 6, 2), ("q70_dedup_clusters", 1, 0),
    ("q263_incremental_dedup", 1, 0), ("q268_split_leakage", 7, 2),
    ("q252_semantic_dedup", 0, 1), ("q260_bigram_lm", 1, 0),
    ("q267_ccnet_buckets", 10, 0), ("q119_user_set_sim", 0, 0),
    ("q269_lsh_recall_audit", 2, 0),
    // r9 release-audit lanes with corpus-proportional joins: gram
    // equi-joins (q271/q275), the signals doc_id join over the bigram
    // model joins (q276), the cluster + token-count join (q273).
    // sf1 measured bhjF/smjF = 2/0, 2/0, 2/0, 3/0 (fresh-data run,
    // violations=0); floors at half the measured bhj, zero smj.
    ("q271_dup_span_audit", 1, 0), ("q273_dedup_savings", 1, 0),
    ("q275_eval_contamination", 1, 0), ("q276_quality_signals", 1, 0))

  /** The serial-collapse bug ran the scoring stage with 1 task; a healthy
    * sf1 scoring stage runs ≥ cores (pinned repartition in Stage
    * .sharedStage). 8 leaves headroom for AQE coalescing the tail.
    */
  private val MinMaxStageTasks = 8

  private class StageTally extends SparkListener {
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      q.add(s.stageInfo.numTasks); ()
    }
    def reset(): Unit = q.clear()
    def counts: Seq[Int] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val outPath = if (args.length > 1) args(1) else "bench/plans_sf1.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.runtime.GraftScale.session(sfDir, cpus)
    val tally = new StageTally
    spark.sparkContext.addSparkListener(tally)

    // Lane exclusion for the stress tiers (e.g. q23's exact all-days lane
    // at sf10 is an ~80-minute single run whose join SHAPE is already
    // pinned at sf1 and whose serving posture — the capped lanes — stays
    // pinned at every tier): SPARK_GRAFT_PIN_EXCLUDE=q23_rec_lists.
    val excluded = sys.env.get("SPARK_GRAFT_PIN_EXCLUDE")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // Cross-tier mode (see the Lanes scaladoc): join-shape deltas against
    // the sf1 baselines are reported but not violations — only the
    // scale-invariant serial-collapse floor fails the run.
    val recordOnly = sys.env.get("SPARK_GRAFT_PIN_RECORD").contains("1")
    var violations = 0
    val entries = Lanes.filter(l => !excluded(l._1)).map {
      case (name, minBhj, expectedSmj) =>
      val fn = graft.SparkEntry.queries(name)
      tally.reset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // Execute the dataframe's OWN QueryExecution so the AQE-final plan is
      // introspectable afterwards (a .write would plan a separate command).
      df.queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously; drain before reading
      Thread.sleep(1500)
      val plan = df.queryExecution.executedPlan.toString()
      val canon = PlanDigest.normalize(plan, sfDir)
      val digest = PlanDigest.sha(canon)
      // The PIN counts only the AQE-FINAL sections — the == Initial Plan ==
      // sections hold static estimates whose broadcast decisions
      // legitimately drift with data size and are re-made at runtime (the
      // r9 sf10 lesson). Nested AdaptiveSparkPlan blocks (cached stages)
      // print their own Final/Initial pairs, so a line-level mode toggle
      // keeps exactly the executed sections. Whole-plan counts still ship
      // in the artifact for continuity with r8.
      val finalPlan = {
        var keep = true
        plan.linesIterator.filter { ln =>
          if (ln.contains("== Initial Plan ==")) { keep = false; false }
          else if (ln.contains("== Final Plan ==")) { keep = true; false }
          else keep
        }.mkString("\n")
      }
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      val bhjF = "BroadcastHashJoin".r.findAllIn(finalPlan).length
      val smjF = "SortMergeJoin".r.findAllIn(finalPlan).length
      val maxTasks = if (tally.counts.isEmpty) 0 else tally.counts.max
      val shapeBad = bhjF < minBhj || (expectedSmj >= 0 && smjF != expectedSmj)
      val floorBad = maxTasks < MinMaxStageTasks
      if (floorBad || (shapeBad && !recordOnly)) {
        violations += 1
        System.err.println(s"[scalepins] VIOLATION $name: bhjF=$bhjF " +
          s"smjF=$smjF maxStageTasks=$maxTasks (need bhjF>=$minBhj, " +
          s"smjF=$expectedSmj, maxTasks>=$MinMaxStageTasks)")
      } else if (shapeBad && recordOnly) {
        println(f"[scalepins] RECORDED $name: bhjF=$bhjF smjF=$smjF " +
          f"(sf1 baseline bhjF>=$minBhj smjF=$expectedSmj) " +
          f"maxStageTasks=$maxTasks ${sec}%.1f s")
      } else {
        println(f"[scalepins] OK $name: bhjF=$bhjF smjF=$smjF " +
          f"maxStageTasks=$maxTasks ${sec}%.1f s" +
          (if (expectedSmj < 0) "  [smj record-only]" else ""))
      }
      name -> (digest, canon, (bhj, smj, bhjF, smjF), maxTasks, sec)
    }
    val json = entries.map { case (n, (d, canon, (bhj, smj, bhjF, smjF), mt, sec)) =>
      s"${jq(n)}: {${jq("digest")}: ${jq(d)}, ${jq("bhj")}: $bhj, " +
        s"${jq("smj")}: $smj, ${jq("bhjF")}: $bhjF, ${jq("smjF")}: $smjF, " +
        s"${jq("maxStageTasks")}: $mt, " +
        f"${jq("sec")}: $sec%.2f, ${jq("plan")}: ${jq(canon)}}"
    }.mkString("{\n", ",\n", "\n}")
    Option(Paths.get(outPath).getParent).foreach(p => Files.createDirectories(p))
    Files.writeString(Paths.get(outPath), json)
    println(s"[scalepins] wrote ${entries.size} lanes to $outPath; " +
      s"violations=$violations")
    spark.stop()
    if (violations > 0) sys.exit(1)
  }
}
