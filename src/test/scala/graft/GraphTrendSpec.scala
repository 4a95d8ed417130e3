package graft

import graft.ext.{Dedup, Graph}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for ext.Graph.pageRank and the q100 EWMA fold: mass
  * conservation, symmetry, hand-computed fixpoints.
  */
class GraphTrendSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("pageRank: 2-node cycle stays at the uniform fixpoint, mass sums to 1") {
    graft.runtime.Stage.newQueryScope()
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, 10, 0.85).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: star center outranks leaves; symmetric leaves tie exactly") {
    graft.runtime.Stage.newQueryScope()
    // undirected star 0-{1,2,3}, symmetrized
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, 10, 0.85).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(0L) > r(1L))
    assert(r(1L) == r(2L) && r(2L) == r(3L)) // identical float paths
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("reliable checkpoint path: pageRank and connectedComponents match the localCheckpoint results") {
    graft.runtime.Stage.newQueryScope()
    val ckDir = tempDir("graft_reliable_ck")
    val reliable = graft.runtime.Reroot.Reliable(ckDir)
    // deployment default: Local unless SPARK_GRAFT_CHECKPOINT_DIR is set
    assert(!sys.env.contains("SPARK_GRAFT_CHECKPOINT_DIR"))
    assert(graft.runtime.Reroot.fromEnv() === graft.runtime.Reroot.Local)
    try {
      // pageRank: bit-identical float path under either rerooting
      val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 0L))
      val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
      val local = Graph.pageRank(edges, 8, 0.85).collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      graft.runtime.Stage.newQueryScope()
      val rel = Graph.pageRank(edges, 8, 0.85, reroot = reliable).collect()
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      assert(rel === local)
      // the reliable run actually wrote RDD checkpoints into the directory,
      // AND the rolling wrapper deleted every superseded round: of the
      // 11 checkpoints the 8-iteration run creates (e, nodes, initial ranks,
      // 8 round ranks), only e + nodes (static, live all rounds) and the
      // FINAL ranks frame may remain on disk.
      def rddDirs(): Long = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      val afterPr = rddDirs()
      assert(afterPr > 0L, "Reroot.Reliable must materialize checkpoint dirs")
      assert(afterPr === 3L,
        s"rolling cleanup must leave only static + final checkpoints, found $afterPr")
      // connectedComponents: same labels under either rerooting
      graft.runtime.Stage.newQueryScope()
      val verts = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("_id")
      val ccEdges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
      val ccLocal = Dedup.connectedComponents(verts, ccEdges).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      graft.runtime.Stage.newQueryScope()
      val ccRel = Dedup.connectedComponents(verts, ccEdges, reroot = reliable)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(ccRel === ccLocal)
      assert(ccRel === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
      // CC adds exactly two surviving checkpoints (symmetrized edges + the
      // final label frame); every intermediate round was rolled away.
      assert(rddDirs() === afterPr + 2L,
        "CC rolling cleanup must leave only sym + final labels")
    } finally graft.runtime.Stage.newQueryScope()
  }

  test("personalizedPageRank: mass sums to 1, localizes around the seed, uniform seeds = pageRank") {
    graft.runtime.Stage.newQueryScope()
    // path graph 1-2-3-4, symmetrized; seed at node 1
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val r = Graph.personalizedPageRank(edges, seeds, 20, 0.85).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // teleport returns to node 1, so each node outranks its same-degree
    // mirror on the far side (degree confounds raw distance ordering: the
    // seed's deg-2 neighbor legitimately outranks the deg-1 seed itself)
    assert(r(1L) > r(4L)) // endpoints: seed vs far end
    assert(r(2L) > r(3L)) // middles: near vs far
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // seeding EVERY node uniformly recovers whole-graph pageRank exactly
    graft.runtime.Stage.newQueryScope()
    val allSeeds = Seq(1L, 2L, 3L, 4L).map(Tuple1(_)).toDF("id")
    val ppr = Graph.personalizedPageRank(edges, allSeeds, 10, 0.85).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    graft.runtime.Stage.newQueryScope()
    val pr = Graph.pageRank(edges, 10, 0.85).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ppr.keySet === pr.keySet)
    ppr.foreach { case (k, v) => assert(math.abs(v - pr(k)) < 1e-12) }
  }

  test("EWMA fold: seed-first left fold matches the hand recurrence") {
    // [1,2,3] with α=0.3: 1 → 1.3 → 1.81
    val got = Seq(Seq(1.0, 2.0, 3.0)).toDF("vals")
      .select(aggregate(
        slice(col("vals"), lit(2), size(col("vals")) - 1),
        element_at(col("vals"), 1),
        (acc, x) => lit(0.3) * x + lit(0.7) * acc).as("ewma"))
      .head().getDouble(0)
    assert(math.abs(got - 1.81) < 1e-12)
  }

  test("triangleCount: K3=1, K4=4, path graph=0, counted once under orientation") {
    graft.runtime.Stage.newQueryScope()
    def tri(e: Seq[(Long, Long)]) = Graph.triangleCount(e.toDF("a", "b"))
    assert(tri(Seq((1L, 2L), (1L, 3L), (2L, 3L))) === 1L)
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) === 4L)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === 0L)
    assert(tri(Seq.empty[(Long, Long)]) === 0L)
  }

  test("pageRank: empty edge set yields an empty rank table, no failure") {
    graft.runtime.Stage.newQueryScope()
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(empty, 3, 0.85).isEmpty)
  }

  test("exactRanks: rank beyond the row count fails loudly") {
    import graft.queries.CurationQueries
    val df = Seq(1.0, 2.0).toDF("p")
    intercept[IllegalArgumentException] {
      CurationQueries.exactRanks(df, Seq(3L))
    }
  }

  test("streaming left-outer interval join emits exactly one null row per unconverted view") {
    val out = SparkEntry.queries("q102_stream_outer_join")(spark, "/root/testdata/sf0.001")
      .cache()
    val views = out.select("view_id").distinct().count()
    val unmatched = out.filter(col("click_id").isNull)
    // unmatched views appear exactly once, with null gap
    assert(unmatched.groupBy("view_id").count().filter(col("count") > 1).isEmpty)
    assert(unmatched.filter(col("gap_us").isNotNull).isEmpty)
    // matched rows respect the interval bound
    assert(out.filter(col("gap_us") < 0 || col("gap_us") > 3600L * 1000000L).isEmpty)
    // every view in the source shows up (outer semantics lose nothing)
    val srcViews = graft.io.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "view").count()
    assert(views === srcViews)
    out.unpersist()
  }

  test("Reroot under block loss: Local fails loudly, Reliable recomputes from disk (VERDICT r10 task 5)") {
    // Simulated executor loss: drop the persisted blocks THIS TEST
    // creates — localCheckpoint blocks live only in the block manager
    // with truncated lineage, which is exactly what an executor loss
    // forfeits. The sweep is scoped to RDD ids registered after the test
    // starts: a blanket unpersist would also evict other suites' cached
    // frames, and any of those riding a localCheckpoint cannot rebuild
    // (the same lost-block failure this test asserts), which made suite
    // order matter in the shared forked JVM (ADVICE r11).
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    def dropTestBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => preexisting(id) }
        .values.foreach(_.unpersist(blocking = true))
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq

    graft.runtime.Stage.newQueryScope()
    val verts = (1L to 6L).toDF("_id")
    val ccEdges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L)

    val local = Dedup.connectedComponents(verts, ccEdges)
    assert(local.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    dropTestBlocks()
    // Local contract: lost blocks are unrecoverable — the read must FAIL
    // (partially recomputed labels would be silently wrong), never
    // silently recompute from a lineage that no longer exists.
    val err = intercept[Exception] { local.count() }
    assert(causes(err).exists(_.toLowerCase.contains("checkpoint block")),
      s"expected a lost-checkpoint-block failure, got: ${causes(err).mkString(" | ")}")

    graft.runtime.Stage.newQueryScope()
    val rel = Dedup.connectedComponents(verts, ccEdges,
      reroot = graft.runtime.Reroot.Reliable(tempDir("graft_ck_loss")))
    assert(rel.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
    dropTestBlocks()
    // Reliable contract: the same loss recomputes from the checkpoint
    // FILES and returns the identical labels.
    assert(rel.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === expected)
  }
}
