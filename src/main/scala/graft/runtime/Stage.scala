package graft.runtime

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Cross-query materialized-stage registry.
  *
  * The reference pipelines are explicitly staged: keyword profiles are
  * written to files once and re-read by every later stage and loop day
  * (`DocumentModel.loadDocumentDataSet`, /root/reference/TF_IDF.java:109,127,
  * 156,176 — the E1a artifacts). This object is the Spark-native equivalent:
  * a deterministic shared stage (TF-IDF profiles, minhash signatures,
  * shingle sets, streaming count tables) is built and persisted once per
  * (session, dataset) and reused by every query that consumes it, instead of
  * re-deriving the identical DataFrame per query. The first consumer pays
  * the materialization cost.
  *
  * Two lifetimes:
  *  - `shared`: session-lifetime memoization for stage outputs reused
  *    across queries (small, profile-sized tables). Keyed by
  *    `spark.sessionUUID` (stable and unique per session — identity hashes
  *    can collide or be reused after GC) and evicted when the session's
  *    application ends, so long-lived JVMs don't accumulate entries bound
  *    to dead SparkContexts.
  *  - `scopedPersist`: caches private to one query (self-join inputs,
  *    multi-branch intermediates). Registered here and released when the
  *    next query begins — without this, a 50-query run accumulates every
  *    query's intermediates in the block manager and spends its time in GC
  *    and eviction instead of work.
  *
  * Files: the [[sharedCut]] parquet lives in a [[Scratch]] directory; where
  * scratch goes and when it is reclaimed is decided there, not here.
  *
  * Queries run sequentially under the driver contract (Verify/Bench), so a
  * coarse lock is enough.
  */
object Stage {
  private val cache = mutable.Map[String, Any]()
  private val scoped = mutable.Buffer[DataFrame]()
  private val hooked = mutable.Set[String]()
  private val buildSecs = mutable.LinkedHashMap[String, Double]()

  /** Wall-clock seconds spent inside each [[shared]] build closure, keyed by
    * the caller's stage key (session tag stripped). For stages built via
    * [[sharedCut]]/[[sharedStage]] this is the real materialization cost
    * (the cut writes parquet eagerly); for lazy persistShared-only stages it
    * is plan-construction time and the first consumer pays materialization.
    * Bench emits this ledger into the full artifact (VERDICT r13 task 7) so
    * the suite's true cost stays visible next to the warm per-lane medians.
    */
  def buildLedger: Map[String, Double] = synchronized { buildSecs.toMap }

  /** Memoized shared stage: first caller builds (persisting what it returns
    * via [[persistShared]]); later callers get the same object. Key must
    * include everything the build depends on (dataset dir, parameters) —
    * the session is keyed automatically by its UUID.
    */
  def shared[T](spark: SparkSession, key: String)(build: => T): T =
    synchronized {
      val uuid = sessionTag(spark)
      if (!hooked.contains(uuid)) {
        hooked += uuid
        // Evict this session's entries when its application stops: a cached
        // DataFrame bound to a stopped SparkContext is unusable and pins
        // block-manager metadata.
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            evictSession(uuid)
        })
      }
      cache.get(s"$uuid:$key") match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          val t0 = System.nanoTime()
          val v = build
          buildSecs(key) = buildSecs.getOrElse(key, 0.0) +
            (System.nanoTime() - t0) / 1e9
          cache(s"$uuid:$key") = v
          v
      }
    }

  /** Stable per-session cache key prefix: `sessionUUID` is unique for the
    * session's lifetime and never reused, unlike identity hash codes.
    */
  // SparkSession.sessionUUID is private[sql], so mint our own stable tag:
  // a weak identity map + monotonic counter. Unlike raw identity hashes,
  // tags are unique for the JVM lifetime and never reused after a session
  // is GC'd (the weak entry dies with the session; a new session gets a
  // fresh counter value).
  private val sessionTags =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private val tagCounter = new java.util.concurrent.atomic.AtomicLong(0)

  private def sessionTag(spark: SparkSession): String =
    sessionTags.computeIfAbsent(spark, _ => s"s${tagCounter.incrementAndGet()}")

  /** Drop every cached stage belonging to `sessionUUID`. */
  def evictSession(sessionUUID: String): Unit = synchronized {
    cache.keys.filter(_.startsWith(sessionUUID + ":")).toList
      .foreach(cache.remove)
    hooked -= sessionUUID
  }

  /** Drop everything (test harness hook). */
  def clear(): Unit = synchronized {
    cache.clear(); hooked.clear()
    scoped.foreach(_.unpersist(blocking = false)); scoped.clear()
  }

  /** Storage level for stage caches, chosen by input scale.
    *
    * SER for large runs: cached row objects on the heap are what turned a
    * 243-query sf1 run into a GC storm (deserialized MEMORY_AND_DISK
    * blocks held ~GBs of boxed rows across queries; execution sorts then
    * OOM'd a heap the memory manager thought was free). Serialized blocks
    * cost one deserialization per read but shrink the resident footprint
    * several-fold and make eviction byte-accurate — the same reasoning a
    * multi-tenant cluster deployment uses for long-lived shared caches.
    * Deserialized for small runs: at bench SF the caches are KBs–MBs and
    * the per-read deserialization is pure overhead (an unconditional SER
    * switch cost a broad ~1.3× at sf0.1). Every entry point (Bench,
    * Verify, DumpAux, PlanDigest, ScalePins, ScaleUp and StreamStress
    * through `GraftScale.session`, perfbench directly) and the test suites
    * set the property from the dataset's on-disk size (see
    * `GraftScale.configure`).
    *
    * When the property is ABSENT (an entry point that never called
    * `GraftScale.configure`), default to SER: the failure mode of a wrong
    * deserialized choice is an OOM/GC storm at scale, while a wrong SER
    * choice is a bounded small-data slowdown. Only an explicit "false"
    * (a configured small run) picks the deserialized level.
    */
  private def cacheLevel: StorageLevel =
    if (sys.props.get("graft.stage.ser").contains("false"))
      StorageLevel.MEMORY_AND_DISK
    else StorageLevel.MEMORY_AND_DISK_SER

  /** Persist a DataFrame for the session lifetime (shared-stage outputs).
    *
    * INVARIANT: the frame's lineage must not reference any scoped cache.
    * Spark's non-cascading unpersist invalidates dependent cache entries
    * and lazily rebuilds them WITHOUT the removed cache — so a shared
    * persist built over a [[scopedPersist]] input loses its buffers at the
    * next query scope and silently re-runs its full raw lineage on every
    * later read (measured 6.7 s → 35 s per read on the sf1 BPE stage).
    * Stages that need scoped build inputs must cut lineage via
    * [[sharedCut]] instead.
    */
  def persistShared(df: DataFrame): DataFrame =
    df.persist(cacheLevel)

  /** Eager lineage-cut materialization for shared-stage outputs whose
    * BUILD uses scoped caches: writes the frame to parquet now (while the
    * scoped inputs are alive and warm) and reads it back, so the result is
    * self-contained data with no plan-cache dependency to invalidate.
    * Eager costs nothing net: shared stages are materialized by their
    * first consumer anyway; this just moves the job inside the build,
    * before the scoped inputs are released.
    *
    * A parquet round-trip, NOT a checkpoint: `checkpoint`/`localCheckpoint`
    * both return an RDD-backed plan (`LogicalRDD`) that carries NO size
    * statistics — it reports `defaultSizeInBytes`, effectively infinite —
    * so every equi-join above the shared stage plans SortMergeJoin even
    * when the stage is megabytes. The sf1 bench measured exactly that:
    * the checkpoint-backed TF-IDF profiles flipped the q22/q23 scoring
    * joins from broadcast to shuffle (q23 143 s → 1347 s, q22 28 s →
    * 203 s) while the sf0.1 digest re-baseline hid the flip inside the
    * rebuild-fix win. A `FileScan` read back from parquet carries the real
    * on-disk size, so broadcast planning keeps working and the lineage is
    * cut just the same. It is also the reference's own staging design —
    * profiles written to files once and re-read by every consumer
    * (/root/reference/TF_IDF.java:109,127).
    *
    * Location: a fresh [[Scratch]] directory per cut,
    * `graft_cut_<jvmTag>_n<k>` under java.io.tmpdir, under the same rules
    * as all other engine scratch: the per-JVM token, the heartbeat, the
    * first-use sweep of dead JVMs' leaks and the exit-time delete. Cut
    * files are never recovery state, so `SPARK_GRAFT_CHECKPOINT_DIR` (the
    * [[Reroot.Reliable]] checkpoint dir) does not move them.
    */
  def sharedCut(df: DataFrame): DataFrame = {
    val dir = Scratch.fresh("cut")
    df.write.mode("overwrite").parquet(dir)
    // the written frame's schema: inferring it would run a one-task job to
    // read a footer back
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** [[sharedCut]] + pinned parallelism + session-lifetime cache — the
    * variant for shared stages that feed HIGH-FANOUT joins (the TF-IDF
    * profiles: ~40k profile rows expand to ~143M joined rows at sf1).
    *
    * Why the pin: a cut stage read back from one small parquet file is a
    * single-partition scan, and every downstream exchange over it is KBs —
    * which AQE coalesces to one partition. AQE sizes stages by their INPUT
    * exchanges and cannot see a join's output fan-out, so the whole
    * 143M-row join + aggregation then runs in ONE task (measured: q22 sf1
    * 17 s → 220 s; event log showed a 222 s single-task stage). A plain
    * query-side `repartition(n, key)` does NOT fix this: the planner
    * elides the user shuffle when the child's partitioning already
    * satisfies it statically, and AQE then coalesces that child — the pin
    * evaporates. An InMemoryRelation is the one plan node that holds a
    * partitioning AQE cannot rewrite and the planner cannot elide, so the
    * stage itself carries `numShufflePartitions` partitions on `key` to
    * every consumer. `key` should be the stage's natural join/group key so
    * downstream per-key aggregates need no further exchange.
    *
    * Cache sits OVER the cut (not instead of it): the parquet read-back
    * keeps real size stats for broadcast planning and severs any
    * scoped-cache lineage; the persist pins partitioning and saves the
    * re-scan. Storage level is the scale-adaptive [[cacheLevel]].
    */
  def sharedStage(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    persistShared(sharedCut(df).repartition(n, key))
  }

  /** Persist a DataFrame for the CURRENT query only; released when the next
    * query begins.
    */
  def scopedPersist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(cacheLevel)
    scoped += p
    p
  }

  /** Called at query entry (SparkEntry wraps every declared query): drop the
    * previous query's scoped caches.
    */
  def newQueryScope(): Unit = synchronized {
    scoped.foreach(_.unpersist(blocking = false))
    scoped.clear()
  }
}
