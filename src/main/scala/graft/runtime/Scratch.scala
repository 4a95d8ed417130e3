package graft.runtime

/** The one owner of engine scratch: every scratch file the engine writes
  * (bucketed tables, the foreachBatch ledger, the replay sentinel, the
  * format round-trips, the [[Stage.sharedCut]] lineage cuts) lives in a
  * per-JVM directory under java.io.tmpdir named here. The location is a
  * deployment setting of the JVM (`-Djava.io.tmpdir`), not of the engine;
  * scratch is never recovery state, unlike [[Reroot.Reliable]]'s
  * checkpoints.
  *
  * Two fixes over the old fixed `/tmp/graft_<lane>_<hash(dataset)>`
  * convention: (1) a random per-JVM token in every path, so two concurrent
  * graft processes working the same dataset dir cannot overwrite each
  * other's scratch mid-read, and hash-colliding dataset paths cannot alias
  * into one dir; (2) reclamation of dirs leaked by crashed JVMs — the exit
  * hook can't run on SIGKILL, so the first scratch request of a run also
  * sweeps sibling `graft_*` scratch (other tokens) older than [[StaleMs]].
  *
  * Liveness (VERDICT r8): directory mtime only advances on direct child
  * add/remove, so a long concurrent run that only READS its scratch looks
  * idle for its whole duration — an age cutoff alone is a data-loss window
  * once runs approach it (r8's sf1 sessions ran 4+ h against the 24 h
  * constant). Every JVM therefore maintains a sibling heartbeat file
  * `graft_hb_<jvmTag>` touched by a daemon timer every [[TouchMs]]; the
  * sweeper skips any dir whose owner token has a heartbeat fresher than
  * [[FreshMs]], no matter how old the dir's own mtime is. Stale heartbeat
  * files themselves are reclaimed by the same age rule.
  *
  * Plan digests are unaffected: [[graft.tools.PlanDigest.normalize]]
  * already rewrites every `/tmp/...` and `file:...` literal to PATH.
  */
object Scratch {
  /** This JVM's token, carried by every scratch path it names. */
  private[graft] val jvmTag = java.util.UUID.randomUUID().toString.take(8)
  private val root = System.getProperty("java.io.tmpdir")
  private val created =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val freshCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Age after which an unowned scratch dir with NO live heartbeat is
    * presumed leaked by a dead JVM. The heartbeat veto carries liveness;
    * this constant only bounds how long crash leaks linger.
    */
  private val StaleMs = 24L * 3600 * 1000

  /** Heartbeat cadence. [[FreshMs]] is 18× it: a veto can only lapse if
    * the owner JVM has made no timer progress for 3 h, i.e. is dead.
    */
  private val TouchMs: Long = 10L * 60 * 1000
  private val FreshMs: Long = 3L * 3600 * 1000

  private def isLive(markerMtime: Long, now: Long): Boolean =
    markerMtime >= now - FreshMs

  private val hbFile = new java.io.File(root, s"graft_hb_$jvmTag")

  sys.addShutdownHook {
    created.forEach(p => delete(new java.io.File(p)))
    hbFile.delete()
  }

  /** First scratch request of the run: write the heartbeat, start its
    * daemon timer, sweep what dead JVMs leaked. A lazy val, so concurrent
    * first callers wait for it and it runs once.
    */
  private lazy val started: Unit = {
    touchHeartbeat()
    sweepStale()
    val timer = new java.util.Timer("graft-heartbeat", true)
    timer.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = touchHeartbeat()
    }, TouchMs, TouchMs)
  }

  /** Per-dataset name tag, safe in table, view and file names: the hex of
    * the dir's hash with `-` as `_`. Names built from it keep two datasets
    * of one session apart.
    */
  def tag(datasetDir: String): String =
    Integer.toHexString(datasetDir.hashCode).replace('-', '_')

  /** Scratch dir for (lane, dataset): `graft_<lane>_<jvmTag>_<dsTag>`.
    * Not created on disk — every caller writes with mode(overwrite).
    */
  def dir(lane: String, datasetDir: String): String = named(lane, tag(datasetDir))

  /** A scratch dir no earlier call of this JVM returned:
    * `graft_<lane>_<jvmTag>_n<k>`. Not created on disk.
    */
  def fresh(lane: String): String =
    named(lane, s"n${freshCounter.incrementAndGet()}")

  private def named(lane: String, suffix: String): String = {
    started
    val p = s"$root/graft_${lane}_${jvmTag}_$suffix"
    created.add(p)
    p
  }

  private def touchHeartbeat(): Unit =
    try {
      if (!hbFile.exists()) {
        val w = new java.io.PrintWriter(hbFile)
        try w.print(ProcessHandle.current().pid()) finally w.close()
      }
      hbFile.setLastModified(System.currentTimeMillis())
      ()
    } catch { case _: java.io.IOException => () }

  private def delete(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(delete)
    f.delete()
    ()
  }

  /** Owner token of a scratch dir name `graft_<lane>_<tag>_<suffix>`: the
    * second-to-last `_`-segment (lane may contain underscores; the token
    * and the suffix never do).
    */
  private def tokenOf(name: String): Option[String] = {
    val parts = name.split("_")
    if (parts.length >= 4) Some(parts(parts.length - 2)) else None
  }

  private[graft] def sweepForTest(): Unit = sweepStale()

  private def sweepStale(): Unit = {
    val now = System.currentTimeMillis()
    val cutoff = now - StaleMs
    val kids = new java.io.File(root).listFiles()
    if (kids != null) {
      val live: Set[String] = kids.iterator.collect {
        case f if f.isFile && f.getName.startsWith("graft_hb_")
          && isLive(f.lastModified, now) =>
          f.getName.stripPrefix("graft_hb_")
      }.toSet
      kids.foreach { f =>
        if (f.isDirectory && f.getName.startsWith("graft_")
            && !f.getName.contains(jvmTag) && f.lastModified < cutoff
            && !tokenOf(f.getName).exists(live)) {
          delete(f)
        }
        if (f.isFile && f.getName.startsWith("graft_hb_")
            && f.getName != hbFile.getName && f.lastModified < cutoff) {
          f.delete()
          ()
        }
      }
    }
  }
}
