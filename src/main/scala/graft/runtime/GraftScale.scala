package graft.runtime

import org.apache.spark.sql.SparkSession

/** Scale-adaptive harness knobs, and the one session builder.
  *
  * The settings that save a large-SF run in one local JVM — fine-grained
  * initial shuffle partitions so no single sort partition outgrows the
  * heap, serialized stage caches so 200+ queries of cached stages don't
  * become a GC storm — are pure overhead when the dataset is small (an
  * unconditional switch cost a broad ~1.3× at the sf0.1 bench). Engage
  * them only when the dataset's on-disk footprint says memory pressure is
  * real. On a real cluster the same decision is made per deployment:
  * partitions are sized to executor memory at the actual data scale, not
  * pinned to one number for every workload.
  *
  * Two settings are not scale-adaptive, and [[configure]] publishes them for
  * every run: the size of Spark's generated-code cache
  * ([[CodegenCacheEntries]]) and the fork-free local file system
  * ([[graft.io.ForkFreeLocalFs.bindings]]).
  *
  * [[session]] calls [[configure]] and builds the session for every entry
  * point (Bench, Verify, DumpAux, PlanDigest, ScalePins, ScaleUp,
  * StreamStress) and for the test suites. `perfbench.Main` calls
  * [[configure]] and builds its own session.
  */
object GraftScale {

  /** On-disk parquet bytes above which a run is treated as
    * memory-pressuring for a single local JVM: sf0.1 is ~17 MB, sf1
    * ~170 MB (roughly ×10 in memory once decompressed and decoded — the
    * scale where the 8 GB default heap first OOM'd).
    */
  val LargeBytes: Long = 64L << 20

  def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(dir))
  }

  /** Spark's static conf that caps the JVM-wide LRU of compiled
    * whole-stage and expression classes, keyed by generated source.
    */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated-code cache size. Spark's default of 100 is below one day of
    * the daily recommender loop: a day generates about 195 classes, so the
    * LRU evicted each class before the next day needed it again and every
    * day recompiled 193-197 of them with Janino, at 20-30 ms each. 1024
    * holds about five days' working set. Each entry keeps its generated
    * source as the key plus the loaded class: about 28 KB of retained heap
    * per entry (a 4-day benchmark run ends with ~300 entries and retains
    * 5.5 MB more than at 100), so a full cache costs about 28 MB.
    */
  val CodegenCacheEntries = 1024

  /** Returns whether `sfDir` is a large run and publishes
    * `graft.stage.ser` so [[Stage]] caches pick the serialized level.
    * Also sizes the generated-code cache to [[CodegenCacheEntries]] and
    * binds the `file:` scheme to [[graft.io.ForkFreeLocalFs]], each unless
    * the JVM already carries an explicit value for its key (a `-D` value,
    * which wins). The cache is a static conf read once per JVM when Spark's
    * code generator first loads, Hadoop caches a `file:` file system per
    * JVM once one is built, and a new `SparkConf` picks up `spark.*` system
    * properties, so call this before building the session and before any
    * query builds a plan.
    */
  def configure(sfDir: String): Boolean = {
    val big = dirBytes(sfDir) >= LargeBytes
    System.setProperty("graft.stage.ser", big.toString)
    ((CodegenCacheKey -> CodegenCacheEntries.toString) +: graft.io.ForkFreeLocalFs.bindings)
      .foreach { case (k, v) => if (!sys.props.contains(k)) System.setProperty(k, v) }
    big
  }

  /** Configures the JVM for `sfDir` and returns the `local[cpus]` session:
    * `cpus` shuffle partitions, UTC, nanos-as-long parquet timestamps (the
    * legacy events layout), AQE on, UI off, log level WARN. A large dataset
    * also starts big shuffles at 8× cores and lets AQE coalesce small
    * stages back to ~cores, so no single sort partition holds tens of
    * millions of rows (the sf1 rec-lane windows OOM'd a 32-partition layout
    * on an 8 GB heap). That is the local-mode rendering of "partitions
    * sized to fit executor memory at the target SF"; on a cluster the same
    * conf scales with the executor count.
    */
  def session(sfDir: String, cpus: Int): SparkSession = {
    val big = configure(sfDir)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    if (big)
      builder.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
