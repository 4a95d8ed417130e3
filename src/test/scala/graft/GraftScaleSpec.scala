package graft

import graft.runtime.{GraftScale, Stage}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins the scale-adaptive knob contract: [[GraftScale.configure]] decides
  * SER-vs-deserialized stage caches from the dataset's on-disk footprint,
  * and [[Stage]]'s session-lifetime memoization builds once per key and
  * honors eviction. The SER default when the property is ABSENT (the
  * ADVICE-hardened path for entry points that never call configure) is
  * pinned indirectly: Stage.cacheLevel is private, so the spec pins the
  * property VALUES configure publishes, which are the only inputs to it.
  * The same goes for the generated-code cache size and the `file:`
  * bindings: Spark reads them once per JVM (Hadoop caches the file system),
  * so the spec pins the system properties configure sets.
  */
class GraftScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withRestoredProp[T](key: String)(body: => T): T = {
    val saved = sys.props.get(key)
    try body
    finally saved match {
      case Some(v) => System.setProperty(key, v); ()
      case None => System.clearProperty(key); ()
    }
  }

  test("dirBytes sums nested directories") {
    val root = Files.createTempDirectory("gsspec").toFile
    val sub = new java.io.File(root, "a/b")
    assert(sub.mkdirs())
    Files.write(new java.io.File(root, "x.bin").toPath, Array.fill[Byte](1000)(1))
    Files.write(new java.io.File(sub, "y.bin").toPath, Array.fill[Byte](2000)(2))
    assert(GraftScale.dirBytes(root.getPath) === 3000L)
  }

  test("configure: small dir publishes ser=false, large dir ser=true") {
    withRestoredProp("graft.stage.ser") {
      val small = Files.createTempDirectory("gs-small").toFile
      Files.write(new java.io.File(small, "t.parquet").toPath,
        Array.fill[Byte](1024)(0))
      assert(!GraftScale.configure(small.getPath))
      assert(sys.props("graft.stage.ser") === "false")

      // sparse file: logical length crosses LargeBytes without writing 64 MB
      val large = Files.createTempDirectory("gs-large").toFile
      val raf = new java.io.RandomAccessFile(
        new java.io.File(large, "big.parquet"), "rw")
      try raf.setLength(GraftScale.LargeBytes + 1) finally raf.close()
      assert(GraftScale.configure(large.getPath))
      assert(sys.props("graft.stage.ser") === "true")
    }
  }

  test("configure: sizes the codegen cache when unset, keeps an explicit value") {
    val key = GraftScale.CodegenCacheKey
    withRestoredProp("graft.stage.ser")(withRestoredProp(key) {
      val dir = Files.createTempDirectory("gs-codegen").toFile.getPath
      System.clearProperty(key)
      GraftScale.configure(dir)
      assert(sys.props.get(key) === Some(GraftScale.CodegenCacheEntries.toString))
      assert(GraftScale.CodegenCacheEntries > 100) // above Spark's default
      System.setProperty(key, "37")
      GraftScale.configure(dir)
      assert(sys.props.get(key) === Some("37"))
    })
  }

  test("configure: binds the fork-free file: file system when unset, keeps an explicit value") {
    val bindings = graft.io.ForkFreeLocalFs.bindings
    val Seq(fsKey, afsKey) = bindings.map(_._1)
    assert(fsKey === "spark.hadoop.fs.file.impl")
    assert(afsKey === "spark.hadoop.fs.AbstractFileSystem.file.impl")
    withRestoredProp("graft.stage.ser")(withRestoredProp(fsKey)(withRestoredProp(afsKey) {
      val dir = Files.createTempDirectory("gs-localfs").toFile.getPath
      Seq(fsKey, afsKey).foreach(System.clearProperty)
      GraftScale.configure(dir)
      bindings.foreach { case (k, v) => assert(sys.props.get(k) === Some(v)) }
      Seq(fsKey, afsKey).foreach(System.setProperty(_, "org.example.Explicit"))
      GraftScale.configure(dir)
      Seq(fsKey, afsKey).foreach(k => assert(sys.props.get(k) === Some("org.example.Explicit")))
    }))
  }

  test("Stage.shared memoizes per key and rebuilds after evictSession") {
    Stage.clear()
    var builds = 0
    def build(): Int = { builds += 1; builds }
    assert(Stage.shared(spark, "gsspec-k1")(build()) === 1)
    assert(Stage.shared(spark, "gsspec-k1")(build()) === 1) // memoized
    assert(Stage.shared(spark, "gsspec-k2")(build()) === 2) // new key builds
    Stage.clear()
    assert(Stage.shared(spark, "gsspec-k1")(build()) === 3) // rebuilt
    Stage.clear()
  }
}
