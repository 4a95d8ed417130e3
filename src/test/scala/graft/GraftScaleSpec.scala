package graft

import graft.runtime.{GraftScale, Stage}
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
class GraftScaleSpec extends AnyFunSuite with SparkSuite {

  private def withRestoredProp[T](key: String)(body: => T): T = {
    val saved = sys.props.get(key)
    try body
    finally saved match {
      case Some(v) => System.setProperty(key, v); ()
      case None => System.clearProperty(key); ()
    }
  }

  test("dirBytes sums nested directories") {
    val root = new java.io.File(tempDir("gsspec"))
    val sub = new java.io.File(root, "a/b")
    assert(sub.mkdirs())
    Files.write(new java.io.File(root, "x.bin").toPath, Array.fill[Byte](1000)(1))
    Files.write(new java.io.File(sub, "y.bin").toPath, Array.fill[Byte](2000)(2))
    assert(GraftScale.dirBytes(root.getPath) === 3000L)
  }

  test("configure: small dir publishes ser=false, large dir ser=true") {
    withRestoredProp("graft.stage.ser") {
      val small = new java.io.File(tempDir("gs-small"))
      Files.write(new java.io.File(small, "t.parquet").toPath,
        Array.fill[Byte](1024)(0))
      assert(!GraftScale.configure(small.getPath))
      assert(sys.props("graft.stage.ser") === "false")

      // sparse file: logical length crosses LargeBytes without writing 64 MB
      val large = new java.io.File(tempDir("gs-large"))
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
      val dir = tempDir("gs-codegen")
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
      val dir = tempDir("gs-localfs")
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

  test("the session is built only in GraftScale.session and the suites' SparkSuite") {
    // one builder: every entry point calls GraftScale.session, every suite
    // gets its session from SparkSuite, and the periodic-GC knob is gone.
    // Comment lines may name them; code lines elsewhere may not. The
    // needles are spliced so this file does not match itself.
    def codeHits(root: String, needle: String): Seq[String] =
      for ((rel, n, code) <- SourceScan.codeLines(root) if code.contains(needle))
        yield s"$rel:$n"
    val builder = "SparkSession" + ".builder"
    val knob = "SPARK_GRAFT_" + "PERIODIC_GC"
    val mainHits = codeHits("src/main/scala", builder)
    assert(mainHits.nonEmpty && mainHits.forall(_.startsWith("graft/runtime/GraftScale.scala:")),
      mainHits.mkString("\n"))
    val testHits = codeHits("src/test/scala", builder)
    assert(testHits.forall(_.startsWith("graft/SparkSuite.scala:")), testHits.mkString("\n"))
    val knobHits = Seq("src/main/scala", "src/test/scala").flatMap(codeHits(_, knob))
    assert(knobHits.isEmpty, knobHits.mkString("\n"))
  }
}
