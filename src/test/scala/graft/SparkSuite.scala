package graft

import graft.runtime.GraftScale
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import scala.collection.mutable

/** The test suites' one session and their temp dirs.
  *
  * Every suite gets the session the entry points get, from
  * [[GraftScale.session]] over the sf0.001 test dataset, on `local[4]`
  * whatever `SPARK_GRAFT_CPUS` says. The suites share one forked JVM and so
  * one session; each suite's first use re-applies the shared settings.
  *
  * [[tempDir]] makes a fresh dir under java.io.tmpdir that is deleted, with
  * its contents, when the suite ends.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  lazy val spark: SparkSession = GraftScale.session("/root/testdata/sf0.001", 4)

  private val tempDirs = mutable.Buffer.empty[Path]

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.filter(Files.exists(_)).foreach { d =>
      val tree = Files.walk(d)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally tree.close()
    } finally super.afterAll()
}
