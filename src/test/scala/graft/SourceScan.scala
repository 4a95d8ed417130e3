package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The code lines of a source tree, for the suites' one-owner scans.
  * Lines that open, continue or are a comment are left out, so a comment
  * may name what code outside its owner may not use.
  */
object SourceScan {

  /** (path relative to `root`, 1-based line number, trimmed line) for every
    * non-comment line of every `.scala` file under `root`.
    */
  def codeLines(root: String): Seq[(String, Int, String)] = {
    val dir = new File(root)
    require(dir.isDirectory, s"no sources at ${dir.getAbsolutePath}")
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    for {
      f <- scalaFiles(dir)
      (line, i) <- Files.readAllLines(f.toPath).asScala.toSeq.zipWithIndex
      code = line.trim
      if !(code.startsWith("*") || code.startsWith("/*") || code.startsWith("//"))
    } yield (dir.toPath.relativize(f.toPath).toString, i + 1, code)
  }
}
