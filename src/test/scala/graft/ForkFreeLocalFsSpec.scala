package graft

import graft.io.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins [[ForkFreeRawLocalFileSystem]] to stock `RawLocalFileSystem`
  * semantics where it overrides it, and pins what it is for: with the
  * `file:` bindings in place, a parquet write and a stateful stream start no
  * `chmod`, `readlink`, `stat` or `ls` child process. The suites' session
  * publishes the bindings through `GraftScale.session`, as every entry
  * point does.
  */
class ForkFreeLocalFsSpec extends AnyFunSuite with SparkSuite {

  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val forkFree = initialized(new ForkFreeRawLocalFileSystem)

  /** The full mode bits (setuid/setgid/sticky and rwx) of `f`, not following links. */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Integer].intValue & 0xfff

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("setPermission and permissioned create/mkdirs give stock's POSIX modes; the sticky bit takes the stock path") {
    val root = new java.io.File(tempDir("ffls-perm"))
    for (m <- Seq("644", "755", "700", "600"); (fs, side) <- Seq(stock -> "stock", forkFree -> "nio")) {
      val perm = octal(m)
      // direct chmod: exactly the requested bits
      val plain = new File(root, s"plain-$m-$side")
      Files.write(plain.toPath, Array[Byte](1))
      fs.setPermission(new Path(plain.getPath), perm)
      assert(mode(plain) === Integer.parseInt(m, 8), s"$side setPermission $m")
      // create and mkdirs apply the configured umask before they set the mode
      fs.create(new Path(root.getPath, s"created-$m-$side"), perm, true, 4096,
        1.toShort, 1L << 20, null).close()
      assert(fs.mkdirs(new Path(root.getPath, s"dir-$m-$side"), perm))
    }
    for (m <- Seq("644", "755", "700", "600"); kind <- Seq("created", "dir"))
      assert(mode(new File(root, s"$kind-$m-nio")) === mode(new File(root, s"$kind-$m-stock")),
        s"$kind $m")
    // NIO cannot express the sticky bit: both sides end at 1755 through chmod
    for ((fs, side) <- Seq(stock -> "stock", forkFree -> "nio")) {
      val d = new File(root, s"sticky-$side")
      assert(d.mkdir())
      fs.setPermission(new Path(d.getPath), octal("1755"))
      assert(mode(d) === Integer.parseInt("1755", 8), side)
    }
  }

  test("getFileLinkStatus agrees with stock on files, directories, symlinks and dangling symlinks") {
    val root = new java.io.File(tempDir("ffls-link"))
    val file = new File(root, "file")
    Files.write(file.toPath, Array.fill[Byte](123)(7))
    val dir = new File(root, "dir")
    assert(dir.mkdir())
    val link = new File(root, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(root, "dangling")
    Files.createSymbolicLink(dangling.toPath, Paths.get(root.getPath, "nowhere"))

    // what a caller can observe: the four fields, or the exception's class
    def view(fs: RawLocalFileSystem, p: Path): Either[String, (Boolean, Option[Path], Boolean, Long)] =
      try {
        val st: FileStatus = fs.getFileLinkStatus(p)
        Right((st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
          st.isDirectory, st.getLen))
      } catch { case e: java.io.IOException => Left(e.getClass.getName) }

    for (f <- Seq(file, dir, link, dangling);
         p <- Seq(new Path(f.getPath), new Path(f.toURI))) {
      assert(view(forkFree, p) === view(stock, p), p.toString)
    }
    assert(view(stock, new Path(link.getPath)).exists(_._1), "stock sees the link")
    assert(view(stock, new Path(file.getPath)) === Right((false, None, false, 123L)))
    val missing = new Path(root.getPath, "missing")
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFree.getFileLinkStatus(missing))
  }

  test("FileContext over ForkFreeLocalFs: overwrite-rename and checksums behave as LocalFs") {
    val conf = new Configuration()
    ForkFreeLocalFs.bindings.foreach { case (k, v) => conf.set(k.stripPrefix("spark.hadoop."), v) }
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    val root = new Path(Paths.get(tempDir("ffls-fc")).toUri)
    val (tmp, dst) = (new Path(root, ".1.tmp"), new Path(root, "1"))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    write(dst, "old")
    write(tmp, "new")
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") === "new") finally in.close()
    assert(!fc.util.exists(tmp))
    // the checksum file moved with its data file
    assert(new File(new File(root.toUri), ".1.crc").exists())
    assert(!new File(new File(root.toUri), "..1.tmp.crc").exists())
  }

  /** `body`'s result and the commands of the child processes it starts,
    * from an in-process JFR recording of `jdk.ProcessStart`.
    */
  private def processStarts[T](body: => T): (T, Seq[String]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val file = Paths.get(tempDir("ffls-jfr"), "forks.jfr")
    try {
      rec.start()
      val result = try body finally rec.stop()
      rec.dump(file)
      result -> RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally rec.close()
  }

  test("bound file: scheme: a parquet write and a 3-batch stateful stream start no chmod/readlink/stat/ls") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hconf).isInstanceOf[ForkFreeLocalFileSystem],
      "the JVM's cached file: FileSystem is not the fork-free one")
    assert(FileContext.getFileContext(URI.create("file:///"), hconf)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])

    val base = tempDir("ffls-forks")
    // three day slices of clicks keyed by news id, one file each
    (1 to 3).foreach { d =>
      (0 until 40).map(i => (i % 5L, Timestamp.valueOf(f"2024-01-$d%02d ${i % 24}%02d:00:00")))
        .toDF("newsId", "ts").coalesce(1).write.mode("append").parquet(s"$base/src")
    }
    val schema = spark.read.parquet(s"$base/src").schema
    val (batches, commands) = processStarts {
      spark.range(0, 2000, 1, 4).selectExpr("id", "id % 7 AS k")
        .write.parquet(s"$base/table")
      assert(spark.read.parquet(s"$base/table").count() === 2000L)

      val q = graft.streaming.HotKeyDetector.windowCounts(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(s"$base/src"),
          "newsId", "ts", "1 day", "1 hour")
        .writeStream.outputMode("append")
        .foreachBatch(graft.streaming.ForeachBatchSink.idempotentParquet(s"$base/sink") _)
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.count(_.numInputRows > 0)
    }
    assert(batches === 3)
    val names = commands.map(c => new File(c.trim.split("\\s+").head).getName)
    val forbidden = names.filter(Set("chmod", "readlink", "stat", "ls"))
      .groupBy(identity).map { case (c, n) => c -> n.size }
    assert(forbidden === Map.empty[String, Int], "child processes by command")
  }
}
