package graft

import graft.io.{CsvSources, Tables, Writers}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class IoSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("S1-S3: schema-checked CSV loaders round-trip the entity types") {
    val dir = tempDir("graft_io")
    Files.writeString(java.nio.file.Paths.get(s"$dir/news.csv"),
      "id,date,title,description,content\n" +
        "1,2024-01-02,Title A,Desc A,spark flink batch\n" +
        "2,2024-01-03,Title B,Desc B,stream join scan\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/tweets.csv"),
      "userId,creation_time,content\n7,2024-01-02,spark stream\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/clicks.csv"),
      "userId,newsId,date,count\n7,1,2024-01-02,3\n")

    val news = CsvSources.loadNews(spark, s"$dir/news.csv").collect()
    assert(news.map(_.id).toSet === Set(1L, 2L))
    assert(news.find(_.id == 1L).get.date.toString === "2024-01-02")
    val tweets = CsvSources.loadTweets(spark, s"$dir/tweets.csv").collect()
    assert(tweets.head.userId === 7L && tweets.head.content === "spark stream")
    val clicks = CsvSources.loadClicks(spark, s"$dir/clicks.csv").collect()
    assert(clicks.head.count === 3)
  }

  test("K1/F15: formatted-text sink renders documents and recommendations") {
    val outDocs = tempDir("graft_io") + "/docs_txt"
    val docs = Seq(
      (Some(1L), None: Option[Long], Some(java.sql.Date.valueOf("2024-01-02")),
        Seq(("spark", 1.5), ("flink", 0.25)))
    ).toDF("id", "userId", "date", "kw")
      .withColumn("keywords", transform(col("kw"),
        x => struct(x("_1").as("word"), x("_2").as("value"))))
    Writers.writeFormattedText(docs, Writers.documentRender, outDocs)
    val lines = spark.read.text(outDocs).as[String].collect()
    assert(lines.toSeq === Seq("1||2024-01-02|spark:1.500000;flink:0.250000"))

    val outRecs = tempDir("graft_io") + "/recs_txt"
    val recs = Seq((7L, java.sql.Date.valueOf("2024-01-02"), Seq(3L, 1L, 2L)))
      .toDF("userId", "date", "news")
    Writers.writeFormattedText(recs, Writers.recommendationRender, outRecs)
    val rlines = spark.read.text(outRecs).as[String].collect()
    assert(rlines.toSeq === Seq("7|2024-01-02|3,1,2"))
  }

  test("K1 dual write: parquet round-trip preserves nested keywords") {
    val base = tempDir("graft_io")
    val docs = Seq((10L, Seq(("a", 1.0), ("b", 2.0))))
      .toDF("id", "kw")
      .withColumn("keywords", transform(col("kw"),
        x => struct(x("_1").as("word"), x("_2").as("value"))))
      .select("id", "keywords")
    Writers.writeDual(docs, concat_ws("|", col("id")), s"$base/pq", s"$base/txt")
    val back = spark.read.parquet(s"$base/pq")
    val kws = back.select(explode(col("keywords"))).select("col.word", "col.value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(kws === Set(("a", 1.0), ("b", 2.0)))
  }

  test("events NTZ normalization: instant-exact under UTC, loud without it") {
    // NTZ events fixture (the round-6+ driver layout)
    val dir = tempDir("graft_io")
    Seq((1L, 42L, "click", "2024-01-05 10:00:00"))
      .toDF("user_id", "event_id", "event_type", "w")
      .withColumn("ts", to_timestamp_ntz(col("w"))).drop("w")
      .write.parquet(s"$dir/events.parquet")

    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // UTC session: the wall clock IS the instant
    assert(got.select(unix_micros(col("ts"))).head().getLong(0) ===
      1704448800000000L)

    // A consumer that forgot the UTC pin must fail the require, not read
    // silently shifted timestamps (ADVICE r6).
    val shifted = spark.newSession()
    shifted.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException] {
      Tables.events(shifted, dir)
    }
    assert(e.getMessage.contains("timeZone=UTC"))
  }

  test("scratch sweep honors heartbeat liveness (VERDICT r8)") {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"))
    val dayOld = System.currentTimeMillis() - 25L * 3600 * 1000
    // two foreign-token scratch dirs, both mtime-stale; only one owner has
    // a fresh heartbeat
    val liveDir = new java.io.File(root, "graft_lane_aaaa1111_cafe")
    val deadDir = new java.io.File(root, "graft_lane_bbbb2222_cafe")
    val liveHb = new java.io.File(root, "graft_hb_aaaa1111")
    val deadHb = new java.io.File(root, "graft_hb_bbbb2222")
    try {
      Seq(liveDir, deadDir).foreach { d =>
        d.mkdirs(); assert(d.setLastModified(dayOld))
      }
      Seq(liveHb, deadHb).foreach(f => Files.write(f.toPath, "1".getBytes))
      assert(deadHb.setLastModified(dayOld)) // dead: marker 25h stale
      graft.runtime.Scratch.sweepForTest()
      assert(liveDir.exists(), "fresh heartbeat must veto the sweep")
      assert(!deadDir.exists(), "stale heartbeat must not")
      assert(!deadHb.exists(), "stale heartbeat markers are reclaimed too")
    } finally Seq(liveDir, deadDir, liveHb, deadHb).foreach { f =>
      if (f.isDirectory) f.listFiles().foreach(_.delete()); f.delete()
    }
  }

  test("scratch location is read only in Scratch, the checkpoint dir only in Reroot") {
    // one module per decision: where scratch lives (java.io.tmpdir, temp
    // dirs) is Scratch's, what SPARK_GRAFT_CHECKPOINT_DIR governs is
    // Reroot's. Comment lines may name them; code lines elsewhere may not.
    val owners = Seq(
      "java.io.tmpdir" -> "graft/runtime/Scratch.scala",
      "createTempDirectory" -> "graft/runtime/Scratch.scala",
      "SPARK_GRAFT_CHECKPOINT_DIR" -> "graft/runtime/Reroot.scala")
    val lines = SourceScan.codeLines("src/main/scala")
    assert(lines.exists(_._1 == "graft/runtime/Scratch.scala"))
    val offenders = for {
      (rel, n, code) <- lines
      (needle, owner) <- owners
      if rel != owner && code.contains(needle)
    } yield s"$rel:$n: $needle outside $owner"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
