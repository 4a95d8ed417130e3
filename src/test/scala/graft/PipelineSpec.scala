package graft

import graft.model.{Scene, SimilarityAlgorithm}
import graft.pipelines._
import graft.sim.{Scoring, Similarities}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date

class PipelineSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def d(s: String): Date = Date.valueOf(s)

  // --- Scoring parity: the inverted-index scale path must equal the faithful
  // cross-join + reference-UDF scorer on duplicate-free keyword lists.

  private def userKwRows: DataFrame = Seq(
    (1L, "spark", 2.0), (1L, "flink", 1.0), (1L, "batch", 0.5),
    (2L, "stream", 3.0), (2L, "flink", 1.5),
    (3L, "zzz", 9.9) // no overlap with any news
  ).toDF("userId", "word", "value")

  private def newsKwRows: DataFrame = Seq(
    (10L, "spark", 1.0), (10L, "stream", 2.0),
    (11L, "flink", 4.0), (11L, "batch", 1.0), (11L, "stream", 0.5),
    (12L, "other", 1.0)
  ).toDF("id", "word", "value")

  private def nested(df: DataFrame, idCol: String): DataFrame =
    df.groupBy(col(idCol))
      .agg(collect_list(struct(col("word"), col("value"))).as("keywords"))

  test("invertedCosineX == crossScore(calculateX) on every produced pair") {
    val inv = Scoring.invertedCosineX(
        userKwRows.select(col("userId"), col("word")), "userId",
        newsKwRows.select(col("id"), col("word")), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cross = Scoring.crossScore(nested(userKwRows, "userId"), "userId",
        nested(newsKwRows, "id"), "id", Similarities.calculateXCol)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inv === cross)
    assert(inv.nonEmpty)
    assert(!inv.keys.exists(_._1 == 3L)) // zero-overlap user produces no pairs
  }

  test("invertedDot == crossScore(dot) on every produced pair") {
    val inv = Scoring.invertedDot(userKwRows, "userId", newsKwRows, "id")
      .filter(col("score") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cross = Scoring.crossScore(nested(userKwRows, "userId"), "userId",
        nested(newsKwRows, "id"), "id", Similarities.dotCol)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inv.keySet === cross.keySet)
    inv.foreach { case (k, v) => assert(math.abs(v - cross(k)) < 1e-12) }
  }

  test("randomized parity: inverted scorers == cross+reference-UDF on generated profiles") {
    val rnd = new scala.util.Random(7) // fixed seed — deterministic test
    val vocab = ('a' to 'p').map(_.toString)
    (1 to 5).foreach { _ =>
      val users = (1L to 6L).flatMap { u =>
        rnd.shuffle(vocab).take(1 + rnd.nextInt(5)).map(w => (u, w, rnd.nextInt(100) / 10.0 + 0.1))
      }
      val news = (10L to 18L).flatMap { n =>
        rnd.shuffle(vocab).take(1 + rnd.nextInt(5)).map(w => (n, w, rnd.nextInt(100) / 10.0 + 0.1))
      }
      val uDf = users.toDF("userId", "word", "value")
      val nDf = news.toDF("id", "word", "value")
      val invDot = Scoring.invertedDot(uDf, "userId", nDf, "id").filter(col("score") > 0)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val crossDot = Scoring.crossScore(nested(uDf, "userId"), "userId",
          nested(nDf, "id"), "id", Similarities.dotCol)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(invDot.keySet === crossDot.keySet)
      invDot.foreach { case (k, v) => assert(math.abs(v - crossDot(k)) < 1e-9) }

      val invCos = Scoring.invertedCosineX(uDf.select("userId", "word"), "userId",
          nDf.select("id", "word"), "id")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val crossCos = Scoring.crossScore(nested(uDf, "userId"), "userId",
          nested(nDf, "id"), "id", Similarities.calculateXCol)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(invCos === crossCos)
    }
  }

  test("the inverted scorer is written only in Scoring, and no optimizer rule is injected") {
    // the parity tests above check Scoring; they only check what the lanes
    // run if no second copy of the word-join scorer exists. Comment lines
    // may name these; code lines may not.
    val owners = Seq(
      "\"_common\"" -> Some("graft/sim/Scoring.scala"),
      "\"_lsize\"" -> Some("graft/sim/Scoring.scala"),
      "injectOptimizerRule" -> None,
      "SparkSessionExtensions" -> None,
      "extraOptimizations" -> None)
    val lines = SourceScan.codeLines("src/main/scala")
    assert(lines.exists(_._1 == "graft/sim/Scoring.scala"))
    val offenders = for {
      (rel, n, code) <- lines
      (needle, owner) <- owners
      if !owner.contains(rel) && code.contains(needle)
    } yield s"$rel:$n: $needle ${owner.fold("in src/main")(o => s"outside $o")}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // --- HotTopics (E3) on a hand-checkable fixture.

  test("HotTopicsPipeline: window sum + per-day top-k + ranked list") {
    val scene = Scene(numDays = 1, fromDate = d("2024-01-02"), toDate = d("2024-01-03"),
      numRecommendations = 2)
    val clicks = Seq(
      (1L, 100L, d("2024-01-01"), 5), // serves days 01..02 -> clamped to 02
      (2L, 100L, d("2024-01-02"), 1),
      (3L, 200L, d("2024-01-02"), 3),
      (4L, 300L, d("2024-01-03"), 9),
      (5L, 200L, d("2024-01-04"), 7) // outside [from, to] entirely
    ).toDF("userId", "newsId", "date", "count")

    val topics = HotTopicsPipeline.topicsPerDay(clicks, scene)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    // day 02: news100 = 5+1 = 6, news200 = 3 -> ranks 1,2
    // day 03: news300 = 9, news100 = 1, news200 = 3 -> 300(9), 200(3) top-2
    assert(topics === Set(
      ("2024-01-02", 100L, 6L, 1), ("2024-01-02", 200L, 3L, 2),
      ("2024-01-03", 300L, 9L, 1), ("2024-01-03", 200L, 3L, 2)))

    val recs = HotTopicsPipeline.recommendAll(clicks, scene)
      .collect().map(r => r.getDate(0).toString -> r.getSeq[Long](1)).toMap
    assert(recs("2024-01-02") === Seq(100L, 200L))
    assert(recs("2024-01-03") === Seq(300L, 200L))
  }

  // --- Recommend skeleton (E1/E2) end-to-end on a tiny fixture.

  test("RecommendPipeline: active-user semi-join, candidate window, ranking, cut") {
    val scene = Scene(numDays = 2, fromDate = d("2024-01-01"), toDate = d("2024-01-02"),
      numRecommendations = 1, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
    val userKw = Seq(
      (1L, "spark", 2.0), (1L, "flink", 1.0),
      (2L, "spark", 1.0)).toDF("userId", "word", "value")
    // news 10 dated 01-02 (candidate for days 01,02); news 11 dated 01-05 (for none:
    // 01-05 - 2 = 01-03 > toDate)
    val newsKw = Seq(
      (10L, d("2024-01-02"), "spark", 3.0),
      (10L, d("2024-01-02"), "flink", 1.0),
      (11L, d("2024-01-05"), "spark", 9.0)).toDF("id", "date", "word", "value")
    // user 1 active on day 01 only; user 2 active on day 02 only
    val clicks = Seq(
      (1L, 999L, d("2024-01-01"), 1),
      (2L, 999L, d("2024-01-02"), 1)).toDF("userId", "newsId", "date", "count")

    val pairs = RecommendPipeline.scoredPairs(userKw, newsKw, clicks, scene)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // day 01: user1 × news10 = 2*3 + 1*1 = 7; day 02: user2 × news10 = 1*3 = 3
    assert(pairs === Set(
      ("2024-01-01", 1L, 10L, 7.0),
      ("2024-01-02", 2L, 10L, 3.0)))

    val recs = RecommendPipeline.recommendAll(userKw, newsKw, clicks, scene, Some(1))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r.getSeq[Long](2)).toMap
    assert(recs((1L, "2024-01-01")) === Seq(10L))
  }

  test("unbounded recommend (T2): over-budget projection fails loudly; in-budget still runs") {
    val scene = Scene(numDays = 2, fromDate = d("2024-01-01"), toDate = d("2024-01-02"),
      numRecommendations = 1, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
    val userKw = Seq(
      (1L, "spark", 2.0), (2L, "spark", 1.0)).toDF("userId", "word", "value")
    val newsKw = Seq(
      (10L, d("2024-01-02"), "spark", 3.0)).toDF("id", "date", "word", "value")
    val clicks = Seq(
      (1L, 999L, d("2024-01-01"), 1),
      (2L, 999L, d("2024-01-02"), 1)).toDF("userId", "newsId", "date", "count")
    // projected ceiling: day01 1 user × 1 candidate + day02 1 × 1 = 2 elements
    val e = intercept[IllegalArgumentException] {
      RecommendPipeline.recommendAll(userKw, newsKw, clicks, scene, limit = None,
        unboundedRowBudget = 1L)
    }
    assert(e.getMessage.contains("projected output ceiling 2"))
    assert(e.getMessage.contains("quadratic"))
    // exactly at budget: runs, and the bounded branch never consults the budget
    val ok = RecommendPipeline.recommendAll(userKw, newsKw, clicks, scene, limit = None,
        unboundedRowBudget = 2L)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r.getSeq[Long](2)).toMap
    assert(ok((1L, "2024-01-01")) === Seq(10L))
    val bounded = RecommendPipeline.recommendAll(userKw, newsKw, clicks, scene,
      limit = Some(1), unboundedRowBudget = 0L)
    assert(bounded.count() === 2L)
  }

  test("WAND-lite postingCap: per-word top-cap cut, value desc / id asc, score mass drops") {
    val scene = Scene(numDays = 2, fromDate = d("2024-01-01"), toDate = d("2024-01-02"),
      numRecommendations = 5, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
    val userKw = Seq(
      (1L, "spark", 1.0), (1L, "flink", 1.0),
      (2L, "tie", 1.0)).toDF("userId", "word", "value")
    // "spark" has 3 postings (cap=2 keeps ids 10,11 by value); "tie" has 3
    // equal-value postings (cap keeps ids 20,21 by the id-asc tie-break).
    val newsKw = Seq(
      (10L, d("2024-01-01"), "spark", 3.0),
      (11L, d("2024-01-01"), "spark", 2.0),
      (12L, d("2024-01-01"), "spark", 1.0),
      (12L, d("2024-01-01"), "flink", 5.0),
      (20L, d("2024-01-01"), "tie", 1.0),
      (21L, d("2024-01-01"), "tie", 1.0),
      (22L, d("2024-01-01"), "tie", 1.0)).toDF("id", "date", "word", "value")
    val clicks = Seq(
      (1L, 999L, d("2024-01-01"), 1),
      (2L, 999L, d("2024-01-01"), 1)).toDF("userId", "newsId", "date", "count")

    def pairsOf(serving: graft.model.RecServing): Map[(Long, Long), Double] =
      RecommendPipeline.scoredPairs(userKw, newsKw, clicks, scene, serving = serving)
        .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap

    // Exact path (explicit opt-in): news 12 scores via BOTH words (1+5=6).
    assert(pairsOf(graft.model.RecServing.Exact) === Map(
      (1L, 10L) -> 3.0, (1L, 11L) -> 2.0, (1L, 12L) -> 6.0,
      (2L, 20L) -> 1.0, (2L, 21L) -> 1.0, (2L, 22L) -> 1.0))
    // Capped: news 12's "spark" posting is cut (rank 3 by value), so its
    // score keeps only the flink mass; the equal-value "tie" postings cut
    // id-asc — news 22 disappears entirely (deterministic approximation).
    assert(pairsOf(graft.model.RecServing.Capped(2)) === Map(
      (1L, 10L) -> 3.0, (1L, 11L) -> 2.0, (1L, 12L) -> 5.0,
      (2L, 20L) -> 1.0, (2L, 21L) -> 1.0))
    // The DEFAULT serving posture is capped with DefaultCap — the fixture's
    // 3-posting words sit under 64, so the default equals the exact result
    // here while the sf10 stress tier relies on the cap binding.
    assert(graft.model.RecServing.default ===
      graft.model.RecServing.Capped(graft.model.RecServing.DefaultCap))
    assert(pairsOf(graft.model.RecServing.default) ===
      pairsOf(graft.model.RecServing.Exact))
    intercept[IllegalArgumentException](Scoring.cappedPostings(newsKw, "id", 0))
  }

  test("RecommendPipeline cosine mode matches calculateX semantics") {
    val scene = Scene(numDays = 2, fromDate = d("2024-01-01"), toDate = d("2024-01-01"),
      similarityAlgorithm = SimilarityAlgorithm.CosineSimilarity)
    val userKw = Seq((1L, "a", 1.0), (1L, "b", 1.0)).toDF("userId", "word", "value")
    val newsKw = Seq(
      (10L, d("2024-01-01"), "b", 1.0),
      (10L, d("2024-01-01"), "c", 1.0)).toDF("id", "date", "word", "value")
    val clicks = Seq((1L, 999L, d("2024-01-01"), 1)).toDF("userId", "newsId", "date", "count")
    val pairs = RecommendPipeline.scoredPairs(userKw, newsKw, clicks, scene).collect()
    assert(pairs.length === 1)
    assert(pairs(0).getDouble(3) === 0.25) // 1 common / (2*2), the product denominator
  }

  // --- Loop-day bounds: bound values, not code literals.

  private val dayD = d("2024-01-10")
  private val dayD1 = d("2024-01-11")

  /** Inputs whose day D and day D+1 runs have the same shape: both days
    * have active users, candidate news and clicks in their windows.
    */
  private def loopUserKw: DataFrame = Seq(
    (1L, "spark", 2.0), (1L, "flink", 1.0), (2L, "spark", 1.0)).toDF("userId", "word", "value")
  private def loopNewsKw: DataFrame = Seq(
    (10L, d("2024-01-10"), "spark", 3.0), (10L, d("2024-01-10"), "flink", 1.0),
    (11L, d("2024-01-11"), "spark", 2.0), (12L, d("2024-01-11"), "flink", 4.0),
    (13L, d("2024-01-12"), "spark", 1.0), (14L, d("2024-01-12"), "flink", 2.0)
  ).toDF("id", "date", "word", "value")
  private def loopClicks: DataFrame = Seq(
    (1L, 10L, d("2024-01-09"), 2), (2L, 11L, d("2024-01-09"), 1),
    (1L, 10L, d("2024-01-10"), 1), (2L, 11L, d("2024-01-10"), 2),
    (1L, 12L, d("2024-01-11"), 1), (2L, 13L, d("2024-01-11"), 3)
  ).toDF("userId", "newsId", "date", "count")

  private def loopScene(day: Date) = Scene(numDays = 1, fromDate = day, toDate = day,
    numRecommendations = 2, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)

  /** Runs `body` with the given session confs, restoring the prior values. */
  private def withConf[T](confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // Adaptive execution is off here: AQE numbers whole-stage codegen stages in
  // the order its query stages finish, which varies from run to run, and a
  // class whose only change is its stage number is compiled again. Without
  // AQE the day bound is the one thing that can differ between the days.
  test("loop-day rerun: day D+1 compiles no class that day D did not") {
    def runDay(day: Date): Unit = {
      val scene = loopScene(day)
      RecommendPipeline.recommendAll(loopUserKw, loopNewsKw, loopClicks, scene, Some(2)).collect()
      RecommendPipeline.recommendAll(loopUserKw, loopNewsKw, loopClicks, scene, None).collect()
      HotTopicsPipeline.recommendAll(loopClicks, scene).collect()
      ()
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      runDay(dayD)
      val c0 = Bench.codegenCompiles
      runDay(dayD1)
      assert(Bench.codegenCompiles === c0)
    }
  }

  test("BoundDate bounds equal lit bounds row for row, with and without codegen") {
    val dates = (0 to 20).map(i => (i.toLong, Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
      .plusDays(i.toLong)))).toDF("id", "date")
    val (from, to, n) = (d("2024-01-05"), d("2024-01-12"), 3)
    // the pipelines' three bound shapes: a window filter, a shifted window
    // filter, and the clamped day-explode
    def shapes(b: Date => Column): Seq[DataFrame] = Seq(
      dates.filter(col("date").between(b(from), b(to))),
      dates.filter(col("date").between(date_sub(b(from), n), date_add(b(to), n))),
      dates.filter(col("date").between(b(from), date_add(b(to), n)))
        .withColumn("day", explode(sequence(
          greatest(date_sub(col("date"), n), b(from)), least(col("date"), b(to)),
          expr("interval 1 day")))))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def check(): Unit = {
      shapes(graft.functions.BoundDate.of).zip(shapes(lit(_))).foreach { case (bound, literal) =>
        val want = rows(literal)
        assert(want.nonEmpty)
        assert(rows(bound) === want)
      }
      val scene = loopScene(dayD).copy(fromDate = from, toDate = to, numDays = n)
      assert(rows(HotTopicsPipeline.windowCounts(loopClicks, scene)) === rows(loopClicks
        .filter(col("date").between(date_sub(lit(from), n), lit(to)))
        .withColumn("day", explode(sequence(greatest(col("date"), lit(from)),
          least(date_add(col("date"), n), lit(to)), expr("interval 1 day"))))
        .groupBy(col("day"), col("newsId")).agg(sum(col("count")).as("clicks"))))
    }
    check()
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check())
  }

  test("a persisted day-D recommendAll serves day D's rebuild, never day D+1") {
    def recs(day: Date): DataFrame =
      RecommendPipeline.recommendAll(loopUserKw, loopNewsKw, loopClicks, loopScene(day), Some(2))
    def hot(day: Date): DataFrame = HotTopicsPipeline.recommendAll(loopClicks, loopScene(day))
    val cached = Seq(recs(dayD), hot(dayD)).map(_.persist(StorageLevel.MEMORY_ONLY))
    try {
      cached.foreach(df => assert(df.count() > 0))
      assert(recs(dayD).storageLevel === StorageLevel.MEMORY_ONLY)
      assert(hot(dayD).storageLevel === StorageLevel.MEMORY_ONLY)
      assert(recs(dayD1).storageLevel === StorageLevel.NONE)
      assert(hot(dayD1).storageLevel === StorageLevel.NONE)
    } finally cached.foreach(_.unpersist(blocking = true))
  }

  // --- Keyword stages + precision eval.

  test("TfIdfKeywords.userKeywords: A7 sum-then-topk") {
    val tweets = Seq(
      (100L, 1L, "spark spark flink"),
      (101L, 1L, "spark batch"),
      (102L, 2L, "stream stream stream")).toDF("tweetId", "userId", "content")
    val kw = TfIdfKeywords.userKeywords(tweets, numTweetKeywords = 5, numUserKeywords = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(kw.count(_._1 == 1L) === 2)
    assert(kw.count(_._1 == 2L) <= 2 && kw.exists(k => k._1 == 2L && k._2 == "stream"))
  }

  test("TextRankKeywords.newsKeywords produces per-doc keywords") {
    val news = Seq((1L, "spark flink spark batch stream"),
      (2L, "join filter join scan")).toDF("id", "content")
    val scene = Scene(windowSize = 2, numNewsKeywords = 3)
    val kw = TextRankKeywords.newsKeywords(news, scene).collect()
    assert(kw.map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(kw.length <= 6 && kw.length > 0)
  }

  test("PrecisionEval: hit counting") {
    val recs = Seq(
      (1L, d("2024-01-01"), Seq(10L, 11L)),
      (2L, d("2024-01-01"), Seq(10L, 12L))).toDF("userId", "date", "news")
    val clicks = Seq(
      (1L, 10L, d("2024-01-01"), 1), // hit
      (2L, 12L, d("2024-01-01"), 1), // hit
      (2L, 11L, d("2024-01-01"), 1)  // clicked but not recommended to user 2
    ).toDF("userId", "newsId", "date", "count")
    val rows = PrecisionEval.precisions(recs, clicks).collect()
    assert(rows.length === 1)
    val r = rows(0)
    assert(r.getLong(1) === 2L && r.getLong(2) === 4L)
    assert(r.getDouble(3) === 0.5)
  }
}
