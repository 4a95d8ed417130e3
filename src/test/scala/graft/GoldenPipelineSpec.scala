package graft

import graft.io.CsvSources
import graft.model.{Scene, SimilarityAlgorithm}
import graft.pipelines._
import graft.text.{TextRankCore, TfIdf}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date

/** Golden-output tests on the committed reference-shaped fixtures
  * (src/test/resources/fixtures, per FIXTURES.md §a: ≥2 users, 5 news across
  * 3 days, overlapping tweet vocabulary, a similarity tie, a day with zero
  * clicks, and a document exercising the TextRank tail-window clamp). These
  * freeze the frozen-spec choices for the reference's absent classes into
  * concrete expected values.
  */
class GoldenPipelineSpec extends AnyFunSuite with SparkSuite {

  private def fixture(name: String): String =
    getClass.getClassLoader.getResource(s"fixtures/$name").getPath

  private def d(s: String): Date = Date.valueOf(s)

  test("fixtures load through the schema-checked CSV sources") {
    assert(CsvSources.loadNews(spark, fixture("news.csv")).count() === 5)
    assert(CsvSources.loadTweets(spark, fixture("tweets.csv")).count() === 4)
    assert(CsvSources.loadClicks(spark, fixture("clicks.csv")).count() === 4)
  }

  test("golden: HotTopics over the fixture clicks (zero-click day covered by window)") {
    val clicks = CsvSources.loadClicks(spark, fixture("clicks.csv")).toDF()
    val scene = Scene(numDays = 1, fromDate = d("2024-01-01"), toDate = d("2024-01-03"),
      numRecommendations = 2)
    val recs = HotTopicsPipeline.recommendAll(clicks, scene)
      .collect().map(r => r.getDate(0).toString -> r.getSeq[Long](1)).toMap
    // day 1: news1=1, news2=1 -> tie broken newsId asc; day 2 (no clicks of
    // its own) covered by the 1-day window; day 3: window [01-02, 01-03]
    // holds only the two news3 clicks
    assert(recs === Map(
      "2024-01-01" -> Seq(1L, 2L),
      "2024-01-02" -> Seq(1L, 2L),
      "2024-01-03" -> Seq(3L)))
  }

  test("golden: TextRank keywords of the tail-clamp document are all 1-d") {
    // "alpha beta gamma", window 2: graph alpha:{}, beta:{alpha}, gamma:{alpha}
    // (right=0 clamp); alpha has degree 0 => every node scores exactly 1-d.
    val ks = TextRankCore.keywords("alpha beta gamma", windowSize = 2,
      numKeywords = 3, friction = 0.85, maxIterates = 100, minDifference = 1e-9)
    assert(ks.map(_.word) === List("alpha", "beta", "gamma")) // tie -> word asc
    ks.foreach(k => assert(math.abs(k.value - 0.15) < 1e-12))
  }

  test("golden: TF-IDF top keyword of the spark doc is 'spark' with tf·ln(N/df)") {
    val news = CsvSources.loadNews(spark, fixture("news.csv")).toDF()
    val top = TfIdf.topKeywords(news, "id", Seq(col("content") -> 1.0), k = 1, roundTo = 6)
      .filter(col("id") === 1).collect().head
    assert(top.getString(1) === "spark")
    assert(top.getDouble(2) === math.rint(2.0 * math.log(5.0) * 1e6) / 1e6) // 3.218876
  }

  test("golden: field weighting doubles title terms (F14)") {
    val news = CsvSources.loadNews(spark, fixture("news.csv")).toDF()
    val counts = TfIdf.termCounts(news,
      "id", Seq(col("title") -> 2.0, col("content") -> 1.0))
      .filter(col("id") === 1).collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    // 'spark': 1 title occurrence * 2.0 + 2 content occurrences * 1.0
    assert(counts("spark") === 4.0)
    // 'news' appears only in the title
    assert(counts("news") === 2.0)
  }

  test("staged round-trip (reference E1a -> E1): keywords written, reloaded, recommend unchanged") {
    // The reference materializes keyword stages to files and re-reads them
    // (S4/K1, TF_IDF.java:76-81,156,176). Same lifecycle here via the dual
    // writer + parquet reload; recommendations must equal the direct run.
    val news = CsvSources.loadNews(spark, fixture("news.csv")).toDF()
    val clicks = CsvSources.loadClicks(spark, fixture("clicks.csv")).toDF()
    val tweets = CsvSources.loadTweets(spark, fixture("tweets.csv")).toDF()
      .withColumn("tweetId", monotonically_increasing_id())
    val base = tempDir("graft_stage")

    val newsKw = TfIdfKeywords.newsKeywords(news, Seq(col("content") -> 1.0), 5)
      .join(news.select(col("id"), col("date")), "id")
    val userKw = TfIdfKeywords.userKeywords(
      tweets.select("tweetId", "userId", "content"), 5, 5)
    graft.io.Writers.writeDual(newsKw, concat_ws("|", col("id"), col("word")),
      s"$base/news_kw", s"$base/news_kw_txt")
    graft.io.Writers.writeDual(userKw, concat_ws("|", col("userId"), col("word")),
      s"$base/user_kw", s"$base/user_kw_txt")

    val scene = Scene(numDays = 3, fromDate = d("2024-01-01"), toDate = d("2024-01-03"),
      numRecommendations = 3, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
    def run(nk: org.apache.spark.sql.DataFrame, uk: org.apache.spark.sql.DataFrame) =
      RecommendPipeline.recommendAll(uk, nk, clicks, scene, Some(3))
        .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r.getSeq[Long](2)).toMap

    val direct = run(newsKw, userKw)
    val staged = run(spark.read.parquet(s"$base/news_kw"), spark.read.parquet(s"$base/user_kw"))
    assert(staged === direct)
    assert(direct.nonEmpty)
  }

  test("golden: end-to-end recommend on fixtures ranks the spark news first for the spark user") {
    val news = CsvSources.loadNews(spark, fixture("news.csv")).toDF()
    val clicks = CsvSources.loadClicks(spark, fixture("clicks.csv")).toDF()
    val tweets = CsvSources.loadTweets(spark, fixture("tweets.csv")).toDF()
      .withColumn("tweetId", monotonically_increasing_id())

    val newsKw = TfIdfKeywords.newsKeywords(news, Seq(col("content") -> 1.0), 5)
      .join(news.select(col("id"), col("date")), "id")
    val userKw = TfIdfKeywords.userKeywords(
      tweets.select("tweetId", "userId", "content"), 5, 5)

    val scene = Scene(numDays = 3, fromDate = d("2024-01-01"), toDate = d("2024-01-03"),
      numRecommendations = 3, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
    val recs = RecommendPipeline.recommendAll(userKw, newsKw, clicks, scene, Some(3))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r.getSeq[Long](2)).toMap

    // user 100 (spark/streaming/fast/engine vocabulary) active on 01-01:
    // news 1 shares spark+streaming+fast+engine terms and must rank first
    val u100 = recs((100L, "2024-01-01"))
    assert(u100.head === 1L)
    // user 200 (flink/stateful/streaming/batch/slow) active on 01-01:
    // news 3 wins (its doubled 'batch' term gives tf=2 weight), news 2
    // (flink stateful streaming) is the runner-up
    val u200 = recs((200L, "2024-01-01"))
    assert(u200.take(2) === Seq(3L, 2L))
  }
}
