package graft.pipelines

import graft.model.Scene
import graft.ops.Ops
import graft.text.{TextRankCore, TfIdf}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyword-profile generation stages (reference E1a/E2 upstream).
  * Outputs are normalized (id-or-userId, word, value) rows — the inverted
  * form the scale-path scorer consumes directly; the reference's
  * `DocumentModel`-shaped nested arrays are one `collect_list(struct(...))`
  * away when its round-trip format is wanted.
  */
object TfIdfKeywords {

  /** News keywords: field-weighted terms → TF-IDF → per-doc top-k
    * (reference generateNewsKeywords, /root/reference/TF_IDF.java:56-84:
    * title/description/content weighted; here the field/weight pairs are a
    * parameter). Returns (id, word, value).
    */
  def newsKeywords(news: DataFrame, fields: Seq[(Column, Double)], numKeywords: Int): DataFrame =
    TfIdf.topKeywords(news, "id", fields, numKeywords)
      .select(col("id"), col("word"), col("score").as("value"))

  /** Per-tweet keywords then per-user top-k profile (reference
    * generateTweetsKeywords + generateUserKeywords = A7,
    * /root/reference/TF_IDF.java:86-119: tweet docs get TF-IDF keywords,
    * then a user's tweet-keyword weights are summed per word and cut to
    * numUserKeywords). tweets: (tweetId, userId, content).
    * Returns (userId, word, value).
    */
  def userKeywords(tweets: DataFrame, numTweetKeywords: Int, numUserKeywords: Int): DataFrame = {
    val tweetKw = TfIdf.topKeywords(tweets, "tweetId", Seq(col("content") -> 1.0), numTweetKeywords)
    val perUser = tweetKw
      .join(tweets.select("tweetId", "userId"), "tweetId")
      .groupBy(col("userId"), col("word"))
      .agg(sum(col("score")).as("value"))
    Ops.topKPerGroup(perUser, Seq("userId"),
      Seq(col("value").desc, col("word").asc), numUserKeywords)
      .select(col("userId"), col("word"), col("value"))
  }
}

/** TextRank keyword stages (reference E2 upstream,
  * /root/reference/TextRank.java:57-141). The graph + power iteration is a
  * per-document pure function (never crosses rows), so it runs inside a UDF;
  * only the grouping of a user's tweets is distributed.
  */
object TextRankKeywords {

  /** News keywords via per-document window-graph TextRank (reference P1/F2/F4,
    * TextRank.java:57-75). news: (id, content, ...). Returns (id, word, value).
    */
  def newsKeywords(news: DataFrame, scene: Scene): DataFrame =
    news.select(col("id"),
        explode(TextRankCore.keywordsCol(col("content"), scene.windowSize,
          scene.numNewsKeywords, scene.friction, scene.maxIterates,
          scene.minDifference)).as("kw"))
      .select(col("id"), col("kw.word").as("word"), col("kw.value").as("value"))

  /** User profiles via merged-tweet clique graphs (reference A2/F3,
    * TextRank.java:103-128): all of a user's tweets accumulate into one
    * graph, then one vote. tweets: (userId, content).
    * Returns (userId, word, value).
    *
    * Scale note: collect_list bounds memory by the user's tweet volume — the
    * same bound the reference's reduceGroup iterator has; heavy users are the
    * algorithm's cost, not the plan's.
    */
  def userKeywords(tweets: DataFrame, scene: Scene): DataFrame = {
    val voteUdf = udf((texts: Seq[String]) =>
      TextRankCore.userKeywords(texts, scene.numUserKeywords, scene.friction,
        scene.maxIterates, scene.minDifference))
    tweets.groupBy(col("userId"))
      .agg(sort_array(collect_list(col("content"))).as("texts"))
      .select(col("userId"), explode(voteUdf(col("texts"))).as("kw"))
      .select(col("userId"), col("kw.word").as("word"), col("kw.value").as("value"))
  }
}

/** Precision evaluation (reference `PrecisionStats.precisions` + `statAll`,
  * impl absent — signatures at /root/reference/TextRank.java:363,
  * TF_IDF.java:281, HotTopics.java:100; StatItem row shape
  * Tuple4<Date,Integer,Integer,Double> at TextRank.java:357-359).
  *
  * Frozen spec: a recommended (userId, date, newsId) is a hit iff that user
  * clicked that news on that date. Per-date output mirrors the Tuple4:
  * (date, n_hits, n_recommended, precision = n_hits / n_recommended).
  */
object PrecisionEval {

  /** recs: (userId, date, news array). clicks: (userId, newsId, date, count).
    * Returns (date, n_hits, n_recommended, precision).
    */
  def precisions(recs: DataFrame, clicks: DataFrame): DataFrame = {
    val exploded = recs.select(col("userId"), col("date"),
      explode(col("news")).as("newsId"))
    val clicked = clicks.select("userId", "date", "newsId").distinct()
      .withColumn("_hit", lit(1))
    exploded
      .join(clicked, Seq("userId", "date", "newsId"), "left")
      .groupBy(col("date"))
      .agg(
        sum(coalesce(col("_hit"), lit(0))).as("n_hits"),
        count(lit(1)).as("n_recommended"))
      .withColumn("precision",
        round(col("n_hits").cast("double") / col("n_recommended"), 6))
  }
}
