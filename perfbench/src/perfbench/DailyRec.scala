package perfbench

import graft.ext.Dedup
import graft.io.Tables
import graft.model.{RecServing, Scene, SimilarityAlgorithm}
import graft.ops.Ops
import graft.pipelines.{HotTopicsPipeline, PrecisionEval, RecommendPipeline, TextRankKeywords}
import graft.runtime.Stage
import graft.text.Tokenizer
import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `daily_rec`: the reference's daily batch loop. One operation is one
  * simulated day D: read the click log as ingested through D, rebuild the
  * TF-IDF news and user profiles, build TextRank keywords for the news
  * published on D and for the day's active users, recommend in the q23
  * lane's posture, build the hot-topics lists and evaluate both.
  *
  * Caches go through the engine's stage registry as the q23 lane's do: the
  * profiles and the recommendation lists are `Stage.shared` stages, the
  * per-day intermediates are `Stage.scopedPersist` caches, and `release`
  * ends the day's query scope.
  */
final class DailyRec(spark: SparkSession, data: String, out: String,
                     trace: Option[Trace]) {

  private val docsDir = s"$data/docs"
  private val held = mutable.ArrayBuffer[DataFrame]()
  private var ops = 0
  // the last day's profiles, clicks and date, for the traced-only layers
  private var last: Option[(DataFrame, DataFrame, DataFrame, Date)] = None

  private def span[T](name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body))

  private def tally(name: String, v: Double): Unit = trace.foreach(_.count(name, v))

  private def scoped(df: DataFrame): DataFrame = { held += df; Stage.scopedPersist(df) }

  private def shared(df: DataFrame): DataFrame = { held += df; df }

  private def write(df: DataFrame, name: String, day: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name/$day")

  /** The q23 lane's scene, cut to one loop-day. */
  private def recScene(d: Date) = Scene(numDays = 7, fromDate = d, toDate = d,
    numRecommendations = 5, similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)

  /** The q19/q24 lanes' hot-topics scene, cut to one loop-day. */
  private def hotScene(d: Date) = Scene(numDays = 7, fromDate = d, toDate = d,
    numRecommendations = 10)

  /** The q23 lane's TF-IDF profile build (`RecQueries.buildProfiles`, which
    * is private to the engine and reads its clicks from a fixed dataset
    * directory) over this day's click log: a scoped term-frequency cache
    * feeds both sides; news keywords are the top 8 of round(tf · ln(N/df), 6)
    * per document; a user's term frequency is the click-weighted sum of the
    * clicked documents' term frequencies, scored and cut the same way. Both
    * profiles are lineage-cut, partition-pinned shared stages on their
    * scoring keys. Returns ((id, date, word, value), (userId, word, value)).
    */
  private def tfidfProfiles(clicks: DataFrame): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, docsDir)
    val tf = scoped(Ops.fanOut(docs)
      .select(col("doc_id"), explode(Tokenizer.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    def top8(scored: DataFrame, id: String): DataFrame =
      Ops.topKPerGroup(
          scored.join(dfreq, "word").crossJoin(broadcast(n))
            .withColumn("value", round(col("tf") * log(col("n_docs") / col("df")), 6))
            .select(col(id), col("word"), col("value")),
          Seq(id), Seq(col("value").desc, col("word").asc), 8)
        .select(col(id), col("word"), col("value"))
    val newsKw = top8(tf, "doc_id").withColumnRenamed("doc_id", "id")
      .join(Tables.news(spark, docsDir).select(col("id"), col("date")), "id")
    val userTf = clicks.groupBy(col("userId"), col("newsId")).agg(count(lit(1)).as("_c"))
      .join(tf, col("newsId") === col("doc_id"))
      .groupBy("userId", "word").agg(sum(col("_c") * col("tf")).as("tf"))
    (shared(Stage.sharedStage(newsKw, col("id"))),
     shared(Stage.sharedStage(top8(userTf, "userId"), col("userId"))))
  }

  def op(day: String): Unit = {
    val d = Date.valueOf(day)
    ops += 1
    val clicks = span("io.scan") {
      val c = scoped(Tables.clicks(spark, s"$data/cuts/$day"))
      c.count()
      c
    }
    val today = clicks.filter(col("date") === lit(d))

    val (newsKw, userKw) = span("text.tfidf") {
      val p = Stage.shared(spark, s"perfbench-profiles:$day:$ops")(tfidfProfiles(clicks))
      tally("text.profile_rows", (p._1.count() + p._2.count()).toDouble)
      p
    }
    span("text.textrank") {
      val news = Tables.news(spark, docsDir)
      val published = TextRankKeywords.newsKeywords(news.filter(col("date") === lit(d)), Scene())
      val tweets = today.select(col("userId"), col("newsId"))
        .join(news.select(col("id").as("newsId"), col("content")), "newsId")
        .select(col("userId"), col("content"))
      val users = TextRankKeywords.userKeywords(tweets, Scene())
      tally("text.profile_rows", (published.count() + users.count()).toDouble)
    }
    val recs = span("pipelines.rank") {
      val r = Stage.shared(spark, s"perfbench-rec-lists:$day:$ops") {
        shared(Stage.persistShared(RecommendPipeline.recommendAll(userKw, newsKw, clicks,
          recScene(d), limit = Some(5), scoreRound = Some(4), serving = RecServing.Exact)))
      }
      write(r.withColumn("news", concat_ws(",", col("news"))), "q23_rec_lists", day)
      r
    }
    val hot = span("pipelines.hot") {
      val h = scoped(HotTopicsPipeline.recommendAll(clicks, hotScene(d)))
      write(h.withColumn("news", concat_ws(",", col("news"))), "q19_hot_topics", day)
      h
    }
    span("pipelines.eval") {
      write(PrecisionEval.precisions(recs, clicks), "q46_precision_rec", day)
      val perUser = Ops.distinctUsersPerDay(clicks).filter(col("date") === lit(d))
        .join(hot, "date").select(col("userId"), col("date"), col("news"))
      write(PrecisionEval.precisions(perUser, clicks), "q24_precision_hot", day)
    }
    last = Some((newsKw, userKw, clicks, d))
  }

  /** The traced run's extra layer calls on the last day, run as an
    * operation of its own so the day's engine metrics stay those of the
    * untraced day: the day's scoring stage materialized on its own (the
    * `sim` layer), then near-duplicate clustering of the news corpus (the
    * `ext` layer).
    */
  def tracedLayers(t: Trace): Unit = {
    val (newsKw, userKw, clicks, d) = last.getOrElse(
      throw new IllegalStateException("no completed day to trace"))
    t.span("sim.score") {
      val kept = RecommendPipeline.scoredPairs(userKw, newsKw, clicks, recScene(d),
        Some(4), RecServing.Exact).count()
      t.count("sim.pairs_kept", kept.toDouble)
    }
    dedupSteps(t, Tables.documents(spark, docsDir))
  }

  /** MinHash, star LSH candidates, exact Jaccard and connected components
    * over `docs` (doc_id, text), one span per step with its output
    * materialized at the boundary; records the candidate count and the
    * share of candidates at or above the 0.5 threshold.
    */
  private def dedupSteps(t: Trace, docs: DataFrame): Unit = {
    val sigs = t.span("ext.minhash") {
      val s = scoped(Dedup.minhashSignatures(Ops.fanOut(docs), "doc_id", col("text"), 3, 8))
      s.count()
      s
    }
    val cands = t.span("ext.lsh") {
      val c = scoped(Dedup.lshStarCandidates(sigs, "doc_id", 8, 2))
      t.count("ext.candidates", c.count().toDouble)
      c
    }
    val scored = t.span("ext.jaccard") {
      val arrs = Dedup.shingleArrays(Ops.fanOut(docs), "doc_id", col("text"), 3)
      val s = scoped(Dedup.jaccardOnArrays(cands, arrs))
      val n = s.count()
      val kept = s.filter(col("jaccard") >= 0.5).count()
      t.count("ext.verified_ratio", if (n == 0) 0.0 else kept.toDouble / n)
      s
    }
    t.span("ext.cc") {
      Dedup.connectedComponents(docs.select(col("doc_id").as("_id")),
        scored.filter(col("jaccard") >= 0.5).select(col("doc_a").as("a"), col("doc_b").as("b")))
        .count()
    }
  }

  /** Bytes held by persisted frames now: the stage caches the day built. */
  def cachedBytes: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble

  /** Ends the day's query scope: drops its scoped caches and the shared
    * stages it built, waiting until their blocks are gone.
    */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
    Stage.newQueryScope()
    last = None
  }
}
