package graft

import graft.ext.{Ann, Dedup}
import graft.model.{Scene, SimilarityAlgorithm}
import graft.pipelines.{HotTopicsPipeline, PrecisionEval, RecommendPipeline}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date

/** Degenerate-input behavior: pipelines must return empty results (never
  * throw) on empty/out-of-range inputs — the shapes a real scheduler feeds
  * them at partition boundaries.
  */
class EdgeCaseSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private val emptyClicks = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("userId", LongType), StructField("newsId", LongType),
      StructField("date", DateType), StructField("count", IntegerType))))

  private val scene = Scene(numDays = 2, fromDate = Date.valueOf("2024-01-01"),
    toDate = Date.valueOf("2024-01-05"), numRecommendations = 3)

  test("HotTopics on zero clicks: empty, no failure") {
    assert(HotTopicsPipeline.topicsPerDay(emptyClicks, scene).count() === 0)
    assert(HotTopicsPipeline.recommendAll(emptyClicks, scene).count() === 0)
  }

  test("HotTopics with all clicks outside the scene range: empty") {
    val clicks = Seq((1L, 10L, Date.valueOf("2023-06-01"), 1))
      .toDF("userId", "newsId", "date", "count")
    assert(HotTopicsPipeline.topicsPerDay(clicks, scene).count() === 0)
  }

  test("recommendAll with no active users / empty profiles: empty") {
    val userKw = Seq.empty[(Long, String, Double)].toDF("userId", "word", "value")
    val newsKw = Seq((10L, Date.valueOf("2024-01-02"), "w", 1.0))
      .toDF("id", "date", "word", "value")
    val sc = scene.copy(similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
    assert(RecommendPipeline.recommendAll(userKw, newsKw, emptyClicks, sc, Some(3)).count() === 0)
  }

  test("PrecisionEval with empty recommendations: empty") {
    val recs = Seq.empty[(Long, Date, Seq[Long])].toDF("userId", "date", "news")
    assert(PrecisionEval.precisions(recs, emptyClicks).count() === 0)
  }

  test("dedup on texts shorter than the shingle size: empty signatures, jaccard well-defined") {
    val docs = Seq((1L, "one two"), (2L, "x")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8).collect()
    assert(sigs.length === 2)
    sigs.foreach(r => assert(r.isNullAt(1))) // no shingles -> null sig
    val j = Dedup.jaccardOnArrays(Seq((1L, 2L)).toDF("doc_a", "doc_b"),
      Dedup.shingleArrays(docs, "doc_id", col("text"), 3))
    // both shingle sets empty -> the pair is dropped (no rows)
    assert(j.count() === 0)
  }

  test("ANN with empty query side: empty") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(Ann.bruteForceTopK(e.filter($"vec_id" < 0), e.limit(10), 3).count() === 0)
  }

  test("sessionize: empty input and single-event users are well-defined") {
    val empty = Seq.empty[(Long, Long, java.sql.Timestamp)].toDF("k", "id", "t")
    assert(graft.ops.Sessionize.sessionStats(empty, "k", "t", "id", 1800L).count() === 0)
    val one = Seq((7L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "id", "t")
    val stats = graft.ops.Sessionize.sessionStats(one, "k", "t", "id", 1800L).collect()
    assert(stats.length === 1)
    assert(stats.head.getLong(1) === 1L) // session_id 1
    assert(stats.head.getLong(2) === 1L) // n_events 1
    assert(stats.head.getTimestamp(3) === stats.head.getTimestamp(4)) // start == end
  }

  test("asOfJoin: empty right side drops all left rows (inner as-of)") {
    val trades = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 100L))
      .toDF("k", "t", "trade_id")
    val quotes = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("qk", "qt", "price")
    assert(graft.ops.Ops.asOfJoin(trades, "k", "t", quotes, "qk", "qt", Seq("price"))
      .count() === 0)
  }

  test("frame sampling on an empty payload: frames exist with zero offsets") {
    val blobs = Seq((1L, Array.emptyByteArray)).toDF("doc_id", "payload")
    val frames = graft.ext.Multimodal.sampleFrames(blobs, 3).collect()
    assert(frames.length === 3)
    assert(frames.forall(_.frame_off === 0L))
    assert(frames.map(_.frame_digest).distinct.length === 3) // digest still varies by idx
  }

  test("linear gap fill edges: single-observation series and gap-free series pass through") {
    // hand series: user 1 has one day (no grid to fill), user 2 has a
    // 3-day gap (interpolates 10 -> 40 linearly), user 3 is dense
    val daily = Seq(
      (1L, "2024-01-05", 7.0),
      (2L, "2024-01-01", 10.0), (2L, "2024-01-04", 40.0),
      (3L, "2024-01-01", 1.0), (3L, "2024-01-02", 2.0)
    ).toDF("user_id", "day", "v").withColumn("day", to_date($"day"))
    val grid = daily.groupBy($"user_id")
      .agg(min($"day").as("_d0"), max($"day").as("_d1"))
      .select($"user_id",
        explode(sequence($"_d0", $"_d1", expr("interval 1 day"))).as("day"))
    val wP = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy("day").rowsBetween(Long.MinValue, 0)
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy("day").rowsBetween(0, Long.MaxValue)
    val out = grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("_pv", last($"v", ignoreNulls = true).over(wP))
      .withColumn("_pd", last(when($"v".isNotNull, $"day"), ignoreNulls = true).over(wP))
      .withColumn("_nv", first($"v", ignoreNulls = true).over(wN))
      .withColumn("_nd", first(when($"v".isNotNull, $"day"), ignoreNulls = true).over(wN))
      .select($"user_id", $"day",
        when($"v".isNotNull, $"v")
          .otherwise(graft.ops.Ops.linearInterpMicro(
            $"_pv", $"_nv", $"_pd", $"_nd", $"day")).as("value"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString) -> r.getDouble(2)).toMap
    assert(out((1L, "2024-01-05")) === 7.0)
    assert(out((2L, "2024-01-02")) === 20.0) // 10 + (40-10)*1/3
    assert(out((2L, "2024-01-03")) === 30.0)
    assert(out((3L, "2024-01-02")) === 2.0)
    assert(out.size === 1 + 4 + 2)
  }

  test("event-pattern regex: single-event users and no-match sequences count zero, never null") {
    val seqs = Seq((1L, "v"), (2L, "ppp"), (3L, "vxcvc")).toDF("user_id", "seq")
    val out = seqs.select($"user_id",
        regexp_count($"seq", lit("v[^c]*c")).as("n"),
        $"seq".rlike("v.*c.*p").as("path"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out(1L) === ((0, false)))
    assert(out(2L) === ((0, false)))
    assert(out(3L) === ((2, false))) // non-overlapping: "vxc" and "vc"
  }
}
