package graft

import graft.pipelines.AlsRecommender
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date

class AlsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("ALS recommender: seeded run produces bounded per-user rankings") {
    val clicks = Seq(
      (100L, 1L, Date.valueOf("2024-01-01"), 3),
      (100L, 2L, Date.valueOf("2024-01-01"), 1),
      (200L, 2L, Date.valueOf("2024-01-02"), 4),
      (200L, 3L, Date.valueOf("2024-01-02"), 2),
      (300L, 1L, Date.valueOf("2024-01-02"), 1),
      (300L, 3L, Date.valueOf("2024-01-03"), 5)
    ).toDF("userId", "newsId", "date", "count")

    val recs = AlsRecommender.recommend(clicks, k = 2, maxIter = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    val users = recs.map(_._1).toSet
    assert(users === Set(100L, 200L, 300L))
    // per-user: at most k rows, ranks contiguous from 1, scores non-increasing
    recs.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.length <= 2)
      assert(sorted.map(_._4).toSeq === (1 to sorted.length))
      assert(sorted.map(_._3).toSeq.reverse.sorted.reverse === sorted.map(_._3).toSeq)
    }
    // determinism under the fixed seed
    val again = AlsRecommender.recommend(clicks, k = 2, maxIter = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(again.sortBy(r => (r._1, r._4)).toSeq === recs.sortBy(r => (r._1, r._4)).toSeq)
  }

  test("ALS audit: bound verdicts hold on the fixture and cover every user") {
    val clicks = Seq(
      (100L, 1L, Date.valueOf("2024-01-01"), 3),
      (100L, 2L, Date.valueOf("2024-01-01"), 1),
      (200L, 2L, Date.valueOf("2024-01-02"), 4),
      (200L, 3L, Date.valueOf("2024-01-02"), 2),
      (300L, 1L, Date.valueOf("2024-01-02"), 1),
      (300L, 3L, Date.valueOf("2024-01-03"), 5),
      (400L, 4L, Date.valueOf("2024-01-03"), 2)
    ).toDF("userId", "newsId", "date", "count")
    val audit = AlsRecommender.audit(clicks, k = 2, maxIter = 5)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))
    assert(audit.map(_._1).toSet === Set(100L, 200L, 300L, 400L))
    audit.foreach { case (u, kOk, monoOk, sepOk) =>
      assert(kOk && monoOk && sepOk, s"user $u verdicts: $kOk $monoOk $sepOk")
    }
  }
}
