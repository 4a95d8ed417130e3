package graft.pipelines

import graft.functions.BoundDate
import graft.model.Scene
import graft.ops.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The popularity recommender (reference E3, /root/reference/HotTopics.java).
  *
  * Reference shape: per loop-day, filter clicks to the ±numDays past window,
  * `groupBy(date,newsId)` sum counts, sort by count desc, take top
  * numRecommendations (HotTopics.java:33-57,67-93). The snapshot's
  * `RecommendationModel.fromClickList` is absent; frozen spec: counts are
  * summed **per newsId across the whole window** and ties break newsId-asc.
  *
  * Spark-first: the driver day-loop is replaced by a single job. Each click
  * contributes to the loop-days `day ∈ [date, date+numDays] ∩ [from, to]` —
  * that membership is *exploded map-side* (≤ numDays+1 rows per click, no
  * range join, no cross), then one hash aggregation on (day, newsId) and a
  * per-day window top-k. At 100 TB: explode factor is a small constant, both
  * shuffles are on well-distributed keys, and AQE handles hot-day skew.
  */
object HotTopicsPipeline {

  /** Per-day window click counts: (day, newsId, clicks), each click counted
    * for every loop-day `day ∈ [date, date+numDays] ∩ [from, to]`. The scene
    * bounds are [[graft.functions.BoundDate]]s, so rerunning this for the
    * next day reuses the day before's generated code.
    */
  def windowCounts(clicks: DataFrame, scene: Scene): DataFrame = {
    val (from, to) = (BoundDate.of(scene.fromDate), BoundDate.of(scene.toDate))
    val contributesTo = explode(sequence(
      greatest(col("date"), from),
      least(date_add(col("date"), scene.numDays), to),
      expr("interval 1 day")))
    clicks
      .filter(col("date").between(date_sub(from, scene.numDays), to))
      .withColumn("day", contributesTo)
      .groupBy(col("day"), col("newsId"))
      .agg(sum(col("count")).as("clicks"))
  }

  /** Per-day hot-topic counts: (day, newsId, clicks, rn), rn ≤ numRecommendations. */
  def topicsPerDay(clicks: DataFrame, scene: Scene): DataFrame =
    Ops.topKPerGroup(windowCounts(clicks, scene), Seq("day"),
      Seq(col("clicks").desc, col("newsId").asc), scene.numRecommendations)

  /** Reference-shaped output: one row per day with the ranked news list
    * (RecommendationModel, HotTopics.java:44,48-53).
    */
  def recommendAll(clicks: DataFrame, scene: Scene): DataFrame =
    topicsPerDay(clicks, scene)
      .groupBy(col("day").as("date"))
      .agg(transform(
        array_sort(collect_list(struct(col("rn"), col("newsId")))),
        x => x("newsId")).as("news"))
}
