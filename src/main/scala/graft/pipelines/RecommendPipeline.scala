package graft.pipelines

import graft.functions.BoundDate
import graft.model.{RecServing, Scene, SimilarityAlgorithm}
import graft.ops.Ops
import graft.sim.Scoring
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared recommendation skeleton of the two content-based pipelines
  * (reference E1/E2 `recommend()`, /root/reference/TF_IDF.java:151-234,
  * TextRank.java:220-312): per loop-day,
  *   1. today's active users (distinct users who clicked today, A1),
  *   2. their keyword profiles (semi-join, reference J1 cross+contains),
  *   3. candidate news = news dated in [today, today+numDays] (direction-1
  *      DateZoneFilter, TF_IDF.java:166),
  *   4. score every (user, news) pair (J2), keep score > 0,
  *   5. per-user ranking: TextRank cuts at numRecommendations
  *      (TextRank.java:294-296), TF_IDF collects all (TF_IDF.java:206-221).
  *
  * Spark-first: the day loop is one job — candidate news membership
  * `news.date ∈ [day, day+numDays]` is exploded map-side into
  * `day ∈ [date-numDays, date]`, users arrive as normalized (date, userId)
  * rows joined on equality, and scoring is the inverted-index equi-join
  * (graft.sim.Scoring) instead of a cross product. Ties in scores break
  * newsId-asc (frozen spec; the reference's sortGroup tie order is
  * unspecified).
  *
  * Every scene bound enters the plan as a [[graft.functions.BoundDate]], not
  * a literal: a daily loop reruns this pipeline with a new day, and a bound
  * day keeps each day's generated code identical to the day before, so the
  * loop hits Spark's codegen cache instead of compiling new classes.
  */
object RecommendPipeline {

  /** Default ceiling for the unbounded (T2) branch's projected output
    * elements, overridable per-deployment via `graft.rec.unboundedBudget`.
    * 100M elements ≈ low-GBs of (user, date, news-array) output — the same
    * order as [[graft.ops.Ops.nullSafeJoinGuarded]]'s pair budget. The
    * bench-SF ceiling is ~10M; sf1's is ~100× that, so the default refuses
    * at sf1 by design (q220 is excluded there by contract).
    */
  def defaultUnboundedRowBudget: Long =
    sys.props.get("graft.rec.unboundedBudget").map(_.toLong).getOrElse(100000000L)

  /** Upper bound on the unbounded branch's total collected list elements:
    * Σ_day |active users(day)| × |candidate news(day)| — every output
    * element is an (active user, candidate news) pair of its day, so the
    * product ceiling dominates the true output. One probe job over two
    * per-day count aggregates (each ≤ |days| rows); nothing large moves.
    */
  private def estimateUnboundedElements(activeUsers: DataFrame,
                                        newsDays: DataFrame): Long = {
    val u = activeUsers.groupBy(col("day")).agg(count(lit(1)).as("_u"))
    val n = newsDays.groupBy(col("day")).agg(count(lit(1)).as("_n"))
    val row = u.join(n, "day")
      .agg(coalesce(sum(col("_u") * col("_n")), lit(0L)).as("est"))
      .head()
    row.getLong(0)
  }

  /** Active (date, userId) pairs within the scene range (reference A1 +
    * per-day filter).
    */
  def activeUsers(clicks: DataFrame, scene: Scene): DataFrame =
    Ops.distinctUsersPerDay(clicks)
      .filter(col("date").between(BoundDate.of(scene.fromDate), BoundDate.of(scene.toDate)))

  /** [[activeUsers]] keyed (day, userId), as the day joins below use it. */
  private def activeUsersOf(clicks: DataFrame, scene: Scene): DataFrame =
    activeUsers(clicks, scene).withColumnRenamed("date", "day")

  /** Day-invariant (userId, newsId=id, score) pairs with score > 0, scored
    * once via the inverted-index word join.
    */
  private def pairScores(userKw: DataFrame, newsKw: DataFrame, activeUsers: DataFrame,
                         scene: Scene, scoreRound: Option[Int],
                         serving: RecServing): DataFrame = {

    // Similarity is day-INVARIANT: score each relevant (user, news) pair
    // exactly once via the inverted-index word join, then attach day
    // eligibility with cheap equi-joins. (The first cut of this operator
    // keyed the word join on (day, word) — numDays× redundant arithmetic and
    // a numDays× larger pre-aggregation shuffle. At 100 TB that difference
    // is the job.)
    val inRange = newsKw.filter(candidateDate(scene))
    // Serving posture (see [[graft.model.RecServing]]): the DEFAULT is the
    // WAND-lite posting cap, bounding the word join's per-word fan-out to
    // |users| × cap — the exact posture's sf10 spill envelope (~100 GB per
    // node on a dup-heavy corpus) is an explicit opt-in for parity lanes.
    val relevantNews = serving match {
      case RecServing.Capped(cap) => Scoring.cappedPostings(inRange, "id", cap)
      case RecServing.Exact       => inRange
    }
    // Score active users only. The active set is BROADCAST by hint: it is
    // small by contract (distinct users active in the scene window), and
    // hinting it keeps the PROFILE side — whose partitioning the shared
    // stage pins (Stage.sharedStage) — as the streamed side. That pinned
    // parallelism is what keeps the word join below, this engine's
    // highest-fanout operator (~40k profile rows → ~143M joined rows at
    // sf1), running wide: if the planner instead broadcast the profiles
    // and streamed the active-users exchange, AQE — which sizes stages by
    // their input exchanges and cannot see join fan-out — would coalesce
    // that KB-sized exchange to ONE partition and the whole join + pair
    // aggregation would run serially (measured: q22 sf1 17 s → 220 s, a
    // 222 s single-task stage in the event log).
    //
    // Regime boundary: the hint is absolute, so a deployment whose active
    // set outgrows the broadcast ceiling (≳10⁸ users) must drop it — and
    // may safely do so, because the serial-collapse pathology only exists
    // while the exchanges are KB-sized relative to AQE's minPartitionSize;
    // with a huge active set every exchange is large and AQE sizes the
    // stages correctly on its own.
    val userWords = userKw
      .join(broadcast(activeUsers.select("userId").distinct()), "userId")

    val scored = scene.similarityAlgorithm match {
      case SimilarityAlgorithm.CosineSimilarity =>
        Scoring.invertedCosineX(userWords.select("userId", "word"), "userId",
          relevantNews.select("id", "word"), "id")
      case SimilarityAlgorithm.EuclideanDistance =>
        Scoring.invertedDot(userWords, "userId", relevantNews, "id")
    }
    // Optional rounding BEFORE the >0 guard and ranking: makes ordering
    // reproducible bit-for-bit across engines (oracle parity).
    val maybeRounded = scoreRound match {
      case Some(p) => scored.withColumn("score", round(col("score"), p))
      case None    => scored
    }
    maybeRounded
      .filter(col("score") > 0) // reference guard TextRank.java:275
      .select(col("userId"), col("id"), col("score"))
  }

  /** A news `date` some loop-day of the scene can recommend:
    * date ∈ [from, to+numDays].
    */
  private def candidateDate(scene: Scene): Column =
    col("date").between(BoundDate.of(scene.fromDate),
      date_add(BoundDate.of(scene.toDate), scene.numDays))

  /** Distinct (id, date) pairs restricted to [from, to+numDays]. pairScores
    * pre-filters the SCORED side to this range, but a news id can carry a
    * second, out-of-range date row; joining the unfiltered distinct would
    * hand `sequence(greatest(..), least(..))` a start > end and fail at
    * runtime. Every recommendAll/newsDaysOf consumer must go through here.
    */
  private def newsDatesInRange(newsKw: DataFrame, scene: Scene): DataFrame =
    newsKw.select("id", "date").distinct().filter(candidateDate(scene))

  /** The loop-days a news doc dated `date` is a candidate for:
    * day ∈ [date-numDays, date] ∩ [from, to], one row each.
    */
  private def loopDays(scene: Scene): Column = explode(sequence(
    greatest(date_sub(col("date"), scene.numDays), BoundDate.of(scene.fromDate)),
    least(col("date"), BoundDate.of(scene.toDate)),
    expr("interval 1 day")))

  /** Day eligibility: news doc is a candidate for day ∈ [date-numDays, date]
    * ∩ [from, to] (direction-1 DateZoneFilter) — exploded once per news doc
    * (≤ numDays+1 rows each), never per word or per pair.
    */
  private def newsDaysOf(newsKw: DataFrame, scene: Scene): DataFrame =
    newsDatesInRange(newsKw, scene)
      .withColumn("day", loopDays(scene))
      .select(col("id"), col("day"))

  /** Scored (date, userId, newsId, score) for every active (user, day) ×
    * candidate news pair with score > 0.
    *
    * @param userKw  (userId, word, value) — user-profile keywords
    * @param newsKw  (id, date, word, value) — news keywords
    * @param clicks  (userId, newsId, date, count)
    */
  def scoredPairs(userKw: DataFrame, newsKw: DataFrame, clicks: DataFrame,
                  scene: Scene, scoreRound: Option[Int] = None,
                  serving: RecServing = RecServing.default): DataFrame = {
    val activeUsers = activeUsersOf(clicks, scene)
    pairScores(userKw, newsKw, activeUsers, scene, scoreRound, serving)
      .join(newsDaysOf(newsKw, scene), "id")
      .join(activeUsers, Seq("day", "userId"), "left_semi")
      .select(col("day").as("date"), col("userId"), col("id").as("newsId"), col("score"))
  }

  /** Reference-shaped recommendations (userId, date, news array), ranked
    * score-desc / newsId-asc; `limit` = Some(k) for the TextRank cut, None
    * for TF_IDF's unbounded collect. `serving` defaults to the capped
    * posture ([[graft.model.RecServing]]) — reference-parity callers must
    * opt in to `RecServing.Exact` explicitly.
    */
  def recommendAll(userKw: DataFrame, newsKw: DataFrame, clicks: DataFrame,
                   scene: Scene, limit: Option[Int],
                   scoreRound: Option[Int] = None,
                   serving: RecServing = RecServing.default,
                   unboundedRowBudget: Long = defaultUnboundedRowBudget): DataFrame = {
    val activeUsers = activeUsersOf(clicks, scene)
    val scores = pairScores(userKw, newsKw, activeUsers, scene, scoreRound, serving)
    limit match {
      case Some(k) =>
        // Hierarchical top-k: a day's candidate set is the union of the
        // numDays+1 news publication dates it covers, and scores are
        // day-invariant — so the global per-(day,user) top-k is contained in
        // the union of per-(user, news-date) top-k's. Pre-ranking per news
        // date cuts the day-exploded ranking input by ~candidates/k before
        // the second window, without changing results.
        //
        // Ranking shape, measured: both levels are window row_number —
        // shuffle on the group key + in-partition sort. The typed TopK
        // Aggregator variant (q47's huge-group path) is WORSE here: with
        // many small (user, date) groups Spark's ObjectHashAggregate falls
        // back to sort-based aggregation past 128 distinct keys, paying the
        // same sort plus typed-buffer serialization (benchmarked 3x slower
        // at sf0.1). Window for many-small-groups, Aggregator for
        // few-huge-groups.
        val withDate = scores.join(newsDatesInRange(newsKw, scene), "id")
        val pre = Ops.topKPerGroup(withDate, Seq("userId", "date"),
          Seq(col("score").desc, col("id").asc), k, rankCol = "_prn")
          .drop("_prn")
        // news dates are within [from, to+numDays] (newsDatesInRange
        // filter), so the sequence bounds are always valid
        val perDay = pre.withColumn("day", loopDays(scene))
          .join(activeUsers, Seq("day", "userId"), "left_semi")
          .select(col("day").as("date"), col("userId"), col("id").as("newsId"), col("score"))
        val ranked = Ops.topKPerGroup(perDay, Seq("date", "userId"),
          Seq(col("score").desc, col("newsId").asc), k)
        ranked
          .groupBy(col("userId"), col("date"))
          .agg(transform(
            array_sort(collect_list(struct(col("rn"), col("newsId")))),
            x => x("newsId")).as("news"))
      case None =>
        // Unbounded-output budget (same loud-refusal pattern as
        // Ops.nullSafeJoinGuarded): the T2 contract's cost IS its output —
        // Σ_day |active users(day)| × |candidate news(day)| list elements,
        // quadratic in scale factor. Project that ceiling with one tiny
        // probe job over two per-day count aggregates BEFORE launching the
        // pipeline, so a 100× run fails in seconds with a number and a
        // remedy instead of grinding for 19 minutes producing a list no
        // consumer can hold.
        val estimated = estimateUnboundedElements(activeUsers, newsDaysOf(newsKw, scene))
        require(estimated <= unboundedRowBudget,
          s"unbounded recommend (T2): projected output ceiling $estimated " +
            s"list elements exceeds the budget $unboundedRowBudget. Output " +
            "size is quadratic in scale by the reference contract — use " +
            "limit=Some(k) (bounded T1 ranking) or postingCap (WAND-lite) " +
            "at scale, or raise the budget explicitly.")
        // T2 unbounded collect: no cut, so (a) no rank column — a window
        // row_number would pay a full shuffle + sort only to produce
        // ordinals the ordered collect immediately re-derives; sorting
        // happens once per output list via array_sort on (-score, newsId)
        // structs (struct order = score desc, newsId asc — identical
        // ranking contract). And (b) the day-explode is BATCHED: scored
        // pairs are first grouped into one array per (user, news date), so
        // the ≤(numDays+1)-way day duplication and the (day,user) shuffle
        // move array ROWS (thousands) instead of individual pairs
        // (tens of millions) — same bytes, ~|pairs per (user,date)|× fewer
        // row objects through the explode shuffle. The final merge is
        // flatten + one array_sort per output list, bounded by the
        // candidate window, never the corpus.
        val withDate = scores.join(newsDatesInRange(newsKw, scene), "id")
        val batched = withDate
          .groupBy(col("userId"), col("date"))
          .agg(collect_list(
            struct((-col("score")).as("_s"), col("id").as("newsId"))).as("_batch"))
        // news dates are within [from, to+numDays] (newsDatesInRange
        // filter), so the sequence bounds are always valid
        batched.withColumn("day", loopDays(scene))
          .join(activeUsers, Seq("day", "userId"), "left_semi")
          .groupBy(col("userId"), col("day"))
          .agg(transform(array_sort(flatten(collect_list(col("_batch")))),
            x => x("newsId")).as("news"))
          .select(col("userId"), col("day").as("date"), col("news"))
    }
  }
}
