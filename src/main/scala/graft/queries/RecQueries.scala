package graft.queries

import graft.io.Tables
import graft.model.{RecServing, Scene, SimilarityAlgorithm}
import graft.ops.Ops
import graft.pipelines.{AlsRecommender, HotTopicsPipeline, PrecisionEval, RecommendPipeline}
import graft.text.Tokenizer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Date

/** The three reference pipelines (SURVEY.md §3 E1-E3) as oracle-paired
  * queries over the testdata mapping (Tables.clicks / Tables.news):
  * hot topics, unique users, TF-IDF user×news recommendation in both
  * similarity modes (single-day slice and the all-days run), and precision
  * evaluation. The DuckDB oracles replicate the full CTE chain — tokenize →
  * tf/df → top-k profiles → inverted-index scoring → ranked cut — so the
  * whole E1 lifecycle is hash-checked end-to-end, not just per-operator.
  */
object RecQueries {
  type Q = (SparkSession, String) => DataFrame

  private val today = Date.valueOf("2024-01-15")
  private val scene = Scene(
    numDays = 7,
    fromDate = Date.valueOf("2024-01-05"),
    toDate = Date.valueOf("2024-01-25"),
    numRecommendations = 10)

  /** Shared TF-IDF profile builder over the documents/clicks mapping:
    * returns (newsKw (id, date, word, value), userKw (userId, word, value)).
    * Weights rounded to 6 so every downstream arithmetic sees identical
    * operands in Spark and DuckDB.
    *
    * Memoized per (session, dataset) via [[graft.runtime.Stage]]: the
    * reference materializes these exact profiles to files once and re-reads
    * them in every consumer stage (TF_IDF.java:109,127,156,176); here the
    * first consumer query materializes the persisted DataFrames and
    * q21/q22/q23/q46 all reuse them.
    */
  private def profiles(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.runtime.Stage.shared(s, s"rec-profiles:$d") {
      buildProfiles(s, d)
    }

  private def buildProfiles(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.runtime.Stage
    val docs = Tables.documents(s, d)
    // tf feeds news scoring + df + the user profiles — persist it so the
    // tokenize-explode-count runs once while the profiles materialize
    // (scoped: dead weight once they have).
    val tf = Stage.scopedPersist(
      Ops.fanOut(docs)
        .select(col("doc_id"), explode(Tokenizer.tokens(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))

    val newsScored = tf.join(dfreq, "word").crossJoin(broadcast(n))
      .withColumn("value", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val newsKw = Ops.topKPerGroup(
        newsScored.select(col("doc_id"), col("word"), col("value")),
        Seq("doc_id"), Seq(col("value").desc, col("word").asc), 8)
      .select(col("doc_id").as("id"), col("word"), col("value"))
    val newsKwDated = newsKw.join(
      Tables.news(s, d).select(col("id"), col("date")), "id")

    val clicks = Tables.clicks(s, d)
    // User term frequency = Σ_news clickCount(user, news) · tf(news, word).
    // Pre-aggregating BOTH join sides (clicks to per-(user, news) counts,
    // tokens to per-(doc, word) tf) computes the identical integer tf with a
    // |user×news| ⋈ |doc×word| join instead of |click rows| ⋈ |token
    // occurrence rows| — at 100 TB the raw form materializes every (click,
    // token occurrence) pair and is the job's dominant shuffle.
    val userNews = clicks.groupBy(col("userId"), col("newsId"))
      .agg(count(lit(1)).as("_c"))
    val utf = userNews
      .join(tf, col("newsId") === col("doc_id"))
      .groupBy("userId", "word").agg(sum(col("_c") * col("tf")).as("tf"))
    val userScored = utf.join(dfreq, "word").crossJoin(broadcast(n))
      .withColumn("value", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val userKw = Ops.topKPerGroup(
        userScored.select(col("userId"), col("word"), col("value")),
        Seq("userId"), Seq(col("value").desc, col("word").asc), 8)
      .select(col("userId"), col("word"), col("value"))
    // Both profiles feed several plan branches (scoring, sizes, date
    // lookups) across four queries — session-lifetime, via Stage.sharedStage:
    //  - lineage-CUT (parquet round-trip), because the build rides the
    //    scoped `tf` cache and a bare shared persist over a scoped input
    //    loses its buffers at the next query scope (measured ~20 s one-off
    //    rebuild at sf1), while a checkpoint would lose size stats and
    //    flip every join above the profiles to SortMergeJoin (measured
    //    q23 sf1 143 s → 1347 s);
    //  - partition-PINNED on the scoring key, because these stages feed
    //    the ~3500× fan-out word join and a compact source otherwise lets
    //    AQE collapse that join to one task (measured q22 sf1 17 s →
    //    220 s). hash(id)/hash(userId) both satisfy the downstream
    //    (userId, id) pair aggregation, so scoring adds no extra exchange
    //    whichever side streams.
    (Stage.sharedStage(newsKwDated, col("id")),
     Stage.sharedStage(userKw, col("userId")))
  }

  /** The q23/q46-shared all-days dot-product recommendation run (the E1
    * output table both the list query and its precision evaluation consume)
    * — built and persisted once per (session, dataset).
    */
  private def recDotLists(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"rec-dot-lists:$d") {
      val (newsKw, userKw) = profiles(s, d)
      val sc = scene.copy(similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance,
        numRecommendations = 5)
      graft.runtime.Stage.persistShared(
        RecommendPipeline.recommendAll(userKw, newsKw, Tables.clicks(s, d), sc,
          limit = Some(5), scoreRound = Some(4), serving = RecServing.Exact))
    }

  val queries: Map[String, Q] = Map(
    // E3: the HotTopics pipeline over the clicks mapping.
    "q19_hot_topics" -> ((s, d) =>
      HotTopicsPipeline.topicsPerDay(Tables.clicks(s, d), scene)),

    // A1 generateUniqueUsers in its reference shape: per-date user list
    // (rendered comma-joined — the external comparator can't sort raw array
    // columns; both engines stringify the identically-sorted list).
    "q20_unique_users" -> ((s, d) =>
      Tables.clicks(s, d)
        .groupBy(col("date"))
        .agg(concat_ws(",", sort_array(collect_set(col("userId")))).as("users"))),

    // E1 single-day slice, dot-product mode (F8): scored top-5 per user.
    "q21_rec_dot" -> ((s, d) => {
      val (newsKw, userKw) = profiles(s, d)
      val daySc = scene.copy(fromDate = today, toDate = today,
        similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
      Ops.topKPerGroup(
        RecommendPipeline.scoredPairs(userKw, newsKw, Tables.clicks(s, d), daySc,
            Some(4), serving = RecServing.Exact)
          .select(col("userId"), col("newsId"), col("score")),
        Seq("userId"), Seq(col("score").desc, col("newsId").asc), 5)
    }),

    // E1 single-day slice, calculateX mode (F5 product denominator).
    "q22_rec_cosine" -> ((s, d) => {
      val (newsKw, userKw) = profiles(s, d)
      val daySc = scene.copy(fromDate = today, toDate = today,
        similarityAlgorithm = SimilarityAlgorithm.CosineSimilarity)
      Ops.topKPerGroup(
        RecommendPipeline.scoredPairs(userKw, newsKw, Tables.clicks(s, d), daySc,
            Some(6), serving = RecServing.Exact)
          .select(col("userId"), col("newsId"), col("score")),
        Seq("userId"), Seq(col("score").desc, col("newsId").asc), 5)
    }),

    // E1 all days: reference-shaped ranked news lists per (user, date).
    "q23_rec_lists" -> ((s, d) =>
      recDotLists(s, d).withColumn("news", concat_ws(",", col("news")))),

    // T2 unbounded sorted collect (TF_IDF.java:206-221: the TF_IDF pipeline
    // keeps EVERY positive-scoring candidate, ordered, where TextRank cuts
    // at numRecommendations): limit=None through the same shared profiles —
    // the full ranked list per (user, day), no top-k cut.
    "q220_rec_unbounded" -> ((s, d) => {
      val (newsKw, userKw) = profiles(s, d)
      val sc = scene.copy(similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance)
      RecommendPipeline.recommendAll(userKw, newsKw, Tables.clicks(s, d), sc,
          limit = None, scoreRound = Some(4), serving = RecServing.Exact)
        .withColumn("news", concat_ws(",", col("news")))
    }),

    // The DEFAULT serving posture (RecServing.Capped — round 10 promoted
    // it from opt-in): the q23 all-days lane with frequency-capped posting
    // lists (cap=64, value desc / id asc cut — deterministic, so the
    // approximation itself is oracle-checked). q23/q21/q22/q220 remain the
    // declared EXACT-parity lanes via serving = RecServing.Exact.
    "q245_rec_lists_capped" -> ((s, d) => {
      val (newsKw, userKw) = profiles(s, d)
      val sc = scene.copy(similarityAlgorithm = SimilarityAlgorithm.EuclideanDistance,
        numRecommendations = 5)
      RecommendPipeline.recommendAll(userKw, newsKw, Tables.clicks(s, d), sc,
          limit = Some(5), scoreRound = Some(4),
          serving = RecServing.Capped(PostingCap))
        .withColumn("news", concat_ws(",", col("news")))
    }),

    // WAND-lite capped lane for the COSINE (calculateX) family: q22's
    // single-day scoring with frequency-capped posting lists — the q245
    // treatment applied to the second similarity mode. Cap = 16 (tighter
    // than q245's 64) so the cut provably bites at bench SF. Note the
    // cosine denominator uses the CAPPED per-news posting size — the size
    // of what the index actually scores — mirrored in the oracle's nsize
    // over the capped posting CTE.
    "q246_rec_cosine_capped" -> ((s, d) => {
      val (newsKw, userKw) = profiles(s, d)
      val daySc = scene.copy(fromDate = today, toDate = today,
        similarityAlgorithm = SimilarityAlgorithm.CosineSimilarity)
      Ops.topKPerGroup(
        RecommendPipeline.scoredPairs(userKw, newsKw, Tables.clicks(s, d), daySc,
            Some(6), serving = RecServing.Capped(CosinePostingCap))
          .select(col("userId"), col("newsId"), col("score")),
        Seq("userId"), Seq(col("score").desc, col("newsId").asc), 5)
    }),

    // T1 via the partial-combining TopK Aggregator instead of a window —
    // same ranking contract, map-side-combined shuffle; under the same
    // oracle as the window form.
    "q47_hot_topics_agg" -> ((s, d) => {
      import graft.functions.TopKAggregator
      HotTopicsPipeline.windowCounts(Tables.clicks(s, d), scene).groupBy(col("day"))
        .agg(TopKAggregator.topK(scene.numRecommendations)(
          col("clicks").cast("double"), col("newsId")).as("ids"))
        .select(col("day"), posexplode(col("ids")).as(Seq("pos", "newsId")))
        .select(col("day"), col("newsId"), (col("pos") + 1).as("rn"))
    }),

    // J3/eval: precision of the content-based rec lists (q23) against
    // same-day clicks — the reference's precisionStats over E1 output
    // (evaluates the SAME materialized run the list query emits, exactly as
    // the reference's precisionStats reads back the written recs files).
    "q46_precision_rec" -> ((s, d) =>
      PrecisionEval.precisions(recDotLists(s, d), Tables.clicks(s, d))),

    // MLlib ALS collaborative filtering (north-star extension). Iterative
    // MF isn't SQL-expressible, so the lane emits the AUDIT face (VERDICT
    // r8 task 6): per trained user, bound-verdict booleans a DuckDB oracle
    // checks as literals, plus the user id itself checked exactly (trained
    // users == distinct clicking users). The raw rec lists stay available
    // via AlsRecommender.recommend / graft.tools.DumpAux for the
    // rank-tolerant NumPy cross-check (tools/verify_als.py).
    "q50_als_recommend" -> ((s, d) =>
      AlsRecommender.audit(Tables.clicks(s, d), k = 5)),

    // Streaming ranked hot topics: the streaming daily counts (the same
    // shared streaming-ingestion table q36 emits) ranked per day.
    "q51_streaming_ranked" -> ((s, d) => {
      val counts = graft.streaming.StreamingHotTopics.sharedDailyClickCounts(s, d)
      Ops.topKPerGroup(counts, Seq("day"),
        Seq(col("clicks").desc, col("newsId").asc), 10)
    }),

    // J3/eval: precision of the hot-topics lists against same-day clicks.
    "q24_precision_hot" -> ((s, d) => {
      val clicks = Tables.clicks(s, d)
      val recs = HotTopicsPipeline.recommendAll(clicks, scene)
      val perUser = RecommendPipeline.activeUsers(clicks, scene)
        .join(recs, "date")
        .select(col("userId"), col("date"), col("news"))
      PrecisionEval.precisions(perUser, clicks)
    })
  )

  // ---- DuckDB oracles ----

  private val toks = "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> len(w) > 0)"

  /** Shared CTE prelude: clicks mapping, tokenization, tf/df, both keyword
    * profiles, news dates. Kept verbatim-identical across the rec oracles.
    */
  private val prelude =
    s"""WITH clicks AS (
       |  SELECT user_id AS userId, event_id % 500 AS newsId,
       |         CAST(ts AS DATE) AS date, 1 AS count
       |  FROM events WHERE event_type = 'click'),
       |toksrc AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM toksrc GROUP BY 1, 2),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |news_scored AS (
       |  SELECT tf.doc_id, tf.word, round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS value
       |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
       |news_kw AS (
       |  SELECT doc_id AS id, word, value FROM (
       |    SELECT doc_id, word, value,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY value DESC, word) AS rn
       |    FROM news_scored) t WHERE rn <= 8),
       |news_date AS (SELECT doc_id AS id,
       |  DATE '2024-01-01' + CAST(doc_id % 30 AS INT) AS date FROM documents),
       |user_toks AS (
       |  SELECT c.userId, t.word FROM clicks c JOIN toksrc t ON t.doc_id = c.newsId),
       |utf AS (SELECT userId, word, count(*) AS tf FROM user_toks GROUP BY 1, 2),
       |user_scored AS (
       |  SELECT utf.userId, utf.word, round(utf.tf * ln(n.n_docs / dfreq.df), 6) AS value
       |  FROM utf JOIN dfreq USING (word) CROSS JOIN n),
       |user_kw AS (
       |  SELECT userId, word, value FROM (
       |    SELECT userId, word, value,
       |      row_number() OVER (PARTITION BY userId ORDER BY value DESC, word) AS rn
       |    FROM user_scored) t WHERE rn <= 8)""".stripMargin

  private val daysActiveCte =
    """days AS (SELECT unnest(generate_series(DATE '2024-01-05', DATE '2024-01-25',
      |  INTERVAL 1 DAY))::DATE AS day),
      |active AS (SELECT DISTINCT date AS day, userId FROM clicks
      |  WHERE date BETWEEN DATE '2024-01-05' AND DATE '2024-01-25')""".stripMargin

  /** Scoring + ranking tail shared by the exact and posting-capped chains —
    * both feed it a `cands` CTE with columns (day, id, word, value).
    */
  private val scoresRankedCte =
    """scores AS (
      |  SELECT a.day, u.userId, c.id AS newsId, round(sum(u.value * c.value), 4) AS score
      |  FROM user_kw u JOIN active a USING (userId)
      |  JOIN cands c ON c.day = a.day AND c.word = u.word
      |  GROUP BY a.day, u.userId, c.id),
      |ranked AS (
      |  SELECT day, userId, newsId,
      |    row_number() OVER (PARTITION BY day, userId ORDER BY score DESC, newsId) AS rn
      |  FROM scores WHERE score > 0)""".stripMargin

  /** Shared CTE chain through the ranked (day, user, news, rn) pairs of the
    * all-days dot-product recommendation run — consumed by the q23 list
    * output and the q46 precision evaluation.
    */
  private val rankedCte = prelude + ",\n" + daysActiveCte +
    """,
      |cands AS (
      |  SELECT d.day, nk.id, nk.word, nk.value
      |  FROM news_kw nk JOIN news_date nd USING (id) JOIN days d
      |    ON nd.date BETWEEN d.day AND d.day + 7),
      |""".stripMargin + scoresRankedCte

  /** q245's WAND-lite posting cap (Scoring.cappedPostings) = the pipeline
    * default ([[graft.model.RecServing.DefaultCap]]), interpolated into the
    * oracle so all three sides (default serving mode, lane, oracle) share
    * one definition — q245 IS the default-posture lane.
    */
  private val PostingCap = graft.model.RecServing.DefaultCap

  /** q246's cosine-lane posting cap — tighter than [[PostingCap]] so the
    * approximation provably changes candidates at bench SF (verified by
    * the capped lane and q22 disagreeing at sf0.01 while both stay
    * hash-green against their own oracles).
    */
  private val CosinePostingCap = 16

  /** The capped chain: identical to [[rankedCte]] except candidates are
    * drawn from frequency-capped posting lists — per word, only the
    * `PostingCap` highest-value (value desc, id asc) postings inside the
    * relevant date range survive. Mirrors RecommendPipeline's
    * `postingCap = Some(PostingCap)` path exactly.
    */
  private val rankedCteCapped = prelude + ",\n" + daysActiveCte +
    s""",
      |posting AS (
      |  SELECT id, word, value FROM (
      |    SELECT nk.id, nk.word, nk.value,
      |      row_number() OVER (PARTITION BY nk.word ORDER BY nk.value DESC, nk.id) AS wrn
      |    FROM news_kw nk JOIN news_date nd USING (id)
      |    WHERE nd.date BETWEEN DATE '2024-01-05' AND DATE '2024-02-01') t
      |  WHERE wrn <= $PostingCap),
      |cands AS (
      |  SELECT d.day, p.id, p.word, p.value
      |  FROM posting p JOIN news_date nd USING (id) JOIN days d
      |    ON nd.date BETWEEN d.day AND d.day + 7),
      |""".stripMargin + scoresRankedCte

  val oracle: Map[String, String] = Map(
    // q50: the oracle checks the trained-user SET exactly and the bound
    // verdicts as literals — the factors themselves are out of SQL's
    // reach, but "every clicking user got k monotone recs and observed
    // pairs separate from unobserved probes" is not (VERDICT r8 task 6).
    "q50_als_recommend" ->
      """SELECT DISTINCT user_id AS userId, true AS has_k_recs,
        |  true AS mono_ok, true AS separation_ok
        |FROM events WHERE event_type = 'click'""".stripMargin,

    "q19_hot_topics" ->
      """WITH clicks AS (
        |  SELECT user_id AS userId, event_id % 500 AS newsId,
        |         CAST(ts AS DATE) AS date, 1 AS count
        |  FROM events WHERE event_type = 'click'),
        |days AS (SELECT unnest(generate_series(DATE '2024-01-05', DATE '2024-01-25',
        |  INTERVAL 1 DAY))::DATE AS day),
        |counts AS (
        |  SELECT d.day, c.newsId, CAST(sum(c.count) AS BIGINT) AS clicks
        |  FROM clicks c JOIN days d
        |    ON c.date BETWEEN d.day - 7 AND d.day
        |  GROUP BY d.day, c.newsId)
        |SELECT day, newsId, clicks, rn FROM (
        |  SELECT day, newsId, clicks,
        |    row_number() OVER (PARTITION BY day ORDER BY clicks DESC, newsId) AS rn
        |  FROM counts) t WHERE rn <= 10""".stripMargin,

    "q20_unique_users" ->
      """SELECT CAST(ts AS DATE) AS date,
        | array_to_string(list_sort(list(DISTINCT user_id)), ',') AS users
        |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin,

    "q51_streaming_ranked" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_id % 500 AS newsId,
        |    count(*) AS clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT day, newsId, clicks, rn FROM (
        |  SELECT day, newsId, clicks,
        |    row_number() OVER (PARTITION BY day ORDER BY clicks DESC, newsId) AS rn
        |  FROM c) t WHERE rn <= 10""".stripMargin,

    "q47_hot_topics_agg" ->
      """WITH clicks AS (
        |  SELECT user_id AS userId, event_id % 500 AS newsId,
        |         CAST(ts AS DATE) AS date, 1 AS count
        |  FROM events WHERE event_type = 'click'),
        |days AS (SELECT unnest(generate_series(DATE '2024-01-05', DATE '2024-01-25',
        |  INTERVAL 1 DAY))::DATE AS day),
        |counts AS (
        |  SELECT d.day, c.newsId, sum(c.count) AS clicks
        |  FROM clicks c JOIN days d
        |    ON c.date BETWEEN d.day - 7 AND d.day
        |  GROUP BY d.day, c.newsId)
        |SELECT day, newsId, rn FROM (
        |  SELECT day, newsId,
        |    row_number() OVER (PARTITION BY day ORDER BY clicks DESC, newsId) AS rn
        |  FROM counts) t WHERE rn <= 10""".stripMargin,

    "q21_rec_dot" -> (prelude +
      """,
        |active AS (SELECT DISTINCT userId FROM clicks WHERE date = DATE '2024-01-15'),
        |cands AS (
        |  SELECT nk.id, nk.word, nk.value FROM news_kw nk JOIN news_date nd USING (id)
        |  WHERE nd.date BETWEEN DATE '2024-01-15' AND DATE '2024-01-22'),
        |scores AS (
        |  SELECT u.userId, c.id AS newsId, round(sum(u.value * c.value), 4) AS score
        |  FROM user_kw u JOIN active a USING (userId)
        |  JOIN cands c USING (word)
        |  GROUP BY u.userId, c.id)
        |SELECT userId, newsId, score, rn FROM (
        |  SELECT userId, newsId, score,
        |    row_number() OVER (PARTITION BY userId ORDER BY score DESC, newsId) AS rn
        |  FROM scores WHERE score > 0) t WHERE rn <= 5""".stripMargin),

    "q22_rec_cosine" -> (prelude +
      """,
        |active AS (SELECT DISTINCT userId FROM clicks WHERE date = DATE '2024-01-15'),
        |cands AS (
        |  SELECT nk.id, nk.word FROM news_kw nk JOIN news_date nd USING (id)
        |  WHERE nd.date BETWEEN DATE '2024-01-15' AND DATE '2024-01-22'),
        |usize AS (SELECT userId, count(*) AS s1 FROM user_kw GROUP BY 1),
        |nsize AS (SELECT id, count(*) AS s2 FROM news_kw GROUP BY 1),
        |common AS (
        |  SELECT u.userId, c.id AS newsId, count(*) AS n_common
        |  FROM user_kw u JOIN active a USING (userId)
        |  JOIN cands c USING (word)
        |  GROUP BY u.userId, c.id),
        |scores AS (
        |  SELECT cm.userId, cm.newsId,
        |    round(CAST(cm.n_common AS DOUBLE) / (us.s1 * ns.s2), 6) AS score
        |  FROM common cm JOIN usize us ON cm.userId = us.userId
        |  JOIN nsize ns ON cm.newsId = ns.id)
        |SELECT userId, newsId, score, rn FROM (
        |  SELECT userId, newsId, score,
        |    row_number() OVER (PARTITION BY userId ORDER BY score DESC, newsId) AS rn
        |  FROM scores WHERE score > 0) t WHERE rn <= 5""".stripMargin),

    "q246_rec_cosine_capped" -> (prelude +
      s""",
        |active AS (SELECT DISTINCT userId FROM clicks WHERE date = DATE '2024-01-15'),
        |inrange AS (
        |  SELECT nk.id, nk.word, nk.value FROM news_kw nk JOIN news_date nd USING (id)
        |  WHERE nd.date BETWEEN DATE '2024-01-15' AND DATE '2024-01-22'),
        |posting AS (
        |  SELECT id, word FROM (
        |    SELECT id, word,
        |      row_number() OVER (PARTITION BY word ORDER BY value DESC, id) AS wrn
        |    FROM inrange) t WHERE wrn <= $CosinePostingCap),
        |usize AS (SELECT userId, count(*) AS s1 FROM user_kw GROUP BY 1),
        |nsize AS (SELECT id, count(*) AS s2 FROM posting GROUP BY 1),
        |common AS (
        |  SELECT u.userId, p.id AS newsId, count(*) AS n_common
        |  FROM user_kw u JOIN active a USING (userId)
        |  JOIN posting p USING (word)
        |  GROUP BY u.userId, p.id),
        |scores AS (
        |  SELECT cm.userId, cm.newsId,
        |    round(CAST(cm.n_common AS DOUBLE) / (us.s1 * ns.s2), 6) AS score
        |  FROM common cm JOIN usize us ON cm.userId = us.userId
        |  JOIN nsize ns ON cm.newsId = ns.id)
        |SELECT userId, newsId, score, rn FROM (
        |  SELECT userId, newsId, score,
        |    row_number() OVER (PARTITION BY userId ORDER BY score DESC, newsId) AS rn
        |  FROM scores WHERE score > 0) t WHERE rn <= 5""".stripMargin),

    "q23_rec_lists" -> (rankedCte +
      """
        |SELECT userId, day AS date,
        |  array_to_string(list(newsId ORDER BY rn), ',') AS news
        |FROM ranked WHERE rn <= 5 GROUP BY userId, day""".stripMargin),

    "q220_rec_unbounded" -> (rankedCte +
      """
        |SELECT userId, day AS date,
        |  array_to_string(list(newsId ORDER BY rn), ',') AS news
        |FROM ranked GROUP BY userId, day""".stripMargin),

    "q245_rec_lists_capped" -> (rankedCteCapped +
      """
        |SELECT userId, day AS date,
        |  array_to_string(list(newsId ORDER BY rn), ',') AS news
        |FROM ranked WHERE rn <= 5 GROUP BY userId, day""".stripMargin),

    "q46_precision_rec" -> (rankedCte +
      """,
        |clicked AS (SELECT DISTINCT userId, date, newsId FROM clicks),
        |joined AS (
        |  SELECT r.day AS date,
        |    CASE WHEN c.newsId IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM ranked r LEFT JOIN clicked c
        |    ON r.userId = c.userId AND r.day = c.date AND r.newsId = c.newsId
        |  WHERE r.rn <= 5)
        |SELECT date, CAST(sum(hit) AS BIGINT) AS n_hits, count(*) AS n_recommended,
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS precision
        |FROM joined GROUP BY date""".stripMargin),

    "q24_precision_hot" ->
      """WITH clicks AS (
        |  SELECT user_id AS userId, event_id % 500 AS newsId,
        |         CAST(ts AS DATE) AS date, 1 AS count
        |  FROM events WHERE event_type = 'click'),
        |days AS (SELECT unnest(generate_series(DATE '2024-01-05', DATE '2024-01-25',
        |  INTERVAL 1 DAY))::DATE AS day),
        |counts AS (
        |  SELECT d.day, c.newsId, sum(c.count) AS clicks
        |  FROM clicks c JOIN days d ON c.date BETWEEN d.day - 7 AND d.day
        |  GROUP BY d.day, c.newsId),
        |hot AS (SELECT day, newsId FROM (
        |  SELECT day, newsId,
        |    row_number() OVER (PARTITION BY day ORDER BY clicks DESC, newsId) AS rn
        |  FROM counts) t WHERE rn <= 10),
        |active AS (SELECT DISTINCT date, userId FROM clicks
        |  WHERE date BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'),
        |recs AS (
        |  SELECT a.userId, a.date, h.newsId FROM active a JOIN hot h ON h.day = a.date),
        |clicked AS (SELECT DISTINCT userId, date, newsId FROM clicks),
        |joined AS (
        |  SELECT r.date, CASE WHEN c.newsId IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM recs r LEFT JOIN clicked c
        |    ON r.userId = c.userId AND r.date = c.date AND r.newsId = c.newsId)
        |SELECT date, CAST(sum(hit) AS BIGINT) AS n_hits, count(*) AS n_recommended,
        |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS precision
        |FROM joined GROUP BY date""".stripMargin
  )
}
