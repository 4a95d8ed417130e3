package graft.model

import java.sql.Date

/** Entity model of the reference system (SURVEY.md §1, FIXTURES.md §a).
  * Case classes double as Dataset[T] element types and as the frozen spec for
  * the reference's absent model classes.
  */

/** NewsModel — /root/reference/TextRank.java:63-65, TF_IDF.java:58-65. */
case class News(id: Long, date: Date, title: String, description: String, content: String)

/** TweetModel — /root/reference/TextRank.java:107,120,122. */
case class Tweet(userId: Long, creation_time: Date, content: String)

/** ClickModel — /root/reference/HotTopics.java:83-86, TextRank.java:332-334. */
case class Click(userId: Long, newsId: Long, date: Date, count: Int)

/** Keyword — /root/reference/CosineSimilarity.java:57 (word, value). */
case class Keyword(word: String, value: Double)

/** The two similarity modes — /root/reference/SimilarityAlgorithm.java:6-9. */
object SimilarityAlgorithm extends Enumeration {
  val CosineSimilarity, EuclideanDistance = Value
}

/** Serving posture of the recommendation scoring stage — the explicit
  * exact-vs-capped contract of [[graft.pipelines.RecommendPipeline]].
  *
  * The inverted-index word join's fan-out is Σ_word |user postings| ×
  * |news postings|. With verbatim top-k keyword lists that is bounded in
  * ordinary corpora, but under heavy duplication (the ×100 stress tier
  * replicates text verbatim, so postings grow on BOTH sides) the EXACT
  * join's shuffle spill reached a ~100 GB-per-node envelope at sf10 —
  * cold 1,696 s (dot) / 620 s (cosine), beyond a single node's disk. No
  * single-node run survives that posture at the next decade, which is
  * why `Capped` is the pipeline DEFAULT and `Exact` is an explicit
  * opt-in for reference-parity lanes (or for sharded executions that
  * split users across runs).
  */
sealed trait RecServing
object RecServing {
  /** Exact reference semantics: every in-range posting joins. Use only
    * when bit-parity with the reference contract is the requirement
    * (the q21/q22/q23/q40/q220 oracle lanes), or when the run is
    * sharded user-hash-slice-wise so each shard's join fits its node.
    * Envelope: shuffle bytes grow with the posting-list SQUARE under
    * duplication — sf10 measured the ~100 GB/node spill named above.
    */
  case object Exact extends RecServing

  /** WAND-lite frequency-capped posting lists
    * ([[graft.sim.Scoring.cappedPostings]]): per word, only the `cap`
    * highest-value (value desc, id asc — deterministic) news postings
    * survive, bounding every word's join contribution to |users| × cap.
    * Approximate BY CONTRACT (pairs whose only shared words were capped
    * away lose that score mass) but deterministic and oracle-checkable
    * (q245/q246 lanes, hash-green at every gate SF and pinned at sf10:
    * 3.3×/1.4× cold for 10× data). The production serving posture.
    */
  final case class Capped(cap: Int = DefaultCap) extends RecServing

  /** Default posting cap — q245's production value: deep enough that at
    * bench SF the cut only bites on stop-word-like terms, shallow enough
    * to bound the sf10 join.
    */
  val DefaultCap = 64

  /** The pipeline default: capped serving (VERDICT r9 task 2 — the exact
    * posture's sf10 spill envelope is not survivable single-node).
    */
  val default: RecServing = Capped()
}

/** Scene — run configuration (field uses cited in SURVEY.md §1;
  * constructor /root/reference/TextRank.java:53-55).
  */
case class Scene(
    windowSize: Int = 5,
    numNewsKeywords: Int = 10,
    numUserKeywords: Int = 10,
    numDays: Int = 7,
    fromDate: Date = Date.valueOf("2024-01-01"),
    toDate: Date = Date.valueOf("2024-01-30"),
    friction: Double = 0.85,
    maxIterates: Int = 100,
    minDifference: Double = 0.001,
    numRecommendations: Int = 10,
    similarityAlgorithm: SimilarityAlgorithm.Value = SimilarityAlgorithm.CosineSimilarity)
