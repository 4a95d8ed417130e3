package graft.queries

import graft.io.{Tables, Writers}
import graft.ops.Ops
import graft.text.TfIdf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Date

/** Round-4 oracle coverage for the reference-parity operators that were
  * previously spec-tested only (VERDICT r3 "What's missing" 1-5):
  *
  *  - F14 field-weighted term generation (TF_IDF.java:56-84) — q218
  *  - S4/K1/F15 document text sink + round-trip (TextRank.java:224,246;
  *    writeAsFormattedText ×11 sites) — q219
  *  - P4 DateLoopFilter (TF_IDF.java:133-138) — q221
  *  - F11 tuple-list rank distance (EuclideanDistance.java:121-152) — q222
  *
  * (T2 unbounded collect lands as q220 in RecQueries, which owns the shared
  * profile stage and the ranked-CTE oracle it reuses.)
  */
object ParityQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // F14: the reference's TF-IDF pipeline is DEFINED by per-field term
    // weights (news TITLE/DESCRIPTION/CONTENT_WEIGHT, TF_IDF.java:58-65).
    // The documents table has one text field, so the three fields are
    // synthesized as deterministic substrings (both engines cut the same
    // bytes); weighted tf = Σ_field weight·count flows through
    // TfIdf.termCounts — one union of three tokenize-explode aggregates,
    // all map-side combined, no driver action.
    "q218_weighted_profiles" -> ((s, d) => {
      val news = Tables.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 80).as("title"),
        substring(col("text"), 81, 160).as("description"),
        col("text").as("content"))
      val counts = TfIdf.termCounts(news, "doc_id",
          Seq(col("title") -> 3.0, col("description") -> 2.0, col("content") -> 1.0))
        .withColumn("tf", round(col("tf"), 6))
      Ops.topKPerGroup(counts, Seq("doc_id"),
        Seq(col("tf").desc, col("word").asc), 5)
    }),

    // S4/K1/F15: Document rows (top-3 TF-IDF keywords nested per doc)
    // written through the dual sink — parquet + the reference's formatted
    // text rendering (`id|userId|date|word:value;...`) — then BOTH sinks
    // are read back: the text lines re-parsed with Column ops, the parquet
    // joined against them, and per-row consistency pinned as a column the
    // oracle expects to be uniformly true. This puts the write→read-back
    // loop inside the driver gate instead of IoSpec only.
    "q219_doc_roundtrip" -> ((s, d) => {
      val base = graft.runtime.Scratch.dir("docs_rt", d)
      val docs = ExtQueries.docKeywords(s, d).filter(col("rn") <= 3)
        .groupBy(col("id"))
        .agg(transform(
          array_sort(collect_list(struct(col("rn"), col("word"), col("value")))),
          x => struct(x("word").as("word"), x("value").as("value"))).as("keywords"))
        .select(col("id"),
          (col("id") % 100).as("userId"),
          date_add(lit(Date.valueOf("2024-01-01")), (col("id") % 30).cast("int")).as("date"),
          col("keywords"))
      Writers.writeDual(docs, Writers.documentRender, s"$base/pq", s"$base/txt")
      val txt = s.read.text(s"$base/txt")
        .select(split(col("value"), "\\|").as("f"))
        .select(col("f")(0).cast("long").as("doc_id"),
          col("f")(1).cast("long").as("user_id"),
          to_date(col("f")(2)).as("date"),
          size(split(col("f")(3), ";")).as("n_kw"),
          substring_index(element_at(split(col("f")(3), ";"), 1), ":", 1).as("top_word"))
      val pq = s.read.parquet(s"$base/pq")
        .select(col("id").as("_pid"),
          element_at(col("keywords"), 1)("word").as("_pq_top_word"),
          size(col("keywords")).as("_pq_n_kw"))
      txt.join(pq, col("doc_id") === col("_pid"))
        .select(col("doc_id"), col("user_id"), col("date"), col("n_kw"), col("top_word"),
          (col("top_word") === col("_pq_top_word") &&
            col("n_kw") === col("_pq_n_kw")).as("consistent"))
    }),

    // P4 DateLoopFilter: membership in [max(from, today-gap), min(to,
    // today)] (frozen spec at Ops.dateLoopFilter) applied as a pushable
    // Column predicate over the click log, then a per-day activity rollup.
    "q221_date_loop" -> ((s, d) =>
      Tables.clicks(s, d)
        .filter(Ops.dateLoopFilter(col("date"), gap = 5,
          Date.valueOf("2024-01-08"), Date.valueOf("2024-01-20"),
          Date.valueOf("2024-01-15")))
        .groupBy(col("date"))
        .agg(countDistinct(col("userId")).as("n_users"),
          count(lit(1)).as("n_clicks"))),

    // S5 in-memory seed: the reference's fromCollection/spec-fixture lane
    // (SURVEY.md §2.1) through the driver gate — literal rows built with
    // createDataFrame, aggregated; the oracle is the same literal VALUES.
    "q223_inmem_seed" -> ((s, _) => {
      import s.implicits._
      Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "alpha", 5.75),
          (4L, "gamma", 7.0), (5L, "beta", 2.5))
        .toDF("id", "tag", "v")
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 2).as("sum_v"))
    }),

    // F11 tuple-list rank distance: the Keyword-struct variant of F9
    // (weights carried but ignored — EuclideanDistance.java:121-152's exact
    // quirk) over consecutive-doc keyword profiles, through the SAME nested
    // array<struct<word,value>> shape the reference's DocumentModel holds.
    "q222_tuple_rank_sim" -> ((s, d) => {
      val kw = ExtQueries.docKeywords(s, d)
      val nested = kw.groupBy(col("id"))
        .agg(transform(
          array_sort(collect_list(struct(col("rn"), col("word"), col("value")))),
          x => struct(x("word").as("word"), x("value").as("value"))).as("kws"))
      val a = nested.select(col("id").as("doc_a"), col("kws").as("_ka"))
      val b = nested.select(col("id").as("doc_b"), col("kws").as("_kb"))
      a.join(b, col("doc_b") === col("doc_a") + 1)
        .select(col("doc_a"), col("doc_b"),
          graft.sim.Similarities.rankDistanceKwUdf(col("_ka"), col("_kb"))
            .as("f11_rank_distance"))
    })
  )

  // ---- DuckDB oracles ----

  private val toks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> len(w) > 0)"
  private def fieldToks(field: String): String =
    s"list_filter(regexp_split_to_array(lower($field), '[^a-z]+'), w -> len(w) > 0)"

  /** Shared tf-idf keyword CTE (identical to the q38 oracle prelude). */
  private val kwCte =
    s"""toksrc AS (SELECT doc_id, unnest($toks) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM toksrc GROUP BY 1, 2),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scoredkw AS (
       |  SELECT tf.doc_id, tf.word, round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS score
       |  FROM tf JOIN dfreq USING (word) CROSS JOIN n),
       |kw AS (SELECT doc_id, word, rn FROM (
       |  SELECT doc_id, word,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rn
       |  FROM scoredkw) t WHERE rn <= 8)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q218_weighted_profiles" ->
      s"""WITH t AS (
         |  SELECT doc_id, substr(text, 1, 80) AS title,
         |    substr(text, 81, 160) AS description, text AS content
         |  FROM documents),
         |wt AS (
         |  SELECT doc_id, word, 3.0 * count(*) AS tf
         |  FROM (SELECT doc_id, unnest(${fieldToks("title")}) AS word FROM t)
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, word, 2.0 * count(*)
         |  FROM (SELECT doc_id, unnest(${fieldToks("description")}) AS word FROM t)
         |  GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, word, 1.0 * count(*)
         |  FROM (SELECT doc_id, unnest(${fieldToks("content")}) AS word FROM t)
         |  GROUP BY 1, 2),
         |m AS (SELECT doc_id, word,
         |  CAST(round(sum(tf), 6) AS DOUBLE) AS tf FROM wt GROUP BY 1, 2)
         |SELECT doc_id, word, tf, CAST(rn AS INT) AS rn FROM (
         |  SELECT doc_id, word, tf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, word) AS rn
         |  FROM m) t WHERE rn <= 5""".stripMargin,

    "q219_doc_roundtrip" ->
      s"""WITH $kwCte,
         |sel AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS n_kw,
         |    min(CASE WHEN rn = 1 THEN word END) AS top_word
         |  FROM kw WHERE rn <= 3 GROUP BY 1)
         |SELECT doc_id, CAST(doc_id % 100 AS BIGINT) AS user_id,
         |  DATE '2024-01-01' + CAST(doc_id % 30 AS INT) AS date,
         |  n_kw, top_word, TRUE AS consistent
         |FROM sel""".stripMargin,

    "q223_inmem_seed" ->
      """WITH seed(id, tag, v) AS (VALUES
        |  (1, 'alpha', 10.5), (2, 'beta', 20.25), (3, 'alpha', 5.75),
        |  (4, 'gamma', 7.0), (5, 'beta', 2.5))
        |SELECT tag, count(*) AS n,
        |  CAST(round(sum(v), 2) AS DOUBLE) AS sum_v
        |FROM seed GROUP BY 1""".stripMargin,

    "q221_date_loop" ->
      """WITH clicks AS (
        |  SELECT user_id AS userId, CAST(ts AS DATE) AS date
        |  FROM events WHERE event_type = 'click')
        |SELECT date, CAST(count(DISTINCT userId) AS BIGINT) AS n_users,
        |  count(*) AS n_clicks
        |FROM clicks
        |WHERE date BETWEEN greatest(DATE '2024-01-15' - 5, DATE '2024-01-08')
        |              AND least(DATE '2024-01-15', DATE '2024-01-20')
        |GROUP BY 1""".stripMargin,

    // F11 reduces to F9 on the word sequence (weights ignored): same closed
    // form as the q38 oracle's f9 term, documented there.
    "q222_tuple_rank_sim" ->
      s"""WITH $kwCte,
         |sz AS (SELECT doc_id, count(*) AS s FROM kw GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         |psz AS (SELECT p.doc_a, p.doc_b, sa.s AS s1, sb.s AS s2
         |  FROM pairs p JOIN sz sa ON sa.doc_id = p.doc_a
         |  JOIN sz sb ON sb.doc_id = p.doc_b),
         |ka AS (SELECT p.doc_a, p.doc_b, k.word, k.rn - 1 AS i
         |  FROM pairs p JOIN kw k ON k.doc_id = p.doc_a),
         |kb AS (SELECT p.doc_a, p.doc_b, k.word, k.rn - 1 AS j
         |  FROM pairs p JOIN kw k ON k.doc_id = p.doc_b),
         |m AS (SELECT coalesce(ka.doc_a, kb.doc_a) AS doc_a,
         |        coalesce(ka.doc_b, kb.doc_b) AS doc_b, ka.i, kb.j
         |  FROM ka FULL JOIN kb
         |    ON ka.doc_a = kb.doc_a AND ka.doc_b = kb.doc_b AND ka.word = kb.word),
         |agg AS (
         |  SELECT m.doc_a, m.doc_b,
         |    sum(CASE WHEN i IS NOT NULL AND j IS NOT NULL
         |          THEN (s2*(s1-i) - s1*(s2-j)) * (s2*(s1-i) - s1*(s2-j))
         |        WHEN i IS NOT NULL THEN s2*s2*(s1-i)*(s1-i)
         |        ELSE s1*s1*(s2-j)*(s2-j) END) AS f9
         |  FROM m JOIN psz USING (doc_a, doc_b)
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(f9 AS INT) AS f11_rank_distance
         |FROM agg""".stripMargin
  )
}
