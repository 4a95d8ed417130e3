package graft.queries

import graft.io.Tables
import graft.ops.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics-mining surface: multiway relational joins, item-item
  * collaborative filtering, training-data chunking, n-gram language-model
  * scoring, rolling anomaly detection, ranking-quality evaluation (NDCG),
  * and MapType construction/explosion. Every query is DuckDB-oracled with
  * the standing conventions (identical aliases, rounding before ranking on
  * floats, deterministic tie-breaks).
  */
object MiningQueries {
  type Q = (SparkSession, String) => DataFrame

  private val CHUNK = 64  // q122 tokens per chunk
  private val STRIDE = 48 // q122 chunk stride (CHUNK-STRIDE token overlap)

  val queries: Map[String, Q] = Map(

    // TPC-H Q5-shaped multiway join: 6 tables, revenue by nation for one
    // region-year, with the "local supplier" residual (s_nationkey =
    // c_nationkey). Only the constant-size dims (region 5 rows, nation 25)
    // are pinned broadcast — customer/orders/supplier joins are left to the
    // planner because at 100 TB none of those sides is broadcastable; they
    // become co-partitioned shuffle joins (AQE picks broadcast at small SF
    // automatically). The date filter reaches the orders parquet scan, the
    // region filter prunes 4/5 of customers before the fact join.
    "q120_multiway_join" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.customer(s, d)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(Ops.discountedRevenue(col("l_extendedprice"), col("l_discount"))
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Item-item collaborative filtering: cosine over co-click incidence
    // (sim = co / sqrt(n_a·n_b)), top-5 neighbors per item. The self-join
    // is keyed on userId, so the quadratic term is bounded by items-per-
    // user (the feed cap), never by item popularity; the item-count side
    // is the catalog dimension — bounded, broadcast. Ranking is on the
    // ROUNDED cosine (tie-break neighbor id), the standing float-ranking
    // convention, so both engines rank identical keys.
    "q121_item_cf" -> ((s, d) => {
      val sets = graft.runtime.Stage.scopedPersist(
        Tables.clicks(s, d).select(col("userId"), col("newsId")).distinct())
      val ni = sets.groupBy("newsId").agg(count(lit(1)).as("n"))
      val co = sets.select(col("userId"), col("newsId").as("a"))
        .join(sets.select(col("userId"), col("newsId").as("b")), "userId")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("co"))
      val sym = co.union(co.select(col("b").as("a"), col("a").as("b"), col("co")))
      val scored = sym
        .join(broadcast(ni.select(col("newsId").as("a"), col("n").as("na"))), "a")
        .join(broadcast(ni.select(col("newsId").as("b"), col("n").as("nb"))), "b")
        .select(col("a").as("news_id"), col("b").as("neighbor_id"),
          round(col("co") / sqrt(col("na") * col("nb")), 6).as("cos_sim"))
      val w = Window.partitionBy("news_id")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    }),

    // Fixed-size token chunking with overlap — the pretraining-data window
    // op (context packing's sibling, q65): stride-STRIDE windows of up to
    // CHUNK tokens, every token covered, consecutive chunks overlapping by
    // CHUNK-STRIDE. Embarrassingly parallel per document; output carries a
    // content hash per chunk (what a downstream exact-dedup would key on).
    "q122_doc_chunks" -> ((s, d) =>
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), graft.text.Tokenizer.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(0L),
            floor((size(col("tk")) - 1) / STRIDE).cast("long"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          slice(col("tk"), (col("chunk_idx") * STRIDE + 1).cast("int"),
            lit(CHUNK)).as("ck"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("ck")).as("n_tokens"),
          md5(concat_ws(" ", col("ck"))).as("chunk_hash"))),

    // Bigram language-model scoring (add-one smoothing): train corpus
    // bigram/context counts, then score each document's mean log-likelihood
    // ln((c(w1,w2)+1)/(c(w1)+V)) — the classic cheap LM-quality filter
    // (perplexity proxy) for corpus curation. The bigram-count join is
    // equi-keyed on the bigram; the context-count side is vocabulary-sized
    // — broadcast. Counts are corpus-global, so the whole thing is two
    // shuffles over the exploded bigram stream plus the per-doc reduce.
    "q123_bigram_lm" -> ((s, d) => {
      val tk = graft.runtime.Stage.scopedPersist(
        Ops.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), graft.text.Tokenizer.tokens(col("text")).as("tk")))
      // per-doc bigram MULTIPLICITIES, not occurrences: every downstream
      // join and count shuffles distinct (doc, bigram) rows weighted by k
      // — at 100 TB the in-document repetition factor is exactly what the
      // raw-occurrence form would pay again in every exchange
      val bgc = graft.runtime.Stage.scopedPersist(
        tk.filter(size(col("tk")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(tk)-1), i -> struct(element_at(tk, i) AS w1, element_at(tk, i+1) AS w2))"))
            .as("b"))
          .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
          .agg(count(lit(1)).as("k")))
      val c2 = bgc.groupBy("w1", "w2").agg(sum(col("k")).as("c2"))
      val c1 = bgc.groupBy("w1").agg(sum(col("k")).as("c1"))
      // Vocabulary size V rides a one-row broadcast aggregate instead of a
      // distinct().count() driver action (the q164/q177 pattern).
      val vc = tk.select(explode(col("tk")).as("w")).distinct()
        .agg(count(lit(1)).cast("double").as("_v"))
      bgc.join(c2, Seq("w1", "w2")).join(broadcast(c1), "w1")
        .crossJoin(broadcast(vc))
        .select(col("doc_id"), col("k"),
          (col("k") * log((col("c2") + 1).cast("double")
            / (col("c1") + col("_v")))).as("lps"))
        .groupBy("doc_id")
        .agg(sum(col("k")).as("n_bigrams"),
          round(sum(col("lps")) / sum(col("k")), 6).as("avg_logp"))
    }),

    // Rolling z-score spike detection on the per-event-type daily volume
    // series: trailing 7-day window (excluding today), needs >=3 priors.
    // Counts are integers, so the windowed mean/stddev are numerically
    // stable; z is rounded before the spike flag per the standing
    // convention. One shuffle on the series key; the frame is bounded, so
    // state per key is constant at any scale (at 100 TB the key would be a
    // high-cardinality series id — the plan shape is identical).
    "q124_rolling_zscore" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("c"))
        .select(col("event_type"), col("day"), col("c"),
          count(col("c")).over(w).as("n_prior"),
          avg(col("c")).over(w).as("mu"),
          stddev_samp(col("c")).over(w).as("sd"))
        .filter(col("n_prior") >= 3 && col("sd") > 0)
        .select(col("event_type"), col("day"),
          col("c").cast("long").as("n_events"),
          round((col("c") - col("mu")) / col("sd"), 6).as("z"))
        .withColumn("is_spike", (col("z") > 2.0).cast("int"))
    }),

    // NDCG@10 of the yesterday's-top-10 recommender (the q24/q46/q117 eval
    // family completed with a graded-position metric): recs for day D are
    // the 10 hottest news of D-1; per active user-day, DCG sums 1/log2(p+1)
    // over hit positions and IDCG is the ideal for min(m,10) relevant
    // items. All joins are equi-keyed on (date, newsId) or (date, userId);
    // the rec list is |days|x10 — broadcast-sized at any scale.
    "q125_ndcg" -> ((s, d) => {
      val (userDays, hitsRaw) = hotRecHits(s, d)
      val hits = hitsRaw
        .groupBy(col("date"), col("userId"))
        .agg(sum(lit(1.0) / log2((col("p") + 1).cast("double"))).as("dcg"))
      userDays.join(hits, Seq("date", "userId"), "left")
        .select(col("date"),
          (coalesce(col("dcg"), lit(0.0)) / expr(
            "aggregate(sequence(1, least(CAST(m AS INT), 10)), CAST(0.0 AS DOUBLE), (acc, i) -> acc + 1.0/log2(CAST(i+1 AS DOUBLE)))"))
            .as("ndcg"))
        .groupBy(col("date"))
        .agg(count(lit(1)).as("n_users"), round(avg(col("ndcg")), 6).as("avg_ndcg"))
    }),

    // MERGE/CDC apply — the lakehouse upsert primitive (Delta MERGE's plan
    // shape) expressed as one full-outer join + per-row CASE: deletes drop,
    // updates take the source value, inserts materialize, unmatched targets
    // pass through. The change set is derived deterministically from the
    // snapshot itself (key mod buckets) so both engines compute the same
    // CDC batch. At 100 TB the join is equi-keyed on the primary key — one
    // co-partitioned shuffle pair (or none, if the table layout is already
    // key-bucketed, q84).
    "q127_merge_upsert" -> ((s, d) => {
      val tgt = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      // 10% uplift in EXACT integer cents (floor at the sub-cent):
      // `round(bal * 1.1, 2)` lands exactly on half-cent ties (2 dp × 1.1 =
      // 3 dp), where Spark's BigDecimal rounding and DuckDB's scaled-double
      // rounding legitimately disagree — caught by the sf0.1 stress run.
      // floorDiv via pmod is sign-safe (acctbal can be negative).
      val c110 = (round(col("c_acctbal") * 100).cast("long") * 110)
      val chg = tgt.select(
          col("c_custkey").as("k"),
          when(col("c_custkey") % 10 === 0, lit("D"))
            .when(col("c_custkey") % 10 <= 3, lit("U"))
            .otherwise(lit(null)).as("op"),
          (((c110 - pmod(c110, lit(100L))).cast("double") / 100) / 100)
            .as("new_bal"))
        .filter(col("op").isNotNull)
        .union(tgt.filter(col("c_custkey") % 10 === 4)
          .select((col("c_custkey") + 1000000).as("k"), lit("I").as("op"),
            lit(0.0).as("new_bal")))
      tgt.join(chg, col("c_custkey") === col("k"), "full_outer")
        .filter(col("op").isNull || col("op") =!= "D")
        .select(
          coalesce(col("c_custkey"), col("k")).as("custkey"),
          coalesce(col("c_mktsegment"), lit("NEW")).as("segment"),
          round(when(col("op") === "U", col("new_bal"))
            .when(col("op") === "I", col("new_bal"))
            .otherwise(col("c_acctbal")), 2).as("acctbal"))
    }),

    // SQL API surface, part 2 (q48 is the flat join+agg): correlated
    // EXISTS, a scalar subquery, a CTE, and a LATERAL correlated derived
    // table — the analyst-SQL features Catalyst decorrelates into joins
    // (EXISTS -> left semi; LATERAL max -> aggregate + equi-join; the
    // scalar subquery -> one-row broadcast cross). Declared through
    // spark.sql over temp views, planned by the same engine as the
    // DataFrame queries.
    "q128_sql_surface2" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("g_customer")
      Tables.orders(s, d).createOrReplaceTempView("g_orders")
      s.sql(
        s"""WITH big AS (SELECT * FROM g_orders WHERE o_totalprice > 400000)
          |SELECT c.c_mktsegment AS segment,
          |  count(*) AS n_cust,
          |  ${SqlFragments.avgFixedSparkSql("t.max_price", 2, 2)} AS avg_max_price,
          |  round(max(t.max_price
          |    - (SELECT avg(o_totalprice) FROM g_orders)), 2) AS max_over_global
          |FROM g_customer c,
          |  LATERAL (SELECT max(o_totalprice) AS max_price FROM g_orders o
          |           WHERE o.o_custkey = c.c_custkey) t
          |WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)
          |GROUP BY c.c_mktsegment""".stripMargin)
    }),

    // Null-safe equality join (<=>): NULL keys match each other — the
    // dimension-join semantics SQL's plain `=` silently drops. Keys are
    // NULLed deterministically (value band), then the null-safe join count
    // is compared against the null-dropping plain join in one output row
    // per key class. Runs through Ops.nullSafeJoinGuarded, which since
    // round 11 executes SPLIT (non-null equi-join ∪ broadcast-cross null
    // bucket — row-identical to <=>, but the bucket's pairs spread across
    // every partition instead of one hash key) and still fails loudly
    // when the bucket outgrows the budget. Budget 2e9: the bucket is the
    // lane's declared output feed (~1.4e8 pairs at sf1 — executed, not
    // refused, ~seconds distributed), and the guard still refuses the
    // accidental 10×-null regression.
    "q129_nullsafe_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          when(col("value") < 5.0, lit(null).cast("bigint"))
            .otherwise(col("user_id")).as("uk"))
      val dim = Tables.customer(s, d)
        .select(when(col("c_custkey") % 100 === 0, lit(null).cast("bigint"))
          .otherwise(col("c_custkey")).as("ck"),
          col("c_mktsegment"))
      Ops.nullSafeJoinGuarded(ev, col("uk"), dim, col("ck"),
          maxNullPairs = 2000000000L)
        .groupBy(coalesce(col("c_mktsegment"), lit("NULL_KEY")).as("segment"),
          col("uk").isNull.as("null_key"))
        .agg(count(lit(1)).as("n_matches"))
    }),

    // Recall@10 of the same recommender run (eval family: precision q24/
    // q46/q117, NDCG q125, MAP q134): fraction of a user-day's relevant
    // items covered by the rec list, averaged per day.
    "q133_recall" -> ((s, d) => {
      val (userDays, hitsRaw) = hotRecHits(s, d)
      val hits = hitsRaw.groupBy(col("date"), col("userId"))
        .agg(count(lit(1)).as("h"))
      userDays.join(hits, Seq("date", "userId"), "left")
        .select(col("date"),
          (coalesce(col("h"), lit(0L)).cast("double") / col("m")).as("rec"))
        .groupBy(col("date"))
        .agg(count(lit(1)).as("n_users"), round(avg(col("rec")), 6).as("avg_recall"))
    }),

    // MAP@10: average precision per user-day — mean of precision@p over
    // hit positions, normalized by min(m, 10). The running hit count is a
    // row_number over each user-day's hit positions (bounded by 10), so
    // the metric adds one keyed window over the shared hit rows.
    "q134_map_eval" -> ((s, d) => {
      val (userDays, hitsRaw) = hotRecHits(s, d)
      val w = Window.partitionBy("date", "userId").orderBy("p")
      val ap = hitsRaw.withColumn("r", row_number().over(w))
        .groupBy(col("date"), col("userId"))
        .agg(sum(col("r").cast("double") / col("p")).as("sumprec"))
      userDays.join(ap, Seq("date", "userId"), "left")
        .select(col("date"),
          (coalesce(col("sumprec"), lit(0.0))
            / least(col("m"), lit(10)).cast("double")).as("ap"))
        .groupBy(col("date"))
        .agg(count(lit(1)).as("n_users"), round(avg(col("ap")), 6).as("map10"))
    }),

    // First-order Markov transition mining over per-user click sequences
    // (the next-item model a sequential recommender trains on): one keyed
    // window (lead) on the user partition, one count shuffle keyed by the
    // transition pair, top-20 via TakeOrderedAndProject (no global sort).
    "q135_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 500).as("news"))
        .withColumn("nxt", lead(col("news"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("news").as("src_news"), col("nxt").as("dst_news"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("src_news").asc, col("dst_news").asc)
        .limit(20)
    }),

    // Outer generator semantics (posexplode_outer): per-user purchase
    // value sequences exploded WITH position, users with no purchases kept
    // as a null-position row — the left-join-shaped explode every
    // "sessions to training rows" pipeline needs (an inner explode silently
    // drops empty entities). sort_array on the struct array pins the
    // (ts, event_id) order inside each sequence.
    "q136_posexplode_outer" -> ((s, d) => {
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          round(col("value"), 2).as("v")))).as("ps"))
        .select(col("user_id").as("p_user"),
          expr("transform(ps, x -> x.v)").as("vals"))
      Tables.customer(s, d)
        .select(col("c_custkey").as("user_id"))
        .join(purchases, col("user_id") === col("p_user"), "left")
        .select(col("user_id"), posexplode_outer(col("vals")).as(Seq("pos", "value")))
    }),

    // Ratio-to-report: revenue share within the flag group (keyed window,
    // no extra exchange past the group-by) and against the grand total
    // (one-row aggregate broadcast back — NOT an unpartitioned window,
    // which would single-partition the table at scale).
    "q137_share_of_total" -> ((s, d) => {
      // exact integer 1e-4 units (Ops.discountedRevenueUnits) drive BOTH
      // the cent display and the share ratios — the scalar unit factor
      // cancels in the ratios, and the cent rounding is tie-free
      val base = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(Ops.discountedRevenueUnits(
          col("l_extendedprice"), col("l_discount")).as("_u"))
      val total = base.agg(sum(col("_u")).as("_totu"))
      val wf = Window.partitionBy("l_returnflag")
      base.crossJoin(broadcast(total))
        .select(col("l_returnflag"), col("l_linestatus"),
          Ops.centsHalfUpFromUnits(col("_u")).as("revenue"),
          round(col("_u") / sum(col("_u")).over(wf), 6).as("share_flag"),
          round(col("_u") / col("_totu"), 6).as("share_total"))
    }),

    // transformWithState (Spark 4's arbitrary-stateful operator, RocksDB-
    // backed): per-user running activity kept in NAMED typed state
    // variables — see streaming.StreamingTws. Oracle = the batch aggregate
    // of the same events.
    "q130_tws_activity" -> ((s, d) =>
      graft.streaming.StreamingTws.userActivity(s, d)),

    // Partition-pruned layout: the events table written day-partitioned
    // (the ingest layout for any time-series fact at 100 TB), then read
    // back with a day-range predicate — the filter prunes whole
    // directories at planning time (PartitionFilters in the scan, pinned
    // in MiningSpec), so a 30-day table scans 11 days of files. Oracle
    // computes the same aggregate straight off the unpartitioned events.
    "q131_partitioned_layout" -> ((s, d) => {
      val fact = partitionedEvents(s, d)
      fact.filter(col("day") >= lit("2024-01-10") && col("day") <= lit("2024-01-20"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    }),

    // Dynamic partition pruning: the day-partitioned fact joined to a
    // filtered day dimension — the partition filter isn't known until the
    // dim side is evaluated, so Catalyst injects a runtime subquery filter
    // into the fact scan (dynamicpruning expression, pinned in MiningSpec)
    // instead of scanning all partitions. The 100 TB shape for
    // "fact ⋈ filtered calendar/dim" star queries.
    "q132_dpp" -> ((s, d) => {
      val fact = partitionedEvents(s, d)
      val dim = Tables.events(s, d)
        .select(to_date(col("ts")).as("day")).distinct()
        .filter(pmod(datediff(col("day"), lit(java.sql.Date.valueOf("2024-01-01"))), lit(7)) === 3)
      fact.join(dim, "day")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("day")).as("n_days"))
    }),

    // Recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop operator):
    // bounded-hop reachability over the click-transition graph — start at
    // the heaviest transition source, walk the 50-node distinct-transition graph up to 3 hops,
    // aggregate min-hops and walk counts. The recursion is hop-guarded so
    // both engines enumerate the identical finite walk set; each iteration
    // is one equi-join of the frontier against the (tiny, broadcast) edge
    // list — the SQL-surface twin of ext.Graph's BSP loops.
    "q138_recursive_cte" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("g_events")
      s.sql(recursiveReachSql("g_events"))
    }),

    // Regexp surface: vowel-run counting and first-match extraction over
    // the corpus (regexp_count / regexp_extract stay row-local and
    // codegen'd — the shape of any regex-based PII/quality scan at scale).
    "q139_regexp_surface" -> ((s, d) =>
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          regexp_count(col("text"), lit("[aeiou]{2}")).as("n_vowel_runs"),
          length(regexp_replace(col("text"), "[aeiou]", "")).as("len_novowels"))
        .withColumn("n_vowel_runs", col("n_vowel_runs").cast("long"))),

    // String-function surface: length/levenshtein/translate/strpos/lpad/
    // reverse in one row-local pass (levenshtein is the classic DP — both
    // engines implement the same metric).
    "q140_string_funcs" -> ((s, d) =>
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          length(col("text")).as("len_text"),
          levenshtein(substring(col("text"), 1, 12),
            translate(substring(col("text"), 1, 12), "aeiou", "eioua")).as("lev"),
          locate("a", col("text")).cast("long").as("first_a"),
          lpad(col("lang"), 5, "_").as("lang_pad"),
          reverse(substring(col("text"), 1, 5)).as("rev5"))),

    // Date-function surface: calendar rollup of orders by (year, quarter)
    // with month cardinality and quarter-end boundaries — extracts and
    // last_day are row-local; the aggregate is one hash pass.
    "q141_date_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mo"),
          last_day(to_date(col("o_orderdate"))).as("ld"))
        .groupBy(col("yr"), col("qtr"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("mo")).as("n_months"),
          max(col("ld")).as("quarter_end"))),

    // Bitwise aggregate surface (bit_and/bit_or/bit_xor): the fold
    // primitives behind bitmap indexes and feature-flag rollups; all three
    // partial-aggregate map-side.
    "q142_bit_aggregates" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("bit_and(event_id)").as("band"),
          expr("bit_or(event_id)").as("bor"),
          expr("bit_xor(event_id)").as("bxor"))),

    // Null-aware anti join: NOT IN over a subquery CONTAINING NULLs is
    // vacuously empty (three-valued logic), while NOT EXISTS ignores them —
    // the classic silent-wrong-answer pair. Spark plans the NOT IN as a
    // null-aware anti join; both counts are emitted so the semantics gap
    // is the asserted result.
    "q143_null_aware_antijoin" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("g_orders_na")
      Tables.customer(s, d)
        .select(when(col("c_custkey") % 1000 === 7, lit(null).cast("bigint"))
          .otherwise(col("c_custkey")).as("k"))
        .createOrReplaceTempView("g_keys_na")
      s.sql(
        """SELECT 'not_in' AS method, count(*) AS n_rows
          |FROM g_orders_na WHERE o_custkey NOT IN (SELECT k FROM g_keys_na)
          |UNION ALL
          |SELECT 'not_exists' AS method, count(*) AS n_rows
          |FROM g_orders_na o
          |WHERE NOT EXISTS (SELECT 1 FROM g_keys_na x WHERE x.k = o.o_custkey)""".stripMargin)
    }),

    // Higher-order-function surface (filter / exists over array columns):
    // row-local lambda evaluation — no explode, no shuffle; the per-doc
    // token array never leaves its row.
    "q144_hof_surface" -> ((s, d) =>
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), graft.text.Tokenizer.tokens(col("text")).as("tk"))
        .select(col("doc_id"),
          size(col("tk")).as("n_tokens"),
          size(expr("filter(tk, w -> length(w) > 6)")).as("n_long"),
          round(size(expr("filter(tk, w -> length(w) > 6)")).cast("double")
            / size(col("tk")), 6).as("frac_long"),
          expr("exists(tk, w -> substr(w, 1, 1) = 'a')").as("has_a"))),

    // Gini concentration per segment: 2·Σ(rank·x) / (n·Σx) − (n+1)/n over
    // the ascending-sorted values — the inequality statistic for "is this
    // segment's revenue concentrated in few customers". One keyed window
    // (rank) + one hash agg; ranks are per-group, so partition-parallel.
    "q145_gini" -> ((s, d) => {
      // Rank-sum via the cumulative VALUE histogram (Ops.cumHistogram): the
      // per-row row_number ranked every order with parallelism =
      // |mktsegments| (5) at any scale. Ranks of a tied-price run are the
      // consecutive range (cumBefore, cumBefore+cnt], so its Σ rank·x
      // collapses to x·(cnt·cumBefore + cnt·(cnt+1)/2) — the tie-break
      // columns never influenced the statistic. Rank arithmetic in double
      // (same precision class as the row form's double rank), mirrored
      // verbatim in the oracle; round(·, 6) absorbs float grouping order
      // exactly as it already did cross-engine.
      val h = Ops.cumHistogram(
        Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_totalprice").as("p")),
        Seq("c_mktsegment"), "p")
      val cntD = col("_cnt").cast("double")
      val contrib = col("p") *
        (cntD * (col("_cum") - col("_cnt")).cast("double") +
          cntD * (col("_cnt") + 1).cast("double") / 2)
      h.groupBy(col("c_mktsegment"))
        .agg(sum(col("_cnt")).as("n_orders"),
          round(lit(2.0) * sum(contrib)
              / (sum(col("_cnt")) * sum(col("p") * col("_cnt")))
            - (sum(col("_cnt")) + 1).cast("double") / sum(col("_cnt")), 6)
            .as("gini"))
    }),

    // Aggregate surface: exact linear-interpolated percentiles (the
    // percentile_cont contract) and deterministic arg-max (max_by on a
    // collision-free composite key) — both partial-aggregating, one hash
    // pass.
    "q146_agg_surface" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
          expr("max_by(o_custkey, o_totalprice * 100000 + o_custkey)")
            .as("top_cust"))),

    // Islands & gaps: missing days per news click series, consecutive
    // gaps collapsed into islands via the rank-difference trick
    // (day_ordinal − row_number is constant within a run). The calendar
    // explode is bounded by each key's own [min, max] span; everything is
    // keyed on the series id — one shuffle, partition-parallel windows.
    "q147_gap_islands" -> ((s, d) => {
      val obs = graft.runtime.Stage.scopedPersist(
        Tables.clicks(s, d).select(col("newsId"), col("date")).distinct())
      val expected = obs.groupBy(col("newsId").as("e_news"))
        .agg(min(col("date")).as("lo"), max(col("date")).as("hi"))
        .select(col("e_news"), explode(sequence(col("lo"), col("hi"))).as("day"))
      val missing = expected.join(obs,
        col("e_news") === col("newsId") && col("day") === col("date"), "left_anti")
      val w = Window.partitionBy("e_news").orderBy("day")
      missing
        .withColumn("g",
          datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
            - row_number().over(w))
        .groupBy(col("e_news").as("news_id"), col("g"))
        .agg(min(col("day")).as("gap_start"), max(col("day")).as("gap_end"),
          count(lit(1)).as("gap_len"))
        .drop("g")
    }),

    // Cumulative distinct (new-user growth curve): first-activity day per
    // user (one keyed agg), then a running sum over the per-day new-user
    // counts — the cumulative-distinct pattern that avoids any
    // distinct-over-window (which no engine does scalably). The final
    // window is over the already-reduced |days| table — tiny by
    // construction, so the unpartitioned frame is safe at any input scale.
    "q148_new_user_curve" -> ((s, d) => {
      val firstDay = Tables.clicks(s, d)
        .groupBy(col("userId")).agg(min(col("date")).as("day"))
      val perDay = firstDay.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      perDay.select(col("day"), col("n_new"),
        sum(col("n_new")).over(w).as("cum_users"))
    }),

    // Exact weighted median per group (curation statistic: "the doc length
    // below which half the corpus WEIGHT sits"): smallest x with
    // 2·cumw >= total weight. Computed over the cumulative VALUE histogram
    // (Ops.cumHistogram, weighted) instead of a per-row cumulative-weight
    // window: the window form ranked every document with parallelism =
    // |langs| at any scale; here the corpus-sized work is one
    // fully-parallel aggregate and only distinct (lang, n_chars) rows
    // reach a window. The crossing row's n_chars is identical whether the
    // threshold lands mid-tie or not (all rows of a tie share the value),
    // and weights are integers — exact in both engines.
    "q149_weighted_median" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("lang"), col("n_chars"), (col("n_chars") % 7 + 1).as("wt"))
      Ops.cumHistogram(base, Seq("lang"), "n_chars", weight = Some("wt"))
        .groupBy(col("lang"))
        .agg(max(col("_n")).as("total_weight"),
          min(when(col("_cum") * 2 >= col("_n"), col("n_chars")))
            .as("weighted_median"))
    }),

    // Order-independent table checksum (anti-entropy/replica-consistency
    // primitive): per-row md5-derived 32-bit value over a canonical
    // pipe-joined rendering (doubles as exact integer cents — float
    // formatting never crosses engines), summed with count. Commutative
    // sum => partition- and order-independent; the whole check is one
    // map-side-combining pass.
    "q150_table_checksum" -> ((s, d) =>
      Tables.orders(s, d)
        .select(conv(substring(md5(concat_ws("|",
            col("o_orderkey").cast("string"),
            col("o_custkey").cast("string"),
            col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long").cast("string"),
            to_date(col("o_orderdate")).cast("string"),
            col("o_orderpriority"))), 1, 8), 16, 10).cast("long").as("v"))
        .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("checksum"))),

    // K-means, two Lloyd iterations in pure DataFrame ops (k=4 seeded from
    // the first 4 vectors — deterministic, no RNG): assignment is a
    // broadcast cross of points × k centroids with an ordered-fold L2
    // (distances rounded before argmin per the float-ranking convention);
    // the centroid update is the q111 long-form mean (posexplode + hash
    // agg, map-side partials). Each iteration is one broadcast join + one
    // |points|·dims aggregation — the scalable Lloyd shape (centroids
    // always broadcast; points never shuffle).
    "q151_kmeans" -> ((s, d) => {
      val emb = graft.runtime.Stage.scopedPersist(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
      val c0 = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").cast("int").as("cl"),
          expr("transform(embedding, a -> CAST(a AS DOUBLE))").as("c"))
      def assign(cents: DataFrame): DataFrame = {
        val d2 = expr(
          """aggregate(zip_with(embedding, c,
            |  (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),
            |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
        emb.crossJoin(broadcast(cents))
          .withColumn("d2", round(d2, 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cl").asc)))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("embedding"), col("cl"))
      }
      def recompute(assigned: DataFrame): DataFrame =
        assigned
          .select(col("cl"), posexplode(col("embedding")).as(Seq("dim", "a")))
          .groupBy(col("cl"), col("dim"))
          .agg(avg(col("a").cast("double")).as("v"))
          .groupBy(col("cl"))
          .agg(expr("transform(sort_array(collect_list(struct(dim, v))), x -> x.v)")
            .as("c"))
      val a2 = assign(recompute(assign(c0)))
      val sizes = a2.groupBy(col("cl")).agg(count(lit(1)).as("n_points"))
      recompute(a2)
        .select(col("cl"), posexplode(col("c")).as(Seq("dim", "v")))
        .join(broadcast(sizes), "cl")
        .select(col("cl").as("cluster"), col("n_points"), col("dim"),
          round(col("v"), 6).as("centroid"))
    }),

    // Deterministic negative sampling (training-pair generation): per
    // user, the 3 lowest-md5 news NOT clicked — reproducible across
    // engines/runs and stable under catalog growth. The candidate space
    // is user × catalog with the clicked set anti-joined out; at 100 TB
    // the md5 ordering doubles as a pre-filter (only hash-prefix buckets
    // need generating), so the cross never fully materializes.
    "q152_negative_sampling" -> ((s, d) => {
      val clicked = graft.runtime.Stage.scopedPersist(
        Tables.clicks(s, d).select(col("userId"), col("newsId")).distinct())
      val users = clicked.select(col("userId")).distinct()
      val news = clicked.select(col("newsId")).distinct()
      // r14: the 3 lowest-md5 picks ride the partial-combining MinKByKey
      // aggregator — (hk asc, newsId asc), identical to the former
      // row_number window — so only ≤3 rows per user per partition cross
      // the shuffle instead of the full user×catalog candidate space
      // (guide §2.3: aggregate before you shuffle).
      users.crossJoin(broadcast(news))
        .join(clicked, Seq("userId", "newsId"), "left_anti")
        .withColumn("hk", md5(concat_ws(":",
          col("userId").cast("string"), col("newsId").cast("string"))))
        .groupBy(col("userId"))
        .agg(graft.functions.TopKAggregator.minKByKey(3)(
          col("hk"), col("newsId")).as("ids"))
        .select(col("userId").as("user_id"),
          posexplode(col("ids")).as(Seq("pos", "neg_news")))
        .select(col("user_id"), col("neg_news"), (col("pos") + 1).as("rk"))
    }),

    // Feature hashing (the hashing trick): words fold into 64 buckets via
    // an md5-derived hash — no vocabulary table, no fit step, the
    // stateless featurizer for streaming/100 TB text. Row-local hash +
    // one (doc, bucket) aggregation.
    "q153_feature_hashing" -> ((s, d) =>
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(graft.text.Tokenizer.tokens(col("text"))).as("word"))
        .withColumn("bucket",
          (conv(substring(md5(col("word")), 1, 3), 16, 10) % 64).cast("int"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("n"))),

    // Leave-one-out target encoding (the ML-prep categorical encoder that
    // avoids self-leakage): per-category sum/count in one agg, then the
    // row-local (S - y_i)/(n - 1). One tiny broadcast back onto the fact
    // rows — never a window over the category.
    "q154_target_encoding" -> ((s, d) => {
      val stats = Tables.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(sum(col("o_totalprice")).as("s"), count(lit(1)).as("n"))
      Tables.orders(s, d).join(broadcast(stats), "o_orderpriority")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round((col("s") - col("o_totalprice")) / (col("n") - 1), 4).as("loo_mean"))
    }),

    // transformWithState with MapState (the third TWS state type): one
    // store entry per (user, event_type) — see StreamingTws.
    // TypeCountProcessor. Oracle = batch per-type counts.
    "q155_tws_mapstate" -> ((s, d) =>
      graft.streaming.StreamingTws.userTypeCounts(s, d)),

    // Interval RANGE window frame: per-user trailing 2-hour value sum at
    // each event — a RANGE frame over event-time seconds (peers included
    // by value, not by row count), the telemetry rolling metric. One
    // shuffle on the series key; frame state is bounded by the interval.
    "q156_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("tsec")).rangeBetween(-7200, 0)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts) DIV 1000000").as("tsec"), col("value"))
        .withColumn("sum_2h", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("sum_2h"))
    }),

    // Native runtime bloom-filter injection (Spark's InjectRuntimeFilter —
    // the automatic form of q77's manual bloom): with broadcast disabled,
    // the selective build side plants a BloomFilterMightContain on the
    // probe scan at optimization time (MiningSpec pins the plan). At
    // 100 TB this is THE mechanism that keeps shuffle joins against
    // filtered dims from shuffling the full fact table.
    // Spark plans lazily, so the result is materialized EAGERLY (a tiny
    // localCheckpoint of the 3-row aggregate) inside the conf scope —
    // otherwise the restore would win the race and the filter would never
    // be injected.
    "q157_runtime_filter" -> ((s, d) =>
      withRuntimeFilterConfs(s) {
        runtimeFilterJoin(s, d).localCheckpoint()
      }),

    // VARIANT (Spark 4's semi-structured type): props parsed once into a
    // variant and field-extracted with variant_get, cross-checked against
    // the schema-ful from_json path — the two JSON lanes an ingest layer
    // offers (schemaless variant for evolving payloads, typed struct for
    // pinned ones). Both are row-local; the mismatch counter proves they
    // agree.
    "q158_variant_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          expr("variant_get(parse_json(props), '$.k', 'int')").as("kv"),
          expr("from_json(props, 'k INT').k").as("ks"),
          col("value"))
        .groupBy((col("kv") % 5).as("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kv") === col("ks"), 0L).otherwise(1L)).as("n_mismatch"),
          round(sum(col("value")), 2).as("sum_value"))),

    // Collation-aware grouping (Spark 4 collations): UTF8_LCASE folds the
    // case variants of a key into one group without rewriting the data —
    // the engine-level answer to locale/case-insensitive dimensions. The
    // representative shown is the binary min (deterministic); the
    // lowercase rendering is the group key.
    "q159_collation" -> ((s, d) =>
      Tables.documents(s, d)
        .select(when(col("doc_id") % 2 === 0, upper(col("lang")))
          .otherwise(col("lang")).as("l"))
        .groupBy(expr("collate(l, 'UTF8_LCASE')").as("lc"))
        .agg(count(lit(1)).as("n_docs"),
          min(expr("collate(l, 'UTF8_BINARY')")).as("first_form"),
          countDistinct(expr("collate(l, 'UTF8_BINARY')")).as("n_forms"))
        .select(lower(col("lc")).cast("string").as("lang_ci"),
          col("n_docs"), col("first_form"), col("n_forms"))),

    // Data masking (PII-shaped redaction): the built-in mask() (upper→X,
    // lower→x, digit→n) plus a sha2-256 pseudonymization key — the
    // row-local privacy pass every shared dataset export runs.
    "q160_masking" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          expr("mask(c_name)").as("masked_name"),
          sha2(col("c_custkey").cast("string"), 256).as("key_hash"))),

    // Error-safe expression surface (try_cast / try_divide): ANSI mode
    // makes bad casts and div-by-zero runtime ERRORS; the try_ family
    // yields NULLs instead — the difference between a 100 TB job dying at
    // 99% and a quarantine column. Poisoned rows are synthesized
    // deterministically.
    "q161_try_functions" -> ((s, d) =>
      Tables.events(s, d)
        .select(
          expr("try_cast(CASE WHEN value < 5 THEN 'bad' " +
            "ELSE CAST(user_id AS STRING) END AS BIGINT)").as("tc"),
          expr("try_divide(value, user_id % 3)").as("td"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("tc").isNull.cast("long")).as("n_bad_cast"),
          sum(col("tc")).as("sum_good_cast"),
          sum(col("td").isNull.cast("long")).as("n_null_div"),
          round(sum(col("td")), 2).as("sum_div"))),

    // Geo bucketed spatial join: 1°-cell bucketing (the geohash pattern)
    // turns "all pairs within 40 km" into an equi-join — each point
    // explodes to its 3×3 cell neighborhood on one side and sits in its
    // home cell on the other, so every near pair meets in exactly one
    // cell; the haversine residual then filters exactly. The quadratic
    // term is bounded by points-per-cell, never the table. Coordinates
    // are synthesized deterministically from keys (same arithmetic in the
    // oracle): each id PAIR (2k, 2k+1) shares a base point 0.1° apart
    // (~15 km — structurally inside the 40 km radius), so the lane emits
    // ≥ N/2 rows at EVERY gate scale — sf0.001's 150 sparse points
    // previously produced zero pairs and a vacuous PASS (VERDICT r8
    // finding 3) — while output stays linear in N, never quadratic.
    "q162_geo_bucket_join" -> ((s, d) => {
      val half = expr("c_custkey div 2")
      val twin = (col("c_custkey") % 2) * 0.1
      val pts = graft.runtime.Stage.scopedPersist(
        Tables.customer(s, d).select(col("c_custkey").as("id"),
          (((half * 37) % 300) / 10.0 - 15.0 + twin).as("lat"),
          (((half * 73) % 600) / 10.0 + twin).as("lon")))
      val aCells = pts.select(col("id").as("ida"), col("lat").as("lata"),
          col("lon").as("lona"),
          explode(expr(
            """flatten(transform(sequence(-1, 1), i ->
              |  transform(sequence(-1, 1), j ->
              |    struct(CAST(floor(lat) AS INT) + i AS cx,
              |           CAST(floor(lon) AS INT) + j AS cy))))""".stripMargin))
            .as("cell"))
        .select(col("ida"), col("lata"), col("lona"),
          col("cell.cx").as("cx"), col("cell.cy").as("cy"))
      val bHome = pts.select(col("id").as("idb"), col("lat").as("latb"),
        col("lon").as("lonb"),
        floor(col("lat")).cast("int").as("cx"),
        floor(col("lon")).cast("int").as("cy"))
      val dist = lit(12742.0) * asin(sqrt(
        pow(sin(radians(col("latb") - col("lata")) / 2), 2) +
          cos(radians(col("lata"))) * cos(radians(col("latb"))) *
            pow(sin(radians(col("lonb") - col("lona")) / 2), 2)))
      aCells.join(bHome, Seq("cx", "cy"))
        .filter(col("ida") < col("idb"))
        .withColumn("dist_km", round(dist, 3))
        .filter(col("dist_km") <= 40.0)
        .select(col("ida"), col("idb"), col("dist_km"))
    }),

    // Week-over-week lift: weekly revenue series + lag — the
    // period-over-period report. The window is over the already-reduced
    // |weeks| table (tiny by construction), so the unpartitioned frame is
    // safe at any input scale.
    "q163_wow_lift" -> ((s, d) => {
      val weekly = Tables.orders(s, d)
        .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val w = Window.orderBy("week")
      weekly.select(col("week"),
          round(col("rev"), 2).as("revenue"),
          round(col("rev") / lag(col("rev"), 1).over(w) - 1, 6).as("wow_lift"))
        .filter(col("wow_lift").isNotNull)
    }),

    // Chi-square independence statistic over the (lang, source)
    // contingency table (q112's MI companion): expected counts from the
    // margin product, zero cells included via the margin cross join —
    // everything after the two tiny margin aggs is broadcast-sized.
    "q164_chi_square" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      // N rides the lang margin via a whole-frame window over the ≤|langs|
      // rows (sum of per-lang counts = total docs) — no separate
      // driver-side count job / extra table scan.
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val ml = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
        .withColumn("n", sum(col("n_l")).over(wAll).cast("double"))
      val ms = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      ml.crossJoin(ms)
        .join(cells, Seq("lang", "source"), "left")
        .select(col("lang"), col("source"),
          coalesce(col("o"), lit(0L)).cast("double").as("o"),
          (col("n_l") * col("n_s") / col("n")).as("e"))
        .agg(count(lit(1)).as("n_cells"),
          round(sum(pow(col("o") - col("e"), 2) / col("e")), 6).as("chi2"))
    }),

    // Time-to-convert percentiles: view→first-click-within-1h gaps
    // (q102's interval join, first() per view), then EXACT nearest-rank
    // p50/p90 via the two-pass bin machinery (CurationQueries.exactRanks)
    // — no global sort, only the tiny bin table crosses the driver.
    "q165_time_to_convert" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val gaps = graft.runtime.Stage.scopedPersist(
        v.join(c, col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
          .groupBy(col("view_id"))
          .agg(((unix_micros(min(col("c_ts"))) - unix_micros(min(col("v_ts"))))
            / lit(1000000L)).as("p"))
          .select(col("view_id"), col("p").cast("double").as("p")))
      // nGaps rides the bin-table collect (exactRanksWithTotal) — no
      // separate count() job before the two-pass rank machinery.
      val (nGaps, ranks) = CurationQueries.exactRanksWithTotal(gaps,
        n => Seq(math.ceil(0.5 * n).toLong, math.ceil(0.9 * n).toLong))
      val p50 = ranks(math.ceil(0.5 * nGaps).toLong)
      val p90 = ranks(math.ceil(0.9 * nGaps).toLong)
      import s.implicits._
      Seq((nGaps, p50, p90)).toDF("n_converted_views", "p50_s", "p90_s")
    }),

    // RFM segmentation (recency / frequency / monetary deciles): three
    // per-customer aggregates, each quintile-coded with ntile over a
    // unique-keyed ordering (deterministic across engines), then segment
    // cell counts. The ntile windows are global but run over the
    // already-reduced |customers-with-orders| table; at 100 TB the
    // boundaries come from the q97/q104 two-pass rank machinery instead.
    "q166_rfm" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("freq"),
          // rounded BEFORE ranking (standing float-ranking convention)
          round(sum(col("o_totalprice")), 2).as("monetary"))
      val r = ntile(5).over(Window.orderBy(col("last_order").desc, col("o_custkey").asc))
      val f = ntile(5).over(Window.orderBy(col("freq").desc, col("o_custkey").asc))
      val m = ntile(5).over(Window.orderBy(col("monetary").desc, col("o_custkey").asc))
      per.select(col("o_custkey"), r.as("r"), f.as("f"), m.as("m"))
        .groupBy(col("r"), col("f"), col("m"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // Last-touch attribution: each purchase credits the user's most recent
    // click/view within 7 days — one keyed window (last_value IGNORE NULLS
    // over the strictly-preceding frame) on the merged event stream, no
    // self-join. The standard marketing-attribution fold; first-touch is
    // the mirrored frame.
    "q167_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"),
        struct(col("ts"), col("event_id"), col("event_type")))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          when(col("lt").isNull ||
              unix_micros(col("ts")) - unix_micros(col("lt.ts")) > 7L * 86400 * 1000000,
            lit("none")).otherwise(col("lt.event_type")).as("attributed_to"))
        .groupBy(col("attributed_to"))
        .agg(count(lit(1)).as("n_purchases"))
    }),

    // Quarantine split (dead-letter pattern): one pass over a poisoned
    // parse routes valid rows and rejects to separate parquet sinks; the
    // result re-reads both and reports per-sink counts — exactly the
    // "never kill the job, never drop silently" ingest contract. The scan
    // is persisted so the two filtered writes share it.
    "q168_quarantine_split" -> ((s, d) => {
      val parsed = graft.runtime.Stage.scopedPersist(
        Tables.events(s, d).select(col("event_id"), col("value"),
          expr("try_cast(CASE WHEN value < 2 THEN 'poison' " +
            "ELSE CAST(event_id AS STRING) END AS BIGINT)").as("parsed_id")))
      val base = graft.runtime.Scratch.dir("quarantine", d)
      parsed.filter(col("parsed_id").isNotNull)
        .write.mode("overwrite").parquet(s"$base/valid")
      parsed.filter(col("parsed_id").isNull)
        .write.mode("overwrite").parquet(s"$base/quarantine")
      val valid = s.read.parquet(s"$base/valid")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(lit("valid").as("sink"), col("n"), col("sum_value"))
      val quar = s.read.parquet(s"$base/quarantine")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(lit("quarantine").as("sink"), col("n"), col("sum_value"))
      valid.union(quar)
    }),

    // Max session concurrency (sweep line): session boundaries become
    // +1/-1 deltas, the running sum's peak is the answer. Starts sort
    // before ends at equal timestamps (overlap-counting convention, pinned
    // by the delta desc tie-break). The sweep window runs over session
    // BOUNDARIES (two rows per session, already reduced); at 100 TB the
    // sweep partitions by day with carried-in open counts.
    "q169_max_concurrency" -> ((s, d) => {
      val sess = graft.ops.Sessionize.sessionize(
        Tables.events(s, d).select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
      val deltas = sess.select(col("start_ts").as("t"), lit(1).as("delta"),
          col("user_id"), col("session_id"))
        .union(sess.select(col("end_ts").as("t"), lit(-1).as("delta"),
          col("user_id"), col("session_id")))
      val w = Window.orderBy(col("t").asc, col("delta").desc,
        col("user_id").asc, col("session_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.select(sum(col("delta")).over(w).as("open"))
        .agg(count(lit(1)).cast("long").as("n_boundaries"),
          max(col("open")).cast("long").as("max_concurrent"))
    }),

    // ORC round-trip (format matrix: parquet everywhere, CSV q114, text
    // sink K1, JSONL q171): columnar-to-columnar fidelity including
    // timestamps — written day-sorted so ORC's min/max stripe stats stay
    // tight (the ORC-side analogue of the q107/q131 layout discipline).
    "q170_orc_roundtrip" -> ((s, d) => {
      val path = graft.runtime.Scratch.dir("orc_events", d)
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // Avro round-trip — the remaining row-major interchange format next to
    // CSV/JSONL/ORC/parquet. Spark 4 ships the Avro classes inside
    // spark-sql but reserves the "avro" shortname for the external-module
    // registration (lookupDataSource special-cases it), so the lane binds
    // the bundled FileFormat by class name. Unlike the JSONL lane, the
    // TIMESTAMP travels as Avro's timestamp-micros LOGICAL TYPE, not a
    // hand-encoded long — the lane proves the logical-type path is
    // instant-exact alongside doubles and strings. Row-major Avro is the
    // common landing format of streaming ingestion; a 100 TB pipeline
    // reads it once and converts to columnar.
    "q258_avro_roundtrip" -> ((s, d) => {
      val path = graft.runtime.Scratch.dir("avro_events", d)
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .write.mode("overwrite")
        .format("org.apache.spark.sql.avro.AvroFileFormat").save(path)
      s.read.format("org.apache.spark.sql.avro.AvroFileFormat").load(path)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
          min(unix_micros(col("ts"))).as("min_ts_us"))
    }),

    // XML round-trip (built-in XmlFileFormat, Spark 4) — the markup-text
    // serialization family next to the delimiter (CSV) and object (JSONL)
    // text lanes. Explicit read schema (no inference pass), values travel
    // as exact integers (micros + cents) so text formatting cannot move
    // them; rowTag is mandatory for the XML source, mirrored on both
    // sides of the trip.
    "q259_xml_roundtrip" -> ((s, d) => {
      val path = graft.runtime.Scratch.dir("xml_events", d)
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .write.mode("overwrite").option("rowTag", "event").xml(path)
      s.read.schema("event_id LONG, ts_us LONG, user_id LONG, " +
          "event_type STRING, value_cents LONG")
        .option("rowTag", "event").xml(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"),
          max(col("ts_us")).as("max_ts_us"),
          sum(col("event_id")).as("sum_event_id"))
    }),

    // JSON-lines round-trip with explicit schema (NO inference pass — at
    // 100 TB schema inference is a full extra read): doubles survive via
    // exact integer cents, timestamps as micros.
    "q171_jsonl_roundtrip" -> ((s, d) => {
      val path = graft.runtime.Scratch.dir("jsonl_events", d)
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("value_cents"))
        .write.mode("overwrite").json(path)
      s.read.schema("event_id LONG, ts_us LONG, user_id LONG, " +
          "event_type STRING, value_cents LONG")
        .json(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"),
          min(col("ts_us")).as("min_ts_us"))
    }),

    // Catalog surface: CREATE TABLE ... USING parquet + INSERT INTO +
    // catalog-name query — the metastore DDL lane next to the temp-view
    // lane (q48/q128). The table is rebuilt idempotently per run.
    "q172_catalog_table" -> ((s, d) => {
      val tbl = s"graft_cat_orders_${graft.runtime.Scratch.tag(d)}"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"""CREATE TABLE $tbl (
               |  o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
               |USING parquet
               |LOCATION '${graft.runtime.Scratch.dir("warehouse", tbl)}'""".stripMargin)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").insertInto(tbl)
      s.sql(s"""SELECT o_orderpriority, count(*) AS n,
               |  round(sum(o_totalprice), 2) AS sum_price
               |FROM $tbl GROUP BY 1""".stripMargin)
    }),

    // Parameterized SQL (named-parameter binding — the injection-safe API
    // surface): threshold and priority arrive as parameters, not string
    // splices.
    "q173_parameterized_sql" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("g_orders_param")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  round(max(o_totalprice), 2) AS max_price
          |FROM g_orders_param
          |WHERE o_totalprice > :thr AND o_orderpriority <> :skip
          |GROUP BY 1""".stripMargin,
        Map("thr" -> Int.box(300000), "skip" -> "3-MEDIUM"))
    }),

    // Incremental aggregation (materialized-view maintenance): the
    // snapshot partials (days < 16) merge with the delta partials
    // (days >= 16) by RE-AGGREGATING the partial (count, sum) rows —
    // never rescanning the snapshot. The oracle is the direct full
    // aggregate, proving merge ≡ recompute; at 100 TB this is the
    // difference between a daily full scan and reading yesterday's MV +
    // one day of delta.
    "q174_incremental_agg" -> ((s, d) => {
      def partial(df: DataFrame): DataFrame =
        df.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      val ev = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
      val snapshot = partial(ev.filter(col("day") < "2024-01-16"))
      val delta = partial(ev.filter(col("day") >= "2024-01-16"))
      snapshot.union(delta)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("n")).as("n_events"),
          round(sum(col("sv")), 2).as("sum_value"))
    }),

    // CDC log compaction: latest record per key (the Kafka-compaction /
    // upsert-table primitive) — one keyed window, ties broken by
    // event_id so both engines keep the identical record.
    "q175_cdc_compaction" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("latest_event"),
          col("event_type").as("latest_type"), col("ts").as("latest_ts"))),

    // Welch's t-test between two behavioral segments (the A/B-testing
    // primitive): per-segment moments in one conditional-agg pass, then
    // the closed-form t statistic and Welch–Satterthwaite df — all
    // row-local after two tiny aggregates.
    "q176_welch_ttest" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("value"),
          when(col("user_id") % 2 === 0, lit("A")).otherwise(lit("B")).as("grp"))
      val m = ev.groupBy(col("grp"))
        .agg(count(lit(1)).cast("double").as("n"),
          avg(col("value")).as("mu"),
          var_samp(col("value")).as("v"))
      val a = m.filter(col("grp") === "A")
        .select(col("n").as("na"), col("mu").as("mua"), col("v").as("va"))
      val b = m.filter(col("grp") === "B")
        .select(col("n").as("nb"), col("mu").as("mub"), col("v").as("vb"))
      a.crossJoin(b).select(
        col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
        round(col("mua") - col("mub"), 6).as("mean_diff"),
        round((col("mua") - col("mub"))
          / sqrt(col("va") / col("na") + col("vb") / col("nb")), 6).as("t_stat"),
        round(pow(col("va") / col("na") + col("vb") / col("nb"), 2)
          / (pow(col("va") / col("na"), 2) / (col("na") - 1)
            + pow(col("vb") / col("nb"), 2) / (col("nb") - 1)), 3).as("welch_df"))
    }),

    // Benford's-law screen: leading-digit distribution of order totals vs
    // the log10(1+1/d) expectation, one chi-square-style deviation number
    // — the classic fabricated-numbers detector, one hash agg + 9
    // broadcast-sized rows.
    "q177_benford" -> ((s, d) => {
      val digit = substring(col("o_totalprice").cast("string"), 1, 1).cast("int")
      // n = total of the SAME filtered population the observed counts come
      // from (consistent statistic), and it rides the digit aggregate via a
      // whole-frame window over the ≤9-row digit table — one scan, no
      // separate driver-side count job.
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .groupBy(digit.as("d"))
        .agg(count(lit(1)).as("observed"))
        .withColumn("n", sum(col("observed")).over(wAll).cast("double"))
        .select(col("d"), col("observed"),
          round(col("n") * log(10.0, lit(1.0) + lit(1.0) / col("d")), 3)
            .as("expected"),
          round((col("observed") - col("n") * log(10.0, lit(1.0) + lit(1.0) / col("d")))
            / sqrt(col("n") * log(10.0, lit(1.0) + lit(1.0) / col("d"))), 6)
            .as("z"))
    }),

    // Scala UDF surface (the LAST-resort extension lane — native Columns
    // and Catalyst Expressions beat it everywhere it matters; registered
    // here to pin that the lane WORKS): a vowel-ratio UDF used from both
    // the DataFrame API and SQL, oracled against the same closed form.
    "q178_udf_surface" -> ((s, d) => {
      val vowelRatio = udf((t: String) => {
        val letters = t.count(_.isLetter)
        if (letters == 0) 0.0
        else t.count(c => "aeiou".contains(c)).toDouble / letters
      })
      s.udf.register("graft_vowel_ratio", vowelRatio)
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          round(vowelRatio(col("text")), 6).as("vr_df"),
          round(expr("graft_vowel_ratio(text)"), 6).as("vr_sql"))
    }),

    // Typed Aggregator registered as a SQL UDAF (functions.udaf; the
    // TopKAggregator's scalar sibling): geometric mean with map-side
    // partial merge (log-sum + count buffer), called from spark.sql with
    // HAVING — oracle is the exp(avg(ln)) closed form.
    "q179_udaf_geomean" -> ((s, d) => {
      s.udf.register("graft_geomean",
        udaf(graft.functions.GeoMeanAggregator,
          org.apache.spark.sql.Encoders.scalaDouble))
      Tables.events(s, d).createOrReplaceTempView("g_events_udaf")
      s.sql(
        """SELECT event_type, count(*) AS n,
          |  round(graft_geomean(value), 6) AS geomean_value
          |FROM g_events_udaf
          |WHERE value > 0
          |GROUP BY event_type
          |HAVING count(*) > 10""".stripMargin)
    }),

    // Join-hint API surface: the same star aggregation forced through a
    // SortMergeJoin via .hint("merge") (MiningSpec pins the operator) —
    // results identical to the planner's choice; the hint lane is how a
    // 100 TB deployment pins a known-good strategy when stats mislead.
    "q180_join_hints" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))),

    // Join-key skew report (the pre-flight for salting/AQE decisions at
    // 100 TB): heaviest keys with their share of total — one count agg,
    // top-k heads, share against a broadcast one-row total.
    "q181_skew_report" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("tot"))
      counts.crossJoin(broadcast(total))
        .select(col("l_orderkey"), col("cnt"),
          round(col("cnt") / col("tot"), 6).as("share"))
        .orderBy(col("cnt").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Cross-language vocabulary overlap (corpus-comparison Jaccard
    // matrix): per-language distinct-word sets compared through one
    // word-keyed self-join — the same prefix-join shape as q119, on
    // linguistic rather than behavioral sets.
    "q182_lang_vocab_overlap" -> ((s, d) => {
      val vocab = graft.runtime.Stage.scopedPersist(
        Ops.fanOut(Tables.documents(s, d))
          .select(col("lang"), explode(graft.text.Tokenizer.tokens(col("text")))
            .as("word"))
          .distinct())
      val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("sz"))
      val inter = vocab.select(col("lang").as("lang_a"), col("word"))
        .join(vocab.select(col("lang").as("lang_b"), col("word")), "word")
        .filter(col("lang_a") < col("lang_b"))
        .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("lang").as("lang_a"), col("sz").as("sa"))),
          "lang_a")
        .join(broadcast(sizes.select(col("lang").as("lang_b"), col("sz").as("sb"))),
          "lang_b")
        .select(col("lang_a"), col("lang_b"), col("inter"),
          round(col("inter") / (col("sa") + col("sb") - col("inter")), 6)
            .as("jaccard"))
    }),

    // Append-mode windowed aggregation (finalized windows, exactly-once
    // to batch consumers) — see streaming.StreamingAppendAgg for the
    // watermark-finalization mechanics. Oracle = the batch daily counts.
    "q183_stream_append_agg" -> ((s, d) =>
      graft.streaming.StreamingAppendAgg.dailyFinalizedClickCounts(s, d)),

    // Global clustering coefficient (3·triangles / wedges) over the
    // co-click news graph — q110's triangle machinery plus one degree
    // aggregate (wedges = Σ C(deg,2)); the transitivity statistic that
    // separates community-structured graphs from random ones.
    "q184_clustering_coeff" -> ((s, d) => {
      // r13: the co-click edge self-join is session-shared with q110
      // (GraphStages.coClickEdges) — identical frame, built once.
      val edges = GraphStages.coClickEdges(s, d)
      // triangle + wedge counts ride ONE action as lazy one-row aggregates
      // (the q123/bm25 fold pattern); Spark's round() on doubles is the
      // same BigDecimal HALF_UP the old driver-side arithmetic used
      val wedges = edges.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .agg(sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
      graft.ext.Graph.triangleCountAgg(edges)
        .crossJoin(broadcast(wedges))
        .select(col("n_triangles"), col("n_wedges"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
            .as("clustering_coeff"))
    }),

    // Transition-entropy (behavior predictability): per source item, the
    // Shannon entropy of its next-item distribution from the q135 Markov
    // counts — low entropy = predictable next click. One extra keyed agg
    // over the transition table.
    "q185_transition_entropy" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = Tables.events(s, d)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 50).as("news"))
        .withColumn("nxt", lead(col("news"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("news").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("src").agg(sum(col("n")).as("tot"))
      trans.join(tot, "src")
        .select(col("src"), (col("n") / col("tot")).as("p"))
        .groupBy(col("src"))
        .agg(count(lit(1)).as("n_dsts"),
          round(-sum(col("p") * log(col("p"))), 6).as("entropy"))
    }),

    // Degree assortativity (are hubs connected to hubs?): Pearson
    // correlation of endpoint degrees over the edge list, both
    // orientations — one degree join + the built-in corr moments.
    "q186_degree_assortativity" -> ((s, d) => {
      val co = Tables.clicks(s, d)
        .select(col("userId"), col("newsId")).distinct()
      val edges = co.select(col("userId"), col("newsId").as("a"))
        .join(co.select(col("userId"), col("newsId").as("b")), "userId")
        .filter(col("a") < col("b"))
        .select(col("a"), col("b")).distinct()
      val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      sym
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .agg(count(lit(1)).as("n_directed_edges"),
          round(corr(col("da").cast("double"), col("db").cast("double")), 6)
            .as("assortativity"))
    }),

    // Sequential trigram paths: event-type 3-step patterns per user
    // ordering (lead ×2 on one keyed window sort) — the n-step funnel
    // without self-joins.
    "q187_trigram_paths" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
          col("t3").as("step3"))
        .agg(count(lit(1)).as("n"))
    }),

    // OHLC time-bucketed aggregation (the finance candle): open/close via
    // deterministic arg-min/arg-max on the (ts, event_id) order, high/low
    // plain extremes — one hash agg, no window.
    "q188_ohlc" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          round(expr("min_by(value, struct(ts, event_id))"), 2).as("open"),
          round(max(col("value")), 2).as("high"),
          round(min(col("value")), 2).as("low"),
          round(expr("max_by(value, struct(ts, event_id))"), 2).as("close"))),

    // Malformed-CSV ingest (PERMISSIVE + corrupt-record column): poisoned
    // lines land in _corrupt_record instead of killing the read or
    // silently vanishing — the file-side sibling of the q168 quarantine
    // split. Counts of clean vs corrupt rows are the contract.
    "q189_csv_malformed" -> ((s, d) => {
      val path = graft.runtime.Scratch.dir("badcsv", d)
      // render: every 10th row gets a non-numeric id -> fails LONG parse
      Tables.events(s, d)
        .select(concat_ws(",",
          when(col("event_id") % 10 === 0, lit("oops"))
            .otherwise(col("event_id").cast("string")),
          col("user_id"), col("event_type")).as("value"))
        .write.mode("overwrite").text(path)
      val parsed = s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
      // count(event_id) both reports parse successes AND forces the
      // malformed column through the parser — with CSV column pruning a
      // never-referenced column is never parsed, so its corruption would
      // go undetected (the pruning trap this query pins)
      parsed
        .groupBy(col("_corrupt_record").isNotNull.as("is_corrupt"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_users"),
          count(col("event_id")).as("n_parsed_ids"))
    }),

    // Codec round-trip (zstd parquet): the compression choice is a
    // layout-level decision at 100 TB (scan-speed vs storage); fidelity is
    // oracle-gated like every other format lane.
    "q190_codec_roundtrip" -> ((s, d) => {
      val path = graft.runtime.Scratch.dir("zstd", d)
      Tables.orders(s, d)
        .write.mode("overwrite").option("compression", "zstd").parquet(path)
      s.read.parquet(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),

    // Bucket pruning: an equality filter on the bucketing key scans ONLY
    // the matching bucket files (SelectedBucketsCount in the plan, pinned
    // in MiningSpec) — the read-side payoff of the q84 layout beyond
    // shuffle-free joins.
    // autoBucketedScan would silently fall back to a plain file scan here
    // (a lone filter doesn't "need" bucketing in the planner's eyes), so
    // the conf is scoped off and the tiny result materialized eagerly —
    // q157's lazy-planning-vs-conf-restore discipline.
    "q191_bucket_pruning" -> ((s, d) =>
      withBucketedScan(s) {
        val (orders, _) = graft.io.Bucketed.ordersLineitem(s, d)
        orders.filter(col("o_orderkey").isin(42L, 4242L, 424242L))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .localCheckpoint()
      }),

    // Schema evolution (mergeSchema): two parquet generations — v2 adds a
    // column — read as one table; v1 rows surface NULL for the new column
    // and the aggregation coalesces them. The additive-evolution contract
    // every long-lived 100 TB table depends on (and the reason readers
    // must never infer: the MERGED schema is the table's schema).
    "q192_schema_evolution" -> ((s, d) => {
      val base = graft.runtime.Scratch.dir("schemaevo", d)
      val ev = Tables.events(s, d)
      ev.filter(to_date(col("ts")) < "2024-01-16")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$base/g=1")
      ev.filter(to_date(col("ts")) >= "2024-01-16")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value2"))
        .write.mode("overwrite").parquet(s"$base/g=2")
      s.read.option("mergeSchema", "true").parquet(s"$base/g=1", s"$base/g=2")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value2").isNull.cast("long")).as("n_legacy_rows"),
          round(sum(coalesce(col("value2"), lit(0.0))), 2).as("sum_value2"))
    }),

    // Multimodal "resize" (downsample-to-grid) over binary payloads — see
    // ext.Multimodal.resizeGrid. Integer-exact cells, so the oracle
    // recomputes them from the same bytes (text is ASCII: byte == ascii).
    "q193_resize_grid" -> ((s, d) =>
      graft.ext.Multimodal.resizeGrid(
        graft.ext.Multimodal.documentBlobs(s, d), 4).toDF()),

    // Multimodal windowed audio-energy — see ext.Multimodal.audioEnergy:
    // bytes as PCM samples, Σ(b−100)² per 256-byte window, exact integers.
    "q194_audio_energy" -> ((s, d) =>
      graft.ext.Multimodal.audioEnergy(
        graft.ext.Multimodal.documentBlobs(s, d), 256).toDF()),

    // Observation metrics (df.observe — the zero-cost monitoring seam):
    // named aggregates piggyback on an existing action and surface via the
    // Observation handle, no second scan. The observed values ARE the
    // result here, oracled against computing them directly — exactly the
    // row-count/invariant checks a 100 TB pipeline attaches to every
    // stage, paid for by the pass it already runs.
    "q195_observe_metrics" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val df = Tables.orders(s, d).observe(obs,
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("sum_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      df.foreach(_ => ()) // the action the metrics ride on
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_price").asInstanceOf[Double],
        m("max_price").asInstanceOf[Double]))
        .toDF("n_rows", "sum_price", "max_price")
    }),

    // Trigger.AvailableNow: the incremental-batch trigger — drain
    // everything available, checkpoint, STOP (the nightly-job pattern: a
    // streaming query's exactly-once state machine with a batch job's
    // lifecycle). Complete-mode counts land in the memory sink when the
    // trigger finishes.
    "q196_available_now" -> ((s, d) =>
      graft.streaming.StreamingAvailableNow.dailyClickCounts(s, d)),

    // unionByName with allowMissingColumns: schema-drift union (the
    // code-level twin of q192's storage-level mergeSchema) — v1 rows
    // surface NULL for v2-only columns, positions don't matter, names do.
    "q197_union_by_name" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v1 = ev.filter(to_date(col("ts")) < "2024-01-16")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val v2 = ev.filter(to_date(col("ts")) >= "2024-01-16")
        .select(col("event_type"), round(col("value"), 2).as("value2"),
          col("user_id"), col("event_id")) // shuffled column order on purpose
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value2").isNull.cast("long")).as("n_v1_rows"),
          round(sum(coalesce(col("value2"), lit(0.0))), 2).as("sum_value2"))
    }),

    // IVF-PQ composite ANN (ext.Ann.ivfPqTopK — the FAISS IVFADC shape
    // completing the ANN ladder: brute q30, LSH q32, IVF q45, PQ q68,
    // IVF+PQ here): coarse cells prune, PQ codes score by ADC. Disjoint
    // deterministic id ranges seed centroids and codebooks so the oracle
    // unrolls the identical two-stage index.
    "q198_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val seeds = emb.filter(col("vec_id") >= 8 && col("vec_id") < 24)
      val queries = emb.filter(col("vec_id") >= 24 && col("vec_id") < 34)
      val cands = emb.filter(col("vec_id") >= 34)
      graft.ext.Ann.ivfPqTopK(queries, cands, cents,
        graft.ext.Ann.pqCodebooks(seeds, 8, 64), 8, 64, 2, 3)
    }),

    // End-to-end curation pipeline (the composed flagship: quality gate →
    // exact dedup → bag-fingerprint near-dedup → chunk-budget report):
    // every stage is an operator exercised individually elsewhere
    // (q14/q79 quality, q15 exact, q34 fingerprints, q122 chunks); this
    // query pins that they COMPOSE — one scoped token materialization
    // feeds all stages, dedup keeps are deterministic (min doc_id), the
    // quality ratio compares in exact integer arithmetic.
    "q199_curation_pipeline" -> ((s, d) => {
      val tk = graft.runtime.Stage.scopedPersist(
        Ops.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
            graft.text.Tokenizer.tokens(col("text")).as("tk")))
      val quality = tk.filter(
        col("n_chars").between(200, 20000) &&
          size(array_distinct(col("tk"))) * 10 >= size(col("tk")) * 3)
      val exact = quality
        .withColumn("_rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)))
        .filter(col("_rn") === 1).drop("_rn")
      val near = exact
        .withColumn("_fp", md5(concat_ws(" ", sort_array(array_distinct(col("tk"))))))
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_fp")).orderBy(col("doc_id").asc)))
        .filter(col("_rn") === 1)
      near.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("tk"))).as("n_tokens"),
          sum(((size(col("tk")) + 511) / 512).cast("long")).as("n_chunks"))
    }),

    // Daily operations dashboard (the composed reporting flagship):
    // volumes, actives, new-user inflow, revenue and the day's hottest
    // item in one day-keyed join of four small aggregates — each a
    // primitive proven elsewhere (q8/q148/q19/q49 family).
    "q200_daily_dashboard" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val vol = ev.groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum((col("event_type") === "click").cast("long")).as("n_clicks"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)), 2).as("revenue"))
      val actives = ev.select(col("day"), col("user_id")).distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("n_active_users"))
      val newUsers = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_new_users"))
      val topNews = ev.filter(col("event_type") === "click")
        .groupBy(col("day"), (col("event_id") % 500).as("news"))
        .agg(count(lit(1)).as("c"))
        .withColumn("_rn", row_number().over(
          Window.partitionBy("day").orderBy(col("c").desc, col("news").asc)))
        .filter(col("_rn") === 1)
        .select(col("day"), col("news").as("top_news"),
          col("c").as("top_news_clicks"))
      vol.join(actives, "day")
        .join(newUsers, Seq("day"), "left")
        .join(topNews, Seq("day"), "left")
        .select(col("day"), col("n_events"), col("n_clicks"),
          col("n_active_users"),
          coalesce(col("n_new_users"), lit(0L)).as("n_new_users"),
          col("revenue"), col("top_news"), col("top_news_clicks"))
    }),

    // BM25 ranking (the IR scoring standard, k1=1.2 b=0.75) for the
    // corpus's top-3-df term query: tf/df/dl are integer aggregates,
    // avgdl is an exact integer ratio, so the per-(doc, term) score is
    // the same IEEE expression in both engines; per-doc Σ over ≤3 terms
    // rounds at 6. Everything joins through the word key — the inverted-
    // index shape (SURVEY §4) that never materializes doc×term.
    "q201_bm25" -> ((s, d) =>
      bm25Scores(s, d)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))),

    // Hybrid retrieval via reciprocal-rank fusion (RRF, k=60): the BM25
    // keyword ranker fused with an embedding-cosine ranker (query vector
    // = centroid of a fixed seed set; vec_id ≡ doc_id). Ranks are
    // integers, so the fused score is bit-identical across engines. The
    // modern lexical+vector retrieval stack in one query — both rankers
    // are operators proven separately (q201, q30-family).
    "q202_hybrid_rrf" -> ((s, d) => {
      val ra = bm25Scores(s, d)
        .withColumn("ra", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("ra"))
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") < 5)
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("dim")).agg(avg(col("v").cast("double")).as("v"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, v))), x -> x.v)")
          .as("qv"))
      val rb = emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(
            expr("""aggregate(zip_with(embedding, qv,
                   |  (x, y) -> CAST(x AS DOUBLE) * y),
                   |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin) /
              (sqrt(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")) *
                sqrt(expr("aggregate(qv, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"))),
            6).as("cos"))
        .withColumn("rb", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rb"))
      ra.join(rb, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (col("ra") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("rb") + 60), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), round(col("rrf"), 9).as("rrf"))
    }),

    // Survivorship / golden-record selection: within each near-dup
    // fingerprint group keep the RICHEST record (max n_chars, tie min
    // doc_id) — master-data dedup policy, in contrast to q199's keep-min.
    // The policy-divergence counter reports how often the richest record
    // is NOT the lowest id (what a naive keep-min would have lost).
    "q203_survivorship" -> ((s, d) => {
      val tk = Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(concat_ws(" ", sort_array(array_distinct(
            graft.text.Tokenizer.tokens(col("text")))))).as("fp"))
      val w = Window.partitionBy(col("fp"))
      tk.withColumn("keep_id", min(struct(-col("n_chars"), col("doc_id"))).over(w)
          .getField("doc_id"))
        .withColumn("min_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("sum_chars"),
          sum((col("keep_id") =!= col("min_id")).cast("long")).as("n_policy_differs"))
    }),

    // transformWithState EVENT-TIME TIMERS (the last TWS lane): rows only
    // accumulate; the summary is EMITTED by handleExpiredTimer when the
    // watermark passes the per-user quiet deadline — see streaming.
    // StreamingTws.TimerSummaryProcessor. Oracle = batch per-user
    // aggregate at ms precision.
    "q204_tws_timers" -> ((s, d) =>
      graft.streaming.StreamingTws.timerSummaries(s, d)),

    // A/B assignment + sample-ratio-mismatch check (the experimentation-
    // platform gate): deterministic md5 arm assignment (reproducible,
    // stable under user growth — q80's split discipline), arm sizes, the
    // SRM z-score against the designed 50/50, and per-arm click-through.
    // All inputs exact integers, one conditional-agg pass.
    "q205_ab_srm" -> ((s, d) => {
      val arm = (conv(substring(md5(col("user_id").cast("string")), 1, 3), 16, 10)
        .cast("int") % 2).as("arm")
      val per = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), arm)
        .groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          sum((col("event_type") === "click").cast("long")).as("n_clicks"))
      val a = per.filter(col("arm") === 0)
        .select(col("n_users").as("ua"), col("n_events").as("ea"), col("n_clicks").as("ca"))
      val b = per.filter(col("arm") === 1)
        .select(col("n_users").as("ub"), col("n_events").as("eb"), col("n_clicks").as("cb"))
      a.crossJoin(b).select(
        col("ua").as("users_a"), col("ub").as("users_b"),
        round((col("ua") - (col("ua") + col("ub")) / 2.0)
          / sqrt((col("ua") + col("ub")) * 0.25), 6).as("srm_z"),
        round(col("ca").cast("double") / col("ea"), 6).as("ctr_a"),
        round(col("cb").cast("double") / col("eb"), 6).as("ctr_b"))
    }),

    // Decision-stump split search (the ML-side of the engine: one pass
    // finds the best information-gain threshold): price binned equi-width,
    // per-bin label counts, cumulative windows evaluate EVERY candidate
    // split in one tiny frame — the distributed histogram-based split
    // finding that gradient-boosting trainers run per feature. Entropies
    // take exact integer counts; gain rounds at 6 before the argmax.
    "q206_stump_split" -> ((s, d) => {
      val binned = Tables.orders(s, d)
        .select(least(floor(col("o_totalprice") / 30000), lit(19)).cast("int").as("bin"),
          (col("o_orderpriority") === "1-URGENT").cast("long").as("y"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      val tot = binned.agg(sum(col("n")).as("tn"), sum(col("pos")).as("tp"))
      def ent(p: Column, n: Column): Column = {
        val q = p.cast("double") / n
        -(when(p === 0 || p === n, lit(0.0))
          .otherwise(q * log(q) + (lit(1.0) - q) * log(lit(1.0) - q)))
      }
      binned
        .withColumn("cn", sum(col("n")).over(w))
        .withColumn("cp", sum(col("pos")).over(w))
        .crossJoin(broadcast(tot))
        .filter(col("cn") < col("tn")) // split AFTER this bin; right side non-empty
        .select(col("bin"),
          round(ent(col("tp"), col("tn"))
            - (col("cn") / col("tn").cast("double")) * ent(col("cp"), col("cn"))
            - ((col("tn") - col("cn")) / col("tn").cast("double"))
              * ent(col("tp") - col("cp"), col("tn") - col("cn")), 6).as("gain"))
        .orderBy(col("gain").desc, col("bin").asc)
        .limit(1)
        .select(col("bin").as("best_split_bin"), col("gain"))
    }),

    // Stream-stream FULL OUTER interval join — the last join mode next to
    // q66 (inner) and q102 (left outer): unmatched clicks ALSO surface,
    // view-side null — see streaming.StreamingOuterJoin.viewFunnelFull.
    "q207_stream_full_outer" -> ((s, d) =>
      graft.streaming.StreamingOuterJoin.viewFunnelFull(s, d)),

    // Theil–Sen robust trend (median of pairwise slopes) on the global
    // daily click series, next to the OLS slope for contrast — the
    // estimator that shrugs off outlier days. The pair set is quadratic
    // in |days| (bounded by the calendar, ~400 pairs), slopes are exact
    // integer ratios, the median is a nearest-rank pick.
    "q208_theil_sen" -> ((s, d) => {
      val daily = Tables.clicks(s, d)
        .groupBy(col("date")).agg(count(lit(1)).as("c"))
        .select(datediff(col("date"), lit(java.sql.Date.valueOf("2024-01-01")))
          .cast("double").as("x"), col("c").cast("double").as("y"))
      val slopes = daily.select(col("x").as("x1"), col("y").as("y1"))
        .join(daily.select(col("x").as("x2"), col("y").as("y2")),
          col("x1") < col("x2"))
        .select(((col("y2") - col("y1")) / (col("x2") - col("x1"))).as("s"))
      val w = Window.orderBy(col("s").asc)
      val ranked = slopes
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val sen = ranked
        .agg(max(when(col("rn") === ceil(col("n") / 2), col("s"))).as("sen"),
          count(lit(1)).as("n_pairs"))
      val ols = daily.agg(round(expr("regr_slope(y, x)"), 6).as("ols"))
      sen.crossJoin(ols)
        .select(col("n_pairs"), round(col("sen"), 6).as("sen_slope"), col("ols")
          .as("ols_slope"))
    }),

    // Longest consecutive-day streak per user (islands applied to
    // engagement): day_ordinal − row_number is constant within a run; the
    // answer is the max run length, reported as a streak-length
    // distribution. Keyed windows only — partition-parallel.
    "q209_longest_streak" -> ((s, d) => {
      val act = Tables.clicks(s, d).select(col("userId"), col("date")).distinct()
      val w = Window.partitionBy("userId").orderBy("date")
      val runs = act
        .withColumn("g",
          datediff(col("date"), lit(java.sql.Date.valueOf("1970-01-01")))
            - row_number().over(w))
        .groupBy(col("userId"), col("g"))
        .agg(count(lit(1)).as("len"))
      runs.groupBy(col("userId")).agg(max(col("len")).as("longest"))
        .groupBy(col("longest")).agg(count(lit(1)).as("n_users"))
    }),

    // Incremental (delta-vs-corpus) dedup — the daily-ingest shape: only
    // the DELTA is fingerprinted and checked against the existing corpus
    // (bloom pre-filter on the corpus fingerprints, exact anti join to
    // close), plus delta-internal keep-one. The existing 100 TB corpus is
    // never rescanned beyond its fingerprint column; q77's bloom
    // discipline applied to q15's exact dedup.
    "q210_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.filter(col("doc_id") < 400)
        .select(md5(col("text")).as("fp"))
      val bloom = existing.stat.bloomFilter("fp", 1024, 0.01)
      val mightContain = udf((fp: String) => bloom.mightContain(fp))
      val delta = docs.filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"))
      // bloom routes: definite-new rows skip the corpus join entirely;
      // only might-contain suspects pay the exact anti join (no false
      // negatives, so nothing new is ever lost)
      // explicit column order: the USING-style anti join moves fp first,
      // and union is positional
      val cols = Seq(col("doc_id"), col("lang"), col("fp"))
      val definitelyNew = delta.filter(!mightContain(col("fp"))).select(cols: _*)
      val suspects = delta.filter(mightContain(col("fp")))
        .join(existing.select(col("fp")), Seq("fp"), "left_anti")
        .select(cols: _*)
      val survivors = definitelyNew.union(suspects)
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)))
        .filter(col("_rn") === 1)
      // delta total rides a one-row broadcast aggregate (the bm25/q123
      // fold pattern) — no separate count() job / extra delta scan.
      val nDelta = delta.agg(count(lit(1)).as("n_delta_total"))
      survivors.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_ingested"))
        .crossJoin(broadcast(nDelta))
    }),

    // Consecutive-duplicate removal (debounce): drop events repeating the
    // previous event_type within the same user stream — the telemetry
    // de-noising pass (sensor chatter, double-clicks). One keyed window;
    // the survivors are the SCD2 change rows (q78) without versioning.
    "q211_debounce" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_kept"))
    }),

    // Percent-of-parent in a dimension hierarchy (region → nation):
    // revenue share of each nation within its region and of each region
    // within the total, in one pass over the reduced (region, nation)
    // aggregate — the drill-down report's ratio columns.
    "q212_pct_of_parent" -> ((s, d) => {
      val base = Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val wr = Window.partitionBy("r_name")
      val tot = base.agg(sum(col("rev")).as("tot"))
      base.crossJoin(broadcast(tot))
        .select(col("r_name"), col("n_name"), round(col("rev"), 2).as("revenue"),
          round(col("rev") / sum(col("rev")).over(wr), 6).as("pct_of_region"),
          round(col("rev") / col("tot"), 6).as("pct_of_total"))
    }),

    // Forecast calibration (reliability diagram): the q100 EWMA predicts
    // the last day's count per news; predictions bucket into quintiles by
    // rounded EWMA, and each bucket reports predicted-vs-actual means —
    // the calibration check any deployed forecaster needs. Rides the
    // shared fold contract; buckets are ntile over the rounded key.
    "q213_forecast_calibration" -> ((s, d) => {
      val counts = Tables.clicks(s, d)
        .groupBy(col("newsId"), col("date"))
        .agg(count(lit(1)).cast("double").as("c"))
      val vals = transform(sort_array(collect_list(struct(col("date"), col("c")))),
        x => x.getField("c"))
      val series = counts.groupBy(col("newsId"))
        .agg(vals.as("vals"))
        .filter(size(col("vals")) >= 2)
        .select(col("newsId"),
          element_at(col("vals"), -1).as("actual"),
          // q100's fold contract on the PREFIX: seed = first day, fold
          // days 2..n-1 — predicts day n without seeing it
          round(aggregate(
            slice(col("vals"), lit(2), size(col("vals")) - 2),
            element_at(col("vals"), 1),
            (acc, x) => lit(0.3) * x + lit(0.7) * acc), 6).as("pred"))
      series
        .withColumn("bucket", ntile(5).over(
          Window.orderBy(col("pred").asc, col("newsId").asc)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_series"),
          round(avg(col("pred")), 6).as("avg_pred"),
          round(avg(col("actual")), 6).as("avg_actual"))
    }),

    // Metadata-filtered vector search (the vector-DB "filtered ANN"
    // shape): top-3 cosine neighbors restricted to the SAME label —
    // filter-then-search as a label equi-join, so the pair space is
    // per-label blocks, never the full cross. At 100 TB the label
    // partition IS the index partition (per-tenant / per-language vector
    // stores).
    "q214_filtered_ann" -> ((s, d) => {
      import graft.functions.VectorExpressions.{floatVecDot, floatVecNormSq}
      val emb = graft.runtime.Stage.scopedPersist(
        Tables.embeddings(s, d).select(col("vec_id"), col("label"),
          col("embedding"), sqrt(floatVecNormSq(col("embedding"))).as("_n")))
      val q = emb.filter(col("vec_id") < 30)
        .select(col("label"), col("vec_id").as("q_id"),
          col("embedding").as("_qe"), col("_n").as("_qn"))
      val c = emb.filter(col("vec_id") >= 30)
        .select(col("label"), col("vec_id").as("c_id"),
          col("embedding").as("_ce"), col("_n").as("_cn"))
      q.join(c, "label") // the metadata filter IS the join key
        .withColumn("cosine", round(
          floatVecDot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id").asc)))
        .filter(col("rn") <= 3)
        .select(col("q_id"), col("label"), col("c_id"), col("cosine"), col("rn"))
    }),

    // Recommendation diversity (intra-list distance, the beyond-accuracy
    // metric): mean pairwise cosine DISSIMILARITY of each day's top-10
    // hot list, embeddings keyed by news id — accuracy eval (q24/q125
    // family) plus item vectors in one composition. Lists are 10 items,
    // so the pair explosion is 45 rows per day.
    "q215_rec_diversity" -> ((s, d) => {
      val recs = Tables.clicks(s, d)
        .groupBy(col("date"), col("newsId")).agg(count(lit(1)).as("c"))
        .withColumn("p", row_number().over(
          Window.partitionBy("date").orderBy(col("c").desc, col("newsId").asc)))
        .filter(col("p") <= 10)
        .select(col("date"), col("newsId"))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          sqrt(graft.functions.VectorExpressions.floatVecNormSq(col("embedding")))
            .as("_n"))
      val withVec = recs.join(emb, col("newsId") === col("vec_id"))
        .select(col("date"), col("newsId"), col("embedding"), col("_n"))
      val pairs = withVec.select(col("date"), col("newsId").as("a"),
          col("embedding").as("_ae"), col("_n").as("_an"))
        .join(withVec.select(col("date").as("d2"), col("newsId").as("b"),
          col("embedding").as("_be"), col("_n").as("_bn")),
          col("date") === col("d2") && col("a") < col("b"))
      pairs
        .select(col("date"),
          (lit(1.0) - graft.functions.VectorExpressions.floatVecDot(
            col("_ae"), col("_be")) / (col("_an") * col("_bn"))).as("dis"))
        .groupBy(col("date"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("dis")), 6).as("avg_ild"))
    }),

    // Cohort LTV curve: cumulative purchase revenue per (signup cohort,
    // day age) — q108's retention matrix with money on it. The running
    // sum is per cohort (keyed window over the reduced matrix); first-
    // activity defines the cohort as in q148.
    "q216_cohort_ltv" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(cohort, "user_id")
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("age"))
        .agg(sum(col("value")).as("rev"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
      rev.select(col("cohort"), col("age"),
        round(col("rev"), 2).as("revenue"),
        round(sum(col("rev")).over(w), 2).as("cum_revenue"))
    }),

    // Data-freshness report (pipeline SLO monitoring): per event type,
    // latest arrival and its lag behind the globally freshest record —
    // one agg + a one-row broadcast, the staleness gate a 100 TB ingest
    // mesh checks before publishing.
    "q217_freshness" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(max(col("ts")).as("latest"), count(lit(1)).as("n"))
      val global = per.agg(max(col("latest")).as("gmax"))
      per.crossJoin(broadcast(global))
        .select(col("event_type"), col("n"), col("latest"),
          // integral DIV: `/` is double division and can round across the
          // minute boundary
          expr("(unix_micros(gmax) - unix_micros(latest)) DIV 60000000")
            .as("lag_minutes"))
    }),

    // MapType surface: per-user event-type histogram built as a real map
    // (map_from_entries over the sorted entry list) and exploded back to
    // rows — pins map construction, key-value explosion, and the map
    // round-trip against a plain relational oracle. The map is bounded by
    // |event types|, so the collect_list never grows past a constant.
    "q126_map_roundtrip" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("event_type"), col("c"))))).as("m"))
        .select(col("user_id"), explode(col("m")).as(Seq("event_type", "n_events")))))

  /** The yesterday's-top-10 recommender eval scaffold shared by the q125/
    * q133/q134 metric family: recs for day D are the 10 hottest news of
    * D-1; returns (active user-days with relevant-count m restricted to
    * days that have recs, raw per-hit rows carrying the hit position p).
    * Both sides are persisted per query scope — three metrics read them.
    */
  private def hotRecHits(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val clicks = Tables.clicks(s, d)
    val recs = clicks.groupBy(col("date"), col("newsId"))
      .agg(count(lit(1)).as("c"))
      .withColumn("p", row_number().over(
        Window.partitionBy("date").orderBy(col("c").desc, col("newsId").asc)))
      .filter(col("p") <= 10)
      // distinct aliases: recs descends from the same clicks lineage as uc
      // below — without the rename the join keys would be ambiguous
      // self-join references
      .select(date_add(col("date"), 1).as("rdate"), col("newsId").as("rec_news"),
        col("p"))
    val uc = clicks.select(col("date"), col("userId"), col("newsId")).distinct()
    val userDays = graft.runtime.Stage.scopedPersist(
      uc.groupBy(col("date"), col("userId"))
        .agg(count(lit(1)).as("m"))
        .join(broadcast(recs.select(col("rdate")).distinct()),
          col("date") === col("rdate"))
        .select(col("date"), col("userId"), col("m")))
    val hits = graft.runtime.Stage.scopedPersist(
      uc.join(broadcast(recs),
          col("date") === col("rdate") && col("newsId") === col("rec_news"))
        .select(col("date"), col("userId"), col("p")))
    (userDays, hits)
  }

  /** The day-partitioned events layout shared by q131/q132: written once
    * per (session, dataset) under /tmp and re-read as a partitioned table
    * (day becomes a directory-level partition column).
    */
  def partitionedEvents(s: SparkSession, d: String): DataFrame =
    graft.runtime.Stage.shared(s, s"partitioned-events:$d") {
      val path = graft.runtime.Scratch.dir("part_events", d)
      Tables.events(s, d).withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      s.read.parquet(path)
    }

  /** q138's recursion, shared verbatim by both engines (only the events
    * table name differs): hop-guarded walk enumeration is a finite set, so
    * min-hops and walk counts are engine-independent.
    */
  private def recursiveReachSql(tbl: String): String =
    s"""WITH RECURSIVE
       |c AS (SELECT user_id, ts, event_id, (event_id % 50) AS news
       |      FROM $tbl WHERE event_type = 'click'),
       |t AS (SELECT news AS src,
       |        lead(news) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |      FROM c),
       |e AS (SELECT DISTINCT src, dst FROM t WHERE dst IS NOT NULL),
       |s AS (SELECT min(src) AS src FROM e),
       |r(news, hops) AS (
       |  SELECT src, 0 FROM s
       |  UNION ALL
       |  SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.news
       |  WHERE r.hops < 3)
       |SELECT news, CAST(min(hops) AS INT) AS min_hops, count(*) AS n_walks
       |FROM r GROUP BY news""".stripMargin

  /** Forces bucketed scans on (autoBucketedScan off) for `f`, restoring
    * after — bucket PRUNING only engages on a bucketed scan, and the
    * planner's auto mode falls back to plain file scans for plans with no
    * bucket-exploiting join/agg.
    */
  def withBucketedScan[T](s: SparkSession)(f: => T): T = {
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = s.conf.getOption(key)
    s.conf.set(key, "false")
    try f finally saved match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** BM25 document scores for the corpus's top-3-df term query, shared by
    * q201 (ranking) and q202 (fusion). All inputs to the per-(doc, term)
    * expression are exact integers or exact integer ratios, so both
    * engines evaluate the identical IEEE expression.
    */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val tk = graft.runtime.Stage.scopedPersist(
      Ops.fanOut(Tables.documents(s, d))
        .select(col("doc_id"), graft.text.Tokenizer.tokens(col("text")).as("tk")))
    val tf = tk.select(col("doc_id"), explode(col("tk")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dl = tk.select(col("doc_id"), size(col("tk")).as("dl"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val terms = dfreq.orderBy(col("df").desc, col("word").asc).limit(3)
    // Corpus N rides the same one-row broadcast aggregate as avgdl (the
    // q164/q177 pattern) — no separate tk.count() driver action/job.
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    tf.join(broadcast(terms), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
          .as("sc"))
      .groupBy("doc_id").agg(round(sum(col("sc")), 6).as("score"))
  }

  /** q201/q202's shared BM25 oracle fragment (CTEs ending in `bm`). */
  private lazy val bm25Cte: String =
    s"""t AS (SELECT doc_id, $toks AS tk FROM documents),
       |tf AS (
       |  SELECT doc_id, word, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS word FROM t) GROUP BY 1, 2),
       |dl AS (SELECT doc_id, len(tk) AS dl FROM t),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |terms AS (SELECT word, df FROM dfreq ORDER BY df DESC, word LIMIT 3),
       |stats AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
       |    CAST(count(*) AS DOUBLE) AS n
       |  FROM dl),
       |sc AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + (st.n - t2.df + 0.5) / (t2.df + 0.5)) * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS sc
       |  FROM tf JOIN terms t2 USING (word) JOIN dl USING (doc_id), stats st),
       |bm AS (SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY 1)""".stripMargin

  /** q157's join, exposed so MiningSpec can pin the optimized plan inside
    * the conf scope.
    */
  def runtimeFilterJoin(s: SparkSession, d: String): DataFrame = {
    val hi = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 400000)
      .select(col("o_orderkey"))
    Tables.lineitem(s, d)
      .join(hi, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** Scopes the runtime-bloom-filter confs (broadcast disabled so the join
    * shuffles; the application-side scan threshold — 10GB by default, the
    * natural trigger at 100 TB — lowered so injection happens at test
    * scale).
    */
  def withRuntimeFilterConfs[T](s: SparkSession)(f: => T): T = {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  private val toks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> len(w) > 0)"

  /** First 8 hex digits of column `h` as a BIGINT (DuckDB has no base-16
    * string-to-int conversion; mirror of Spark's conv(substr(h,1,8),16,10)).
    */
  private val hex8: String = (1 to 8).map { i =>
    s"(CAST(strpos('0123456789abcdef', substr(h, $i, 1)) - 1 AS BIGINT) * ${math.pow(16, 8 - i).toLong})"
  }.mkString(" + ")

  /** First 3 hex digits of column `h` as a BIGINT (q153's word-hash). */
  private val hex3: String = (1 to 3).map { i =>
    s"(CAST(strpos('0123456789abcdef', substr(h, $i, 1)) - 1 AS BIGINT) * ${math.pow(16, 3 - i).toLong})"
  }.mkString(" + ")

  /** q205's md5(user_id) 3-hex-digit bucket (q62/q80 family). */
  private val userHex3: String = (1 to 3).map { i =>
    s"(CAST(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), $i, 1)) - 1 AS BIGINT) * ${math.pow(16, 3 - i).toLong})"
  }.mkString(" + ")

  val oracle: Map[String, String] = Map(

    "q120_multiway_join" ->
      s"""SELECT n_name,
        |  ${SqlFragments.discountedRevenueSql()} AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,

    "q121_item_cf" ->
      """WITH s AS (
        |  SELECT DISTINCT user_id AS u, (event_id % 500) AS n
        |  FROM events WHERE event_type = 'click'),
        |ni AS (SELECT n, count(*) AS cnt FROM s GROUP BY 1),
        |co AS (
        |  SELECT a.n AS a, b.n AS b, count(*) AS co
        |  FROM s a JOIN s b ON a.u = b.u AND a.n < b.n
        |  GROUP BY 1, 2),
        |sym AS (SELECT a, b, co FROM co UNION ALL SELECT b, a, co FROM co),
        |sc AS (
        |  SELECT sym.a AS news_id, sym.b AS neighbor_id,
        |    round(co / sqrt(CAST(na.cnt AS DOUBLE) * nb.cnt), 6) AS cos_sim
        |  FROM sym JOIN ni na ON na.n = sym.a JOIN ni nb ON nb.n = sym.b),
        |r AS (
        |  SELECT news_id, neighbor_id, cos_sim,
        |    row_number() OVER (PARTITION BY news_id
        |      ORDER BY cos_sim DESC, neighbor_id) AS rank
        |  FROM sc)
        |SELECT news_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "q122_doc_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |x AS (
         |  SELECT doc_id, tk,
         |    unnest(range(0, CAST((len(tk) - 1) // 48 AS BIGINT) + 1)) AS chunk_idx
         |  FROM t WHERE len(tk) > 0)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS INT)
         |    AS n_tokens,
         |  md5(array_to_string(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' '))
         |    AS chunk_hash
         |FROM x""".stripMargin,

    "q123_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |b2 AS (
         |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2
         |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS b
         |    FROM t WHERE len(tk) >= 2)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b2 GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM b2 GROUP BY 1),
         |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
         |      FROM (SELECT unnest(tk) AS w FROM t))
         |SELECT b2.doc_id, count(*) AS n_bigrams,
         |  round(avg(ln(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v))), 6) AS avg_logp
         |FROM b2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
         |GROUP BY 1""".stripMargin,

    "q124_rolling_zscore" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, c,
        |    count(c) OVER fr AS n_prior,
        |    avg(c) OVER fr AS mu,
        |    stddev_samp(c) OVER fr AS sd
        |  FROM daily
        |  WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, CAST(c AS BIGINT) AS n_events,
        |  round((c - mu) / sd, 6) AS z,
        |  CAST(round((c - mu) / sd, 6) > 2.0 AS INT) AS is_spike
        |FROM w WHERE n_prior >= 3 AND sd > 0""".stripMargin,

    "q125_ndcg" ->
      """WITH c AS (
        |  SELECT user_id AS u, (event_id % 500) AS n,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date
        |  FROM events WHERE event_type = 'click'),
        |daily AS (SELECT date, n, count(*) AS cnt FROM c GROUP BY 1, 2),
        |recs AS (
        |  SELECT date + 1 AS rdate, n, p FROM (
        |    SELECT date, n, row_number() OVER (PARTITION BY date
        |      ORDER BY cnt DESC, n) AS p
        |    FROM daily) WHERE p <= 10),
        |uc AS (SELECT DISTINCT date, u, n FROM c),
        |ud AS (
        |  SELECT date, u, count(*) AS m FROM uc GROUP BY 1, 2),
        |udr AS (
        |  SELECT ud.date, ud.u, ud.m FROM ud
        |  JOIN (SELECT DISTINCT rdate FROM recs) r ON ud.date = r.rdate),
        |hits AS (
        |  SELECT uc.date, uc.u, sum(1.0 / log2(CAST(p + 1 AS DOUBLE))) AS dcg
        |  FROM uc JOIN recs ON uc.date = recs.rdate AND uc.n = recs.n
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT udr.date,
        |    coalesce(h.dcg, 0.0) / list_sum(list_transform(
        |      range(1, least(CAST(m AS INT), 10) + 1),
        |      i -> 1.0 / log2(CAST(i + 1 AS DOUBLE)))) AS ndcg
        |  FROM udr LEFT JOIN hits h ON h.date = udr.date AND h.u = udr.u)
        |SELECT date, count(*) AS n_users, round(avg(ndcg), 6) AS avg_ndcg
        |FROM nd GROUP BY 1""".stripMargin,

    "q126_map_roundtrip" ->
      """SELECT user_id, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q127_merge_upsert" ->
      """WITH tgt AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |chg AS (
        |  SELECT c_custkey AS k,
        |    CASE WHEN c_custkey % 10 = 0 THEN 'D'
        |         WHEN c_custkey % 10 <= 3 THEN 'U' END AS op,
        |    CAST(c110 - ((c110 % 100) + 100) % 100 AS DOUBLE) / 100 / 100
        |      AS new_bal
        |  FROM (SELECT c_custkey,
        |          CAST(round(c_acctbal * 100) AS BIGINT) * 110 AS c110
        |        FROM tgt) x WHERE c_custkey % 10 <= 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'I', 0.0
        |  FROM tgt WHERE c_custkey % 10 = 4)
        |SELECT coalesce(t.c_custkey, c.k) AS custkey,
        |  coalesce(t.c_mktsegment, 'NEW') AS segment,
        |  round(CASE WHEN c.op IN ('U', 'I') THEN c.new_bal
        |             ELSE t.c_acctbal END, 2) AS acctbal
        |FROM tgt t FULL OUTER JOIN chg c ON t.c_custkey = c.k
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin,

    "q128_sql_surface2" ->
      s"""WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000)
        |SELECT c.c_mktsegment AS segment,
        |  count(*) AS n_cust,
        |  ${SqlFragments.avgFixedSql("t.max_price", 2, 2)} AS avg_max_price,
        |  round(max(t.max_price
        |    - (SELECT avg(o_totalprice) FROM orders)), 2) AS max_over_global
        |FROM customer c,
        |  LATERAL (SELECT max(o_totalprice) AS max_price FROM orders o
        |           WHERE o.o_custkey = c.c_custkey) t
        |WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)
        |GROUP BY c.c_mktsegment""".stripMargin,

    "q192_schema_evolution" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(count(*) FILTER (
        |    WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '2024-01-16')
        |    AS BIGINT) AS n_legacy_rows,
        |  round(sum(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-16'
        |    THEN round(value, 2) ELSE 0.0 END), 2) AS sum_value2
        |FROM events GROUP BY 1""".stripMargin,

    "q216_cohort_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, value,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |co AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
        |rev AS (
        |  SELECT co.cohort,
        |    CAST(date_diff('day', co.cohort, ev.day) AS INT) AS age,
        |    sum(ev.value) AS rev
        |  FROM ev JOIN co ON co.user_id = ev.user_id
        |  WHERE ev.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT cohort, age, round(rev, 2) AS revenue,
        |  round(sum(rev) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS cum_revenue
        |FROM rev""".stripMargin,

    "q217_freshness" ->
      """WITH per AS (
        |  SELECT event_type, max(CAST(ts AS TIMESTAMP)) AS latest,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |g AS (SELECT max(latest) AS gmax FROM per)
        |SELECT event_type, n, latest,
        |  date_diff('us', latest, g.gmax) // 60000000 AS lag_minutes
        |FROM per, g""".stripMargin,

    "q214_filtered_ann" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
        |  FROM embeddings),
        |q AS (SELECT label, vec_id AS q_id, x AS qe FROM e WHERE vec_id < 30),
        |c AS (SELECT label, vec_id AS c_id, x AS ce FROM e WHERE vec_id >= 30),
        |p AS (
        |  SELECT q.q_id, q.label, c.c_id,
        |    round(list_sum(list_transform(list_zip(qe, ce),
        |        zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(qe, v -> v * v)))
        |         * sqrt(list_sum(list_transform(ce, v -> v * v)))), 6) AS cosine
        |  FROM q JOIN c ON q.label = c.label)
        |SELECT q_id, label, c_id, cosine, CAST(rn AS INT) AS rn FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cosine DESC, c_id) AS rn
        |  FROM p) t WHERE rn <= 3""".stripMargin,

    "q215_rec_diversity" ->
      """WITH cl AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date,
        |    (event_id % 500) AS n
        |  FROM events WHERE event_type = 'click'),
        |daily AS (SELECT date, n, count(*) AS c FROM cl GROUP BY 1, 2),
        |recs AS (
        |  SELECT date, n FROM (
        |    SELECT date, n,
        |      row_number() OVER (PARTITION BY date ORDER BY c DESC, n) AS p
        |    FROM daily) t WHERE p <= 10),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |wv AS (
        |  SELECT r.date, r.n AS news, e.x FROM recs r
        |  JOIN e ON e.vec_id = r.n),
        |p AS (
        |  SELECT a.date,
        |    1.0 - list_sum(list_transform(list_zip(a.x, b.x),
        |        zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.x, v -> v * v)))
        |         * sqrt(list_sum(list_transform(b.x, v -> v * v)))) AS dis
        |  FROM wv a JOIN wv b ON a.date = b.date AND a.news < b.news)
        |SELECT date, count(*) AS n_pairs, round(avg(dis), 6) AS avg_ild
        |FROM p GROUP BY 1""".stripMargin,

    "q211_debounce" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |k AS (
        |  SELECT user_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev,
        |    event_type
        |  FROM e)
        |SELECT user_id, count(*) AS n_kept
        |FROM k WHERE prev IS NULL OR prev <> event_type
        |GROUP BY 1""".stripMargin,

    "q212_pct_of_parent" ->
      """WITH base AS (
        |  SELECT r_name, n_name, sum(o_totalprice) AS rev
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2),
        |tot AS (SELECT sum(rev) AS tot FROM base)
        |SELECT r_name, n_name, round(rev, 2) AS revenue,
        |  round(rev / sum(rev) OVER (PARTITION BY r_name), 6) AS pct_of_region,
        |  round(rev / tot.tot, 6) AS pct_of_total
        |FROM base, tot""".stripMargin,

    "q213_forecast_calibration" ->
      """WITH c AS (
        |  SELECT (event_id % 500) AS news_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    CAST(count(*) AS DOUBLE) AS c
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |a AS (
        |  SELECT news_id, CAST(list(c ORDER BY d) AS DOUBLE[]) AS vals
        |  FROM c GROUP BY 1),
        |s AS (
        |  SELECT news_id, vals[-1] AS actual,
        |    round(list_reduce(list_slice(vals, 1, len(vals) - 1),
        |      (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS pred
        |  FROM a WHERE len(vals) >= 2),
        |b AS (
        |  SELECT news_id, actual, pred,
        |    ntile(5) OVER (ORDER BY pred, news_id) AS bucket
        |  FROM s)
        |SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_series,
        |  round(avg(pred), 6) AS avg_pred,
        |  round(avg(actual), 6) AS avg_actual
        |FROM b GROUP BY 1""".stripMargin,

    "q210_incremental_dedup" ->
      """WITH existing AS (
        |  SELECT md5(text) AS fp FROM documents WHERE doc_id < 400),
        |delta AS (
        |  SELECT doc_id, lang, md5(text) AS fp FROM documents
        |  WHERE doc_id >= 400),
        |fresh AS (
        |  SELECT d.* FROM delta d
        |  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.fp = d.fp)),
        |keep AS (
        |  SELECT * FROM (
        |    SELECT f.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
        |      AS rn
        |    FROM fresh f) x WHERE rn = 1),
        |n AS (SELECT count(*) AS n_delta_total FROM delta)
        |SELECT lang, count(*) AS n_ingested, n.n_delta_total
        |FROM keep, n GROUP BY 1, 3""".stripMargin,

    "q207_stream_full_outer" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |v AS (SELECT user_id, event_id AS view_id, ts AS v_ts FROM ev
        |      WHERE event_type = 'view'),
        |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts FROM ev
        |      WHERE event_type = 'click')
        |SELECT coalesce(v.user_id, c.user_id) AS userId,
        |  v.view_id, c.click_id,
        |  date_diff('us', v.v_ts, c.c_ts) AS gap_us
        |FROM v FULL OUTER JOIN c ON v.user_id = c.user_id
        |  AND c.c_ts >= v.v_ts
        |  AND c.c_ts <= v.v_ts + INTERVAL 1 HOUR""".stripMargin,

    "q208_theil_sen" ->
      """WITH daily AS (
        |  SELECT CAST(date_diff('day', DATE '2024-01-01',
        |      CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS DOUBLE) AS x,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)),
        |sl AS (
        |  SELECT (b.y - a.y) / (b.x - a.x) AS s
        |  FROM daily a JOIN daily b ON a.x < b.x),
        |r AS (
        |  SELECT s, row_number() OVER (ORDER BY s) AS rn,
        |    count(*) OVER () AS n
        |  FROM sl),
        |sen AS (
        |  SELECT max(CASE WHEN rn = CAST(ceil(n / 2) AS BIGINT) THEN s END)
        |      AS sen,
        |    count(*) AS n_pairs
        |  FROM r),
        |ols AS (SELECT round(regr_slope(y, x), 6) AS ols FROM daily)
        |SELECT n_pairs, round(sen.sen, 6) AS sen_slope, ols.ols AS ols_slope
        |FROM sen, ols""".stripMargin,

    "q209_longest_streak" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events WHERE event_type = 'click'),
        |runs AS (
        |  SELECT u, g, count(*) AS len FROM (
        |    SELECT u, date_diff('day', DATE '1970-01-01', day)
        |      - row_number() OVER (PARTITION BY u ORDER BY day) AS g
        |    FROM act) x GROUP BY 1, 2),
        |lg AS (SELECT u, max(len) AS longest FROM runs GROUP BY 1)
        |SELECT longest, count(*) AS n_users FROM lg GROUP BY 1""".stripMargin,

    "q205_ab_srm" ->
      s"""WITH x AS (
         |  SELECT user_id, event_type,
         |    ($userHex3) % 2 AS arm
         |  FROM events),
         |per AS (
         |  SELECT arm, count(DISTINCT user_id) AS n_users,
         |    count(*) AS n_events,
         |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
         |      AS n_clicks
         |  FROM x GROUP BY 1),
         |a AS (SELECT n_users AS ua, n_events AS ea, n_clicks AS ca
         |      FROM per WHERE arm = 0),
         |b AS (SELECT n_users AS ub, n_events AS eb, n_clicks AS cb
         |      FROM per WHERE arm = 1)
         |SELECT ua AS users_a, ub AS users_b,
         |  round((ua - (ua + ub) / 2.0) / sqrt((ua + ub) * 0.25), 6) AS srm_z,
         |  round(CAST(ca AS DOUBLE) / ea, 6) AS ctr_a,
         |  round(CAST(cb AS DOUBLE) / eb, 6) AS ctr_b
         |FROM a, b""".stripMargin,

    "q206_stump_split" ->
      """WITH binned AS (
        |  SELECT CAST(least(floor(o_totalprice / 30000), 19) AS INT) AS bin,
        |    count(*) AS n,
        |    CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
        |      AS pos
        |  FROM orders GROUP BY 1),
        |cum AS (
        |  SELECT bin, n, pos,
        |    sum(n) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
        |    sum(pos) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
        |  FROM binned),
        |tot AS (SELECT sum(n) AS tn, sum(pos) AS tp FROM binned),
        |g AS (
        |  SELECT bin,
        |    round(
        |      (CASE WHEN tp = 0 OR tp = tn THEN 0.0
        |        ELSE -((CAST(tp AS DOUBLE)/tn) * ln(CAST(tp AS DOUBLE)/tn)
        |          + (1.0 - CAST(tp AS DOUBLE)/tn) * ln(1.0 - CAST(tp AS DOUBLE)/tn)) END)
        |      - (cn / CAST(tn AS DOUBLE)) *
        |        (CASE WHEN cp = 0 OR cp = cn THEN 0.0
        |          ELSE -((CAST(cp AS DOUBLE)/cn) * ln(CAST(cp AS DOUBLE)/cn)
        |            + (1.0 - CAST(cp AS DOUBLE)/cn) * ln(1.0 - CAST(cp AS DOUBLE)/cn)) END)
        |      - ((tn - cn) / CAST(tn AS DOUBLE)) *
        |        (CASE WHEN tp - cp = 0 OR tp - cp = tn - cn THEN 0.0
        |          ELSE -((CAST(tp - cp AS DOUBLE)/(tn - cn)) * ln(CAST(tp - cp AS DOUBLE)/(tn - cn))
        |            + (1.0 - CAST(tp - cp AS DOUBLE)/(tn - cn))
        |              * ln(1.0 - CAST(tp - cp AS DOUBLE)/(tn - cn))) END), 6) AS gain
        |  FROM cum, tot WHERE cn < tn)
        |SELECT bin AS best_split_bin, gain
        |FROM g ORDER BY gain DESC, bin LIMIT 1""".stripMargin,

    "q204_tws_timers" ->
      """WITH e AS (
        |  SELECT user_id,
        |    date_diff('us', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP)) // 1000
        |      AS ms
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  min(ms) AS first_ms, max(ms) AS last_ms
        |FROM e GROUP BY 1""".stripMargin,

    "q201_bm25" ->
      s"""WITH $bm25Cte,
         |ranked AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM bm)
         |SELECT doc_id, score, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 20""".stripMargin,

    "q202_hybrid_rrf" ->
      s"""WITH $bm25Cte,
         |ra AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra
         |  FROM bm),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
         |qv AS (
         |  SELECT list(v ORDER BY dim) AS qv FROM (
         |    SELECT i AS dim, avg(x[i + 1]) AS v
         |    FROM e, (SELECT unnest(range(0, 64)) AS i)
         |    WHERE vec_id < 5 GROUP BY 1)),
         |cosr AS (
         |  SELECT vec_id AS doc_id, round(
         |    list_sum(list_transform(list_zip(x, qv.qv),
         |      zp -> CAST(zp[1] AS DOUBLE) * CAST(zp[2] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(x, v -> v * v)))
         |       * sqrt(list_sum(list_transform(qv.qv, v -> v * v)))), 6) AS cos
         |  FROM e, qv),
         |rb AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rb
         |  FROM cosr),
         |f AS (
         |  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |    coalesce(1.0 / (ra.ra + 60), 0.0)
         |      + coalesce(1.0 / (rb.rb + 60), 0.0) AS rrf
         |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id),
         |top AS (
         |  SELECT doc_id, rrf FROM f ORDER BY f.rrf DESC, doc_id LIMIT 20)
         |SELECT doc_id, round(rrf, 9) AS rrf
         |FROM top ORDER BY rrf DESC, doc_id""".stripMargin,

    "q203_survivorship" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars,
         |    md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
         |  FROM documents),
         |k AS (
         |  SELECT t.*,
         |    row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id)
         |      AS rn,
         |    min(doc_id) OVER (PARTITION BY fp) AS min_id
         |  FROM t)
         |SELECT lang, count(*) AS n_kept,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(count(*) FILTER (WHERE doc_id <> min_id) AS BIGINT)
         |    AS n_policy_differs
         |FROM k WHERE rn = 1 GROUP BY 1""".stripMargin,

    "q199_curation_pipeline" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, n_chars, text, $toks AS tk FROM documents),
         |q AS (
         |  SELECT * FROM t
         |  WHERE n_chars BETWEEN 200 AND 20000
         |    AND len(list_distinct(tk)) * 10 >= len(tk) * 3),
         |e AS (
         |  SELECT * FROM (
         |    SELECT q.*, row_number() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id) AS rn
         |    FROM q) x WHERE rn = 1),
         |n AS (
         |  SELECT * FROM (
         |    SELECT e.*, row_number() OVER (
         |      PARTITION BY md5(array_to_string(list_sort(list_distinct(tk)), ' '))
         |      ORDER BY doc_id) AS rn2
         |    FROM e) x WHERE rn2 = 1)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
         |  CAST(sum((len(tk) + 511) // 512) AS BIGINT) AS n_chunks
         |FROM n GROUP BY 1""".stripMargin,

    "q200_daily_dashboard" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |vol AS (
        |  SELECT day, count(*) AS n_events,
        |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
        |      AS n_clicks,
        |    round(sum(CASE WHEN event_type = 'purchase' THEN value
        |      ELSE 0.0 END), 2) AS revenue
        |  FROM ev GROUP BY 1),
        |act AS (
        |  SELECT day, count(DISTINCT user_id) AS n_active_users
        |  FROM ev GROUP BY 1),
        |nu AS (
        |  SELECT day, count(*) AS n_new_users FROM (
        |    SELECT user_id, min(day) AS day FROM ev GROUP BY 1) GROUP BY 1),
        |tn AS (
        |  SELECT day, news AS top_news, c AS top_news_clicks FROM (
        |    SELECT day, (event_id % 500) AS news, count(*) AS c,
        |      row_number() OVER (PARTITION BY day
        |        ORDER BY count(*) DESC, (event_id % 500)) AS rn
        |    FROM ev WHERE event_type = 'click' GROUP BY 1, 2) x
        |  WHERE rn = 1)
        |SELECT vol.day, n_events, n_clicks, n_active_users,
        |  coalesce(nu.n_new_users, 0) AS n_new_users, revenue,
        |  top_news, top_news_clicks
        |FROM vol JOIN act ON act.day = vol.day
        |LEFT JOIN nu ON nu.day = vol.day
        |LEFT JOIN tn ON tn.day = vol.day""".stripMargin,

    "q198_ivfpq" -> {
      import ExtQueries.dist2List
      s"""WITH cent AS (
         |  SELECT vec_id AS c_id, embedding AS c_emb
         |  FROM embeddings WHERE vec_id < 8),
         |cbt AS (
         |  SELECT t.m, e.vec_id AS k,
         |    list_slice(e.embedding, t.m*8+1, t.m*8+8) AS cb
         |  FROM embeddings e CROSS JOIN range(8) t(m)
         |  WHERE e.vec_id >= 8 AND e.vec_id < 24),
         |cd AS (
         |  SELECT e.vec_id, c.c_id,
         |    round(${dist2List("e.embedding", "c.c_emb")}, 6) AS dist2
         |  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 34),
         |cells AS (
         |  SELECT vec_id AS c_id2, c_id AS cell FROM (
         |    SELECT vec_id, c_id, dist2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
         |    FROM cd) t WHERE rn = 1),
         |codes AS (
         |  SELECT vec_id AS c_id2, m, code FROM (
         |    SELECT s.vec_id, s.m, c.k AS code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY round(${dist2List("s.sv", "c.cb")}, 6), c.k) AS rn
         |    FROM (SELECT e.vec_id, t.m,
         |            list_slice(e.embedding, t.m*8+1, t.m*8+8) AS sv
         |          FROM embeddings e CROSS JOIN range(8) t(m)
         |          WHERE e.vec_id >= 34) s
         |    JOIN cbt c ON c.m = s.m) t WHERE rn = 1),
         |qd AS (
         |  SELECT e.vec_id, e.embedding, c.c_id,
         |    round(${dist2List("e.embedding", "c.c_emb")}, 6) AS dist2
         |  FROM embeddings e CROSS JOIN cent c
         |  WHERE e.vec_id >= 24 AND e.vec_id < 34),
         |probed AS (
         |  SELECT vec_id AS q_id, c_id AS cell FROM (
         |    SELECT vec_id, c_id, dist2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rn
         |    FROM qd) t WHERE rn <= 2),
         |lut AS (
         |  SELECT e.vec_id AS q_id, t.m, c.k,
         |    round(${dist2List("list_slice(e.embedding, t.m*8+1, t.m*8+8)", "c.cb")}, 6) AS d
         |  FROM embeddings e CROSS JOIN range(8) t(m)
         |  JOIN cbt c ON c.m = t.m
         |  WHERE e.vec_id >= 24 AND e.vec_id < 34),
         |pairs AS (
         |  SELECT p.q_id, cl.c_id2 FROM probed p JOIN cells cl ON p.cell = cl.cell),
         |ad AS (
         |  SELECT pr.q_id, pr.c_id2, round(sum(l.d), 6) AS adist
         |  FROM pairs pr
         |  JOIN codes cd2 ON cd2.c_id2 = pr.c_id2
         |  JOIN lut l ON l.q_id = pr.q_id AND l.m = cd2.m AND l.k = cd2.code
         |  GROUP BY 1, 2)
         |SELECT q_id, c_id2 AS c_id, adist, rn FROM (
         |  SELECT q_id, c_id2, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id2) AS rn
         |  FROM ad) t WHERE rn <= 3""".stripMargin
    },

    "q195_observe_metrics" ->
      """SELECT count(*) AS n_rows,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders""".stripMargin,

    "q196_available_now" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(*) AS n_clicks
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin,

    "q197_union_by_name" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(count(*) FILTER (
        |    WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '2024-01-16')
        |    AS BIGINT) AS n_v1_rows,
        |  round(sum(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) >= DATE '2024-01-16'
        |    THEN round(value, 2) ELSE 0.0 END), 2) AS sum_value2
        |FROM events GROUP BY 1""".stripMargin,

    "q193_resize_grid" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS l FROM documents),
        |c AS (SELECT t.*, unnest(range(0, 4)) AS cell FROM t),
        |b AS (
        |  SELECT doc_id, CAST(cell AS INT) AS cell,
        |    CAST((cell + 1) * l // 4 - cell * l // 4 AS INT) AS n_bytes,
        |    CAST(list_sum(list_transform(
        |      range(CAST(cell * l // 4 + 1 AS BIGINT),
        |            CAST((cell + 1) * l // 4 + 1 AS BIGINT)),
        |      j -> ascii(substr(text, CAST(j AS INT), 1)))) AS BIGINT)
        |      AS sum_bytes
        |  FROM c)
        |SELECT doc_id, cell, n_bytes, coalesce(sum_bytes, 0) AS sum_bytes
        |FROM b""".stripMargin,

    "q194_audio_energy" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS l FROM documents),
        |w AS (
        |  SELECT t.*, unnest(range(0, (l + 255) // 256)) AS win_idx FROM t),
        |b AS (
        |  SELECT doc_id, CAST(win_idx AS INT) AS win_idx,
        |    CAST(least(win_idx * 256 + 256, l) - win_idx * 256 AS INT)
        |      AS n_samples,
        |    CAST(list_sum(list_transform(
        |      range(CAST(win_idx * 256 + 1 AS BIGINT),
        |            CAST(least(win_idx * 256 + 256, l) + 1 AS BIGINT)),
        |      j -> (ascii(substr(text, CAST(j AS INT), 1)) - 100)
        |           * (ascii(substr(text, CAST(j AS INT), 1)) - 100)))
        |      AS BIGINT) AS energy
        |  FROM w)
        |SELECT doc_id, win_idx, n_samples, coalesce(energy, 0) AS energy
        |FROM b""".stripMargin,

    "q189_csv_malformed" ->
      """SELECT (event_id % 10 = 0) AS is_corrupt, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_users,
        |  CASE WHEN event_id % 10 = 0 THEN CAST(0 AS BIGINT)
        |       ELSE count(*) END AS n_parsed_ids
        |FROM events GROUP BY 1""".stripMargin,

    "q190_codec_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q191_bucket_pruning" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey IN (42, 4242, 424242)
        |GROUP BY 1""".stripMargin,

    "q184_clustering_coeff" ->
      """WITH co AS (
        |  SELECT DISTINCT user_id AS u, (event_id % 500) AS n
        |  FROM events WHERE event_type = 'click'),
        |e AS (
        |  SELECT DISTINCT a.n AS a, b.n AS b
        |  FROM co a JOIN co b ON a.u = b.u AND a.n < b.n),
        |tri AS (
        |  SELECT count(*) AS t
        |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |w AS (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS w FROM deg)
        |SELECT tri.t AS n_triangles, w.w AS n_wedges,
        |  round(3.0 * tri.t / w.w, 6) AS clustering_coeff
        |FROM tri, w""".stripMargin,

    "q185_transition_entropy" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    (event_id % 50) AS news
        |  FROM events WHERE event_type = 'click'),
        |t AS (
        |  SELECT news AS src,
        |    lead(news) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM c),
        |tc AS (
        |  SELECT src, dst, count(*) AS n FROM t
        |  WHERE dst IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, CAST(sum(n) AS DOUBLE) AS tot FROM tc GROUP BY 1)
        |SELECT tc.src, count(*) AS n_dsts,
        |  round(-sum((tc.n / tot.tot) * ln(tc.n / tot.tot)), 6) AS entropy
        |FROM tc JOIN tot ON tot.src = tc.src
        |GROUP BY 1""".stripMargin,

    "q186_degree_assortativity" ->
      """WITH co AS (
        |  SELECT DISTINCT user_id AS u, (event_id % 500) AS n
        |  FROM events WHERE event_type = 'click'),
        |e AS (
        |  SELECT DISTINCT a.n AS a, b.n AS b
        |  FROM co a JOIN co b ON a.u = b.u AND a.n < b.n),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e)
        |SELECT count(*) AS n_directed_edges,
        |  round(corr(CAST(da.deg AS DOUBLE), CAST(db.deg AS DOUBLE)), 6)
        |    AS assortativity
        |FROM sym JOIN deg da ON da.v = sym.a JOIN deg db ON db.v = sym.b""".stripMargin,

    "q187_trigram_paths" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |x AS (
        |  SELECT event_type AS step1,
        |    lead(event_type, 1) OVER w AS step2,
        |    lead(event_type, 2) OVER w AS step3
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT step1, step2, step3, count(*) AS n
        |FROM x WHERE step3 IS NOT NULL GROUP BY 1, 2, 3""".stripMargin,

    "q188_ohlc" ->
      """WITH r AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rf,
        |    row_number() OVER (PARTITION BY CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rl
        |  FROM events)
        |SELECT day, count(*) AS n,
        |  round(max(CASE WHEN rf = 1 THEN value END), 2) AS open,
        |  round(max(value), 2) AS high,
        |  round(min(value), 2) AS low,
        |  round(max(CASE WHEN rl = 1 THEN value END), 2) AS close
        |FROM r GROUP BY 1""".stripMargin,

    "q181_skew_report" ->
      """WITH c AS (
        |  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM c)
        |SELECT l_orderkey, cnt, round(cnt / t.tot, 6) AS share
        |FROM c, t
        |ORDER BY cnt DESC, l_orderkey LIMIT 10""".stripMargin,

    "q182_lang_vocab_overlap" ->
      s"""WITH v AS (
         |  SELECT DISTINCT lang, word
         |  FROM (SELECT lang, unnest($toks) AS word FROM documents)),
         |sz AS (SELECT lang, count(*) AS sz FROM v GROUP BY 1),
         |i AS (
         |  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS inter
         |  FROM v a JOIN v b ON a.word = b.word AND a.lang < b.lang
         |  GROUP BY 1, 2)
         |SELECT lang_a, lang_b, inter,
         |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
         |FROM i JOIN sz sa ON sa.lang = i.lang_a
         |  JOIN sz sb ON sb.lang = i.lang_b""".stripMargin,

    "q183_stream_append_agg" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(*) AS n_clicks, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type = 'click'
        |GROUP BY 1""".stripMargin,

    "q178_udf_surface" ->
      """WITH x AS (
        |  SELECT doc_id,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS letters,
        |    length(regexp_replace(text, '[^aeiou]', '', 'g')) AS vowels
        |  FROM documents)
        |SELECT doc_id,
        |  round(CASE WHEN letters = 0 THEN 0.0
        |    ELSE CAST(vowels AS DOUBLE) / letters END, 6) AS vr_df,
        |  round(CASE WHEN letters = 0 THEN 0.0
        |    ELSE CAST(vowels AS DOUBLE) / letters END, 6) AS vr_sql
        |FROM x""".stripMargin,

    "q179_udaf_geomean" ->
      """SELECT event_type, count(*) AS n,
        |  round(exp(avg(ln(value))), 6) AS geomean_value
        |FROM events WHERE value > 0
        |GROUP BY event_type HAVING count(*) > 10""".stripMargin,

    "q180_join_hints" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q174_incremental_agg" ->
      """SELECT event_type, user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q175_cdc_compaction" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS latest_event, event_type AS latest_type,
        |  ts AS latest_ts
        |FROM r WHERE rn = 1""".stripMargin,

    "q176_welch_ttest" ->
      """WITH m AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
        |    CAST(count(*) AS DOUBLE) AS n, avg(value) AS mu,
        |    var_samp(value) AS v
        |  FROM events GROUP BY 1),
        |a AS (SELECT n AS na, mu AS mua, v AS va FROM m WHERE grp = 'A'),
        |b AS (SELECT n AS nb, mu AS mub, v AS vb FROM m WHERE grp = 'B')
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(mua - mub, 6) AS mean_diff,
        |  round((mua - mub) / sqrt(va / na + vb / nb), 6) AS t_stat,
        |  round(pow(va / na + vb / nb, 2)
        |    / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)), 3)
        |    AS welch_df
        |FROM a, b""".stripMargin,

    "q177_benford" ->
      """WITH x AS (
        |  SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS d,
        |    count(*) AS observed
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
        |y AS (
        |  SELECT d, observed, CAST(sum(observed) OVER () AS DOUBLE) AS n
        |  FROM x)
        |SELECT d, observed,
        |  round(n * log10(1.0 + 1.0 / d), 3) AS expected,
        |  round((observed - n * log10(1.0 + 1.0 / d))
        |    / sqrt(n * log10(1.0 + 1.0 / d)), 6) AS z
        |FROM y""".stripMargin,

    "q170_orc_roundtrip" ->
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q258_avro_roundtrip" ->
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(*) AS n, round(sum(value), 2) AS sum_value,
        |  min(date_diff('us', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP)))
        |    AS min_ts_us
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q259_xml_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  max(date_diff('us', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP)))
        |    AS max_ts_us,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM events GROUP BY 1""".stripMargin,

    "q171_jsonl_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(date_diff('us', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP)))
        |    AS min_ts_us
        |FROM events GROUP BY 1""".stripMargin,

    "q172_catalog_table" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q173_parameterized_sql" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders
        |WHERE o_totalprice > 300000 AND o_orderpriority <> '3-MEDIUM'
        |GROUP BY 1""".stripMargin,

    "q166_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |    count(*) AS freq, round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY 1),
        |x AS (
        |  SELECT o_custkey,
        |    ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r,
        |    ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |    ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m
        |  FROM per)
        |SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
        |  count(*) AS n_customers
        |FROM x GROUP BY 1, 2, 3""".stripMargin,

    "q167_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |x AS (
        |  SELECT user_id, ts, event_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN struct_pack(ts := ts, event_id := event_id,
        |        et := event_type) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM ev)
        |SELECT CASE WHEN lt IS NULL
        |    OR date_diff('us', lt.ts, ts) > 604800000000 THEN 'none'
        |    ELSE lt.et END AS attributed_to,
        |  count(*) AS n_purchases
        |FROM x WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,

    "q168_quarantine_split" ->
      """WITH x AS (
        |  SELECT event_id, value,
        |    TRY_CAST(CASE WHEN value < 2 THEN 'poison'
        |      ELSE CAST(event_id AS VARCHAR) END AS BIGINT) AS p
        |  FROM events)
        |SELECT 'valid' AS sink, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM x WHERE p IS NOT NULL
        |UNION ALL
        |SELECT 'quarantine', count(*), round(sum(value), 2)
        |FROM x WHERE p IS NULL""".stripMargin,

    "q169_max_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s1 AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('us', lag(ts) OVER w, ts) >= 1800000000 THEN 1
        |      ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts,
        |    sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s1),
        |sess AS (
        |  SELECT user_id, session_id, min(ts) AS t0, max(ts) AS t1
        |  FROM s2 GROUP BY 1, 2),
        |d AS (
        |  SELECT t0 AS t, 1 AS delta, user_id, session_id FROM sess
        |  UNION ALL
        |  SELECT t1, -1, user_id, session_id FROM sess),
        |o AS (
        |  SELECT sum(delta) OVER (ORDER BY t, delta DESC, user_id, session_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
        |  FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n_boundaries,
        |  CAST(max(open) AS BIGINT) AS max_concurrent
        |FROM o""".stripMargin,

    "q162_geo_bucket_join" ->
      """WITH pts AS (
        |  SELECT c_custkey AS id,
        |    (((c_custkey // 2) * 37) % 300) / 10.0 - 15.0
        |      + (c_custkey % 2) * 0.1 AS lat,
        |    (((c_custkey // 2) * 73) % 600) / 10.0
        |      + (c_custkey % 2) * 0.1 AS lon
        |  FROM customer),
        |cand AS (
        |  SELECT a.id AS ida, a.lat AS lata, a.lon AS lona,
        |    b.id AS idb, b.lat AS latb, b.lon AS lonb
        |  FROM pts a JOIN pts b ON a.id < b.id
        |    AND abs(floor(a.lat) - floor(b.lat)) <= 1
        |    AND abs(floor(a.lon) - floor(b.lon)) <= 1),
        |dd AS (
        |  SELECT ida, idb,
        |    round(12742.0 * asin(sqrt(
        |      pow(sin(radians(latb - lata) / 2), 2) +
        |      cos(radians(lata)) * cos(radians(latb)) *
        |        pow(sin(radians(lonb - lona) / 2), 2))), 3) AS dist_km
        |  FROM cand)
        |SELECT ida, idb, dist_km FROM dd WHERE dist_km <= 40.0""".stripMargin,

    "q163_wow_lift" ->
      """WITH w AS (
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
        |    sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1),
        |x AS (
        |  SELECT week, round(rev, 2) AS revenue,
        |    round(rev / lag(rev) OVER (ORDER BY week) - 1, 6) AS wow_lift
        |  FROM w)
        |SELECT week, revenue, wow_lift FROM x WHERE wow_lift IS NOT NULL""".stripMargin,

    "q164_chi_square" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |ml AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
        |ms AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |x AS (
        |  SELECT CAST(coalesce(c.o, 0) AS DOUBLE) AS o,
        |    ml.n_l * ms.n_s / nn.n AS e
        |  FROM ml CROSS JOIN ms CROSS JOIN nn
        |  LEFT JOIN cells c ON c.lang = ml.lang AND c.source = ms.source)
        |SELECT count(*) AS n_cells,
        |  round(sum(pow(o - e, 2) / e), 6) AS chi2
        |FROM x""".stripMargin,

    "q165_time_to_convert" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |v AS (SELECT user_id, event_id AS view_id, ts AS v_ts FROM ev
        |      WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts AS c_ts FROM ev WHERE event_type = 'click'),
        |g AS (
        |  SELECT v.view_id,
        |    date_diff('us', v.v_ts, min(c.c_ts)) / 1000000.0 AS p
        |  FROM v JOIN c ON c.user_id = v.user_id AND c.c_ts >= v.v_ts
        |    AND c.c_ts <= v.v_ts + INTERVAL 1 HOUR
        |  GROUP BY v.view_id, v.v_ts),
        |r AS (
        |  SELECT p, row_number() OVER (ORDER BY p) AS rn,
        |    count(*) OVER () AS n
        |  FROM g)
        |SELECT max(n) AS n_converted_views,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN p END) AS p50_s,
        |  max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN p END) AS p90_s
        |FROM r""".stripMargin,

    "q158_variant_json" ->
      """WITH x AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, value
        |  FROM events)
        |SELECT k % 5 AS k_bucket, count(*) AS n,
        |  CAST(0 AS BIGINT) AS n_mismatch,
        |  round(sum(value), 2) AS sum_value
        |FROM x GROUP BY 1""".stripMargin,

    "q159_collation" ->
      """WITH b AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS l
        |  FROM documents)
        |SELECT lower(l) AS lang_ci, count(*) AS n_docs,
        |  min(l) AS first_form, count(DISTINCT l) AS n_forms
        |FROM b GROUP BY 1""".stripMargin,

    "q160_masking" ->
      """SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(c_name,
        |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |    AS masked_name,
        |  sha256(CAST(c_custkey AS VARCHAR)) AS key_hash
        |FROM customer""".stripMargin,

    "q161_try_functions" ->
      """WITH x AS (
        |  SELECT TRY_CAST(CASE WHEN value < 5 THEN 'bad'
        |           ELSE CAST(user_id AS VARCHAR) END AS BIGINT) AS tc,
        |    value / nullif(user_id % 3, 0) AS td
        |  FROM events)
        |SELECT count(*) AS n_rows,
        |  CAST(count(*) FILTER (WHERE tc IS NULL) AS BIGINT) AS n_bad_cast,
        |  CAST(sum(tc) AS BIGINT) AS sum_good_cast,
        |  CAST(count(*) FILTER (WHERE td IS NULL) AS BIGINT) AS n_null_div,
        |  round(sum(td), 2) AS sum_div
        |FROM x""".stripMargin,

    "q155_tws_mapstate" ->
      """SELECT user_id, event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q156_range_frame" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    date_diff('s', TIMESTAMP '1970-01-01', CAST(ts AS TIMESTAMP)) AS tsec,
        |    value
        |  FROM events)
        |SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY tsec
        |    RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW), 2) AS sum_2h
        |FROM e""".stripMargin,

    "q157_runtime_filter" ->
      """SELECT l_returnflag, count(*) AS n_lines,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
        |GROUP BY 1""".stripMargin,

    "q151_kmeans" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
        |c0 AS (SELECT CAST(vec_id AS INT) AS cl, x AS c FROM e WHERE vec_id < 4),
        |a1 AS (
        |  SELECT vec_id, x, cl,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> (x[i] - c[i]) * (x[i] - c[i]))), 6) AS d2
        |  FROM e, c0),
        |b1 AS (
        |  SELECT vec_id, x, cl FROM (
        |    SELECT vec_id, x, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        |    FROM a1) WHERE rn = 1),
        |m1 AS (
        |  SELECT cl, i AS dim, avg(x[i + 1]) AS v
        |  FROM b1, (SELECT unnest(range(0, 64)) AS i)
        |  GROUP BY 1, 2),
        |c1 AS (SELECT cl, list(v ORDER BY dim) AS c FROM m1 GROUP BY 1),
        |a2 AS (
        |  SELECT vec_id, x, cl,
        |    round(list_sum(list_transform(range(1, 65),
        |      i -> (x[i] - c[i]) * (x[i] - c[i]))), 6) AS d2
        |  FROM e, c1),
        |b2 AS (
        |  SELECT vec_id, x, cl FROM (
        |    SELECT vec_id, x, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
        |    FROM a2) WHERE rn = 1),
        |sz AS (SELECT cl, count(*) AS n_points FROM b2 GROUP BY 1),
        |m2 AS (
        |  SELECT cl, i AS dim, avg(x[i + 1]) AS v
        |  FROM b2, (SELECT unnest(range(0, 64)) AS i)
        |  GROUP BY 1, 2)
        |SELECT m2.cl AS cluster, sz.n_points, CAST(m2.dim AS INT) AS dim,
        |  round(m2.v, 6) AS centroid
        |FROM m2 JOIN sz ON sz.cl = m2.cl""".stripMargin,

    "q152_negative_sampling" ->
      """WITH clicked AS (
        |  SELECT DISTINCT user_id AS u, (event_id % 500) AS n
        |  FROM events WHERE event_type = 'click'),
        |users AS (SELECT DISTINCT u FROM clicked),
        |news AS (SELECT DISTINCT n FROM clicked),
        |cand AS (
        |  SELECT users.u, news.n FROM users, news
        |  WHERE NOT EXISTS (SELECT 1 FROM clicked c
        |                    WHERE c.u = users.u AND c.n = news.n)),
        |r AS (
        |  SELECT u, n,
        |    row_number() OVER (PARTITION BY u ORDER BY
        |      md5(CAST(u AS VARCHAR) || ':' || CAST(n AS VARCHAR)), n) AS rk
        |  FROM cand)
        |SELECT u AS user_id, n AS neg_news, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 3""".stripMargin,

    "q153_feature_hashing" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest($toks) AS word FROM documents),
         |h AS (
         |  SELECT doc_id, md5(word) AS h FROM w)
         |SELECT doc_id, CAST(($hex3) % 64 AS INT) AS bucket, count(*) AS n
         |FROM h GROUP BY 1, 2""".stripMargin,

    "q154_target_encoding" ->
      """WITH s AS (
        |  SELECT o_orderpriority, sum(o_totalprice) AS s, count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o.o_orderpriority,
        |  round((s.s - o.o_totalprice) / (s.n - 1), 4) AS loo_mean
        |FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority""".stripMargin,

    "q147_gap_islands" ->
      """WITH obs AS (
        |  SELECT DISTINCT (event_id % 500) AS news,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT news, min(day) AS lo, max(day) AS hi FROM obs GROUP BY 1),
        |ex AS (
        |  SELECT news, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM b),
        |miss AS (
        |  SELECT e.news, e.day FROM ex e
        |  LEFT JOIN obs o ON o.news = e.news AND o.day = e.day
        |  WHERE o.news IS NULL),
        |r AS (
        |  SELECT news, day,
        |    date_diff('day', DATE '1970-01-01', day)
        |      - row_number() OVER (PARTITION BY news ORDER BY day) AS g
        |  FROM miss)
        |SELECT news AS news_id, min(day) AS gap_start, max(day) AS gap_end,
        |  count(*) AS gap_len
        |FROM r GROUP BY news, g""".stripMargin,

    "q148_new_user_curve" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM p""".stripMargin,

    "q149_weighted_median" ->
      """WITH b AS (
        |  SELECT lang, doc_id, n_chars, (n_chars % 7 + 1) AS wt
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_chars, wt,
        |    sum(wt) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cumw,
        |    sum(wt) OVER (PARTITION BY lang) AS totw
        |  FROM b)
        |SELECT lang, CAST(max(totw) AS BIGINT) AS total_weight,
        |  min(CASE WHEN cumw * 2 >= totw THEN n_chars END) AS weighted_median
        |FROM c GROUP BY 1""".stripMargin,

    "q150_table_checksum" ->
      s"""WITH r AS (
         |  SELECT md5(concat_ws('|',
         |    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
         |    o_orderstatus,
         |    CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
         |    CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
         |    o_orderpriority)) AS h
         |  FROM orders)
         |SELECT count(*) AS n_rows, CAST(sum($hex8) AS BIGINT) AS checksum
         |FROM r""".stripMargin,

    "q143_null_aware_antijoin" ->
      """WITH keys AS (
        |  SELECT CASE WHEN c_custkey % 1000 = 7 THEN NULL
        |              ELSE c_custkey END AS k
        |  FROM customer)
        |SELECT 'not_in' AS method, count(*) AS n_rows
        |FROM orders WHERE o_custkey NOT IN (SELECT k FROM keys)
        |UNION ALL
        |SELECT 'not_exists' AS method, count(*) AS n_rows
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM keys x WHERE x.k = o.o_custkey)""".stripMargin,

    "q144_hof_surface" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents)
         |SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
         |  CAST(len(list_filter(tk, w -> len(w) > 6)) AS INT) AS n_long,
         |  round(CAST(len(list_filter(tk, w -> len(w) > 6)) AS DOUBLE)
         |    / len(tk), 6) AS frac_long,
         |  len(list_filter(tk, w -> substr(w, 1, 1) = 'a')) > 0 AS has_a
         |FROM t""".stripMargin,

    "q145_gini" ->
      """WITH j AS (
        |  SELECT c_mktsegment, o_totalprice AS p
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |h AS (SELECT c_mktsegment, p, count(*) AS cnt FROM j GROUP BY 1, 2),
        |c AS (SELECT c_mktsegment, p, cnt,
        |  sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY p) AS cum FROM h)
        |SELECT c_mktsegment, CAST(sum(cnt) AS BIGINT) AS n_orders,
        |  round(2.0 * sum(p * (CAST(cnt AS DOUBLE) * CAST(cum - cnt AS DOUBLE)
        |      + CAST(cnt AS DOUBLE) * CAST(cnt + 1 AS DOUBLE) / 2))
        |    / (sum(cnt) * sum(p * cnt))
        |    - CAST(sum(cnt) + 1 AS DOUBLE) / sum(cnt), 6) AS gini
        |FROM c GROUP BY 1""".stripMargin,

    "q146_agg_surface" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  arg_max(o_custkey, o_totalprice * 100000 + o_custkey) AS top_cust
        |FROM orders GROUP BY 1""".stripMargin,

    "q138_recursive_cte" -> recursiveReachSql("events"),

    "q139_regexp_surface" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[aeiou]{2}')) AS BIGINT)
        |    AS n_vowel_runs,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
        |    AS len_novowels
        |FROM documents""".stripMargin,

    "q140_string_funcs" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS len_text,
        |  CAST(levenshtein(substr(text, 1, 12),
        |    translate(substr(text, 1, 12), 'aeiou', 'eioua')) AS INT) AS lev,
        |  CAST(strpos(text, 'a') AS BIGINT) AS first_a,
        |  lpad(lang, 5, '_') AS lang_pad,
        |  reverse(substr(text, 1, 5)) AS rev5
        |FROM documents""".stripMargin,

    "q141_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  count(*) AS n_orders,
        |  count(DISTINCT month(o_orderdate)) AS n_months,
        |  max(last_day(CAST(o_orderdate AS DATE))) AS quarter_end
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q142_bit_aggregates" ->
      """SELECT event_type, count(*) AS n,
        |  bit_and(event_id) AS band,
        |  bit_or(event_id) AS bor,
        |  bit_xor(event_id) AS bxor
        |FROM events GROUP BY 1""".stripMargin,

    "q133_recall" ->
      """WITH c AS (
        |  SELECT user_id AS u, (event_id % 500) AS n,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date
        |  FROM events WHERE event_type = 'click'),
        |daily AS (SELECT date, n, count(*) AS cnt FROM c GROUP BY 1, 2),
        |recs AS (
        |  SELECT date + 1 AS rdate, n, p FROM (
        |    SELECT date, n, row_number() OVER (PARTITION BY date
        |      ORDER BY cnt DESC, n) AS p
        |    FROM daily) WHERE p <= 10),
        |uc AS (SELECT DISTINCT date, u, n FROM c),
        |ud AS (SELECT date, u, count(*) AS m FROM uc GROUP BY 1, 2),
        |udr AS (
        |  SELECT ud.date, ud.u, ud.m FROM ud
        |  JOIN (SELECT DISTINCT rdate FROM recs) r ON ud.date = r.rdate),
        |hits AS (
        |  SELECT uc.date, uc.u, count(*) AS h
        |  FROM uc JOIN recs ON uc.date = recs.rdate AND uc.n = recs.n
        |  GROUP BY 1, 2)
        |SELECT udr.date, count(*) AS n_users,
        |  round(avg(CAST(coalesce(h.h, 0) AS DOUBLE) / udr.m), 6) AS avg_recall
        |FROM udr LEFT JOIN hits h ON h.date = udr.date AND h.u = udr.u
        |GROUP BY 1""".stripMargin,

    "q134_map_eval" ->
      """WITH c AS (
        |  SELECT user_id AS u, (event_id % 500) AS n,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date
        |  FROM events WHERE event_type = 'click'),
        |daily AS (SELECT date, n, count(*) AS cnt FROM c GROUP BY 1, 2),
        |recs AS (
        |  SELECT date + 1 AS rdate, n, p FROM (
        |    SELECT date, n, row_number() OVER (PARTITION BY date
        |      ORDER BY cnt DESC, n) AS p
        |    FROM daily) WHERE p <= 10),
        |uc AS (SELECT DISTINCT date, u, n FROM c),
        |ud AS (SELECT date, u, count(*) AS m FROM uc GROUP BY 1, 2),
        |udr AS (
        |  SELECT ud.date, ud.u, ud.m FROM ud
        |  JOIN (SELECT DISTINCT rdate FROM recs) r ON ud.date = r.rdate),
        |hp AS (
        |  SELECT uc.date, uc.u, recs.p,
        |    row_number() OVER (PARTITION BY uc.date, uc.u ORDER BY recs.p) AS r
        |  FROM uc JOIN recs ON uc.date = recs.rdate AND uc.n = recs.n),
        |ap AS (
        |  SELECT date, u, sum(CAST(r AS DOUBLE) / p) AS sumprec
        |  FROM hp GROUP BY 1, 2)
        |SELECT udr.date, count(*) AS n_users,
        |  round(avg(coalesce(a.sumprec, 0.0)
        |    / CAST(least(udr.m, 10) AS DOUBLE)), 6) AS map10
        |FROM udr LEFT JOIN ap a ON a.date = udr.date AND a.u = udr.u
        |GROUP BY 1""".stripMargin,

    "q135_markov_transitions" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    (event_id % 500) AS news
        |  FROM events WHERE event_type = 'click'),
        |t AS (
        |  SELECT news AS src_news,
        |    lead(news) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst_news
        |  FROM c)
        |SELECT src_news, dst_news, count(*) AS n
        |FROM t WHERE dst_news IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY n DESC, src_news, dst_news LIMIT 20""".stripMargin,

    "q136_posexplode_outer" ->
      """WITH p AS (
        |  SELECT user_id, round(value, 2) AS value,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1 AS INT) AS pos
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.c_custkey AS user_id, p.pos, p.value
        |FROM customer c LEFT JOIN p ON p.user_id = c.c_custkey""".stripMargin,

    "q137_share_of_total" ->
      s"""WITH base AS (
        |  SELECT l_returnflag, l_linestatus,
        |    ${SqlFragments.revenueUnitsSql()} AS u
        |  FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT sum(u) AS totu FROM base)
        |SELECT l_returnflag, l_linestatus,
        |  ${SqlFragments.centsSql("u")} AS revenue,
        |  round(u / CAST(sum(u) OVER (PARTITION BY l_returnflag) AS DOUBLE), 6)
        |    AS share_flag,
        |  round(u / CAST(tot.totu AS DOUBLE), 6) AS share_total
        |FROM base, tot""".stripMargin,

    "q130_tws_activity" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS INT)
        |    AS n_active_days,
        |  min(CAST(ts AS TIMESTAMP)) AS first_ts,
        |  max(CAST(ts AS TIMESTAMP)) AS last_ts
        |FROM events GROUP BY 1""".stripMargin,

    "q131_partitioned_layout" ->
      """SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |  BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
        |GROUP BY 1""".stripMargin,

    "q132_dpp" ->
      """WITH e AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT day) AS n_days
        |FROM e
        |WHERE ((date_diff('day', DATE '2024-01-01', day) % 7) + 7) % 7 = 3
        |GROUP BY 1""".stripMargin,

    "q129_nullsafe_join" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    CASE WHEN value < 5.0 THEN NULL ELSE user_id END AS uk
        |  FROM events),
        |dim AS (
        |  SELECT CASE WHEN c_custkey % 100 = 0 THEN NULL
        |              ELSE c_custkey END AS ck,
        |    c_mktsegment
        |  FROM customer)
        |SELECT coalesce(c_mktsegment, 'NULL_KEY') AS segment,
        |  (uk IS NULL) AS null_key, count(*) AS n_matches
        |FROM ev JOIN dim ON uk IS NOT DISTINCT FROM ck
        |GROUP BY 1, 2""".stripMargin)
}
