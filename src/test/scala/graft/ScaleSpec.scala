package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.{Date, Timestamp}

/** Semantics pins for the scale-pattern surface (queries.ScaleQueries):
  * bloom-semi exactness, SCD2 change capture, Pareto dominance, repetition
  * ratios, deterministic splits, PMI. End-to-end oracle coverage lives in
  * the driver's DuckDB compare; these pin the operator semantics on
  * hand-auditable inputs.
  */
class ScaleSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("bloom pre-filter + exact semi join = plain semi join (false positives never leak)") {
    val keys = spark.range(0, 1000).select(col("id").as("k"))
    val build = keys.filter(col("k") % 97 === 0) // 11 keys
    val bloom = build.stat.bloomFilter("k", 64, 0.01)
    val mightContain = udf((k: Long) => bloom.mightContain(k))
    val viaBloom = keys.filter(mightContain(col("k")))
      .join(build, Seq("k"), "left_semi").as[Long].collect().sorted
    val plain = keys.join(build, Seq("k"), "left_semi").as[Long].collect().sorted
    assert(viaBloom.toSeq === plain.toSeq)
    assert(plain.toSeq === (0L until 1000L).filter(_ % 97 == 0))
    // and the bloom itself never rejects a true key (no false negatives)
    assert(build.as[Long].collect().forall(bloom.mightContain))
  }

  test("SCD2 change capture: consecutive runs collapse, versions ordered, valid ranges chain") {
    def ts(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, 10L, "view", ts(100)), (1L, 11L, "view", ts(200)),
      (1L, 12L, "click", ts(300)), (1L, 13L, "view", ts(400)),
      (2L, 20L, "signup", ts(50))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val out = ev.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        row_number().over(w).as("version"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 1000, Option(r.getTimestamp(3)).map(_.getTime / 1000), r.getInt(4)))
      .sortBy(t => (t._1, t._5))
    assert(out.toSeq === Seq(
      (1L, "view", 100L, Some(300L), 1),   // run of two views collapsed
      (1L, "click", 300L, Some(400L), 2),
      (1L, "view", 400L, None, 3),         // open-ended current version
      (2L, "signup", 50L, None, 1)))
  }

  test("Pareto frontier anti-join: dominated orders drop, ties on one axis keep the other-axis winner") {
    val o = Seq(
      // cust 1: (price, date) — c dominates a (both axes >=, one strict)
      (1L, 1L, 100.0, Date.valueOf("2024-01-01")), // a: dominated by c
      (2L, 1L, 300.0, Date.valueOf("2024-01-05")), // b: frontier (highest price)
      (3L, 1L, 100.0, Date.valueOf("2024-02-01")), // c: frontier (same price as a, later date)
      (4L, 1L, 300.0, Date.valueOf("2024-01-01")), // d: dominated by b (equal price, earlier date)
      // cust 2: single order is trivially on the frontier
      (5L, 2L, 10.0, Date.valueOf("2024-01-01"))
    ).toDF("o_orderkey", "o_custkey", "o_totalprice", "o_date")
    val dom = o.select(col("o_custkey").as("d_cust"),
      col("o_totalprice").as("d_price"), col("o_date").as("d_date"))
    val frontier = o.join(dom,
        col("o_custkey") === col("d_cust") &&
          col("d_price") >= col("o_totalprice") && col("d_date") >= col("o_date") &&
          (col("d_price") > col("o_totalprice") || col("d_date") > col("o_date")),
        "left_anti")
      .select("o_orderkey").as[Long].collect().sorted
    assert(frontier.toSeq === Seq(2L, 3L, 5L))
  }

  test("repetition ratio: top-bigram share and distinct-token ratio") {
    // "a b a b a" → bigrams: (a b, 2), (b a, 2) → top 2 of 4; uniq 2 of 5
    val df = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val base = df.select(col("doc_id"),
      graft.text.Tokenizer.tokens(col("text")).as("tk"))
    val bg = base.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(tk)-2), i -> concat(element_at(tk, i+1), ' ', element_at(tk, i+2)))")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum(col("c")).as("n"), max(col("c")).as("top"))
      .head()
    assert(bg.getLong(1) === 4L && bg.getLong(2) === 2L)
    val t = base.select(size(col("tk")), size(array_distinct(col("tk")))).head()
    assert(t.getInt(0) === 5 && t.getInt(1) === 2)
  }

  test("md5 split is a deterministic partition: every doc in exactly one split, stable across runs") {
    val docs = spark.range(0, 500).select(col("id").as("doc_id"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 3), 16, 10)
      .cast("int") % 10
    val split = when(bucket < 8, lit("train")).when(bucket === 8, lit("val"))
      .otherwise(lit("test"))
    val counts = docs.withColumn("s", split).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum === 500L)
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    val again = docs.withColumn("s", split).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === counts)
  }

  test("temporal join boundary: an event at a version's start joins that version, not the closed one") {
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    // user 1: view@100 (v1), click@200 (v2) — event exactly at t=200 must
    // land in v2 (valid_from <= ts) and NOT v1 (ts < valid_to strict).
    val ev = Seq(
      (1L, 10L, "view", ts(100)), (1L, 11L, "click", ts(200)),
      (1L, 12L, "click", ts(200)) // second event at the boundary instant
    ).toDF("user_id", "event_id", "event_type", "ts")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val dim = ev.withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id").as("d_user"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        row_number().over(w).as("version"))
    val joined = ev.join(dim, col("user_id") === col("d_user") &&
        col("ts") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("version"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(joined === Map(10L -> 1, 11L -> 2, 12L -> 2))
  }

  test("PMI: words that always co-occur score ln(n_docs * n_co / (df_a * df_b)) > 0") {
    // 4 docs; x,y always together in 2 docs; z independent in the other 2
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "z q"), (4L, "z q"))
      .toDF("doc_id", "text")
    val inc = docs.select(col("doc_id"),
      explode(array_distinct(graft.text.Tokenizer.tokens(col("text")))).as("word"))
    val dfreq = inc.groupBy("word").agg(count(lit(1)).as("df"))
    val fi = inc.join(dfreq, "word")
    val pmi = fi.select(col("doc_id"), col("word").as("word_a"), col("df").as("df_a"))
      .join(fi.select(col("doc_id"), col("word").as("word_b"), col("df").as("df_b")), "doc_id")
      .filter(col("word_a") < col("word_b"))
      .groupBy("word_a", "word_b", "df_a", "df_b")
      .agg(count(lit(1)).as("n_co"))
      .select(col("word_a"), col("word_b"),
        round(log(col("n_co").cast("double") * 4 / (col("df_a") * col("df_b"))), 6).as("pmi"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // x,y: ln(4*2/(2*2)) = ln 2; perfectly-correlated pair scores positive
    assert(math.abs(pmi(("x", "y")) - math.log(2)) < 1e-6)
    assert(pmi(("q", "z")) === pmi(("x", "y"))) // symmetric corpus
  }

  test("salted join: salt replication changes the shuffle, never the result") {
    graft.runtime.Stage.newQueryScope()
    val sf = "/root/testdata/sf0.001"
    val salted = SparkEntry.queries("q106_salted_join")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sorted.toSeq
    val plain = graft.io.Tables.lineitem(spark, sf)
      .join(graft.io.Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sorted.toSeq
    assert(salted === plain)
  }

  test("z-order buckets bound BOTH dimension envelopes (top-3-bit locality)") {
    graft.runtime.Stage.newQueryScope()
    val rows = SparkEntry.queries("q107_zorder")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
    assert(rows.nonEmpty)
    // z >> 14 pins x's and y's top 3 bits → each envelope spans < 2^7
    assert(rows.forall { case (_, minX, maxX, minY, maxY) =>
      maxX - minX <= 127 && maxY - minY <= 127
    })
  }

  test("label centroids: one cell per (label, dim); empirical MI is non-negative") {
    graft.runtime.Stage.newQueryScope()
    val sf = "/root/testdata/sf0.001"
    val cent = SparkEntry.queries("q111_label_centroids")(spark, sf)
    val labels = graft.io.Tables.embeddings(spark, sf)
      .select("label").distinct().count()
    assert(cent.count() === labels * 64)
    val mi = SparkEntry.queries("q112_mi_contingency")(spark, sf)
      .head().getDouble(0)
    assert(mi >= -1e-9) // MI of an empirical joint is ≥ 0
  }

  test("dq checks report all five constraints; clean synthetic data has zero violations") {
    graft.runtime.Stage.newQueryScope()
    val rows = SparkEntry.queries("q113_dq_checks")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("null_custkey", "nonpositive_price",
      "date_out_of_range", "dup_orderkey", "orphan_custkey"))
    assert(rows.values.forall(_ >= 0L))
  }

  test("CSV round-trip preserves the click aggregate exactly") {
    graft.runtime.Stage.newQueryScope()
    val sf = "/root/testdata/sf0.001"
    val viaCsv = SparkEntry.queries("q114_csv_roundtrip")(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).sorted.toSeq
    val direct = graft.io.Tables.clicks(spark, sf)
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n_clicks"), countDistinct(col("userId")).as("n_users"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(viaCsv === direct)
    assert(viaCsv.nonEmpty)
  }

  test("retention matrix: age-0 equals cohort size and every later age is a subset") {
    graft.runtime.Stage.newQueryScope()
    val rows = SparkEntry.queries("q108_retention")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getDate(0), r.getInt(1), r.getLong(2)))
    val age0 = rows.filter(_._2 == 0).map(r => r._1.toString -> r._3).toMap
    assert(rows.nonEmpty && age0.nonEmpty)
    assert(rows.forall { case (c, _, n) => n <= age0(c.toString) })
    assert(rows.forall(_._2 >= 0))
  }

  test("exactRanks guard: a value domain wider than the bin bound fails loudly, never OOMs") {
    import graft.queries.CurationQueries
    // 200 distinct width-1000 bins against a bound of 100: the collect is
    // capped at maxBins+1 rows and the overflow is a loud require, not an
    // unbounded driver transfer.
    val wide = spark.range(0, 200).select((col("id") * 1000.0).as("p"))
    val e = intercept[IllegalArgumentException] {
      CurationQueries.exactRanks(wide, Seq(1L), maxBins = 100)
    }
    assert(e.getMessage.contains("bins"))
    // the normal path still resolves exact nearest-rank values
    val narrow = spark.range(1, 101).select(col("id").cast("double").as("p"))
    val r = CurationQueries.exactRanks(narrow, Seq(50L, 90L))
    assert(r(50L) === 50.0 && r(90L) === 90.0)
  }

  test("degree cap bounds the wedge join on a power-law fixture: hub user excluded, tail exact") {
    import graft.ops.Ops
    // skewed fixture: user 0 is a hub touching ALL 500 items (500² =
    // 250,000 wedges uncapped); users 1..200 touch 3 items each.
    val hub = spark.range(0, 500).select(lit(0L).as("userId"), col("id").as("newsId"))
    val tail = spark.range(1, 201).select(col("id").as("userId"),
        explode(array(col("id") % 500, (col("id") * 7) % 500, (col("id") * 13) % 500))
          .as("newsId"))
      .distinct()
    val edges = hub.union(tail)
    val capped = Ops.degreeCappedEdges(edges, "userId", cap = 128)
    // the hub is gone, every tail edge survives
    assert(capped.filter(col("userId") === 0L).count() === 0L)
    assert(capped.count() === tail.count())
    // wedge join over the capped set is bounded by Σ deg² of tail users
    // (≤ 200·3² = 1800), not the hub's 250,000
    val wedges = capped.select(col("userId"), col("newsId").as("a"))
      .join(capped.select(col("userId"), col("newsId").as("b")), "userId")
      .filter(col("a") =!= col("b"))
    val nWedges = wedges.count()
    assert(nWedges <= 1800L, s"wedge count $nWedges escaped the degree cap")
    // and capping is idempotent on an already-bounded graph
    assert(Ops.degreeCappedEdges(tail, "userId", cap = 128).count() === tail.count())
  }

  test("capped blocking bounds block sizes on a boilerplate-prefix corpus, loses no in-block rows") {
    import graft.ops.Ops
    // worst case for prefix blocking: 5,000 docs share one boilerplate
    // prefix AND one length bucket — the raw block is the whole corpus
    val docs = spark.range(0, 5000).select(col("id").as("doc_id"),
      concat(lit("TERMS OF SERVICE - the same boilerplate preamble "),
        col("id").cast("string")).as("text"))
    val blocked = Ops.cappedBlocks(docs,
      blockKey = substring(col("text"), 1, 8), orderCol = "doc_id", cap = 256)
    val sizes = blocked.groupBy(col("blk")).agg(count(lit(1)).as("n"))
    // every block is ≤ cap, every row lands in exactly one block
    assert(sizes.agg(max(col("n"))).as[Long].head() <= 256L)
    assert(blocked.count() === 5000L)
    assert(blocked.select("doc_id").distinct().count() === 5000L)
    // the blocked self-join's quadratic term is bounded by cap² per block:
    // ceil(5000/256)=20 blocks of ≤256 → < 20·256² pairs, not 5000²
    val pairs = blocked.select(col("blk"), col("doc_id").as("a"))
      .join(blocked.select(col("blk"), col("doc_id").as("b")), "blk")
      .filter(col("a") < col("b")).count()
    assert(pairs < 20L * 256L * 256L / 2L + 20L * 256L)
    assert(pairs > 0L)
    // split ordinals are deterministic: same input → same block ids
    val again = Ops.cappedBlocks(docs,
      blockKey = substring(col("text"), 1, 8), orderCol = "doc_id", cap = 256)
    assert(blocked.select("doc_id", "blk").except(
      again.select("doc_id", "blk")).count() === 0L)
  }

  test("q225 length-bucket boundary: near-dups straddling a 64-char bucket edge are lost BY CONTRACT; in-bucket pairs survive") {
    // The composite block key (8-char prefix + length÷64 bucket) trades a
    // documented recall loss for skew-proofing: docs of lengths 63 and 65
    // (edit distance 0 on their heads) land in buckets 0 and 1 and never
    // meet. This pins that loss explicitly — the oracle mirrors the same
    // key, so both engines lose exactly the same pairs.
    val tmp = tempDir("graft_bucket_edge")
    val pfx = "PFX12345" // shared 8-char prefix: same prefix for all docs
    def doc(id: Long, headTail: String, len: Int): (Long, String) = {
      val head = pfx + headTail * 32 // 40-char head (levenshtein input)
      (id, head + "B" * (len - head.length))
    }
    Seq(
      doc(1L, "A", 63), // bucket 0 ─┐ identical heads, dist 0 — LOST:
      doc(2L, "A", 65), // bucket 1 ─┘ straddles the 64-char boundary
      doc(3L, "C", 70), // bucket 1 ─┐ identical heads, dist 0 — KEPT:
      doc(4L, "C", 74)  // bucket 1 ─┘ same bucket, same prefix
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = SparkEntry.queries("q225_fuzzy_block_dedup")(spark, tmp)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // docs 2/3/4 share one block (prefix|1) but 2's head differs from
    // 3/4's by 32 edits > the 10 threshold, so exactly one pair survives
    assert(pairs === Set((3L, 4L)),
      s"expected only the in-bucket pair, got $pairs")
    assert(!pairs.contains((1L, 2L)),
      "boundary-straddling near-dup must be (documentedly) lost")
  }
}
