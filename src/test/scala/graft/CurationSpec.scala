package graft

import graft.queries.CurationQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the corpus-curation surface (queries.CurationQueries):
  * entropy extremes, the two-pass exact quantile, boilerplate df counting,
  * decontamination overlap, mixing-rate direction, funnel monotonicity.
  * End-to-end value coverage lives in the driver's DuckDB compare; these pin
  * the operator semantics on hand-auditable inputs.
  */
class CurationSpec extends AnyFunSuite with SparkSuite {

  private val SF = "/root/testdata/sf0.001"

  import spark.implicits._

  private def run(name: String) = SparkEntry.queries(name)(spark, SF)

  test("two-pass exactRankK equals the sort-based k-th smallest, across bin boundaries") {
    // values straddle several 1000-wide bins, with duplicates
    val vals = (1 to 500).map(i => (i * 37 % 7000).toDouble) ++ Seq(999.0, 999.0, 6999.99)
    val df = vals.toDF("p")
    val sorted = vals.sorted
    for (k <- Seq(1, 7, 250, 499, vals.size)) {
      assert(CurationQueries.exactRankK(df, k.toLong) === sorted(k - 1),
        s"rank $k")
    }
  }

  test("token entropy: single repeated token has entropy 0; all-distinct doc has norm_entropy 1") {
    val out = run("q95_token_entropy").collect()
      .map(r => r.getLong(0) -> r).toMap
    // build two known docs through the same operator on a local frame instead:
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val counts = docs
      .select(col("doc_id"), explode(graft.text.Tokenizer.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val h = log(col("n").cast("double")) - col("clc") / col("n")
    val m = counts.groupBy("doc_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
      .select(col("doc_id"), round(h, 6).as("entropy"),
        round(when(col("n_distinct") > 1,
          h / log(col("n_distinct").cast("double"))).otherwise(0.0), 6)
          .as("norm_entropy"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m(1L)._1 === 0.0)     // ln(4) - (4 ln 4)/4 = 0
    assert(m(1L)._2 === 0.0)
    assert(m(2L)._2 === 1.0)     // uniform over 4 distinct tokens
    // and the real corpus run emits one row per doc with entropy in [0, ln n]
    assert(out.nonEmpty)
    assert(out.values.forall { r =>
      val (n, e) = (r.getLong(1), r.getDouble(3))
      e >= -1e-6 && e <= math.log(n.toDouble) + 1e-6 // outputs are round(·,6)
    })
  }

  test("decontamination: benchmark docs are excluded, and a verbatim copy of one is fully contaminated") {
    val out = run("q94_decontam")
    // no benchmark doc appears in the report
    assert(out.filter(col("doc_id") % 97 === 0).isEmpty)
    // every overlap is a valid fraction; contaminated iff overlap >= 0.05
    val rows = out.select("overlap", "contaminated").collect()
    assert(rows.forall { r =>
      val o = r.getDouble(0)
      o >= 0.0 && o <= 1.0 && (r.getBoolean(1) == (o >= 0.05))
    })
  }

  test("boilerplate share: shingle shared by >=3 docs counts as common, unique text scores 0") {
    val share = run("q93_boilerplate").collect()
    assert(share.forall { r =>
      val (n, c, s) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      c <= n && math.abs(s - c.toDouble / n) < 5e-7 // share is round(·,6)
    })
  }

  test("language mixing: head languages downsample, every rate in (0,1], tail keeps everything") {
    val rows = run("q96_lang_mix").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // rates are valid and kept counts never exceed input counts
    assert(rows.forall { case (_, before, rate, after) =>
      rate > 0.0 && rate <= 1.0 && after <= before
    })
    // the smallest language has the largest rate (α=0.5 flattens the head)
    val byN = rows.sortBy(_._2)
    assert(byN.head._3 >= byN.last._3)
    // and some head language is actually cut (corpus is skewed at every SF)
    assert(rows.map(_._3).min < 1.0)
  }

  test("curation funnel: survivor counts are monotonically non-increasing by stage") {
    val stages = run("q99_funnel").orderBy("stage").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(stages.map(_._1).toSeq === stages.indices.toSeq)
    assert(stages.sliding(2).forall {
      case Array((_, a), (_, b)) => b <= a
      case _                     => true
    })
  }

  test("CMS heavy hitters: output is exactly the words with exact count >= threshold") {
    val got = run("q103_cms_heavy").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // recompute exactly, no sketch
    val words = spark.read.parquet(s"$SF/documents.parquet")
      .select(explode(graft.text.Tokenizer.tokens(col("text"))).as("word"))
    val total = words.count()
    val th = (total + 499L) / 500L
    val exact = words.groupBy("word").count().filter(col("count") >= th)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact) // CMS pruning never loses a true heavy hitter
  }

  test("equi-depth histogram: buckets partition all rows with non-overlapping value ranges") {
    val rows = run("q104_equidepth").orderBy("bucket").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = spark.read.parquet(s"$SF/orders.parquet").count()
    assert(rows.map(_._2).sum === total)
    assert(rows.forall { case (_, _, lo, hi) => lo <= hi })
    assert(rows.sliding(2).forall {
      case Array((_, _, _, hi), (_, _, lo, _)) => hi <= lo
      case _                                   => true
    })
  }

  test("conversion-path fold: the state machine matches hand-traced sequences") {
    val step = (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) =>
      when(acc === "0" && x === "view", "1")
        .when(acc === "1" && x === "click", "2")
        .when(acc === "2" && x === "purchase", "3")
        .otherwise(acc)
    val cases = Seq(
      (Seq("view", "click", "purchase"), 3),
      (Seq("click", "view", "click", "cart"), 2),  // click before view ignored
      (Seq("purchase", "purchase"), 0),            // no view → stage 0
      (Seq("view", "purchase", "click", "purchase"), 3), // out-of-order ok later
      (Seq.empty[String], 0))
    val got = cases.map(_._1).toDF("types")
      .select(aggregate(col("types"), lit("0"), step).cast("int").as("stage"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === cases.map(_._2))
  }

  test("dedup keep-one ledger: kept + dropped = docs, and totals match q70 canonicals") {
    val ledger = run("q98_dedup_keep_one").collect()
    assert(ledger.forall(r => r.getLong(2) + r.getLong(3) == r.getLong(1)))
    val kept = ledger.map(_.getLong(2)).sum
    val canon = run("q70_dedup_clusters").filter(col("is_canonical")).count()
    assert(kept === canon)
  }
}
