package graft

import graft.ext.Packing
import org.scalatest.funsuite.AnyFunSuite

class PackingSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  /** In-memory reference: sequential scan over doc_id order. */
  private def refPack(docs: Seq[(Long, Long)], cap: Long): Map[Long, (Long, Long, Long)] = {
    var cum = 0L
    docs.sortBy(_._1).map { case (id, n) =>
      val start = cum
      cum += n
      id -> (start, start / cap, (cum - 1) / cap)
    }.toMap
  }

  // doc_ids deliberately sparse and straddling bucket boundaries, with a
  // doc long enough to span multiple chunks
  private val fixture: Seq[(Long, Long)] = Seq(
    0L -> 3L, 1L -> 10L, 3L -> 1L,       // bucket 0 (width 4)
    4L -> 25L,                           // bucket 1, spans chunks
    7L -> 2L,
    8L -> 1L, 9L -> 7L,                  // bucket 2
    100L -> 4L)                          // far bucket (empty buckets between)

  test("bucketed prefix sum matches the sequential reference scan") {
    val df = fixture.toDF("doc_id", "n_tok")
    val got = Packing.pack(df, cap = 10L, bucketWidth = 4L)
      .select("doc_id", "tok_start", "first_chunk", "last_chunk")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, s, f, l) => id -> (s, f, l) }.toMap
    assert(got === refPack(fixture, 10L))
  }

  test("bucket width does not change the result (1, boundary-size, huge)") {
    val df = fixture.toDF("doc_id", "n_tok")
    val expected = refPack(fixture, 10L)
    for (w <- Seq(1L, 4L, 1000L)) {
      val got = Packing.pack(df, cap = 10L, bucketWidth = w)
        .select("doc_id", "tok_start", "first_chunk", "last_chunk")
        .as[(Long, Long, Long, Long)].collect()
        .map { case (id, s, f, l) => id -> (s, f, l) }.toMap
      assert(got === expected, s"bucketWidth=$w")
    }
  }

  test("chunkSummary fills every chunk to capacity except the last") {
    val df = fixture.toDF("doc_id", "n_tok")
    val total = fixture.map(_._2).sum // 53 tokens -> chunks 0..5 at cap 10
    val got = Packing.chunkSummary(df, cap = 10L, bucketWidth = 4L)
      .select("chunk_id", "n_docs", "n_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq === (0L until (total + 9) / 10).toSeq)
    val full = got.init
    assert(full.forall(_._3 == 10L), s"non-capacity interior chunk in ${got.toSeq}")
    assert(got.last._3 === total - 10L * (got.length - 1))
    assert(got.map(_._3).sum === total)
    // doc 4 (25 tokens, starting at 14) touches chunks 1..3
    val doc4Chunks = got.filter(c => c._1 >= 1 && c._1 <= 3)
    assert(doc4Chunks.forall(_._2 >= 1))
  }

  test("pack rejects non-positive capacity") {
    val df = fixture.toDF("doc_id", "n_tok")
    intercept[IllegalArgumentException](Packing.pack(df, cap = 0L))
  }

  test("globalRank matches the sequential sort under composite buckets") {
    import org.apache.spark.sql.functions._
    // ties on n_tok (ranked by doc_id), sparse ids, a far-away id — the
    // same boundary shapes as the pack fixture, for the ranking face.
    val docs = Seq(1L -> 5L, 2L -> 9L, 3L -> 5L, 4L -> 1L, 5L -> 9L,
      6L -> 7L, 100L -> 5L)
    val df = docs.toDF("doc_id", "n_tok")
    val expected = docs.sortBy { case (id, n) => (-n, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    for (w <- Seq(1L, 3L, 1000L)) {
      val got = Packing.globalRank(df,
        buckets = Seq(-col("n_tok"), expr(s"doc_id div $w")),
        order = Seq(col("n_tok").desc, col("doc_id").asc), rankCol = "rank")
        .select("doc_id", "rank").as[(Long, Long)].collect().toMap
      assert(got === expected, s"bucket width $w")
    }
  }

  test("globalRank density guard fires on a sparse leading bucket key") {
    import org.apache.spark.sql.functions._
    // Adversarial shape from VERDICT r8: near-unique leading values make
    // the bucket table ~N rows — the degenerate case that silently revives
    // the single-task prefix-sum window. guardMinRows lowered so the
    // fixture stays test-sized.
    val df = spark.range(1000L).select(col("id").as("doc_id"),
      (col("id") * 7919L % 997L).as("score"))
    val ex = intercept[IllegalStateException] {
      Packing.globalRank(df,
        buckets = Seq(col("score"), expr("doc_id div 100")),
        order = Seq(col("score").asc, col("doc_id").asc), rankCol = "rank",
        guardMinRows = 100L)
    }
    assert(ex.getMessage.contains("density precondition"))
    // the same frame under a dense leading key passes the same thresholds
    val ranked = Packing.globalRank(df,
      buckets = Seq(expr("doc_id div 100")),
      order = Seq(col("doc_id").asc), rankCol = "rank",
      guardMinRows = 100L)
    assert(ranked.count() === 1000L)
  }
}
