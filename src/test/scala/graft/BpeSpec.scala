package graft

import graft.text.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** Reference in-memory BPE (leftmost-non-overlapping merge, weight-desc /
    * pair-asc argmax) to pin the distributed trainer against.
    */
  private def referenceBpe(words: Map[String, Long], k: Int): Seq[(Int, String, String, Long)] = {
    var reprs = words.map { case (w, _) => w -> (w.map(_.toString).toList :+ Bpe.EndOfWord) }
    val out = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to k) {
      val pc = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      for ((w, syms) <- reprs; (a, b) <- syms.zip(syms.tail))
        pc((a, b)) += words(w)
      val ((a, b), wgt) = pc.minBy { case ((l, rr), n) => (-n, l, rr) }
      out += ((r, a, b, wgt))
      reprs = reprs.map { case (w, syms) =>
        val merged = List.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            merged += a + b; i += 2
          } else { merged += syms(i); i += 1 }
        }
        w -> merged.result()
      }
    }
    out.result()
  }

  test("merges match an in-memory reference BPE, including tie order and overlap rule") {
    val df = docs("the theme thesis", "the other theory", "see the sea")
    val words = df.select(explode(graft.text.Tokenizer.tokens(col("text"))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val expected = referenceBpe(words, 5)
    val got = Bpe.merges(spark, "spec-ref", df, col("text"), 5)
      .orderBy("round")
      .select("round", "left_sym", "right_sym", "weight")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === expected)
  }

  test("overlapping pair merges leftmost-non-overlapping: 'aaa' under (a,a) -> [aa, a]") {
    // Corpus of one word "aaa": round 1 must merge (a,a) with weight 2
    // (two adjacent occurrences), and round 2 sees symbols [aa, a, </w>] —
    // i.e. the leftmost merge consumed the middle 'a'.
    val df = docs("aaa")
    val m = Bpe.merges(spark, "spec-aaa", df, col("text"), 2)
      .orderBy("round")
      .select("round", "left_sym", "right_sym", "weight")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m.head === ((1, "a", "a", 2L)))
    // round 2 pairs are (aa,a), (a,</w>) each weight 1 -> tie broken pair-asc
    assert(m(1) === ((2, "a", Bpe.EndOfWord, 1L)))
  }

  test("vocabAfter counts every token occurrence under the learned segmentation") {
    val df = docs("aaa aa")
    // round 1 merges (a,a) weight 3 (two in 'aaa', one in 'aa').
    // After 1 merge: aaa -> [aa, a, </w>], aa -> [aa, </w>]
    val v = Bpe.vocabAfter(spark, "spec-vocab", df, col("text"), 1)
      .as[(String, Long)].collect().toMap
    assert(v === Map("aa" -> 2L, "a" -> 1L, Bpe.EndOfWord -> 2L))
  }

  test("wordTokenCounts: per-word subword counts under the learned segmentation") {
    val df = docs("aaa aa")
    // shares the "spec-vocab" corpus key shape but its own key: after the
    // single (a,a) merge, aaa -> [aa, a, </w>] (3), aa -> [aa, </w>] (2)
    val w = Bpe.wordTokenCounts(spark, "spec-wlen", df, col("text"), 1)
      .as[(String, Int)].collect().toMap
    assert(w === Map("aaa" -> 3, "aa" -> 2))
  }

  test("training stops when the vocabulary is fully merged instead of wiping it") {
    // One word "ab": available merges are (a,b) then (ab,</w>) — after
    // round 2 every word is a single symbol and no adjacent pairs remain.
    // Asking for k=5 must return the 2 learnable rounds and the intact
    // fully-merged vocabulary, not annihilate the vocab through a
    // crossJoin with the empty argmax frame.
    val df = docs("ab ab")
    val m = Bpe.merges(spark, "spec-exhaust", df, col("text"), 5)
      .orderBy("round")
      .select("round", "left_sym", "right_sym")
      .as[(Int, String, String)].collect().toSeq
    assert(m === Seq((1, "a", "b"), (2, "ab", Bpe.EndOfWord)))
    val v = Bpe.vocabAfter(spark, "spec-exhaust-v", df, col("text"), 5)
      .as[(String, Long)].collect().toMap
    assert(v === Map("ab" + Bpe.EndOfWord -> 2L))
  }

  test("merge table output schema and merged-column composition") {
    val m = Bpe.merges(spark, "spec-ab", docs("ab ab ab"), col("text"), 1).collect().head
    assert(m.getAs[String]("merged") ===
      m.getAs[String]("left_sym") + m.getAs[String]("right_sym"))
  }
}
