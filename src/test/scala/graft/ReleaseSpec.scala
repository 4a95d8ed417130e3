package graft

import graft.queries.ReleaseQueries
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-level pins for the round-9 release-audit lanes: q271 duplicated
  * span intervals (merge semantics traced by hand), q272 PII scan/redaction
  * (counts + char delta recomputed with java.util.regex), q275 eval
  * contamination (split-derived ids, hand-counted gram overlap).
  */
class ReleaseSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def writeDocs(docs: Seq[(Long, String)], src: Long => String = _ => "srcT"): String = {
    val dir = tempDir("relspec")
    docs.map { case (id, t) => (id, t, "en", src(id), t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String): DataFrame = {
    graft.runtime.Stage.newQueryScope()
    ReleaseQueries.queries(name)(spark, dir)
  }

  test("q271: overlapping dup grams merge into one span; two occurrences make two spans; clean doc reports zeros") {
    val common = "alpha beta gamma delta epsilon zeta" // 6 tokens
    val docs = Seq(
      1L -> s"one two three $common four five",        // span at 4..9
      2L -> s"$common six seven eight nine",           // span at 1..6
      3L -> "ten eleven twelve thirteen fourteen fifteen sixteen", // clean
      4L -> s"$common x1 x2 x3 x4 x5 x6 $common")      // two spans: 1..6, 13..18
    val got = run("q271_dup_span_audit", writeDocs(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // doc1: 11 tokens, dup 5-gram starts {4,5} -> one span [4,9] len 6
    assert(got(1L) === ((11L, 1L, 6L, 6L, 0.5455)))
    // doc2: 10 tokens, starts {1,2} -> one span [1,6]
    assert(got(2L) === ((10L, 1L, 6L, 6L, 0.6)))
    // doc3: no duplicated grams anywhere
    assert(got(3L) === ((7L, 0L, 0L, 0L, 0.0)))
    // doc4: 18 tokens, starts {1,2,13,14} -> spans [1,6] and [13,18]
    assert(got(4L) === ((18L, 2L, 12L, 6L, 0.6667)))
  }

  test("q271: adjacent spans (gap exactly SpanN) coalesce; one-past stays split") {
    // doc5/doc6 share g1 and g2. In doc5 g2 starts at pos 6 = 1 + SpanN
    // (runs are adjacent: [1,5] + [6,10] -> one span). In doc6 a spacer
    // token pushes g2 to pos 7 = 2 + SpanN: two spans.
    val g1 = "a1 a2 a3 a4 a5"
    val g2 = "b1 b2 b3 b4 b5"
    val docs = Seq(
      5L -> s"$g1 $g2",
      6L -> s"zz $g1 spacer $g2")
    val got = run("q271_dup_span_audit", writeDocs(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(5L) === ((10L, 1L, 10L, 10L)))
    assert(got(6L) === ((12L, 2L, 10L, 5L)))
  }

  test("q272: counts and redaction delta match a java.util.regex recompute") {
    // id 0: all three strata (0 ≡ 0 mod 5,7,11); id 1: clean;
    // id 35: email+phone (35 ≡ 0 mod 5,7), no ip; id 22: ip only.
    val docs = Seq(0L -> "plain words here", 1L -> "more plain words",
      35L -> "body of doc", 22L -> "another body")
    val got = run("q272_pii_audit", writeDocs(docs)).collect()
    assert(got.length === 1)
    val r = got.head
    // independent recompute with java.util.regex on the same augmentation
    val pats = Seq(ReleaseQueries.EmailPat, ReleaseQueries.PhonePat,
      ReleaseQueries.IpPat)
    val tags = Seq("<EMAIL>", "<PHONE>", "<IP>")
    def aug(id: Long, t: String): String = {
      var x = t
      if (id % 5 == 0) x += s" contact user$id@example.com"
      if (id % 7 == 0) x += f" call 555-${id % 10000}%04d"
      if (id % 11 == 0) x += s" from 10.${id % 256}.${(id * 7) % 256}.1"
      x
    }
    var (em, ph, ip, withPii, delta) = (0L, 0L, 0L, 0L, 0L)
    docs.foreach { case (id, t) =>
      val a = aug(id, t)
      val c = pats.map(p => p.r.findAllIn(a).size)
      em += c(0); ph += c(1); ip += c(2)
      if (c.sum > 0) withPii += 1
      val red = pats.zip(tags).foldLeft(a) { case (acc, (p, tag)) =>
        acc.replaceAll(p, tag)
      }
      delta += a.length - red.length
    }
    assert(r.getLong(1) === 4L)        // n_docs
    assert(r.getLong(2) === withPii)
    assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((em, ph, ip)))
    assert(r.getLong(6) === delta)
    assert(em === 2L && ph === 2L && ip === 2L && withPii === 3L)
  }

  test("q277: engineered bigram repetition is measured exactly; clean doc stays low") {
    val docs = Seq(
      1L -> "aa bb aa bb aa",   // g2: [aa bb, bb aa, aa bb, bb aa]
      2L -> "cc dd ee ff")      // all grams distinct
    val got = run("q277_repetition_audit", writeDocs(docs))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5)))).toMap
    // doc1: n2=4, m2=2 -> 0.5; n3=3, m3=2 -> 0.6667; d2=4 -> 1.0; 10 > 4
    assert(got(1L) === ((5L, 0.5, 0.6667, 1.0, true)))
    // doc2: n2=3, m2=1 -> 0.3333; n3=2, m3=1 -> 0.5; d2=0; 5 > 3 (tiny-doc
    // artifact of the 1/5 slot rule — the flag is exact, not clamped)
    assert(got(2L) === ((4L, 0.3333, 0.5, 0.0, true)))
  }

  test("q275: verbatim 8-gram run marks the eval doc dirty; short eval docs count clean") {
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(6), 16) % 100).toInt
    }
    def split(id: Long): String = {
      val b = bucket(id)
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val ids = (0L until 300L).toSeq
    val tr = ids.filter(split(_) == "train").head
    val vas = ids.filter(split(_) == "val").take(2)
    val te = ids.filter(split(_) == "test").head
    val shared = "the quick brown fox jumps over the lazy dog" // 9 tokens
    val docs = Seq(
      tr -> shared,
      vas(0) -> shared,                     // dirty: both 8-grams in train
      vas(1) -> "tiny doc",                 // < 8 tokens: counts, clean
      te -> "completely different words appear within this other much longer sentence")
    val got = run("q275_eval_contamination", writeDocs(docs))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5), r.getDouble(6)))).toMap
    assert(got("val") === ((2L, 1L, 0.5, 2L, 2L, 1.0)))
    // test doc: 10 tokens -> 3 distinct 8-grams, none in train
    assert(got("test") === ((1L, 0L, 0.0, 3L, 0L, 0.0)))
  }
}
