package graft

import graft.queries.SemanticQueries
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-level pins for the round-7 LLM-curation lanes (q252 SemDeDup,
  * q253 duplicated-span fraction, q254 DSIR importance weights): each query
  * runs over a synthetic parquet dir shaped like the driver's
  * documents/embeddings tables and is checked against hand-derived (q252,
  * q253) or independently re-implemented (q254) expectations.
  */
class SemanticSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def writeDocs(dir: String, docs: Seq[(Long, String, String)]): Unit =
    docs.map { case (id, text, lang) => (id, text, lang, "srcT", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def writeEmb(dir: String, vecs: Seq[(Long, Seq[Float])]): Unit =
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def run(name: String, dir: String): DataFrame = {
    graft.runtime.Stage.newQueryScope()
    SemanticQueries.queries(name)(spark, dir)
  }

  test("q252: within-cluster near-dups prune the higher id; seeds survive") {
    val dir = tempDir("semspec")
    // Seeds (vec_id < 8) are the ± unit basis of R⁴ — each lands in its own
    // cluster. v8 is a scaled copy of seed 2 (cosine 1.0, same cluster);
    // v9 sits on top of seed 0 (cosine ≈ .995). Both must be pruned by
    // their lower-id cluster-mates; every seed is kept.
    val e = Seq[(Long, Seq[Float])](
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0f, 0f, 1f, 0f), 3L -> Seq(0f, 0f, 0f, 1f),
      4L -> Seq(-1f, 0f, 0f, 0f), 5L -> Seq(0f, -1f, 0f, 0f),
      6L -> Seq(0f, 0f, -1f, 0f), 7L -> Seq(0f, 0f, 0f, -1f),
      8L -> Seq(0f, 0f, 2f, 0f),
      9L -> Seq(1f, 0.1f, 0f, 0f))
    writeEmb(dir, e)
    val got = run("q252_semantic_dedup", dir)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(got.size === 10)
    assert(got(8L) === ((2, false)))
    assert(got(9L) === ((0, false)))
    (0L to 7L).foreach(id => assert(got(id) === ((id.toInt, true)), s"seed $id"))
  }

  test("q253: dup requires >=2 DISTINCT docs; short docs are excluded") {
    val dir = tempDir("semspec")
    writeDocs(dir, Seq(
      (1L, "a b c d e x y z", "en"),          // 4 grams, "a b c d e" shared
      (2L, "q r a b c d e", "en"),            // 3 grams, shares "a b c d e"
      (3L, "m n o p s t", "fr"),              // 2 grams, none shared
      (4L, "f g h i j f g h i j", "en"),      // in-doc repeat only -> NOT dup
      (5L, "a b", "en")))                     // < 5 tokens -> excluded
    val got = run("q253_dup_spans", dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got === Map(
      1L -> ((4L, 1L, 0.25)),
      2L -> ((3L, 1L, 0.3333)),
      3L -> ((2L, 0L, 0.0)),
      4L -> ((6L, 0L, 0.0))))
  }

  test("q252: duplicating the corpus prunes every copy, originals unchanged") {
    val dir = tempDir("semspec")
    val base = Seq[(Long, Seq[Float])](
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f),
      2L -> Seq(0f, 0f, 1f, 0f), 3L -> Seq(0f, 0f, 0f, 1f),
      4L -> Seq(-1f, 0f, 0f, 0f), 5L -> Seq(0f, -1f, 0f, 0f),
      6L -> Seq(0f, 0f, -1f, 0f), 7L -> Seq(0f, 0f, 0f, -1f),
      8L -> Seq(0f, 0f, 2f, 0f),
      9L -> Seq(1f, 0.1f, 0f, 0f))
    // Copies at ids 100+: assignment is per-vector (seeds stay vec_id < 8),
    // and each copy has a lower-id identical partner in its cluster, so
    // every copy must be pruned while original keep/prune flags stay as in
    // the base fixture — the exact-duplicate contract of SemDeDup.
    writeEmb(dir, base ++ base.map { case (id, v) => (id + 100L) -> v })
    val got = run("q252_semantic_dedup", dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got.size === 20)
    base.foreach { case (id, _) =>
      assert(!got(id + 100L), s"copy of $id must be pruned")
      assert(got(id) === (id <= 7L), s"original $id keep flag changed")
    }
  }

  test("q252: K grows past the 8-seed floor once N exceeds 8·PerCluster " +
    "(the sf10 162x lesson)") {
    // 20,001 vectors => K = ceil(20001/2500) = 9: the 9th seed (vec_id 8,
    // the only vector pointing at angle 8/9·π/2) must anchor its own
    // cluster — under the old fixed K=8 it would fold into a neighbor and
    // the cluster histogram would top out at 8 ids.
    val dir = tempDir("semspec")
    def dir2(i: Int): Seq[Float] = {
      val a = i * math.Pi / 2 / 9
      Seq(math.cos(a).toFloat, math.sin(a).toFloat)
    }
    val seeds = (0 until 9).map(i => i.toLong -> dir2(i))
    val crowd = (9L until 20001L).map(id => id -> dir2(0))
    writeEmb(dir, seeds ++ crowd)
    val got = run("q252_semantic_dedup", dir)
      .select("cluster").distinct().collect().map(_.getInt(0)).sorted
    assert(got.toSeq === (0 to 8), s"expected 9 seed clusters, got ${got.toSeq}")
  }

  test("q253: duplicating the corpus makes every span a cross-doc dup (frac 1)") {
    val dir = tempDir("semspec")
    val base = Seq(
      (1L, "a b c d e x y z", "en"),
      (3L, "m n o p s t", "fr"),
      (4L, "f g h i j f g h i j", "en"))
    writeDocs(dir, base ++ base.map { case (id, t, l) => (id + 100L, t, l) })
    val got = run("q253_dup_spans", dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.size === 6)
    got.foreach { case (id, frac) => assert(frac === 1.0, s"doc $id") }
  }

  test("q254: matches an independent in-memory reference implementation") {
    val dir = tempDir("semspec")
    val docs = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog sat on the cat", "en"),
      (3L, "le chat sur le tapis rouge", "fr"),
      (4L, "the cat chat on tapis", "fr"),
      (5L, "dog mat rouge the sat", "en"))
    writeDocs(dir, docs)

    // Reference: same formula, independent plumbing (JVM md5 + plain Scala).
    val B = SemanticQueries.DsirBuckets
    def bucket(bigram: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bigram.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(3)
      Integer.parseInt(hex, 16) % B
    }
    val perDoc: Seq[(Long, Boolean, Map[Int, Long])] = docs.map { case (id, text, lang) =>
      val tk = graft.text.Tokenizer.tokenize(text)
      val ks = tk.sliding(2).map(p => bucket(p.mkString(" ")))
        .toSeq.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
      (id, lang == "en", ks)
    }
    val ct = perDoc.filter(_._2).flatMap(_._3).groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val cr = perDoc.flatMap(_._3).groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
    val nt = ct.values.sum.toDouble
    val nr = cr.values.sum.toDouble
    val expected = perDoc.map { case (id, _, ks) =>
      val n = ks.values.sum
      val lw = ks.map { case (b, k) =>
        k * math.log(((ct.getOrElse(b, 0L) + 1) / (nt + B)) / ((cr(b) + 1) / (nr + B)))
      }.sum
      id -> ((n, BigDecimal(lw / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap

    val got = run("q254_dsir_weights", dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === expected)
    // Direction sanity: the all-English bigram stream should score ≥ the
    // mostly-French one (weights point TOWARD the target distribution).
    assert(got(1L)._2 > got(3L)._2)
  }

  private def writeSourcedDocs(dir: String,
                               docs: Seq[(Long, String, String)]): Unit =
    docs.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** JVM mirror of the q255 md5 draw (Spark's md5 of the decimal-rendered
    * doc_id; first 6 hex digits mod 1e6).
    */
  private def mixDraw(docId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(docId.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(6)
    java.lang.Long.parseLong(hex, 16) % 1000000L
  }

  test("q255: exact integer weights, per-doc md5 draw, and the 3x cap") {
    val dir = tempDir("semspec")
    // src0: 9 docs, src9: 1 doc. N=10, Σ(i+1)=11.
    //   w(src0) = halfup(1·10·1e6 / (11·9))  = 101010 → base 0, frac .101010
    //   w(src9) = halfup(10·10·1e6 / (11·1)) = 9090909 → capped 3000000 →
    //             exactly 3 copies, no draw.
    val docs = (1L to 9L).map(i => (i, s"doc number $i", "src0")) :+
      ((100L, "the rare high value doc", "src9"))
    writeSourcedDocs(dir, docs)
    val got = run("q255_mix_sample", dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.size === 10)
    assert(got(100L) === 3L, "capped source must replicate exactly 3x")
    (1L to 9L).foreach { id =>
      val expected = if (mixDraw(id) < 101010L) 1L else 0L
      assert(got(id) === expected, s"doc $id draw=${mixDraw(id)}")
    }
    // The fractional draw must actually cut both ways on this fixture.
    assert((1L to 9L).map(got).toSet === Set(0L, 1L))
  }

  test("q256: manifest matches the sequential snake deal; shards balanced") {
    val dir = tempDir("semspec")
    // 40 docs with token counts 1..40 (words of one repeated letter) —
    // enough for two full passes + a partial, so the snake reversal and the
    // balance property are both exercised.
    val docs = (1L to 40L).map(i => (i, Seq.fill(i.toInt)("word").mkString(" "), "srcT"))
    writeSourcedDocs(dir, docs.map { case (id, t, s) => (id, t, s) })
    val s = graft.queries.SemanticQueries.Shards
    val ref = docs.map { case (id, t, _) => (id, t.split(" ").length.toLong) }
      .sortBy { case (id, n) => (-n, id) }.zipWithIndex
      .map { case ((_, n), r0) =>
        val shard = if ((r0 / s) % 2 == 0) r0 % s else s - 1 - (r0 % s)
        shard -> n
      }
    val expected = ref.groupBy(_._1).map { case (sh, xs) =>
      sh -> ((xs.size.toLong, xs.map(_._2).sum, xs.map(_._2).max, xs.map(_._2).min))
    }
    val got = run("q256_shard_manifest", dir)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // Balance: snake dealing bounds the token spread by roughly one doc.
    val totals = got.values.map(_._2)
    assert(totals.max - totals.min <= 40L,
      s"shard token spread ${totals.max - totals.min} too wide")
  }

  test("q257: each rule kills its engineered doc; survivors counted down") {
    val dir = tempDir("semspec")
    val fiveLetter = Seq("alpha", "betas", "gamma", "delta", "epsil", "zetas",
      "etaaa", "theta", "iotas", "kappa", "lambd", "muuuu", "nuuuu", "xiiii", "piiii")
    val docs = Seq(
      // ff=1: 5 tokens < 20
      (1L, "just five tokens right here", "srcT"),
      // ff=2: 40 single-letter tokens -> mean word len 1 < 4.25
      (2L, Seq.fill(20)("a b").mkString(" "), "srcT"),
      // ff=3: 20 five-letter tokens, "alpha" x3 -> top share 3/20 > 1/10
      (3L, (Seq.fill(3)("alpha") ++ fiveLetter.tail
        ++ fiveLetter.tail.take(3)).mkString(" "), "srcT"),
      // ff=4: 30 tokens, 11 distinct (uniq .366 < .4), top count 3 (= n/10)
      (4L, (fiveLetter.take(9).flatMap(w => Seq(w, w, w))
        ++ Seq("muuuu", "muuuu", "nuuuu")).mkString(" "), "srcT"),
      // ff=5: 30 tokens, 15 distinct x2, no stopword
      (5L, fiveLetter.flatMap(w => Seq(w, w)).mkString(" "), "srcT"),
      // survivor: 28 five-letter x2 + "the" x2
      (6L, (fiveLetter.take(14).flatMap(w => Seq(w, w))
        ++ Seq("the", "the")).mkString(" "), "srcT"))
    writeSourcedDocs(dir, docs)
    val got = run("q257_rule_funnel", dir)
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      1 -> (("word_count", 1L, 5L)),
      2 -> (("mean_word_len", 1L, 4L)),
      3 -> (("top_token_share", 1L, 3L)),
      4 -> (("uniq_ratio", 1L, 2L)),
      5 -> (("stopword_hit", 1L, 1L))))
  }

  test("q260: add-1 bigram NLL matches the hand-derived model") {
    val dir = tempDir("semspec")
    writeDocs(dir, Seq(
      (1L, "a b a b", "en"),  // bigrams (a b)x2, (b a)x1
      (2L, "a b c", "en"),    // (a b), (b c)
      (3L, "x", "en")))       // single token -> excluded
    // corpus: cb = {(a b):3, (b a):1, (b c):1}; starts cw = {a:3, b:2};
    // V = 2. p(a b) = 4/5, p(b a) = p(b c) = 2/4.
    val nAB = -math.log(4.0 / 5)
    val nBA = -math.log(2.0 / 4)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = run("q260_bigram_lm", dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      1L -> ((3L, r6((2 * nAB + nBA) / 3))),
      2L -> ((2L, r6((nAB + nBA) / 2)))))
  }

  test("q276: signals frame joins hand-derived rule stats with the q260 score") {
    val dir = tempDir("semspec")
    writeDocs(dir, Seq(
      (1L, "the aa the bb", "en"),  // n=4, uq=3, sl=10, topk=2, stopword yes
      (2L, "cc dd ee", "fr"),       // n=3, uq=3, sl=6, topk=1, no stopword
      (3L, "zz", "en")))            // single token -> excluded (no bigrams)
    val got = run("q276_quality_signals", dir)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getBoolean(8), r.getDouble(9)))).toMap
    assert(got.keySet === Set(1L, 2L))
    // avg_nll must agree with the q260 lane on the same fixture
    graft.runtime.Stage.newQueryScope()
    val nll = SemanticQueries.queries("q260_bigram_lm")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) === (("en", "srcT", 13L, 4L, 0.75, 2.5, 0.5, true, nll(1L))))
    assert(got(2L) === (("fr", "srcT", 8L, 3L, 1.0, 2.0, 0.3333, false, nll(2L))))
  }

  test("q261: PMI ranking over min-count-floored pairs") {
    val dir = tempDir("semspec")
    writeDocs(dir, Seq(
      (1L, Seq.fill(5)("a b").mkString(" "), "en"),   // (a b)x5, (b a)x4
      (2L, Seq.fill(6)("c d").mkString(" "), "en")))  // (c d)x6, (d c)x5
    // uni: a 5, b 5, c 6, d 6; Ntok 22; Nbig 20. (b a) is floored out.
    def pmi(cb: Long, c1: Long, c2: Long): Double = {
      val x = math.log(cb * 22.0 * 22.0 / (20.0 * c1 * c2))
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = run("q261_pmi_collocations", dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      ("a", "b", 5L, pmi(5, 5, 5)),
      ("c", "d", 6L, pmi(6, 6, 6)),
      ("d", "c", 5L, pmi(5, 6, 6))))
  }

  test("q262: split assignment matches an independent md5 recompute") {
    val dir = tempDir("semspec")
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill((i % 3).toInt + 1)("tok").mkString(" "), if (i % 2 == 0) "en" else "fr"))
    writeDocs(dir, docs)
    // independent bucket derivation: first 6 hex chars of md5(idString)
    def bucket(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(6), 16) % 100).toInt
    }
    def split(b: Int): String =
      if (b < 80) "train" else if (b < 90) "val" else "test"
    val exp = docs.groupBy { case (id, _, lang) => (lang, split(bucket(id))) }
      .map { case (k, rows) =>
        k -> ((rows.size.toLong, rows.map(_._1 % 3 + 1).sum)) }
    val got = run("q262_split_manifest", dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === exp)
  }

  test("q264: water-filling matches the hand-run greedy, both branches") {
    val dir = tempDir("semspec")
    // Token totals per lang: aa 2, bb 4, cc 10. B = 2*16 = 32, E = 3.
    // Greedy ascending: aa capped (3*2*3=18 <= 32), bb capped
    // (24 <= 32-6=26), cc uncapped (30 > 26-12=14) -> gets R=14 alone:
    // alloc 14, epochs 14/10 = 1.4.
    writeDocs(dir, Seq(
      (1L, "w w", "aa"),
      (2L, "w w w w", "bb"),
      (3L, Seq.fill(10)("w").mkString(" "), "cc")))
    val got = run("q264_unimax_epochs", dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map(
      "aa" -> ((2L, true, 6L, 3.0)),
      "bb" -> ((4L, true, 12L, 3.0)),
      "cc" -> ((10L, false, 14L, 1.4))))
  }

  test("q265: minimal-k per target matches the hand-derived curve") {
    val dir = tempDir("semspec")
    // Counts: a=6, b=3, c=1 (T=10). 50% -> top-1 (0.6); 75%/90% -> top-2
    // (0.9); 99% -> top-3 (1.0).
    writeDocs(dir, Seq((1L, "a a a a a a b b b c", "en")))
    val got = run("q265_topk_coverage", dir)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(
      5000 -> ((1L, 0.6)), 7500 -> ((2L, 0.9)),
      9000 -> ((2L, 0.9)), 9900 -> ((3L, 1.0))))
  }

  test("q266: complement pairing fits, splits, and singles as derived") {
    val dir = tempDir("semspec")
    // n_tok desc: 100, 90, 60, 30, 8. Pairs (100,8)=108 fits (cap 110),
    // (90,30)=120 splits, 60 is the odd singleton. Bins = 1 + 2 + 1.
    // avg_fill = half_up(108*10^4 / 110)/10^4 = 0.9818.
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    writeDocs(dir, Seq(
      (1L, doc(100), "en"), (2L, doc(90), "en"), (3L, doc(60), "en"),
      (4L, doc(30), "en"), (5L, doc(8), "en")))
    val got = run("q266_pair_pack", dir).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getDouble(5)) === ((5L, 1L, 1L, 1L, 4L, 0.9818)))
  }

  test("q267: tercile cuts at nearest-rank values, hand-derived buckets") {
    val dir = tempDir("semspec")
    // Doc i repeats one unique word L_i times: its only bigram type is
    // (w_i w_i) with count L_i - 1, so under the corpus add-1 model
    // avg_nll = -ln(L_i / (L_i + 5)) (V = 6 start words) — strictly
    // decreasing in L_i. Lengths 11..6 => head {11,10}, middle {9,8},
    // tail {7,6}; token sums 21 / 17 / 13.
    val lens = Seq(11, 10, 9, 8, 7, 6)
    writeDocs(dir, lens.zipWithIndex.map { case (l, i) =>
      // letter-only words: the tokenizer splits on non-letters, so "w0"
      // would collapse every doc onto the same token
      (i.toLong, Seq.fill(l)(s"w${('a' + i).toChar}").mkString(" "), "en")
    })
    val got = run("q267_ccnet_buckets", dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      ("en", "head") -> ((2L, 21L)),
      ("en", "middle") -> ((2L, 17L)),
      ("en", "tail") -> ((2L, 13L))))
  }
}
