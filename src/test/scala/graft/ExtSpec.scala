package graft

import graft.ext.{Ann, Dedup, Multimodal, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("simhash32: deterministic, identical texts collide, disjoint texts differ") {
    val a = Dedup.simhash32(Seq("spark", "flink", "batch"))
    val b = Dedup.simhash32(Seq("spark", "flink", "batch"))
    val c = Dedup.simhash32(Seq("totally", "different", "words", "here"))
    assert(a === b)
    assert(Dedup.hamming(a, b) === 0)
    assert(Dedup.hamming(a, c) > 0)
  }

  test("simhash32: near-duplicate texts land at small hamming distance") {
    val base = Seq.fill(30)("common") ++ Seq("alpha", "beta", "gamma")
    val near = Seq.fill(30)("common") ++ Seq("alpha", "beta", "delta")
    val far = Seq("x", "y", "z", "w", "q", "r")
    val d1 = Dedup.hamming(Dedup.simhash32(base), Dedup.simhash32(near))
    val d2 = Dedup.hamming(Dedup.simhash32(base), Dedup.simhash32(far))
    assert(d1 < d2)
  }

  test("minhash+LSH: exact duplicates always collide in every band; jaccard = 1") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "completely unrelated content words entirely elsewhere")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8)
    val cands = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)))
    val j = Dedup.jaccardOnArrays(Seq((1L, 2L)).toDF("doc_a", "doc_b"),
        Dedup.shingleArrays(docs, "doc_id", col("text"), 3))
      .collect().head.getDouble(2)
    assert(j === 1.0)
  }

  test("incremental LSH: incoming probes base only — no intra-batch pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),  // base
      (9L, "the quick brown fox jumps over the lazy dog"),  // incoming, dup of 1
      (19L, "the quick brown fox jumps over the lazy dog"), // incoming, dup of 1 AND 9
      (3L, "completely unrelated content words entirely elsewhere")) // base
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // q263 shape: band each side's signatures
    val cands = pairSet(Dedup.lshCandidatesAgainst(
      Dedup.bandRows(sigs.filter($"doc_id" % 10 === 9), "doc_id", 8, 2),
      Dedup.bandRows(sigs.filter($"doc_id" % 10 =!= 9), "doc_id", 8, 2), "doc_id"))
    // both incoming dups hit base doc 1 (19 > 1 also emits — no `<` cut);
    // the 9↔19 intra-batch pair and any base↔base pair never appear
    assert(cands === Set((9L, 1L), (19L, 1L)))
    // q288 shape: one band table split by filter, incoming side broadcast
    val bands = Dedup.bandRows(sigs, "doc_id", 8, 2)
    assert(pairSet(Dedup.lshCandidatesAgainst(
      broadcast(bands.filter($"doc_id" % 10 === 9)),
      bands.filter($"doc_id" % 10 =!= 9), "doc_id")) === cands)
  }

  test("star candidates: m-member bucket emits m-1 hub edges, never C(m,2)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (9L, "completely unrelated content words entirely elsewhere"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8)
    val star = Dedup.lshStarCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // four exact copies: hub 1 links each member once — 3 edges, not 6
    assert(star === Set((1L, 2L), (1L, 3L), (1L, 4L)))
  }

  test("jaccardOnArrays: result-identical to jaccardOnShingles, incl. empty-set drops and tau prefilter") {
    // Docs over real text (exercises tokenize+shingle parity between the
    // exploded-row and array forms), incl. a doc too short to shingle (6)
    // and a zero-intersection pair (1,5).
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d x y"), (3L, "a b c d e f"),
      (4L, "p q r s t u"), (5L, "m n o p q r"), (6L, "one two")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 5L), (4L, 5L), (1L, 6L), (6L, 4L))
      .toDF("doc_a", "doc_b")
    val sh = DedupReference.shingleRows(docs, "doc_id", col("text"), 3)
    val arrs = Dedup.shingleArrays(docs, "doc_id", col("text"), 3)
    // exploding the arrays yields exactly the reference shingle rows (the
    // q269 truth-pair rows are derived this way)
    assert(arrs.select(col("_id"), explode(col("_sa")).as("_s")).collect().toSet
      === sh.collect().toSet)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exploded = rows(DedupReference.jaccardOnShingles(pairs, sh))
    val arrayed = rows(Dedup.jaccardOnArrays(pairs, arrs))
    assert(arrayed === exploded)
    // pairs touching the unshingleable doc 6 are dropped by BOTH forms
    assert(!exploded.exists(t => t._1 == 6L || t._2 == 6L))
    // zero-intersection pair scores 0.0 (kept), not dropped
    assert(exploded.contains((1L, 5L, 0.0)))
    // tau-folded prefilter == explicit jaccardSizePrefilter + scoring
    val pre = rows(DedupReference.jaccardOnShingles(
      DedupReference.jaccardSizePrefilter(pairs, sh, 1, 2), sh))
    val folded = rows(Dedup.jaccardOnArrays(pairs, arrs, tau = Some((1, 2))))
    assert(folded === pre)
  }

  test("star clusters refine pair-complete clusters: split-only deviation, never a merge") {
    // Synthetic signature table: docs 1,2,3 collide ONLY in band 0
    // (sig0/sig1 shared), so the bucket is {1,2,3} with hub 1.
    def sig(id: Long, tail: String) =
      (id, "k1", "k2", s"${tail}a", s"${tail}b", s"${tail}c", s"${tail}d", s"${tail}e", s"${tail}f")
    val sigs = Seq(sig(1L, "x"), sig(2L, "y"), sig(3L, "z"))
      .toDF("doc_id", "sig0", "sig1", "sig2", "sig3", "sig4", "sig5", "sig6", "sig7")
    val star = Dedup.lshStarCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star === Set((1L, 2L), (1L, 3L)))
    val full = Dedup.lshCandidates(sigs, "doc_id", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // Shingle sets chosen so j(1,2)=0.5 and j(2,3)=0.5 pass τ but the
    // hub edge j(1,3)=0 fails: the pair-complete graph joins {1,2,3};
    // the star graph keeps {1,2} and splits 3 off — the documented
    // deviation direction. The reverse (star merging what pair-complete
    // splits) is impossible: star edges are a subset of candidate pairs
    // under the same exact-jaccard threshold.
    val sh = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "c"),
      (2L, "d"), (3L, "c"), (3L, "d")).toDF("_id", "_s")
    def clusters(cands: Set[(Long, Long)]): Map[Long, Long] = {
      val edges = DedupReference.jaccardOnShingles(
          cands.toSeq.toDF("doc_a", "doc_b"), sh)
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      Dedup.connectedComponents((1L to 3L).toDF("_id"), edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val starLab = clusters(star)
    val fullLab = clusters(full)
    assert(starLab === Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(fullLab === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // refinement invariant: one star cluster never straddles two full ones
    val byStar = starLab.groupBy(_._2).values
    assert(byStar.forall(m => m.keys.map(fullLab).toSet.size === 1))
    // the h=2 dial on the same fixture: hubs {1,2} add the (2,3) edge,
    // recovering exactly the pair-complete clustering — q281 ⊑ q285 ⊑ q70
    val star2 = Dedup.lshStarCandidates(sigs, "doc_id", 8, 2, numHubs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star2 === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(clusters(star2) === fullLab)
  }

  test("rescue wave: detached member re-probes its bucket — star+rescue equals pair-complete exactly") {
    // The split fixture from the refinement test: bucket {1,2,3} (band 0,
    // hub 1); j(1,2)=0.5 passes, hub edge j(1,3)=0 fails, member edge
    // j(2,3)=0.5 passes — h=1 star splits doc 3 off. The rescue wave must
    // put 3 (the member endpoint of the failed edge) back through its
    // bucket's non-hub co-members, regenerate (2,3), and land on the
    // pair-complete clustering — the exactness theorem's smallest case.
    def sig(id: Long, tail: String) =
      (id, "k1", "k2", s"${tail}a", s"${tail}b", s"${tail}c", s"${tail}d", s"${tail}e", s"${tail}f")
    val sigs = Seq(sig(1L, "x"), sig(2L, "y"), sig(3L, "z"))
      .toDF("doc_id", "sig0", "sig1", "sig2", "sig3", "sig4", "sig5", "sig6", "sig7")
    val sh = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (2L, "c"),
      (2L, "d"), (3L, "c"), (3L, "d")).toDF("_id", "_s")
    val bands = Dedup.bandRows(sigs, "doc_id", 8, 2)
    val withHub = Dedup.starJoined(bands, Dedup.starHubs(bands, "doc_id"))
    val starScored = DedupReference.jaccardOnShingles(
      Dedup.lshStarCandidates(withHub, "doc_id"), sh)
    val failed = starScored.filter(col("jaccard") < 0.5)
      .select(col("doc_a"), col("doc_b"))
    assert(failed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 3L)))
    val rescue = Dedup.lshStarRescueCandidates(withHub, "doc_id", failed)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the member-member pair — hub-incident pairs are never re-scored
    assert(rescue === Set((2L, 3L)))
    // the size prefilter keeps it (|2|=4, |3|=2 shingles: 2·2 ≥ 4)
    assert(DedupReference.jaccardSizePrefilter(rescue.toSeq.toDF("doc_a", "doc_b"), sh, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((2L, 3L)))
    // ...and provably drops only sub-τ pairs: a 1-vs-4-shingle pair
    // (max possible jaccard 1/4 < τ) is filtered
    val shBig = sh.union(Seq((9L, "a")).toDF("_id", "_s"))
    assert(DedupReference.jaccardSizePrefilter(Seq((2L, 9L)).toDF("doc_a", "doc_b"), shBig, 1, 2)
      .count() === 0L)
    val edges = starScored.filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
      .union(DedupReference.jaccardOnShingles(Seq((2L, 3L)).toDF("doc_a", "doc_b"), sh)
        .filter(col("jaccard") >= 0.5).select(col("doc_a"), col("doc_b")))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val lab = Dedup.connectedComponents((1L to 3L).toDF("_id"), edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical to the pair-complete clustering, not merely a refinement
    assert(lab === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // no failures -> empty rescue wave (the τ-homogeneous-bucket case)
    val none = Dedup.lshStarRescueCandidates(withHub, "doc_id",
      spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(none.count() === 0L)
  }

  test("band-level variants (r14): prebuilt bands/hubs are result-identical to the sigs forms") {
    // The q288 posture persists ONE hub-joined band build and runs star
    // candidates over it; the sigs entry (q281/q285) must produce the same
    // pairs. Mixed fixture: an exact-dup bucket plus an unrelated pair.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (9L, "the quick brown fox jumps over the lazy dog"),
      (19L, "completely unrelated content words entirely elsewhere"),
      (4L, "completely unrelated content words entirely elsewhere"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", col("text"), 3, 8)
    val bands = Dedup.bandRows(sigs, "doc_id", 8, 2)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val joined = pairSet(Dedup.lshStarCandidates(
      Dedup.starJoined(bands, Dedup.starHubs(bands, "doc_id")), "doc_id"))
    assert(joined === pairSet(Dedup.lshStarCandidates(sigs, "doc_id", 8, 2)))
    assert(joined === Set((1L, 2L), (1L, 9L), (4L, 19L)))
  }

  test("q288: incremental merge equals union exact dedup (delta-posture theorem)") {
    // Sliding-window token ranges give controlled shingle overlaps:
    // doc(lo,len) = tokens w{lo}..w{lo+len-1}, so two docs' 3-gram sets
    // intersect exactly on the shared start positions.
    def txt(lo: Int, len: Int): String =
      (lo until lo + len)
        .map(i => s"t${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
        .mkString(" ")  // letter-only words: the tokenizer drops digits
    val docs = Seq(
      // base pair A=1, B=2: j(A,B) = 6/34 ≈ 0.18 — separate base clusters
      (1L, txt(1, 22)), (2L, txt(15, 22)),
      // incoming bridge chain 9–19: j(1,9)=17/23, j(9,19)=15/25,
      // j(19,2)=14/26 — all ≥ τ, so the batch MERGES base clusters {1},{2}
      (9L, txt(4, 22)), (19L, txt(9, 22)),
      // incoming 29 near base 31 with 29 < 31: the merged cluster must
      // RELABEL the base doc to the smaller incoming id
      (31L, txt(40, 22)), (29L, txt(41, 22)),
      // untouched base cluster {3,4} and base singleton 5: labels must
      // survive the merge byte-identical
      (3L, txt(80, 22)), (4L, txt(83, 22)), (5L, txt(65, 11)))
    val dir = writeDocsFull(docs.map { case (id, t) => (id, t, "en", "srcT") })
    graft.runtime.Stage.newQueryScope()
    val inc = graft.queries.ExtQueries.queries("q288_incremental_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
      .toSet
    graft.runtime.Stage.newQueryScope()
    val union = graft.queries.ExtQueries.queries("q286_star_rescue_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(0) % 10 == 9)).toSet
    // the theorem: incremental labels ≡ exact union dedup labels
    assert(inc === union)
    // ...and the fixture actually exercises every merge direction (the
    // LSH bands catch each planted pair — deterministic md5 minhash):
    val lab = inc.map(t => t._1 -> t._2).toMap
    assert(lab === Map(1L -> 1L, 2L -> 1L, 9L -> 1L, 19L -> 1L,
      29L -> 29L, 31L -> 29L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("ngram jaccard: disjoint shingle sets give 0") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "x y z w")).toDF("doc_id", "text")
    val j = Dedup.jaccardOnArrays(Seq((1L, 2L)).toDF("doc_a", "doc_b"),
        Dedup.shingleArrays(docs, "doc_id", col("text"), 3))
      .collect().head.getDouble(2)
    assert(j === 0.0)
  }

  test("ANN brute force: identical vector ranks first with cosine 1") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f)),
      (12L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(vecs.filter($"vec_id" === 1), vecs.filter($"vec_id" >= 10), 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(top.head === ((10L, 1.0, 1)))
    assert(top.map(_._1).toSeq === Seq(10L, 12L, 11L))
  }

  test("LSH buckets: identical vectors share a bucket; bucket is n-bit string") {
    val vecs = Seq(
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(0.5f)),
      (3L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))).toDF("vec_id", "embedding")
    val b = Ann.lshBuckets(vecs, 4, 8).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b(1L) === b(2L))
    assert(b(1L).length === 4 && b(1L).forall(c => c == '0' || c == '1'))
  }

  test("IVF with nprobe = nlist equals brute force on the same candidates") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cent = e.filter($"vec_id" < 4)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val queries = e.filter($"vec_id".between(4, 8))
    val cands = e.filter($"vec_id" > 8 && $"vec_id" < 60)
    val exact = Ann.bruteForceTopK(queries, cands, 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val ivfAll = Ann.ivfTopK(queries, cands, cent, nprobe = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(ivfAll === exact) // probing every cell = exhaustive search
    // partial probing returns a subset ranking (recall < 1 allowed, shape same)
    val ivf1 = Ann.ivfTopK(queries, cands, cent, nprobe = 1, k = 3)
      .collect().groupBy(_.getLong(0))
    assert(ivf1.nonEmpty)
    ivf1.values.foreach(rows => assert(rows.length <= 3))
  }

  test("IVF assignment: centroid vectors map to their own cell at distance 0") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cent = e.filter($"vec_id" < 4)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val own = Ann.ivfAssign(e.filter($"vec_id" < 4), cent)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    own.foreach { case (v, cell, d) => assert(v === cell && d === 0.0) }
  }

  test("PQ: seed vectors encode to their own codeword at distance 0 in every subspace") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = e.filter($"vec_id" < 16)
    val cb = Ann.pqCodebooks(seeds, 8, 64)
    val codes = Ann.pqEncode(seeds, cb, 8, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(codes.length === 16 * 8)
    codes.foreach { case (v, _, code, d) => assert(code === v && d === 0.0) }
  }

  test("PQ ADC over zero-error candidates (the codewords) equals exact L2 ranking") {
    // When each candidate IS a codeword, quantization error is zero and the
    // asymmetric distance Σ_m d²(q_m, cb[code_m]) must reproduce the true
    // squared L2 distance — the correctness core of ADC, independent of how
    // lossy the codebook is on arbitrary data.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seeds = e.filter($"vec_id" < 16)
    val cb = Ann.pqCodebooks(seeds, 8, 64)
    val q = e.filter($"vec_id".between(16, 18))
    val approx = Ann.pqTopK(q, seeds, cb, 8, 64, k = 16)
      .select("q_id", "c_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val exact = q.select($"vec_id".as("q_id"), $"embedding".as("_qe"))
      .crossJoin(seeds.select($"vec_id".as("c_id"), $"embedding".as("_ce")))
      // per-subspace round(…, 6) then sum, mirroring the ADC accumulation,
      // so rank ties (if any) resolve identically
      .withColumn("d2", round((0 until 8).map(m =>
        round(Ann.dist2Col(slice($"_qe", m * 8 + 1, 8), slice($"_ce", m * 8 + 1, 8)), 6))
        .reduce(_ + _), 6))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"q_id").orderBy($"d2".asc, $"c_id".asc)))
      .select("q_id", "c_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(approx.nonEmpty)
    assert(approx === exact)
  }

  test("connected components: chain, triangle, and isolated vertex resolve to min-id labels") {
    val verts = (1L to 9L).toDF("_id")
    // chain 1-2-3-4 (diameter 3, needs >1 round), triangle 5-6-7, isolated 8, pair 9-?
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("connected components: fused init counts as one hop — a diameter-5 chain converges in 5 loop rounds and throws below") {
    // chain 1-2-3-4-5-6: the far end needs 5 hops of min-propagation; the
    // r14 fused init provides hop 1, rounds 2-5 the rest, plus one
    // no-change confirm round = 5 loop rounds exactly.
    val verts = (1L to 6L).toDF("_id")
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(verts, chain, maxIter = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 6L).map(_ -> 1L).toMap)
    // one round short of the bound: partially-propagated labels must fail
    // loudly, never be returned
    intercept[IllegalStateException] {
      Dedup.connectedComponents(verts, chain, maxIter = 4).collect()
    }
  }

  test("connected components: empty edge set short-circuits to identity labels") {
    val verts = (1L to 4L).toDF("_id")
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val got = Dedup.connectedComponents(verts, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("langId: marker argmax with lex tie-break and 'und' fallback") {
    val docs = Seq(
      (1L, "the cat and the dog is here"), // en markers
      (2L, "der hund und die katze ist"),  // de markers
      (3L, "xyz qwerty asdf")              // none
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("fingerprint: normalization-invariant (case, punctuation, whitespace)") {
    val docs = Seq(
      (1L, "Spark, Flink & Batch!"),
      (2L, "spark   flink batch"),
      (3L, "spark flink stream")).toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("multimodal: binary payload features are deterministic and sized right") {
    val blobs = Seq((1L, "hello world".getBytes("UTF-8")),
      (2L, Array.emptyByteArray)).toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(blobs).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes === 11L)
    assert(feats(1L).digest16.length === 16)
    assert(feats(1L).width >= 64 && feats(1L).width < 192)
    assert(feats(2L).n_bytes === 0L)
    // determinism
    val again = Multimodal.extractFeatures(blobs).collect().map(f => f.doc_id -> f).toMap
    assert(again(1L) === feats(1L))
  }

  test("multimodal frame sampling: n-row fan-out, offsets stride bytes/n, digests differ per frame") {
    val blobs = Seq((1L, "abcdefghij".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(blobs, 3).collect().sortBy(_.frame_idx)
    assert(frames.length === 3)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 1, 2))
    assert(frames.map(_.frame_off).toSeq === Seq(0L, 3L, 6L)) // 10/3 = 3 stride
    assert(frames.map(_.frame_digest).distinct.length === 3) // idx feeds digest
    assert(frames.forall(_.frame_digest.length === 16))
  }

  test("q268: only cross-split near-dup pairs count; leaked doc is the eval side") {
    // ids assigned to splits by the q262 md5 rule, derived independently
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
    val ids = (0L until 200L).toSeq
    val train = ids.filter(split(_) == "train").take(3)
    val va = ids.filter(split(_) == "val").head
    val te = ids.filter(split(_) == "test").head
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "completely different words appear within this other sentence"
    val docs = Seq(
      train(0) -> a, va -> a,            // train↔val exact dup
      train(1) -> b, te -> b,            // train↔test exact dup
      train(2) -> "a lone unpaired document sits here alone quietly")
    val dir = tempDir("extq268")
    docs.map { case (id, t) => (id, t, "en", "srcT", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q268_split_leakage")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(
      ("train", "val") -> ((1L, 1L)),
      ("train", "test") -> ((1L, 1L))))
  }

  /** q269's audit draw: 12-hex md5 prefix mod 10⁹ (ppb). At the fixture's
    * N=4 docs the threshold is the 5% floor = 5·10⁷ ppb.
    */
  private def md5DrawPpb(id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(12), 16) % 1000000000L
  }

  private def writeDocsFull(docs: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("extlane")
    docs.map { case (id, t, lang, src) => (id, t, lang, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q269: in-sample dup pair counted once; out-of-sample dup invisible") {
    val ids = (0L until 1000L)
    val inS = ids.filter(md5DrawPpb(_) < 50000000L).take(3)   // sampled ids
    val outS = ids.filter(md5DrawPpb(_) >= 50000000L).head    // unsampled id
    val dup = "the quick brown fox jumps over the lazy dog"
    val dir = writeDocsFull(Seq(
      (inS(0), dup, "en", "srcT"),
      (inS(1), dup, "en", "srcT"),                   // in-sample true pair
      (outS, dup, "en", "srcT"),                     // dup, but not sampled
      (inS(2), "a lone unpaired document sits here alone quietly", "en", "srcT")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q269_lsh_recall_audit")(spark, dir)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getDouble(3))
      === ((3L, 1L, 1L, 1.0)))
  }

  test("q269: the sample stops growing once 5% of the corpus exceeds the " +
    "absolute target (the sf10 852-s lesson)") {
    // 6000 docs: the percent floor would sample ~300 (5%), but the ppb cap
    // ceil(250e9/6000) = 41,666,667 < 5e7 engages, so expected draw-hits
    // are ~250 regardless of further corpus growth. The binomial spread is
    // narrow: P(|X-250| > 100) is negligible, so the bound below is a
    // structural assertion (cap engaged), not a flaky statistical one.
    // per-doc-unique tokens => zero shared shingles => no pair work at all
    val dir = writeDocsFull((0L until 6000L).map(i =>
      (i, s"a$i b$i c$i d$i e$i", "en", "s")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q269_lsh_recall_audit")(spark, dir)
      .collect().head
    val nSample = got.getLong(0)
    assert(nSample > 150L && nSample < 350L,
      s"expected ~250 sampled docs under the absolute cap, got $nSample")
  }

  test("q270: per-source card matches the hand-derived entropy and dup ledger") {
    // src0: en x3 (two exact dups -> 1 non-canonical) + fr x1;
    // entropy = ln4 - (3 ln3)/4 = 0.562335; tokens 4+4+3+5 = 16.
    val dir = writeDocsFull(Seq(
      (1L, "aa bb cc dd", "en", "src0"),
      (2L, "aa bb cc dd", "en", "src0"),
      (3L, "ee ff gg", "en", "src0"),
      (4L, "hh ii jj kk ll", "fr", "src0"),
      (5L, "mm nn oo", "en", "src1")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q270_data_card")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7)))).toMap
    assert(got === Map(
      "src0" -> ((4L, 16L, 2L, 0.562335, 1L, 0.25, 4.0)),
      "src1" -> ((1L, 3L, 1L, 0.0, 0L, 0.0, 3.0))))
  }

  test("q273: savings ledger buckets clusters by size; only non-canonical tokens are saved") {
    // 3-way dup cluster (bucket 3-4), a pair (bucket 2), two singletons.
    val dir = writeDocsFull(Seq(
      (1L, "aa bb cc dd", "en", "srcT"),
      (2L, "aa bb cc dd", "en", "srcT"),
      (3L, "aa bb cc dd", "en", "srcT"),
      (10L, "ee ff gg", "en", "srcT"),
      (11L, "ee ff gg", "en", "srcT"),
      (20L, "hh ii jj kk", "en", "srcT"),
      (21L, "ll mm nn oo pp", "en", "srcT")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q273_dedup_savings")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got === Map(
      "3-4" -> ((1L, 3L, 12L, 8L, 0.6667)),
      "2" -> ((1L, 2L, 6L, 3L, 0.5)),
      "1" -> ((2L, 2L, 9L, 0L, 0.0))))
  }

  test("q278: exact-dup audit buckets byte-identical groups and prices keep-one bytes") {
    val tA = "aa bb cc dd"       // 11 chars, 3 copies
    val tB = "ee ff gg"          // 8 chars, 2 copies
    val dir = writeDocsFull(Seq(
      (1L, tA, "en", "srcT"), (2L, tA, "en", "srcT"), (3L, tA, "en", "srcT"),
      (10L, tB, "en", "srcT"), (11L, tB, "en", "srcT"),
      (20L, "hh ii jj kk", "en", "srcT"),      // 11 chars
      (21L, "ll mm nn oo pp", "en", "srcT")))  // 14 chars
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q278_exact_dedup_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got === Map(
      "3-4" -> ((1L, 3L, 2L, 33L, 22L, 0.6667)),
      "2" -> ((1L, 2L, 1L, 16L, 8L, 0.5)),
      "1" -> ((2L, 2L, 0L, 25L, 0L, 0.0))))
  }

  test("q70 exact-collapse: clusters over copies + near-dups match direct CC on the full pair set") {
    // Text A (3 exact copies), text B (2 copies) near-dup of A (1 token
    // swapped on a 10-token body -> jaccard > 0.5), text C unrelated.
    // Direct CC on all-pairs edges gives {1,2,5,10,11} labeled 1 and
    // {20} labeled 20; the rep-level path must reproduce this exactly,
    // including canonical flags.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = a + " zzz"
    val dir = writeDocsFull(Seq(
      (1L, a, "en", "srcT"), (2L, a, "en", "srcT"), (5L, a, "en", "srcT"),
      (10L, b, "en", "srcT"), (11L, b, "en", "srcT"),
      (20L, "pp qq rr ss tt uu", "en", "srcT")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q70_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 5L -> ((1L, false)),
      10L -> ((1L, false)), 11L -> ((1L, false)), 20L -> ((20L, true))))
  }

  test("short (<3-token) exact duplicates stay singletons in the fuzzy " +
    "stage but still group in the exact audit") {
    // Byte-identical docs under the shingle size have EMPTY shingle sets:
    // null minhash signatures, no band rows, no LSH edges — the defining
    // full-corpus semantics (DuckDB oracle + union-find checker) never
    // merge them. The exact-collapse pre-pass must therefore NOT invent
    // copy→rep star edges for them (crep = self), while the exact-dedup
    // audit (q278, keyed on raw text) still counts them as one group.
    val dir = writeDocsFull(Seq(
      (1L, "aa bb", "en", "srcA"), (2L, "aa bb", "en", "srcB"),
      (3L, "aa bb", "en", "srcA"),                    // 2-token dups ×3
      (4L, "zz", "en", "srcA"), (5L, "zz", "en", "srcA"), // 1-token dups ×2
      (10L, "pp qq rr ss tt", "en", "srcA"),
      (11L, "pp qq rr ss tt", "en", "srcB")))         // shingleable dup pair
    graft.runtime.Stage.newQueryScope()
    val clusters = graft.queries.ExtQueries.queries("q70_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(clusters === Map(
      1L -> ((1L, true)), 2L -> ((2L, true)), 3L -> ((3L, true)),
      4L -> ((4L, true)), 5L -> ((5L, true)),
      10L -> ((10L, true)), 11L -> ((10L, false))))
    val matrix = graft.queries.ExtQueries.queries("q274_syndication_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(matrix === Map(("srcA", "srcB") -> 1L)) // only the shingleable pair
    val audit = graft.queries.ExtQueries.queries("q278_exact_dedup_audit")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // exact groups: {1,2,3} (3-4 bucket), {4,5} and {10,11} (2 bucket)
    assert(audit("3-4") === ((1L, 3L, 2L)))
    assert(audit("2") === ((2L, 4L, 2L)))
  }

  test("q274: multi-copy groups expand to analytic pair counts (within " +
    "C(m,2) / cross m_a*m_b), matching literal enumeration") {
    // Group X: 3 copies in srcA + 2 in srcB (shingleable). Group Y: 2
    // copies in srcB, near-dup of X (jaccard > 0.5). Literal pair counts:
    //   within X: (A,A)=C(3,2)=3, (A,B)=3*2=6, (B,B)=C(2,2)=1
    //   within Y: (B,B)=C(2,2)=1
    //   cross X-Y: A-side 3*2=6 into (A,B); B-side 2*2=4 into (B,B)
    // => (A,A)=3, (A,B)=12, (B,B)=6.
    val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val y = x + " zzz"
    val dir = writeDocsFull(Seq(
      (1L, x, "en", "srcA"), (2L, x, "en", "srcA"), (3L, x, "en", "srcA"),
      (4L, x, "en", "srcB"), (5L, x, "en", "srcB"),
      (10L, y, "en", "srcB"), (11L, y, "en", "srcB")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q274_syndication_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("srcA", "srcA") -> 3L,
      ("srcA", "srcB") -> 12L,
      ("srcB", "srcB") -> 6L))
  }

  test("q279: signature agreement is 1.0 on exact copies and counts " +
    "matching slots exactly on near-dups") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = writeDocsFull(Seq(
      (1L, a, "en", "srcA"), (2L, a, "en", "srcA"),      // exact copies
      (3L, a + " zzz", "en", "srcA"),                    // near-dup of a
      (4L, "pp qq rr ss tt uu vv ww", "en", "srcA")))    // unrelated
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q279_minhash_estimate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact copies: identical signature vectors -> agreement exactly 1.0
    assert(got((1L, 2L)) === 1.0)
    // the near-dup collides in >=1 band (else it wouldn't be a candidate);
    // its estimate is a multiple of 1/8 strictly between 0 and 1 is not
    // guaranteed (could be 1.0 if all slots agree), but it must match the
    // independently-computed agreement of the same md5 minhash vectors.
    val sigsOf = Map(1L -> a, 3L -> (a + " zzz")).map { case (id, t) =>
      val sh = graft.text.Tokenizer.tokenize(t).sliding(3).map(_.mkString(" ")).toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      def hex(b: Array[Byte], from: Int, until: Int) =
        b.slice(from, until).map("%02x".format(_)).mkString
      id -> (0 until 8).map { i =>
        val seed = i / 2
        sh.map { ss =>
          val dg = md.digest(s"${seed}_$ss".getBytes("UTF-8"))
          if (i % 2 == 0) hex(dg, 0, 8) else hex(dg, 8, 16)
        }.min
      }
    }
    got.get((1L, 3L)).foreach { est =>
      val agree = (0 until 8).count(i => sigsOf(1L)(i) == sigsOf(3L)(i))
      assert(est === agree.toDouble / 8)
    }
    // the unrelated doc shares no shingles -> no band collision -> no row
    assert(!got.keys.exists { case (x, y) => x == 4L || y == 4L })
  }

  test("q280: estimate clusters merge exact copies (agreement 1.0) and " +
    "leave non-candidates singleton") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = writeDocsFull(Seq(
      (1L, a, "en", "srcA"), (2L, a, "en", "srcA"), (5L, a, "en", "srcB"),
      (20L, "pp qq rr ss tt uu", "en", "srcA")))
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q280_estimate_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 5L -> ((1L, false)),
      20L -> ((20L, true))))
  }

  test("q274: near-dup pairs land in source-order-normalized matrix cells") {
    val dir = writeDocsFull(Seq(
      (1L, "aa bb cc dd", "en", "srcA"),
      (2L, "aa bb cc dd", "en", "srcB"),   // cross-source dup of 1
      (3L, "ee ff gg hh", "en", "srcA"),
      (4L, "ee ff gg hh", "en", "srcA"),   // within-source dup of 3
      (5L, "ii jj kk ll", "en", "srcC")))  // unpaired
    graft.runtime.Stage.newQueryScope()
    val got = graft.queries.ExtQueries.queries("q274_syndication_matrix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("srcA", "srcB") -> 1L,
      ("srcA", "srcA") -> 1L))
  }
}
