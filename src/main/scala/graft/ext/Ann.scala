package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers (BASELINE.json north-star):
  *  - brute-force cosine top-k — exact baseline; the query side is tiny and
  *    broadcast, candidates stream through codegen'd list arithmetic, and the
  *    per-query top-k is a window rank. O(Q·N) but embarrassingly parallel
  *    and shuffle-light: the only shuffle is the final rank on Q keys.
  *  - random-hyperplane LSH bucketing — the scale path: an 8-bit signature
  *    partitions vectors into 256 buckets; search joins only within a bucket,
  *    turning O(Q·N) into O(Q·N/256) expected. The hyperplane coefficients
  *    are derived from md5 — engine-portable, so the DuckDB oracle builds the
  *    identical buckets.
  *
  * All arithmetic is double-cast, element-ordered (zip/transform + left fold)
  * so results are bit-identical across engines.
  */
object Ann {

  /** Σ a_i·b_i as an ordered left fold (deterministic float semantics). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm of a float vector, double-cast. */
  def normCol(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** Exact top-k cosine neighbors of each query vector among candidates.
    * queries/candidates: (vec_id, embedding). Returns
    * (q_id, c_id, cosine, rn).
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{floatVecDot, floatVecNormSq}
    // Norms are per-vector, so compute them BEFORE the Q×N join — the naive
    // form re-derives ‖q‖ N times and ‖c‖ Q times inside the pair loop.
    // Same sqrt/accumulation order ⇒ bit-identical cosines.
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("_qe"),
      sqrt(floatVecNormSq(col("embedding"))).as("_qn"))
    val c = candidates.select(col("vec_id").as("c_id"), col("embedding").as("_ce"),
      sqrt(floatVecNormSq(col("embedding"))).as("_cn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id").asc)
    broadcast(q).crossJoin(c)
      .withColumn("cosine", round(
        floatVecDot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")), roundTo))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "cosine", "rn")
  }

  /** Hyperplane-j coefficient for dimension i: ±1 from the first hex nibble
    * of md5(j + "_" + i) — portable to any engine with md5. Computed ONCE on
    * the driver and shipped as an array literal; the first cut evaluated the
    * md5 inside the per-element fold — numPlanes·dim digests per row.
    */
  private[ext] def coef(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
    // first hex char of the digest is the high nibble of byte 0
    if (((md(0) >> 4) & 0xf) <= 7) 1.0 else -1.0
  }

  /** Signed projection onto hyperplane j: ordered fold of emb·coef (same
    * left-to-right double accumulation as the oracle's list_sum).
    */
  private def projection(emb: Column, j: Int, dim: Int): Column = {
    val coefs = typedLit((0 until dim).map(i => coef(j, i)))
    aggregate(zip_with(emb, coefs, (x, c) => x.cast("double") * c),
      lit(0.0), (acc, x) => acc + x)
  }

  /** `numPlanes`-bit LSH bucket signature, e.g. "10110010" for 8 planes. */
  def lshBucket(emb: Column, numPlanes: Int, dim: Int): Column =
    concat((0 until numPlanes).map(j =>
      when(projection(emb, j, dim) >= 0, lit("1")).otherwise(lit("0"))): _*)

  /** (vec_id, bucket) assignment table. */
  def lshBuckets(vectors: DataFrame, numPlanes: Int, dim: Int): DataFrame =
    vectors.select(col("vec_id"), lshBucket(col("embedding"), numPlanes, dim).as("bucket"))

  /** Squared L2 distance as an ordered fold (deterministic double semantics). */
  def dist2Col(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** IVF coarse assignment: each vector goes to its nearest centroid
    * (squared L2, ties centroid-id asc). centroids: (c_id, c_emb) — a small
    * broadcast table; at scale these come from a sampled k-means, here from
    * a deterministic seed set so the oracle reproduces them. Returns
    * (vec_id, cell, dist2).
    */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2").asc, col("c_id").asc)
    vectors.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids.select(col("c_id"), col("c_emb"))))
      .withColumn("dist2", round(dist2Col(col("embedding"), col("c_emb")), roundTo))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"), col("dist2"))
  }

  /** IVF ANN: probe the `nprobe` nearest cells of each query, rank
    * candidates assigned to those cells by cosine. The candidate join is an
    * equi-join on `cell` — expected O(Q·N·nprobe/nlist) pair evaluations
    * instead of O(Q·N).
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
              nprobe: Int, k: Int, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorExpressions.{floatVecDot, floatVecNormSq}
    val cells = ivfAssign(candidates, centroids, roundTo)
      .join(candidates.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id").as("c_id2"), col("cell"), col("embedding").as("_ce"),
        sqrt(floatVecNormSq(col("embedding"))).as("_cn"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("dist2").asc, col("c_id").asc)
    val probed = queries.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids.select(col("c_id"), col("c_emb"))))
      .withColumn("dist2", round(dist2Col(col("embedding"), col("c_emb")), roundTo))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"), col("embedding").as("_qe"),
        sqrt(floatVecNormSq(col("embedding"))).as("_qn"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id2").asc)
    probed.join(cells, "cell")
      .withColumn("cosine", round(
        floatVecDot(col("_qe"), col("_ce")) / (col("_qn") * col("_cn")), roundTo))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id2").as("c_id"), col("cosine"), col("rn"))
  }

  /** Product-quantization codebooks from a seed sample: codeword `k` of
    * subspace `m` is the m-th `dim/m`-dim slice of seed vector `k`. At scale
    * the seeds come from a per-subspace k-means over a sample; a
    * deterministic seed set keeps the oracle reproducible (same convention
    * as [[ivfAssign]]'s centroids). seed: (vec_id, embedding) with the
    * codeword vectors. Returns the small broadcastable (m, k, cb) table.
    */
  def pqCodebooks(seed: DataFrame, numSub: Int, dim: Int): DataFrame = {
    val sub = dim / numSub
    seed.select(col("vec_id").as("k"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("embedding"))
      .select(col("m").cast("long").as("m"), col("k"),
        slice(col("embedding"), col("m") * sub + lit(1), lit(sub)).as("cb"))
  }

  /** PQ encoding: each vector compresses to one codeword id per subspace
    * (nearest sub-centroid by squared L2, ties k asc). The N×numSub sub-slice
    * table equi-joins the broadcast codebook — O(N·numSub·K) distance
    * evaluations, then an argmin per (vec, subspace). A 64-dim float vector
    * (256 B) becomes numSub=8 byte-sized codes — the 32× memory compression
    * that lets a 100 TB embedding corpus fit a candidate index in RAM.
    * Returns (vec_id, m, code, dist2).
    */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame, numSub: Int, dim: Int,
               roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = dim / numSub
    val subs = vectors.select(col("vec_id"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("embedding"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        slice(col("embedding"), col("m") * sub + lit(1), lit(sub)).as("sv"))
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist2").asc, col("k").asc)
    subs.join(broadcast(codebooks), "m")
      .withColumn("dist2", round(dist2Col(col("sv"), col("cb")), roundTo))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("vec_id"), col("m"), col("k").as("code"), col("dist2"))
  }

  /** PQ ANN via asymmetric distance computation: the query keeps its exact
    * sub-vectors, each candidate only its codes; approx dist²(q,c) =
    * Σ_m dist²(q_m, cb[m][code_{c,m}]). The per-query Q×numSub×K lookup
    * table is tiny and broadcast; candidates' code rows stream through an
    * equi-join on (m, code) — O(Q·N·numSub) adds, never touching candidate
    * floats. Returns (q_id, c_id, adist, rn) top-k per query.
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, codebooks: DataFrame,
             numSub: Int, dim: Int, k: Int, roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = dim / numSub
    val lut = queries.select(col("vec_id").as("q_id"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("embedding"))
      .select(col("q_id"), col("m").cast("long").as("_lm"),
        slice(col("embedding"), col("m") * sub + lit(1), lit(sub)).as("qv"))
      .join(broadcast(codebooks.withColumnRenamed("m", "_lm")), "_lm")
      .select(col("q_id"), col("_lm"), col("k"),
        round(dist2Col(col("qv"), col("cb")), roundTo).as("d"))
    val codes = pqEncode(candidates, codebooks, numSub, dim, roundTo)
      .select(col("vec_id").as("c_id"), col("m"), col("code"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("c_id").asc)
    codes.join(broadcast(lut),
        col("m") === col("_lm") && col("code") === col("k"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(round(sum(col("d")), roundTo).as("adist"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select("q_id", "c_id", "adist", "rn")
  }

  /** IVF-PQ (the FAISS IVFADC composite, and the billion-scale default):
    * coarse cells prune the candidate set (only `nprobe` cells per query
    * are visited), PQ codes score the survivors by asymmetric distance —
    * candidates contribute one byte-sized code per subspace, never their
    * floats. Cost model: O(N·nlist + N·numSub·K) one-time index build,
    * then O(Q·(nlist + N·nprobe/nlist·numSub)) per query batch — the
    * 100 TB shape where neither the vectors nor the pair matrix ever
    * materializes. Returns (q_id, c_id, adist, rn) top-k per query.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
                codebooks: DataFrame, numSub: Int, dim: Int, nprobe: Int, k: Int,
                roundTo: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sub = dim / numSub
    val cells = ivfAssign(candidates, centroids, roundTo)
      .select(col("vec_id").as("c_id2"), col("cell"))
    val codes = pqEncode(candidates, codebooks, numSub, dim, roundTo)
      .select(col("vec_id").as("c_id2"), col("m"), col("code"))
    val wq = Window.partitionBy(col("vec_id")).orderBy(col("dist2").asc, col("c_id").asc)
    val probed = queries.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centroids.select(col("c_id"), col("c_emb"))))
      .withColumn("dist2", round(dist2Col(col("embedding"), col("c_emb")), roundTo))
      .withColumn("_rn", row_number().over(wq))
      .filter(col("_rn") <= nprobe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val lut = queries.select(col("vec_id").as("q_id"),
        explode(sequence(lit(0), lit(numSub - 1))).as("m"), col("embedding"))
      .select(col("q_id"), col("m").cast("long").as("_lm"),
        slice(col("embedding"), col("m") * sub + lit(1), lit(sub)).as("qv"))
      .join(broadcast(codebooks.withColumnRenamed("m", "_lm")), "_lm")
      // distinct alias: lut shares the queries lineage with probed — an
      // un-renamed q_id would be an ambiguous self-join reference
      .select(col("q_id").as("_lq"), col("_lm"), col("k"),
        round(dist2Col(col("qv"), col("cb")), roundTo).as("d"))
    val wk = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("c_id2").asc)
    probed.join(cells, "cell")          // cell-pruned (q, c) pairs
      .join(codes, "c_id2")
      .join(broadcast(lut),
        col("q_id") === col("_lq") && col("m") === col("_lm") &&
          col("code") === col("k"))
      .groupBy(col("q_id"), col("c_id2"))
      .agg(round(sum(col("d")), roundTo).as("adist"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id2").as("c_id"), col("adist"), col("rn"))
  }

  /** Bucketed ANN: cosine for pairs sharing a bucket (a < b) — the join is
    * an equi-join on the bucket key; no cross product.
    */
  def lshPairs(vectors: DataFrame, numPlanes: Int, dim: Int, roundTo: Int = 6): DataFrame = {
    import graft.functions.VectorExpressions.{floatVecDot, floatVecNormSq}
    val withB = vectors.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), numPlanes, dim).as("bucket"),
      sqrt(floatVecNormSq(col("embedding"))).as("_n"))
    val a = withB.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("_ae"), col("_n").as("_an"))
    val b = withB.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("_be"), col("_n").as("_bn"))
    a.join(b, "bucket")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(
        floatVecDot(col("_ae"), col("_be")) / (col("_an") * col("_bn")), roundTo))
      .select("bucket", "a_id", "b_id", "cosine")
  }
}
