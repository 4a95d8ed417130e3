package graft.ext

import graft.text.Tokenizer
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for large-scale corpus curation (BASELINE.json
  * north-star; no reference analogue — the operators a 100 TB training-data
  * pipeline needs).
  *
  * Design for scale:
  *  - Shingling/minhashing is per-row Column work (codegen'd, no shuffle).
  *  - LSH banding turns all-pairs O(N²) similarity into an equi-join on
  *    (band, key): only docs sharing a band collide. Band keys are md5
  *    strings, so the hash family is engine-portable (the DuckDB oracle
  *    computes the identical signatures).
  *  - Exact Jaccard runs only on candidate pairs (two doc-keyed joins
  *    against per-doc shingle arrays, intersected per row), never on the
  *    full cross product.
  */
object Dedup {

  /** Word n-gram shingles of a token array (duplicates preserved). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** All minhash signatures in one pass: numHashes/2 seeded digests per
    * shingle, each md5 split into two 64-bit hex slices (chars 1-16 and
    * 17-32) → numHashes independent min-hashes at half the digest work.
    * String-min of hex slices — identical in any engine with md5 (the DuckDB
    * oracle computes `min(substr(md5(seed || '_' || s), off, 16))`).
    * Single-pass UDF so the digest is computed once per (shingle, seed),
    * not once per signature column.
    */
  private val HEX = "0123456789abcdef".toCharArray

  private def hexSlice(bytes: Array[Byte], from: Int, until: Int): String = {
    val out = new Array[Char]((until - from) * 2)
    var i = from
    var j = 0
    while (i < until) {
      out(j) = HEX((bytes(i) >> 4) & 0xf)
      out(j + 1) = HEX(bytes(i) & 0xf)
      i += 1
      j += 2
    }
    new String(out)
  }

  private def signatureVector(shingles: Seq[String], numHashes: Int): Seq[String] = {
    val numSeeds = numHashes / 2
    val mins = Array.fill[String](numHashes)(null)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (s <- shingles; seed <- 0 until numSeeds) {
      md.reset()
      val digest = md.digest(s"${seed}_$s".getBytes("UTF-8"))
      val lo = hexSlice(digest, 0, 8)
      val hi = hexSlice(digest, 8, 16)
      val i = 2 * seed
      if (mins(i) == null || lo < mins(i)) mins(i) = lo
      if (mins(i + 1) == null || hi < mins(i + 1)) mins(i + 1) = hi
    }
    mins.toSeq
  }

  /** (doc_id, sig0..sig{numHashes-1}) minhash signature table.
    * numHashes must be even.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: Column,
                        shingleSize: Int, numHashes: Int): DataFrame = {
    require(numHashes % 2 == 0, "numHashes must be even (two slices per digest)")
    val sigUdf = udf((sh: Seq[String]) => signatureVector(sh, numHashes))
    val withSigs = docs.select(col(idCol),
      sigUdf(shingles(Tokenizer.tokens(textCol), shingleSize)).as("_sigs"))
    val sigCols = (0 until numHashes).map(i => col("_sigs")(i).as(s"sig$i"))
    withSigs.select(col(idCol) +: sigCols: _*)
  }

  /** LSH candidate pairs: docs agreeing on any band of `bandSize` consecutive
    * signatures. Returns (doc_a, doc_b) with doc_a < doc_b, distinct.
    * This is the scale path: a self-equi-join on (band, key), never O(N²).
    */
  def lshCandidates(sigs: DataFrame, idCol: String, numHashes: Int, bandSize: Int): DataFrame = {
    val bands = bandRows(sigs, idCol, numHashes, bandSize)
    val a = bands.select(col(idCol).as("doc_a"), col("band"), col("key"))
    val b = bands.select(col(idCol).as("doc_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Star (spanning-edge) LSH candidates — the sub-quadratic candidate
    * mode for near-duplicate-DENSE corpora: within every (band, key)
    * bucket, one edge from the bucket's minimum-id doc (the hub) to each
    * other member — m−1 edges per bucket instead of C(m,2). Returns
    * (doc_a = hub, doc_b) with doc_a < doc_b, distinct across bands.
    *
    * Candidate volume is bounded by numBands·N regardless of bucket-size
    * distribution — the property [[lshCandidates]] lacks on a dup-dense
    * crawl, where a single m-member near-clique bucket emits m(m−1)/2
    * pairs (the sf10nd tier priced that at 16–21×/decade). The hub agg is
    * a partial-aggregatable groupBy on the SAME (band, key) the pair
    * self-join would shuffle on, and the join back is hub-broadcast-shaped
    * per bucket — no pair set is ever materialized.
    *
    * Connectivity contract (q281 vs q70, pinned in ExtSpec): every star
    * edge is itself a band-candidate pair, so after identical exact-jaccard
    * thresholding the star graph is a SUBGRAPH of the pair-complete graph —
    * star clusters always REFINE the pair-complete clusters, never merge
    * across them. They can split one: a member connects only through its
    * bucket hubs, so if every hub–member edge of a doc fails τ while some
    * member–member edge passes, the star graph drops that link. Identity
    * holds when buckets are τ-homogeneous (every co-bucketed pair ≥ τ) —
    * the near-clique profile dedup targets; the sf10nd stress run
    * quantifies the residual deviation.
    */
  def lshStarCandidates(sigs: DataFrame, idCol: String,
                        numHashes: Int, bandSize: Int,
                        numHubs: Int = 1): DataFrame = {
    require(numHubs >= 1, "numHubs must be >= 1")
    val bands = bandRows(sigs, idCol, numHashes, bandSize)
    // numHubs is the recall/cost dial: link each member to the h
    // smallest-id docs of the bucket (candidate volume ×h, still
    // candidate-linear; h = bucket size degenerates to the pair-complete
    // graph). h=1 keeps the cheap partial-agg path — no per-bucket sort.
    val hubs =
      if (numHubs == 1) starHubs(bands, idCol)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key")).orderBy(col(idCol))
        bands.withColumn("_hr", row_number().over(w))
          .filter(col("_hr") <= numHubs)
          .select(col("band"), col("key"), col(idCol).as("_hub"))
      }
    lshStarCandidates(starJoined(bands, hubs), idCol)
  }

  /** Single-hub (h=1) bucket hubs over a prebuilt [[bandRows]] table — the
    * shared sub-stage of [[lshStarCandidates]] and
    * [[lshStarRescueCandidates]]. Exposed so a caller running BOTH passes
    * (star edges then rescue wave, the q286/q288 posture) computes and
    * persists the (band, key) → min-id aggregate ONCE instead of paying the
    * identical groupBy shuffle in each pass (guide §2.4 — two operations
    * keyed the same way share one exchange).
    */
  def starHubs(bands: DataFrame, idCol: String): DataFrame =
    bands.groupBy(col("band"), col("key")).agg(min(col(idCol)).as("_hub"))

  /** The band-level input of [[lshStarCandidates]] and
    * [[lshStarRescueCandidates]]: every band row with its
    * bucket's hub attached — (idCol, band, key, _hub). The r14 single
    * materialization behind the whole star+rescue posture: the star
    * candidates (filter id > hub), the rescue incidence probe (semi-join
    * against failed edges) and the rescue pair join all consume THIS frame,
    * so a caller that persists it pays the (band, key) hub join once
    * instead of three times and scans the band explode twice (here and in
    * the hub aggregate) instead of four times.
    */
  def starJoined(bands: DataFrame, hubs: DataFrame): DataFrame =
    bands.join(hubs, Seq("band", "key"))

  /** Star candidates over a prebuilt (typically persisted) [[starJoined]]
    * frame — the join phase of the signature-level entry above. Callers
    * running several passes over one band build (q288: star, rescue and
    * cross probe) call it directly so the hub join runs once.
    */
  def lshStarCandidates(withHub: DataFrame, idCol: String): DataFrame =
    withHub.filter(col(idCol) > col("_hub"))
      .select(col("_hub").as("doc_a"), col(idCol).as("doc_b")).distinct()

  /** Rescue-wave candidates — the detached-member fix that makes the star
    * graph's clusters EXACTLY the pair-complete ([[lshCandidates]]) clusters
    * at candidate-linear + failure-proportional cost. `withHub` is the
    * [[starJoined]] frame over single-hub [[starHubs]] (the rescue is
    * defined relative to the h=1 star graph); `failedEdges` is the set of
    * star edges (doc_a = hub, doc_b = member) that failed the τ threshold.
    * The member re-probes THE BUCKET WHOSE hub edge failed, pairing with
    * every non-hub co-member of that bucket. Returns (doc_a < doc_b),
    * distinct. The incidence probe and the pair join both read the
    * hub-joined band rows, so the hub column is already on every row.
    *
    * Exactness theorem (pinned in ExtSpec, recomputed by check_q286): let
    * E70 be the thresholded pair-complete edge set and E* = thresholded
    * star(h=1) ∪ thresholded rescue edges. E* ⊆ E70 (every rescue pair is
    * a co-bucket pair scored by the same jaccard and τ), and E* preserves
    * E70's connectivity: for any (x,y) ∈ E70 co-bucketed in B with hub h,
    * either x = h (then (x,y) is a star edge of B, and it passed τ because
    * it is in E70), or both hub edges (h,x),(h,y) passed τ (then x–h–y
    * already connects x,y in E*), or one of them failed IN BUCKET B —
    * whose re-probe of exactly B regenerates (x,y), which passes τ. A
    * subgraph with the same connectivity has identical connected
    * components, hence identical min-id cluster labels.
    *
    * Cost: candidate volume is Σ_buckets f_b·m_b (f_b = members of the
    * bucket whose OWN hub edge failed, m_b = bucket size) — proportional
    * to the FAILURE count, not C(m,2). τ-homogeneous buckets (exact-copy
    * groups, near-clique profiles) produce zero failures and therefore
    * zero rescue work; the wave's size is exactly the size of the star
    * approximation's error surface. Per-bucket scoping matters on a dense
    * crawl: a doc in `bands` buckets that failed in one re-probes one, not
    * all (sf10nd: 6.1M candidates vs 9.9M under a global failed-doc set).
    * Hub-side failures need no rescue: a hub's own-bucket pairs are
    * already star edges, and in buckets where it is a member its failures
    * there are member-side failures.
    */
  def lshStarRescueCandidates(withHub: DataFrame, idCol: String,
                              failedEdges: DataFrame): DataFrame = {
    // (bucket, member) incidences whose own hub edge failed: the semi-join
    // keys on BOTH endpoints, so only the failing bucket re-probes.
    val fb = withHub.join(failedEdges,
        withHub("_hub") === failedEdges("doc_a") &&
          withHub(idCol) === failedEdges("doc_b"), "left_semi")
      .select(col(idCol).as("_f"), col("band"), col("key"))
    withHub.join(fb, Seq("band", "key"))
      // Drop hub-incident pairs: (hub, member) of the SAME bucket is
      // already a scored star edge; rescoring it buys nothing.
      .filter(col(idCol) =!= col("_f") && col(idCol) =!= col("_hub"))
      .select(least(col("_f"), col(idCol)).as("doc_a"),
        greatest(col("_f"), col(idCol)).as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard size predicate, folded into [[jaccardOnArrays]]'s `tau`
    * filter: j(A,B) ≥ τ forces |A| ≥ τ·|B| and |B| ≥ τ·|A| (intersection ≤
    * min size), so pairs whose shingle-set sizes are more than 1/τ apart
    * CANNOT pass and need no intersection. Provably drops only sub-τ pairs
    * — output-invariant for any consumer that thresholds at ≥ τ. τ is
    * passed as an exact rational (num/den: τ = num/den, e.g. 1/2) so the
    * integer-arithmetic comparison has no float edge cases. The test
    * sources' exploded-row reference prefilter calls this same definition,
    * so the two can never desynchronize (ADVICE r13).
    *
    * Rounding caveat (ADVICE r12): consumers threshold on
    * `round(jaccard, 6)` ([[jaccardOnArrays]]'s default), and half-up
    * rounding admits true jaccard as low as τ − 0.5e-6. The comparison is
    * therefore widened by that margin — it keeps every pair with
    * min/max ≥ τ − 0.5e-6, i.e. min·den·2e6 ≥ max·(num·2e6 − den) — so
    * output-invariance holds for the ROUNDED threshold too, not just the
    * unrounded one. The 2·10⁶ factor is twice the 10⁶ of roundTo=6; a
    * caller that changes roundTo must widen this margin with it. Long
    * arithmetic: sizes < 2^31 and den·2e6 < 2^62/2^31.
    */
  private[graft] def tauSizePredicate(na: Column, nb: Column,
                                      tauNum: Int, tauDen: Int): Column =
    least(na, nb) * lit(tauDen.toLong * 2000000L) >=
      greatest(na, nb) * lit(tauNum.toLong * 2000000L - tauDen.toLong)

  /** Asymmetric LSH candidates over prebuilt [[bandRows]] tables — the
    * incremental-ingestion cut: INCOMING docs probe the EXISTING base
    * corpus's bands, never each other. Returns (doc_a = incoming id,
    * doc_b = base id), distinct; no `<` constraint because the two id sets
    * are disjoint by contract. Same banding as [[lshCandidates]]; per-batch
    * cost is O(|batch| · bands) probe rows against the base band table, not
    * a corpus self-join. The caller may wrap the incoming side in
    * `broadcast(...)`: a batch is small relative to the base corpus by the
    * incremental contract, and broadcasting it turns the probe into a
    * map-side join over the base band table instead of shuffling the (much
    * larger) base side by (band, key) (guide §3.1).
    */
  def lshCandidatesAgainst(incomingBands: DataFrame, baseBands: DataFrame,
                           idCol: String): DataFrame = {
    val a = incomingBands.select(col(idCol).as("doc_a"), col("band"), col("key"))
    val b = baseBands.select(col(idCol).as("doc_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).select("doc_a", "doc_b").distinct()
  }

  /** One row per (doc, band) with the band's concatenated signature key —
    * the shared explode behind every candidate join. Public since r14 so
    * multi-pass consumers (q288's incremental posture: base star + base
    * rescue + batch star + batch rescue + cross probe all band the same
    * signatures) can persist ONE band table per scope instead of
    * re-exploding and re-shuffling it per pass.
    */
  def bandRows(sigs: DataFrame, idCol: String,
               numHashes: Int, bandSize: Int): DataFrame = {
    val numBands = numHashes / bandSize
    sigs.select(col(idCol),
      explode(array((0 until numBands).map { b =>
        struct(lit(b).as("band"),
          concat((b * bandSize until (b + 1) * bandSize).map(i => col(s"sig$i")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** DISTINCT shingle set per document as ONE array row (_id, _sa) — the
    * scoring input of [[jaccardOnArrays]]; `explode(_sa)` gives the
    * shingle-keyed rows (q269's truth-pair join). Derived per-row from the
    * docs (no shuffle at any scale); a document's shingle set is bounded by
    * its own length, so the row stays executor-friendly even on crawl docs.
    */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: Column,
                    shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("_id"),
      array_distinct(shingles(Tokenizer.tokens(textCol), shingleSize)).as("_sa"))

  /** Exact Jaccard for given (doc_a, doc_b) candidate pairs over a prebuilt
    * per-doc shingle-ARRAY table from [[shingleArrays]]:
    * |A∩B|/(|A|+|B|−|A∩B|), rounded to `roundTo` places. Result-identical
    * to the exploded-row form kept in the test sources as its parity
    * reference (same integer |A∩B|/|A|/|B|, same double division and
    * rounding; pairs with an empty/absent shingle set on either side are
    * dropped exactly as the exploded form's inner size join drops them).
    *
    * Why this form (guide §2.3/§2.4 — fewer shuffles, fewer bytes): the
    * exploded form pays a sizes groupBy over every shingle row, a join
    * that shuffles the whole shingle table by doc, a second join that
    * shuffles the |pairs|·|shingles-per-doc| intersection explode by
    * (doc, shingle), a pair-grouped count, and three joins back — ~6
    * exchanges, the widest carrying pairs×shingles rows. Here the pair
    * list joins the array table twice (doc-keyed equi-joins, broadcast
    * when the corpus side is small enough) and the intersection runs
    * per-row inside codegen'd collection expressions — 2 exchanges, none
    * wider than |pairs| rows + one array payload per side.
    *
    * `tau` (num, den): optional exact-rational size prefilter applied
    * BETWEEN the joins and BEFORE the intersection — the
    * [[tauSizePredicate]] (incl. its rounding-slack margin) as a per-row
    * filter on the already-joined sizes, so pairs that provably cannot
    * reach τ skip the intersect entirely and no extra size-table joins
    * exist at all. Output-invariant for consumers thresholding at ≥ τ on
    * the rounded jaccard, as documented on [[tauSizePredicate]].
    */
  def jaccardOnArrays(pairs: DataFrame, arrs: DataFrame, roundTo: Int = 6,
                      tau: Option[(Int, Int)] = None): DataFrame = {
    val aa = arrs.select(col("_id").as("doc_a"), col("_sa").as("_saa"))
    val ab = arrs.select(col("_id").as("doc_b"), col("_sa").as("_sab"))
    val joined = pairs.join(aa, "doc_a").join(ab, "doc_b")
      .withColumn("_na", size(col("_saa")).cast("long"))
      .withColumn("_nb", size(col("_sab")).cast("long"))
      .filter(col("_na") > 0 && col("_nb") > 0)
    val prefiltered = tau match {
      case Some((num, den)) =>
        joined.filter(tauSizePredicate(col("_na"), col("_nb"), num, den))
      case None => joined
    }
    prefiltered
      .withColumn("_inter",
        size(array_intersect(col("_saa"), col("_sab"))).cast("long"))
      .withColumn("jaccard", round(col("_inter").cast("double")
        / (col("_na") + col("_nb") - col("_inter")), roundTo))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** 32-bit SimHash over a token multiset (tf-weighted): per bit j, sum
    * tf·(±1) where the sign is bit j of the token's md5; bit set iff sum > 0.
    * Pure-Scala (per-row) — the Spark side is a UDF; unit-tested, no oracle
    * (bit twiddling is not worth expressing in SQL).
    */
  def simhash32(tokens: Seq[String]): Int = {
    val votes = new Array[Long](32)
    val counts = tokens.groupBy(identity).view.mapValues(_.size)
    for ((tok, tf) <- counts) {
      val md = java.security.MessageDigest.getInstance("MD5").digest(tok.getBytes("UTF-8"))
      // first 4 bytes -> 32-bit hash
      val h = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) | ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) votes(j) += tf else votes(j) -= tf
        j += 1
      }
    }
    var out = 0
    for (j <- 0 until 32) if (votes(j) > 0) out |= (1 << j)
    out
  }

  val simhashUdf = udf((text: String) => simhash32(Tokenizer.tokenize(text)))

  /** Hamming distance between two simhashes (for near-dup thresholding). */
  def hamming(a: Int, b: Int): Int = Integer.bitCount(a ^ b)

  /** Connected components over a near-duplicate pair graph — resolves
    * pairwise matches into duplicate clusters labeled by their minimum
    * member id (the canonical doc a curator keeps).
    *
    * Hash-min label propagation: every vertex starts as its own label; each
    * round takes the min of its own and its neighbors' labels; converged
    * when no label changes. Rounds = graph diameter — duplicate clusters are
    * shallow (near-clique), so this terminates in a few rounds; each round
    * is one shuffle join, the standard BSP formulation that scales to
    * billions of edges. The convergence probe is a `limit(1).count`, not a
    * full materialization.
    *
    * The iteration runs ONLY over vertices incident to at least one edge:
    * in a corpus-dedup graph the overwhelming majority of documents are in
    * no near-dup pair, and their label trivially equals their own id — they
    * are unioned back after convergence instead of being dragged through
    * every BSP round's shuffles (at 100 TB that is the difference between
    * iterating over ~billions of rows and over the pair-graph's vertices).
    *
    * vertices: one id column named `_id`. edges: (a, b) undirected.
    * Returns (_id, label).
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 25,
                          reroot: graft.runtime.Reroot = graft.runtime.Reroot.Local): DataFrame = {
    // Symmetrize in ONE pass over `edges`: a union of two selects scans
    // the edge lineage twice, and for callers whose candidate-pair input
    // is an expensive uncached computation (a blocked edit-distance or
    // similarity scan) that doubles the most expensive stage of the whole
    // query. The explode emits both directions per input row instead.
    val sym = reroot(edges.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst")))
    // Every iteration re-roots `labels` with an EAGER localCheckpoint:
    //  - the logical plan stays one join deep, instead of growing by two
    //    joins per round (re-analysis/optimization of an N-round lineage is
    //    quadratic in N and dominates wall-clock long before the data does);
    //  - unlike `persist`, a checkpointed frame is a plain LogicalRDD, so
    //    AQE is free to coalesce the iteration's tiny shuffles (cached-plan
    //    output partitioning is pinned by default, checkpoints aren't);
    //  - blocks of dropped iterations are reclaimed by the ContextCleaner
    //    when their RDDs go unreferenced.
    // On a multi-executor cluster localCheckpoint trades fault-tolerance
    // for speed (executor loss forfeits the blocks and fails the job — the
    // loop would restart); pass `reroot = Reroot.Reliable(dir)` where that
    // tradeoff reverses (see graft.runtime.Reroot).
    // The loop-carried label frame goes through rolling(): each round's
    // reliable checkpoint supersedes the previous round's, whose files are
    // deleted as soon as the new round materializes (sym stays on the base
    // strategy — it is live for every round).
    val roll = graft.runtime.Reroot.rolling(reroot)
    // Init FUSES the first propagation round (r14): label₀(v) = min(v,
    // min neighbors) comes out of the same single groupBy-over-src shuffle
    // the old identity init (distinct src) paid — so the loop starts one
    // hop ahead and a diameter-d component converges in d-1 loop rounds
    // instead of d, each round being the expensive part (a join + agg +
    // checkpoint + probe). Identical fixpoint: this is exactly what the
    // old round 0 produced from the identity labels.
    var labels = roll(sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("_id"), col("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // One round = min(own label, neighbors' labels) per vertex, computed
      // as ONE aggregation over the union of self rows and neighbor
      // contributions (r14) — a join + partial-aggregatable groupBy (2
      // exchanges) instead of the former join + groupBy + join-back (3).
      // Every labeled vertex appears as `src` in the symmetrized edge set,
      // so the self rows exactly replace the old left-join's null fallback.
      // The previous label rides along (min over the single self row) so
      // the convergence probe stays a filter over the materialized frame.
      val contrib = sym.join(labels, col("dst") === col("_id"))
        .select(col("src"), col("label"), lit(false).as("_self"))
        .union(labels.select(col("_id").as("src"), col("label"),
          lit(true).as("_self")))
      val next = roll(contrib.groupBy(col("src"))
        .agg(min(col("label")).as("label"),
          min(when(col("_self"), col("label"))).as("_old"))
        .select(col("src").as("_id"), col("label"), col("_old")))
      converged = next.filter(col("label") =!= col("_old")).limit(1).isEmpty
      labels = next.select(col("_id"), col("label"))
      i += 1
    }
    if (!converged)
      // Partially-propagated labels are silently WRONG (two vertices of one
      // component keep different labels) — fail loudly rather than return
      // them. maxIter bounds the component diameter, which for near-dup
      // clusters is tiny; hitting it means the input is not what this
      // operator is for.
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter iterations; " +
          "label propagation needs more rounds than the configured bound")
    // Register the loop-final persist with the query scope so SparkEntry's
    // newQueryScope() releases it — otherwise each invocation leaks a
    // block-manager cache entry for the session lifetime.
    graft.runtime.Stage.scopedPersist(labels)
    // Isolated vertices (no incident edge) never entered the iteration;
    // their label is their own id. The final labels table carries exactly
    // the edge-incident vertex set (one row per distinct src of the
    // symmetrized edges), so the anti-join probes the just-persisted
    // labels instead of re-aggregating `sym` (r14: one less distinct).
    val isolated = vertices.select(col("_id"))
      .join(labels.select(col("_id")), Seq("_id"), "left_anti")
      .select(col("_id"), col("_id").as("label"))
    labels.union(isolated)
  }
}
